#!/usr/bin/env python
"""Per-batch cost measurement for the partitioned-index streaming
twins: the repo's standing claim is that a twin's merge cost scales
with the BATCH, not the accumulated TABLE (structural idempotency via
one staged swap of only the batch's own ``src_batch=<b>`` directory;
the reset guard reads a driver-side partition-dir listing, never state
data). The r13 scaling harness (`scaling_curve.py`) converted the
batch queries' complexity claims into measurements; this does the
same for the streaming side.

Method: feed N equal-sized micro-batches through the twin's public
merge function against a growing on-disk state and time every commit.
One UNTIMED warm-up merge into a throwaway state dir runs first —
JIT/first-job cost must not inflate the early batches (an inflated
mean(first 5) deflates the growth ratio and could hide a real
state-dependent regression under the gate; scaling_curve.py warms the
same way). If the claim holds, the per-batch series is FLAT (up to
noise and the slow growth of the partition-dir listing the reset
guard performs) — gated as mean(last 5) / mean(first 5) <= the stated
bound. A read-modify-write design would instead grow linearly with
state and blow the gate within the run.

Twins measured: the ten in `twin_table` (`--twins` picks; the default
four are ivf, corpus_stats, countmin and zonemap). Each entry names
its input frame, its id column (the equal batches are id-rank slices)
and its merge, probe and compaction calls.

Each twin is also probed mid-run: its state-serving read is timed at
1/4, 1/2 and full state so the read path's growth is REPORTED
alongside the write path's flatness (probes partition-prune but their
probed lists grow with the corpus — linear-in-probed-lists is the
documented read bound, not flatness; no gate, numbers only).

A final compaction is timed and the FIRST post-compaction merge is
re-measured: compaction must not make the next commit more expensive
(the sentinel preserves the reset guard without a data scan).

Usage:
  python scripts/twin_batch_cost.py [--batches 40] \
      [--twins ivf,corpus_stats,...] [--out docs/bench/latest/twin_batch_cost.json]

Gate bound: 2.0. The truly-flat ideal is ~1.0; small-second cells on
a shared box swing +-30% (see the canary README section), and the
listing grows by one dir per batch, so the gate is set where a
state-sized read-modify-write (which would read >5x within 40
batches) cannot pass but box noise cannot fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

from measure import LATEST_DIR, SCALE_HEAP, script_session

SCALING_DIR = os.environ.get("RTDP_SCALING_DIR", "/tmp/rtdp_scaling")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GATE_RATIO = 2.0
ID_SHIFT = 500_000_000  # clear of every scaling-shard id range (k*1e7)


def _series_stats(times: list[float]) -> dict:
    first = times[:5]
    last = times[-5:]
    ratio = (sum(last) / len(last)) / (sum(first) / len(first))
    return {
        "per_batch_s": [round(t, 3) for t in times],
        "mean_first5_s": round(sum(first) / len(first), 3),
        "mean_last5_s": round(sum(last) / len(last), 3),
        "last5_over_first5": round(ratio, 3),
        "flat_within_gate": ratio <= GATE_RATIO,
    }


def measure_twin(
    twin: str,
    frame,
    id_col: str,
    n_batches: int,
    merge_fn,
    probe_fn,
    compact_fn,
) -> dict:
    """One twin's measurement: warm-up merge (untimed, throwaway
    state), n_batches timed merges into a growing state with probes
    at 1/4, 1/2 and full, then timed compaction + one post-compaction
    merge. ``merge_fn(batch_df, state_path, batch_id)``,
    ``probe_fn(state_path)``, ``compact_fn(state_path)`` close over
    everything twin-specific (centroids, query terms, corpus)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    total = frame.count()
    per = total // n_batches
    # Guard the flatness gate against vacuous passes (ADVICE r13 #1):
    # total < n_batches would make per == 0 and every batch empty, so
    # near-zero merge times would sail through the gate while
    # measuring nothing. The floor-division remainder (< n_batches
    # rows) is deliberately dropped for equal-sized batches; its size
    # is surfaced in the output JSON rather than silently eaten.
    if per < 1:
        raise SystemExit(
            f"{twin}: corpus has {total} rows < {n_batches} batches — "
            "every batch would be empty and the flatness gate vacuous"
        )
    dropped_remainder_rows = total % n_batches
    # Deterministic equal slices by id rank: batch k gets rows
    # [k*per, (k+1)*per). localCheckpoint each slice so slicing cost
    # (a window over the corpus) never pollutes the timed merge.
    ranked = frame.withColumn(
        "_rk", F.row_number().over(Window.orderBy(id_col)) - 1
    ).localCheckpoint()

    def slice_of(k: int):
        return (
            ranked.where(
                (F.col("_rk") >= k * per) & (F.col("_rk") < (k + 1) * per)
            )
            .drop("_rk")
            .localCheckpoint()
        )

    state = tempfile.mkdtemp(prefix=f"twin_{twin}_")
    warm = tempfile.mkdtemp(prefix=f"twin_{twin}_warm_")
    shutil.rmtree(state)  # merge creates them
    shutil.rmtree(warm)
    try:
        # Warm-up: same merge shape, throwaway state, untimed.
        merge_fn(slice_of(0), warm, 0)

        times: list[float] = []
        probe_reads: dict[str, float] = {}
        for k in range(n_batches):
            batch = slice_of(k)
            t0 = time.perf_counter()
            merge_fn(batch, state, k)
            times.append(time.perf_counter() - t0)
            if k + 1 in (n_batches // 4, n_batches // 2, n_batches):
                t0 = time.perf_counter()
                probe_fn(state)
                probe_reads[f"after_batch_{k + 1}"] = round(
                    time.perf_counter() - t0, 3
                )
            print(f"{twin} batch {k}: {times[-1]:.3f}s", file=sys.stderr)

        t0 = time.perf_counter()
        compact_fn(state)
        compact_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_fn(
            slice_of(0).withColumn(id_col, F.col(id_col) + ID_SHIFT),
            state,
            n_batches,
        )
        post_compact_merge_s = time.perf_counter() - t0
        return {
            "twin": twin,
            "batch_rows": per,
            "n_batches": n_batches,
            "dropped_remainder_rows": dropped_remainder_rows,
            **_series_stats(times),
            "probe_reads_s": probe_reads,
            "compaction_s": round(compact_s, 3),
            "first_merge_after_compaction_s": round(post_compact_merge_s, 3),
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(warm, ignore_errors=True)


def twin_table(spark, src: str) -> dict:
    """CLI name -> (reported twin, input frame, id column, parts), where
    ``parts()`` builds the twin's ``(merge(batch, state, batch_id),
    probe(state), compact(state))`` only when that twin is measured
    (centroids, probe frames and dimension tables are built there).
    Twins whose state is rewritten whole by every merge (the fixed-size
    sketches, the keyed upserts) compact as an identity, which keeps
    the post-compaction merge comparable across twins."""
    from real_time_data_pipeline_spark.operators.similarity import stride_centroids
    from real_time_data_pipeline_spark.queries.text import BM25_QUERY_TERMS
    from real_time_data_pipeline_spark.sources.tables import load_table
    from real_time_data_pipeline_spark.streaming import (
        bloom_ingest as bloom,
        corpusstats_ingest as cstats,
        countmin_ingest as cm,
        dedup_ingest,
        graph_ingest as graph,
        histogram_ingest as hist,
        hll_ingest as hll,
        ivf_ingest as ivf,
        retention_ingest as ret,
        zonemap_ingest as zm,
    )
    from real_time_data_pipeline_spark.streaming.sinks import compact_partitioned_state

    emb = load_table(spark, src, "embeddings")
    docs = load_table(spark, src, "documents")
    events = load_table(spark, src, "events")
    no_compact = lambda s: None  # noqa: E731

    def ivf_parts():
        # row-grain inverted lists in (src_batch, cent_id) partitions:
        # per-batch cost ~ batch size (+ the partition-dir listing)
        cents = stride_centroids(emb, "vec_id", "embedding").localCheckpoint()
        probes = emb.orderBy("vec_id").limit(5).localCheckpoint()
        return (
            lambda b, s, i: ivf.merge_ivf_batch(b, s, i, cents),
            lambda s: ivf.ivf_probe_state(spark, s, probes, cents, k=10, nprobe=4).collect(),
            lambda s: compact_partitioned_state(spark, s),
        )

    def countmin_parts():
        # fixed-size depth x width cell table: the flattest twin
        words = spark.createDataFrame(
            [("the",), ("and",), ("data",), ("of",), ("to",)], "word string"
        ).localCheckpoint()
        return (
            cm.merge_countmin_batch,
            lambda s: cm.heavy_hitters_estimate(spark, s, words).collect(),
            no_compact,
        )

    def graph_parts():
        # additive exact-cents edges at (src_batch, bkt) grain; the
        # post-compaction batch's shifted order keys miss the dimension
        # tables, so that merge lands an empty delta after the same join
        dims = [load_table(spark, src, t) for t in ("orders", "customer", "supplier", "nation")]
        return (
            lambda b, s, i: graph.merge_trade_flows_batch(b, *dims, s, i),
            lambda s: graph.read_trade_flows(spark, s).collect(),
            lambda s: graph.compact_trade_flows(spark, s),
        )

    return {
        "ivf": ("ivf_ingest", emb, "vec_id", ivf_parts),
        # additive term-grain deltas in (src_batch, bkt) partitions
        "corpus_stats": ("corpusstats_ingest", docs, "doc_id", lambda: (
            cstats.merge_corpus_stats_batch,
            lambda s: cstats.bm25_probe_state(spark, s, docs, BM25_QUERY_TERMS).collect(),
            lambda s: cstats.compact_corpus_stats(spark, s),
        )),
        "countmin": ("countmin_ingest", docs, "doc_id", countmin_parts),
        # two tables per batch: the marker-protected partition-stats
        # swap and the keyed (part_date, user_id) upsert, whose stored
        # side grows with distinct users
        "zonemap": ("zonemap_ingest", events, "event_id", lambda: (
            lambda b, s, i: zm.merge_zonemap_batch(
                b, os.path.join(s, "stats"), os.path.join(s, "users"), i
            ),
            lambda s: zm.read_zonemap(
                spark, os.path.join(s, "stats"), os.path.join(s, "users")
            ).collect(),
            no_compact,
        )),
        # 2^p register maxima: bounded state, never corpus-grain
        "hll": ("hll_ingest", docs, "doc_id", lambda: (
            hll.merge_hll_batch, lambda s: hll.hll_estimate(spark, s), no_compact,
        )),
        # additive cells bounded by the bucket function's range
        "histogram": ("histogram_ingest", events, "event_id", lambda: (
            hist.merge_histogram_batch,
            lambda s: hist.quantile_estimates_of(
                hist.read_histogram(spark, s), [0.5, 0.95, 0.99]
            ).collect(),
            no_compact,
        )),
        # lit-position set union bounded by the filter's bit count
        "bloom": ("bloom_ingest", docs, "doc_id", lambda: (
            bloom.merge_bloom_batch, lambda s: bloom.read_bloom(spark, s).count(), no_compact,
        )),
        # keyed upserts on user-grain tables: the whole-table swap is
        # bounded by the user population, not the event volume
        "retention": ("retention_ingest", events.select("event_id", "user_id", "ts"), "event_id", lambda: (
            lambda b, s, i: ret.merge_retention_batch(b.select("user_id", "ts"), s),
            lambda s: ret.retention_matrix(spark, s).collect(),
            no_compact,
        )),
        # state-linear by design (see _linear_fit_gate)
        "dedup": ("dedup_ingest", docs.select("doc_id", "text"), "doc_id", lambda: (
            lambda b, s, i: dedup_ingest.ingest_batch(
                b, "doc_id", "text", os.path.join(s, "corpus"), os.path.join(s, "store")
            ),
            lambda s: spark.read.parquet(os.path.join(s, "corpus")).count(),
            no_compact,
        )),
        "graph": ("graph_ingest", load_table(spark, src, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        ), "l_orderkey", graph_parts),
    }


def _linear_fit_gate(out: dict) -> None:
    """The dedup twin's gate. Its claim differs from the other twins'
    flatness: per-batch cost is O(touched-bucket STATE) — probes and
    keyed upserts rewrite the bucket partitions the batch's keys map
    to, and each bucket grows with the accepted corpus. At this
    measurement's batch:bucket ratio every batch touches all 64
    buckets, so the honest expectation is a LINEAR series and the 2.0
    flatness gate is replaced: mean(last 5) must stay within 2x of a
    line fitted to the FIRST HALF only. Fitting the full series was
    circular (the gated tail inflated its own fit, so a quadratic
    full-corpus re-read passed at ~1.15x); blind to the tail,
    t_k = c*k^2 over 40 batches predicts ~646c at the tail midpoint
    against an actual ~1369c, and fails."""
    ts = out["per_batch_s"]
    n = len(ts)
    half = ts[: n // 2]
    m = len(half)
    xm, ym = (m - 1) / 2.0, sum(half) / m
    sxx = sum((i - xm) ** 2 for i in range(m))
    slope = sum((i - xm) * (t - ym) for i, t in enumerate(half)) / sxx
    out["claim"] = (
        "state-linear by design at this batch:bucket ratio (every batch "
        "touches all 64 buckets; each bucket grows with the corpus) — "
        "lever is n_buckets, not flatness; flat gate not applicable"
    )
    out["linear_fit_slope_s_per_batch"] = round(slope, 3)
    out["linear_fit_window"] = f"first {m} of {n} batches"
    # Floor the prediction at the first-half mean so a noisy negative
    # slope cannot make the gate unpassable for a genuinely flat run.
    predicted_last5 = max(ym + slope * ((n - 3) - xm), ym)
    out["flat_within_gate"] = out["mean_last5_s"] <= 2.0 * predicted_last5
    out["gate"] = (
        "mean(last5) <= 2x first-half-linear-fit extrapolation "
        "(state-linear twin; fit blind to the gated tail)"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=40)
    ap.add_argument("--out", default=os.path.join(LATEST_DIR, "twin_batch_cost.json"))
    ap.add_argument(
        "--twins",
        default="ivf,corpus_stats,countmin,zonemap",
        help="comma-separated subset of the measured twins",
    )
    args = ap.parse_args()
    if args.batches < 10:
        # first5/last5 must not overlap or the gate is vacuously 1.0,
        # the quarter-state probe needs n//4 >= 1, and the dedup fit
        # window must stay disjoint from the gated last 5
        ap.error("--batches must be >= 10")

    # The reliable checkpoint dir script_session sets lets
    # reliable_materialize inside twin bodies (dedup ingest) write
    # cleanable checkpoint files instead of pinning executor blocks
    # for the session lifetime.
    spark = script_session("rtdp-twin-cost", SCALE_HEAP)

    # The 10x scaling corpus when fully present (20k vectors / 50k
    # docs -> 40 batches of 500 / 1250), else the sf0.1 tables. Both
    # tables' _SUCCESS markers are required — documents.parquet lands
    # before embeddings.parquet in build_corpus, so an interrupted
    # build leaves a dir that must not be trusted.
    x10 = os.path.join(SCALING_DIR, "x10")
    src = (
        x10
        if all(
            os.path.exists(os.path.join(x10, t, "_SUCCESS"))
            for t in ("documents.parquet", "embeddings.parquet")
        )
        else SF_DIR
    )
    table = twin_table(spark, src)
    chosen = [t.strip() for t in args.twins.split(",") if t.strip()]
    unknown = [t for t in chosen if t not in table]
    if unknown:
        ap.error(f"unknown twins: {unknown}")
    # Write INCREMENTALLY after each twin: the r15 crash at the last
    # twin's batch 37 threw away four completed twins' series because
    # nothing was persisted until the very end.
    out = {
        "metric": "twin_per_batch_cost",
        "source_dir": src,
        "gate": f"mean(last5)/mean(first5) <= {GATE_RATIO}",
        "twins": {},
    }
    if os.path.dirname(args.out):
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
    for t in chosen:
        twin, frame, id_col, parts = table[t]
        r = measure_twin(twin, frame, id_col, args.batches, *parts())
        if t == "dedup":
            _linear_fit_gate(r)
        out["twins"][twin] = r
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {args.out} ({len(out['twins'])}/{len(chosen)} twins)", file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if all(r["flat_within_gate"] for r in out["twins"].values()) else 1)


if __name__ == "__main__":
    main()
