"""Property-based tests (hypothesis): semantic invariants that golden
rows can't cover. Each example ships a BATCH of generated rows through
one DataFrame evaluation, so Spark round-trips stay bounded.
"""

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.normalize import normalize_bool
from real_time_data_pipeline_spark.operators.sampling import hash_bucket
from real_time_data_pipeline_spark.operators.text import chunk_documents, quality_features

SETTINGS = dict(max_examples=10, deadline=None)

_spark = None


@given(vals=st.lists(st.one_of(st.none(), st.integers(-5, 5)), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_normalize_bool_total(vals):
    df = _spark.createDataFrame([(v,) for v in vals], "v int")
    out = [r.b for r in df.select(normalize_bool("v").alias("b")).collect()]
    for v, b in zip(vals, out):
        if v == 1:
            assert b is True
        elif v == 0:
            assert b is False
        else:
            assert b is None  # unknown / NULL → NULL, never a guess


@given(keys=st.lists(st.integers(0, 10**12), min_size=1, max_size=100), salt=st.text("ab", min_size=1, max_size=4))
@settings(**SETTINGS)
def test_hash_bucket_range_and_stability(keys, salt):
    df = _spark.createDataFrame([(k,) for k in keys], "k long")
    b1 = [r.b for r in df.select(hash_bucket("k", salt).alias("b")).collect()]
    b2 = [r.b for r in df.repartition(5).select(hash_bucket("k", salt).alias("b")).orderBy(F.lit(1)).collect()]
    assert all(0 <= b < 100 for b in b1)
    # same key+salt → same bucket regardless of layout
    m1 = dict(zip(keys, b1))
    got = {r.k: r.b for r in df.repartition(5).select("k", hash_bucket("k", salt).alias("b")).collect()}
    assert got == m1
    del b2


@given(
    texts=st.lists(
        st.text(st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=700),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_chunking_reconstructs_any_text(texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(df, "doc_id", "text", size=100, stride=60).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in rows:
        got = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        assert got, f"doc {i} produced no chunks"
        rebuilt = ""
        for r in got:
            start = r.chunk_idx * 60
            assert t[start : start + 100] == r.chunk_text
            rebuilt = rebuilt[:start] + r.chunk_text
        assert rebuilt == t


@given(texts=st.lists(st.text(max_size=300), min_size=1, max_size=10))
@settings(**SETTINGS)
def test_quality_ratios_bounded(texts):
    df = _spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    feats = quality_features("text")
    out = df.select(
        feats["punct_ratio"].alias("p"),
        feats["digit_ratio"].alias("d"),
        feats["upper_ratio"].alias("u"),
        feats["stopword_ratio"].alias("s"),
    ).collect()
    for r in out:
        for v in (r.p, r.d, r.u, r.s):
            assert v is not None and 0.0 <= v <= 1.0 and math.isfinite(v)


# hypothesis tests can't take pytest fixtures per-example; bind the
# session-scoped SparkSession into the module global before each test
import pytest  # noqa: E402


@pytest.fixture(autouse=True)
def _bind_spark(spark):
    global _spark
    _spark = spark
    yield


def _py_jaccard_pairs(texts, n=3, threshold=0.5):
    """Pure-python oracle: word n-gram Jaccard over a tiny corpus."""
    from tests.oracle import py_word_shingles

    sh = {i: py_word_shingles(t, n) for i, t in enumerate(texts)}
    out = {}
    for a in sh:
        for b in sh:
            if a < b and sh[a] and sh[b]:
                inter = len(sh[a] & sh[b])
                if inter:
                    j = inter / len(sh[a] | sh[b])
                    if j >= threshold:
                        out[(a, b)] = round(j, 6)
    return out


@given(
    texts=st.lists(
        st.lists(st.sampled_from("red blue green bolt ring widget small large".split()),
                 min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=8, deadline=None)
def test_jaccard_pairs_match_python_brute_force(texts):
    from real_time_data_pipeline_spark.operators.similarity import jaccard_pairs

    df = _spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    assert got == _py_jaccard_pairs(texts)


@given(
    texts=st.lists(
        st.lists(st.sampled_from("red blue green bolt ring widget small large".split()),
                 min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    max_df=st.one_of(st.none(), st.integers(min_value=1, max_value=4)),
)
@settings(max_examples=8, deadline=None)
def test_bucketed_pair_counts_brute_force_with_cap(texts, max_df):
    """`_bucketed_pair_counts` (the r12 flip target for the whole pair
    family) against a pure-python inverted index under a RANDOM df cap:
    intersections AND per-doc counts must both be over the post-cap
    shingle sets — a denominator computed pre-cap would break the
    family's "true Jaccard of the capped sets" contract."""
    from real_time_data_pipeline_spark.operators.similarity import (
        _bucketed_pair_counts,
        shingle_postings,
    )
    from tests.oracle import py_word_shingles

    df = _spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    inter, counts = _bucketed_pair_counts(
        shingle_postings(df, "doc_id", "text", 3), "doc_id", "shingle", max_df
    )

    sh = {i: py_word_shingles(t, 3) for i, t in enumerate(texts)}
    if max_df is not None:
        dfreq: dict = {}
        for s in sh.values():
            for g in s:
                dfreq[g] = dfreq.get(g, 0) + 1
        sh = {i: {g for g in s if dfreq[g] <= max_df} for i, s in sh.items()}
    want_inter = {
        (a, b): len(sh[a] & sh[b]) for a in sh for b in sh if a < b and sh[a] & sh[b]
    }
    # docs reach the counts frame only through surviving buckets
    want_counts = {i: len(s) for i, s in sh.items() if s}
    assert {(r.id_a, r.id_b): r.inter for r in inter.collect()} == want_inter
    assert {r.doc_id: r.n_sh for r in counts.collect()} == want_counts


@given(
    keys=st.lists(st.integers(0, 10**9), min_size=2, max_size=60, unique=True),
    extra=st.lists(st.integers(10**9 + 1, 2 * 10**9), min_size=0, max_size=20, unique=True),
)
@settings(**SETTINGS)
def test_stratified_sample_membership_stable_under_growth(keys, extra):
    """Adding rows NEVER flips an existing row's keep/drop decision,
    and per-stratum rate 1.0 keeps everything / 0.0 keeps nothing."""
    from real_time_data_pipeline_spark.operators.sampling import stratified_sample

    rows = [(k, "a" if k % 2 == 0 else "b") for k in keys]
    df = _spark.createDataFrame(rows, "k long, s string")
    rates = {"a": 0.5, "b": 1.0}
    kept1 = {r.k for r in stratified_sample(df, "k", "s", rates).collect()}
    grown = _spark.createDataFrame(
        rows + [(k, "a") for k in extra], "k long, s string"
    )
    kept2 = {r.k for r in stratified_sample(grown, "k", "s", rates).collect()}
    assert kept1 == {k for k in kept2 if k <= 10**9}  # originals unchanged
    assert {k for k, s in rows if s == "b"} <= kept1  # rate 1.0 keeps all
    none_kept = stratified_sample(df, "k", "s", {"a": 0.0, "b": 0.0}).count()
    assert none_kept == 0


def test_dedup_guards_bound_degenerate_corpora():
    """The OOM guards exist for adversarial corpora — exercise them
    (VERDICT r2 next-round #5). An all-identical swarm and an
    all-stopwords corpus must produce BOUNDED intermediates: with the
    caps active the hot buckets are dropped wholesale, so the pair
    stage sees zero candidate rows — the guard, observed from the
    same bucket frames the operators build."""
    from real_time_data_pipeline_spark.operators.similarity import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_postings,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta"
    swarm = _spark.createDataFrame(
        [(i, same) for i in range(40)], "doc_id long, text string"
    )
    stop = _spark.createDataFrame(
        [(i, "the of and a to in is it " * 3) for i in range(40)],
        "doc_id long, text string",
    )
    for df in (swarm, stop):
        # every shingle's document frequency (40) exceeds max_df=10 ->
        # every bucket is dropped before the in-bucket O(|bucket|^2)
        # pair expansion; the capped-set Jaccard yields no pairs
        sh = shingle_postings(df, "doc_id", "text", 3)
        buckets = sh.groupBy("shingle").count()
        assert buckets.agg(F.max("count")).first()[0] == 40  # the hazard is real
        capped = buckets.where(F.col("count") <= 10).count()
        assert capped == 0  # guard drops ALL hot buckets
        assert jaccard_pairs(df, "doc_id", "text", n=3, max_df=10).count() == 0

        # identical docs -> identical signatures -> ONE band bucket of
        # size 40 per band; max_bucket=10 keeps them away from the
        # quadratic expansion, ROUTING them through exact-signature
        # chain linking instead (r7): 39 linear links computed in the
        # same projection, the whole swarm one component — never 780
        sigs = minhash_signatures(df, "doc_id", "text", n=3)
        routed = lsh_candidate_pairs(sigs, "doc_id", max_bucket=10)
        got = {(r.id_a, r.id_b) for r in routed.collect()}
        assert got == {(i, i + 1) for i in range(39)}  # consecutive chain
        # legacy drop policy still available and still yields nothing
        assert (
            lsh_candidate_pairs(
                sigs, "doc_id", max_bucket=10, oversize="drop"
            ).count()
            == 0
        )
        # with the guard off the expansion really is quadratic: 40*39/2
        assert lsh_candidate_pairs(sigs, "doc_id", max_bucket=None).count() == 780
        # and the cap is ACCOUNTED, not silent: 48 bands × 40 members
        # oversized, zero residual (all members share one signature)
        from real_time_data_pipeline_spark.operators.similarity import (
            lsh_oversize_stats,
        )

        st = lsh_oversize_stats(sigs, "doc_id", max_bucket=10).first()
        assert st.n_oversized_buckets == 48
        assert st.n_oversized_memberships == 48 * 40
        assert st.n_residual_memberships == 0


def test_kmeans_ivf_recall_not_worse_than_stride(sf_dir):
    """Training must pay for itself: mean recall@5 of the k-means IVF
    index >= the stride-seeded baseline (measured, not assumed)."""
    from real_time_data_pipeline_spark.queries.registry import REGISTRY
    import real_time_data_pipeline_spark.queries  # noqa: F401 — populate

    km = REGISTRY["embed_ann_kmeans_recall"].fn(_spark, sf_dir).toPandas()
    st_ = REGISTRY["embed_ann_recall"].fn(_spark, sf_dir).toPandas()
    assert km.recall_at_5.mean() >= st_.recall_at_5.mean()


def test_winnowing_guard_bounds_degenerate_corpora():
    """Same adversarial corpora through the winnowing pair generator:
    an identical-doc swarm makes every fingerprint bucket df=40, so
    max_df=10 drops them all before the O(|bucket|^2) expansion —
    while with the guard off the expansion is the full quadratic."""
    from real_time_data_pipeline_spark.operators.similarity import winnowing_pairs

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    swarm = _spark.createDataFrame(
        [(i, same) for i in range(40)], "doc_id long, text string"
    )
    assert winnowing_pairs(
        swarm, "doc_id", "text", min_shared=1, max_df=10
    ).count() == 0
    assert winnowing_pairs(
        swarm, "doc_id", "text", min_shared=1, max_df=None
    ).count() == 780


def test_cross_jaccard_equals_full_jaccard_across_cut(sf_dir):
    """Splitting one corpus at an id cut, the cross-corpus pair set
    must be exactly the full-corpus pair set restricted to pairs that
    straddle the cut (uncapped, same threshold) — the batch-vs-corpus
    operator cannot invent or lose pairs relative to the global one."""
    from real_time_data_pipeline_spark.operators.similarity import (
        cross_jaccard_pairs,
        jaccard_pairs,
    )
    from real_time_data_pipeline_spark.sources.tables import load_table

    docs = load_table(_spark, sf_dir, "documents")
    cut = 250
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs(docs, "doc_id", "text", max_df=None).collect()
        if (r.id_a < cut) <= (r.id_b >= cut) and (r.id_a >= cut) != (r.id_b >= cut)
    }
    new = docs.where(F.col("doc_id") >= cut)
    old = docs.where(F.col("doc_id") < cut)
    cross = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.jaccard)
        for r in cross_jaccard_pairs(
            new, old, "doc_id", "text", max_df=None
        ).collect()
    }
    assert cross == full


@given(
    changes=st.lists(
        st.tuples(
            st.integers(1, 5),        # key
            st.integers(0, 50),       # event-time seconds
            st.floats(0, 100, allow_nan=False, width=32),
            st.booleans(),            # tombstone?
        ),
        min_size=1,
        max_size=20,
    ),
    assignment=st.lists(st.integers(0, 2), min_size=20, max_size=20),
)
@settings(max_examples=6, deadline=None)
def test_cdc_snapshot_invariant_under_batching(tmp_path_factory, changes, assignment):
    """CDC convergence: ANY split of a changelog into micro-batches,
    applied in any batch order, yields the same snapshot as applying
    the whole log at once — the event-time-wins merge is associative
    over batching (what makes out-of-order replay safe)."""
    import datetime

    from real_time_data_pipeline_spark.streaming.sinks import (
        cdc_upsert_parquet,
        current_snapshot,
    )

    def chg_df(rows):
        t0 = datetime.datetime(2024, 1, 1)
        return _spark.createDataFrame(
            [(k, t0 + datetime.timedelta(seconds=t), i, float(v), d)
             for i, (k, t, v, d) in rows],
            "user_id bigint, ts timestamp, event_id bigint, value double, is_delete boolean",
        )

    rows = list(enumerate(changes))  # unique event_id per change
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete")

    base = str(tmp_path_factory.mktemp("cdc_prop"))
    one_shot = base + "/one"
    cdc_upsert_parquet(chg_df(rows), one_shot, **kw)

    split = base + "/split"
    for b in range(3):
        batch = [r for r, a in zip(rows, assignment) if a == b]
        if batch:
            cdc_upsert_parquet(chg_df(batch), split, **kw)

    def snap(p):
        return {
            r.user_id: (r.value, r.ts)
            for r in current_snapshot(_spark, p, "is_delete").collect()
        }

    assert snap(one_shot) == snap(split)


@given(
    contents=st.lists(st.integers(0, 4), min_size=2, max_size=24),
    cap=st.sampled_from([2, 3, 5, 8]),
)
@settings(max_examples=8, deadline=None)
def test_lsh_chain_routing_preserves_exact_dup_connectivity(contents, cap):
    """The promised invariant of oversized-bucket chain routing, under
    ADVERSARIAL band collisions: for ANY cap, every exact-duplicate
    group (identical signature) stays ONE connected component in the
    candidate graph. Signatures use a 3-value alphabet so different
    contents collide in whole bands constantly — the hostile case
    where dropping oversized buckets without routing would shatter
    dup groups."""
    import hashlib

    from pyspark.sql import Row
    from real_time_data_pipeline_spark.operators.similarity import (
        MINHASH_NUM,
        lsh_candidate_pairs,
    )

    def sig_for(content):
        return [
            int(hashlib.md5(f"{content}:{i}".encode()).hexdigest(), 16) % 3
            for i in range(MINHASH_NUM)
        ]

    rows = [Row(doc_id=i, sig=sig_for(c)) for i, c in enumerate(contents)]
    sigs = _spark.createDataFrame(rows, "doc_id long, sig array<bigint>")
    pairs = [
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", max_bucket=cap).collect()
    ]

    parent = list(range(len(contents)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    by_content = {}
    for i, c in enumerate(contents):
        by_content.setdefault(c, []).append(i)
    for c, members in by_content.items():
        roots = {find(m) for m in members}
        assert len(roots) == 1, (
            f"content {c} shattered into {len(roots)} components at cap={cap}"
        )


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20)),
        min_size=1, max_size=60,
    )
)
@settings(**SETTINGS)
def test_activity_islands_rn_trick_matches_brute_force(pairs):
    """The gaps-and-islands rn-difference grouping must produce
    exactly the consecutive-day runs a brute-force scan finds, for
    arbitrary (user, day) multisets (duplicates collapse first)."""
    import datetime

    base = datetime.date(2024, 1, 1)
    rows = [
        (u, base + datetime.timedelta(days=d)) for u, d in pairs
    ]
    df = _spark.createDataFrame(rows, "user_id int, d date").distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("d")
    runs = df.select(
        "user_id", F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp")
    )
    got = sorted(
        (r.user_id, r.len)
        for r in runs.groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
        .collect()
    )
    # brute force islands per user
    want = []
    by_user: dict[int, set] = {}
    for u, d in pairs:
        by_user.setdefault(u, set()).add(d)
    for u, ds in by_user.items():
        ds = sorted(ds)
        run = 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                run += 1
            else:
                want.append((u, run)); run = 1
        want.append((u, run))
    assert got == sorted(want)


@given(
    clicks=st.lists(st.integers(0, 2000), min_size=0, max_size=30),
    buys=st.lists(st.integers(0, 2000), min_size=1, max_size=10),
)
@settings(**SETTINGS)
def test_asof_tolerance_never_fabricates_and_bounds_staleness(clicks, buys):
    """TTL-bounded as-of: every attached click is the LATEST click at
    or before the purchase; matches older than the tolerance read as
    NULL; no purchase ever gets a later click."""
    import datetime

    from real_time_data_pipeline_spark.operators.joins import asof_join

    TOL = 600
    base = datetime.datetime(2024, 1, 1)
    cl = list(dict.fromkeys(clicks))  # dedup, keep arbitrary order
    left = _spark.createDataFrame(
        [(i, 1, base + datetime.timedelta(seconds=s)) for i, s in enumerate(buys)],
        "event_id int, user_id int, ts timestamp",
    )
    right = _spark.createDataFrame(
        [(1, base + datetime.timedelta(seconds=s), float(s)) for s in cl],
        "user_id int, click_ts timestamp, click_value double",
    ) if cl else _spark.createDataFrame(
        [], "user_id int, click_ts timestamp, click_value double"
    )
    j = asof_join(
        left, right, by=["user_id"], left_on="ts", right_on="click_ts",
        right_cols=["click_ts", "click_value"],
    )
    age = F.col("ts").cast("long") - F.col("click_ts_asof").cast("long")
    fresh = age <= TOL
    out = {
        r.event_id: r.v
        for r in j.select(
            "event_id",
            F.when(fresh, F.col("click_value_asof")).alias("v"),
        ).collect()
    }
    for i, s in enumerate(buys):
        eligible = [c for c in cl if c <= s and s - c <= TOL]
        want = float(max(eligible)) if eligible else None
        assert out[i] == want, (i, s, eligible, out[i])


@given(
    events=st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 120)),  # (user, day offset)
        min_size=1, max_size=25,
    ),
    cut=st.integers(0, 24),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_retention_min_merge_invariant_under_batch_order(events, cut, data, tmp_path_factory):
    """The incremental retention state must yield the SAME cohort
    matrix for ANY split of the events into micro-batches and ANY
    batch arrival order — the min-merge is order-independent, and
    offsets are re-derived from the final first_seen, so late cohort
    re-dating can never leave a stale bin behind."""
    import pandas as pd

    from real_time_data_pipeline_spark.streaming.retention_ingest import (
        merge_retention_batch,
        retention_matrix,
    )

    base = pd.Timestamp("2024-01-01 12:00:00")
    rows = pd.DataFrame(
        {
            "user_id": [u for u, _ in events],
            "ts": [base + pd.Timedelta(days=d) for _, d in events],
        }
    )
    rows["ts"] = rows["ts"].astype("datetime64[us]")

    def run(order):
        root = str(tmp_path_factory.mktemp("ret_state"))
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        for idx in parts:
            merge_retention_batch(
                _spark.createDataFrame(rows.iloc[idx]), root
            )
        return {tuple(r) for r in retention_matrix(_spark, root).collect()}

    idx = list(range(len(rows)))
    shuffled = data.draw(st.permutations(idx))
    assert run(idx) == run(list(shuffled))


@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=40),
        min_size=1, max_size=10,
    ),
    cut=st.integers(0, 9),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_countmin_merge_invariant_under_batch_split_and_order(
    texts, cut, data, tmp_path_factory
):
    """The incremental Count-Min state must equal the one-shot batch
    sketch cell-for-cell for ANY split of the corpus into
    micro-batches and ANY arrival order — linearity means chunking can
    never introduce drift, including batches that contribute nothing
    (empty / whitespace-only docs)."""
    from real_time_data_pipeline_spark.streaming.countmin_ingest import (
        merge_countmin_batch,
        read_sketch,
        sketch_increments,
    )

    docs = _spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def run(order):
        # subpath: the state table must NOT pre-exist as an empty dir
        root = str(tmp_path_factory.mktemp("cm")) + "/state"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        for bid, idx in enumerate(parts):
            batch = docs.where(F.col("doc_id").isin([int(i) for i in idx]))
            merge_countmin_batch(batch, root, batch_id=bid)
        return {tuple(r) for r in read_sketch(_spark, root).collect()}

    idx = list(range(len(texts)))
    want = {tuple(r) for r in sketch_increments(docs).collect()}
    shuffled = data.draw(st.permutations(idx))
    assert run(idx) == want
    assert run(list(shuffled)) == want


@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=40),
        min_size=1, max_size=10,
    ),
    cut=st.integers(0, 9),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_hll_merge_invariant_under_split_order_and_redelivery(
    texts, cut, data, tmp_path_factory
):
    """The incremental HLL register state must equal the one-shot
    batch build cell-for-cell for ANY split of the corpus into
    micro-batches, ANY arrival order, AND any overlapping redelivery
    of an arbitrary subset (max-merge is idempotent — stronger than
    Count-Min's linearity, which only tolerates disjoint chunks)."""
    from real_time_data_pipeline_spark.streaming.hll_ingest import (
        hll_register_increments,
        merge_hll_batch,
        read_registers,
    )

    docs = _spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def run(order, redeliver):
        # subpath: the state table must NOT pre-exist as an empty dir
        root = str(tmp_path_factory.mktemp("hll")) + "/state"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        if redeliver:
            parts.append(redeliver)  # overlapping re-ship of a subset
        for bid, idx in enumerate(parts):
            batch = docs.where(F.col("doc_id").isin([int(i) for i in idx]))
            merge_hll_batch(batch, root, batch_id=bid)
        return {tuple(r) for r in read_registers(_spark, root).collect()}

    idx = list(range(len(texts)))
    want = {tuple(r) for r in hll_register_increments(docs).collect()}
    shuffled = data.draw(st.permutations(idx))
    overlap = data.draw(st.lists(st.sampled_from(idx), max_size=len(idx)))
    assert run(idx, None) == want
    assert run(list(shuffled), overlap) == want


@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=40),
        min_size=1, max_size=10,
    ),
    cut=st.integers(0, 9),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_bloom_merge_invariant_under_split_order_and_redelivery(
    texts, cut, data, tmp_path_factory
):
    """The incremental Bloom state must equal the one-shot batch bit
    set for ANY corpus split, arrival order, and overlapping subset
    redelivery — set union is idempotent, so re-shipped documents can
    never perturb the filter."""
    from real_time_data_pipeline_spark.streaming.bloom_ingest import (
        bloom_bit_increments,
        merge_bloom_batch,
        read_bloom,
    )

    docs = _spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def run(order, redeliver):
        root = str(tmp_path_factory.mktemp("bloom")) + "/state"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        if redeliver:
            parts.append(redeliver)
        for bid, idx in enumerate(parts):
            batch = docs.where(F.col("doc_id").isin([int(i) for i in idx]))
            merge_bloom_batch(batch, root, batch_id=bid, shingle_n=2)
        return {r.pos for r in read_bloom(_spark, root).collect()}

    idx = list(range(len(texts)))
    want = {r.pos for r in bloom_bit_increments(docs, shingle_n=2).collect()}
    shuffled = data.draw(st.permutations(idx))
    overlap = data.draw(st.lists(st.sampled_from(idx), max_size=len(idx)))
    assert run(idx, None) == want
    assert run(list(shuffled), overlap) == want


@given(
    vals=st.lists(
        st.floats(min_value=-5.0, max_value=1e6, allow_nan=False),
        min_size=1, max_size=30,
    ),
    cut=st.integers(0, 29),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_histogram_merge_invariant_under_batch_split_and_order(
    vals, cut, data, tmp_path_factory
):
    """The incremental fixed-boundary histogram state must equal the
    one-shot batch build cell-for-cell for ANY split of the stream and
    ANY arrival order (sum linearity) — including non-positive values,
    which BOTH sides exclude by the documented contract."""
    from real_time_data_pipeline_spark.streaming.histogram_ingest import (
        histogram_increments,
        merge_histogram_batch,
        read_histogram,
    )

    ev = _spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "event_id long, value double"
    )

    def run(order):
        root = str(tmp_path_factory.mktemp("hist")) + "/state"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        for bid, idx in enumerate(parts):
            batch = ev.where(F.col("event_id").isin([int(i) for i in idx]))
            merge_histogram_batch(batch, root, batch_id=bid)
        return {tuple(r) for r in read_histogram(_spark, root).collect()}

    idx = list(range(len(vals)))
    want = {tuple(r) for r in histogram_increments(ev).collect()}
    shuffled = data.draw(st.permutations(idx))
    assert run(idx) == want
    assert run(list(shuffled)) == want


@given(
    rows=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
        min_size=0,
        max_size=60,
    ),
    n_buckets=st.integers(1, 7),
)
@settings(max_examples=8, deadline=None)
def test_multi_metric_ntiles_equals_window_ntile(rows, n_buckets):
    """For ANY value distribution (duplicates, negatives, empty) and
    ANY bucket count, the single-exchange k-metric ntile equals k
    independent ANSI ntile windows — the invariant the closed-form
    bucket arithmetic over each metric's (rn, n) must hold
    everywhere, not just on curated boundary cases."""
    from pyspark.sql import Window

    from real_time_data_pipeline_spark.operators.ranking import (
        grouped_multi_metric_ntiles,
    )

    df = _spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, a long, b long"
    )
    got = {
        r.id: (r.qa, r.qb)
        for r in grouped_multi_metric_ntiles(
            df, n_buckets, [F.col("a"), F.col("b")], [], "id", ["qa", "qb"],
            num_partitions=4,
        ).collect()
    }
    want_df = df
    for name, col in (("qa", "a"), ("qb", "b")):
        w = Window.orderBy(F.asc(col), F.asc("id"))
        want_df = want_df.withColumn(name, F.ntile(n_buckets).over(w))
    want = {r.id: (r.qa, r.qb) for r in want_df.collect()}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),                      # day offset (4 partitions max)
            st.one_of(st.none(), st.integers(0, 5)),  # user_id (NULLs allowed)
            st.floats(-10, 10, allow_nan=False),    # value
        ),
        min_size=1, max_size=25,
    ),
    cut=st.integers(0, 24),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_zonemap_merge_invariant_under_batch_split_and_order(
    rows, cut, data, tmp_path_factory
):
    """The zone-map's composite state (SUM counts + lattice min/max +
    set-union pairs) must equal the one-shot build for ANY split of
    the events into micro-batches and ANY arrival order — including
    NULL users and batches that contribute nothing."""
    import datetime as dt

    from real_time_data_pipeline_spark.streaming.zonemap_ingest import (
        merge_zonemap_batch,
        read_zonemap,
        zonemap_increments,
    )

    base = dt.datetime(2024, 3, 1, 6, 0, 0)
    ev = _spark.createDataFrame(
        [
            (i, base + dt.timedelta(days=d), u, float(v))
            for i, (d, u, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, value double",
    )

    def run(order):
        root = str(tmp_path_factory.mktemp("zm"))
        stats, users = root + "/stats", root + "/users"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        for bid, idx in enumerate(parts):
            batch = ev.where(F.col("event_id").isin([int(i) for i in idx]))
            merge_zonemap_batch(batch, stats, users, batch_id=bid)
        return {tuple(r) for r in read_zonemap(_spark, stats, users).collect()}

    idx = list(range(len(rows)))
    shuffled = data.draw(st.permutations(idx))
    got = run(idx)
    # stats half: cell-identical to the one-shot build (counts +
    # bounds); n_users re-derived from pairs must match a direct
    # distinct count
    want_stats = {
        (r.part_date, r.n_rows, r.min_event_id, r.max_event_id)
        for r in zonemap_increments(ev).collect()
    }
    assert {(r[0], r[1], r[2], r[3]) for r in got} == want_stats
    want_users = {
        (r.part_date, r.n_users)
        for r in ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "part_date"
            )
        ).agg(F.count_distinct("user_id").alias("n_users")).collect()
    }
    assert {(r[0], r[6]) for r in got} == want_users
    assert run(list(shuffled)) == got


@given(
    # first component bounded away from 0: zero-norm vectors are
    # outside the ANN operators' contract (cosine needs |v| > 0)
    vecs=st.lists(
        st.tuples(
            st.floats(min_value=0.5, max_value=3.0, allow_nan=False,
                      allow_subnormal=False),
            st.lists(
                st.floats(min_value=-3.0, max_value=3.0, allow_nan=False,
                          allow_subnormal=False),
                min_size=3, max_size=3,
            ),
        ).map(lambda t: [t[0], *t[1]]),
        min_size=2, max_size=16,
    ),
    cut=st.integers(0, 15),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_ivf_merge_invariant_under_split_order_and_retry(
    vecs, cut, data, tmp_path_factory
):
    """The streaming IVF inverted-list state must equal the one-shot
    batch build row-for-row for ANY split of the vectors into
    micro-batches, ANY arrival order, AND a same-id foreachBatch
    retry of the final batch — assignment against frozen centroids is
    a pure per-vector function, and each batch's staged swap
    replaces exactly its own src_batch=<b> directory. (A re-ship under a NEW batch id is at-least-once
    source behavior, handled by upstream dedup + the probe-side
    collapse, and is deliberately NOT part of this invariant.)"""
    from real_time_data_pipeline_spark.operators.similarity import (
        stride_centroids,
    )
    from real_time_data_pipeline_spark.streaming.ivf_ingest import (
        ivf_state_build,
        merge_ivf_batch,
        read_ivf_state,
    )

    emb = _spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = stride_centroids(emb, "vec_id", "embedding", stride=3).localCheckpoint()

    def rows(df):
        return {
            (r.cent_id, r.nid, r.lo, r.scale, tuple(r.q)) for r in df.collect()
        }

    def run(order, retry_last):
        root = str(tmp_path_factory.mktemp("ivf")) + "/state"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        for bid, idx in enumerate(parts):
            batch = emb.where(F.col("vec_id").isin([int(i) for i in idx]))
            merge_ivf_batch(batch, root, bid, cents)
        if retry_last:
            bid = len(parts) - 1
            batch = emb.where(
                F.col("vec_id").isin([int(i) for i in parts[-1]])
            )
            merge_ivf_batch(batch, root, bid, cents)
        return rows(read_ivf_state(_spark, root))

    idx = list(range(len(vecs)))
    want = rows(ivf_state_build(emb, cents))
    shuffled = data.draw(st.permutations(idx))
    assert run(idx, retry_last=False) == want
    assert run(list(shuffled), retry_last=True) == want


@given(
    vecs=st.lists(
        st.tuples(
            st.floats(min_value=0.5, max_value=3.0, allow_nan=False,
                      allow_subnormal=False),
            st.lists(
                st.floats(min_value=-3.0, max_value=3.0, allow_nan=False,
                          allow_subnormal=False),
                min_size=7, max_size=7,
            ),
        ).map(lambda t: [t[0], *t[1]]),
        min_size=3, max_size=12,
    ),
    cut=st.integers(0, 11),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_ivfpq_merge_invariant_under_split_order_and_retry(
    vecs, cut, data, tmp_path_factory
):
    """The streaming IVF-PQ code state must equal the one-shot build
    row-for-row for ANY corpus split, arrival order, and same-id
    retry: both the coarse assignment and the per-subspace encoding
    are pure per-vector functions of frozen centroids+codebooks, and
    the shared partitioned commit replaces exactly its own
    partitions. (8-dim vectors, m_sub=2 subspaces of 4.)"""
    from real_time_data_pipeline_spark.operators.similarity import (
        pq_codebooks,
        stride_centroids,
    )
    from real_time_data_pipeline_spark.streaming.ivfpq_ingest import (
        ivfpq_state_build,
        merge_ivfpq_batch,
        read_ivfpq_state,
    )

    emb = _spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = stride_centroids(emb, "vec_id", "embedding", stride=3).localCheckpoint()
    books = pq_codebooks(
        emb, "vec_id", "embedding", m_sub=2, sub_dim=4, stride=3
    ).localCheckpoint()

    def rows(df):
        return {(r.cent_id, r.nid, tuple(r.codes)) for r in df.collect()}

    def run(order, retry_last):
        root = str(tmp_path_factory.mktemp("ivfpq")) + "/state"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        for bid, idx in enumerate(parts):
            batch = emb.where(F.col("vec_id").isin([int(i) for i in idx]))
            merge_ivfpq_batch(batch, root, bid, cents, books, m_sub=2, sub_dim=4)
        if retry_last:
            bid = len(parts) - 1
            batch = emb.where(
                F.col("vec_id").isin([int(i) for i in parts[-1]])
            )
            merge_ivfpq_batch(batch, root, bid, cents, books, m_sub=2, sub_dim=4)
        return rows(read_ivfpq_state(_spark, root))

    idx = list(range(len(vecs)))
    want = rows(ivfpq_state_build(emb, cents, books, m_sub=2, sub_dim=4))
    shuffled = data.draw(st.permutations(idx))
    assert run(idx, retry_last=False) == want
    assert run(list(shuffled), retry_last=True) == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("red blue green bolt ring widget small large".split()),
            min_size=0, max_size=10,
        ).map(" ".join),
        min_size=2, max_size=10,
    ),
    cut=st.integers(0, 9),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_corpus_stats_merge_invariant_under_split_order_and_retry(
    texts, cut, data, tmp_path_factory
):
    """The streaming corpus-statistics state must sum to the one-shot
    build CELL-FOR-CELL (per-term df/tf and the corpus scalars, exact
    integers) for ANY split of the documents into micro-batches, ANY
    arrival order, and a same-id retry of the final batch: each
    unique document contributes its counts to exactly one batch and
    addition is associative/commutative, while the retry replaces its
    own src_batch=<b> delta directory. Empty and sub-batch-empty
    corpora (all-blank texts) are part of the strategy on purpose —
    the scalar row must stay correct when a batch contributes zero
    documents."""
    from real_time_data_pipeline_spark.streaming.corpusstats_ingest import (
        corpus_stats_build,
        merge_corpus_stats_batch,
        read_corpus_scalars,
        read_term_stats,
    )

    docs = _spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def cells(root):
        terms = {
            (r.term, r.df, r.tf)
            for r in read_term_stats(_spark, root).collect()
        }
        s = read_corpus_scalars(_spark, root).collect()[0]
        return terms, (s.n_docs, s.n_tokens)

    def run(order, retry_last):
        root = str(tmp_path_factory.mktemp("cstats")) + "/state"
        k = max(1, min(cut, len(order) - 1)) if len(order) > 1 else 1
        parts = [order[:k], order[k:]] if order[k:] else [order]
        for bid, idx in enumerate(parts):
            batch = docs.where(F.col("doc_id").isin([int(i) for i in idx]))
            merge_corpus_stats_batch(batch, root, bid)
        if retry_last:
            bid = len(parts) - 1
            batch = docs.where(
                F.col("doc_id").isin([int(i) for i in parts[-1]])
            )
            merge_corpus_stats_batch(batch, root, bid)
        return cells(root)

    one = corpus_stats_build(docs)
    want_terms = {
        (r.term, r.df, r.tf)
        for r in one.where(F.col("term").isNotNull()).collect()
    }
    w = one.where(F.col("term").isNull()).collect()[0]
    want = (want_terms, (w.df, w.tf))
    idx = list(range(len(texts)))
    shuffled = data.draw(st.permutations(idx))
    assert run(idx, retry_last=False) == want
    assert run(list(shuffled), retry_last=True) == want


# ---------------------------------------------------------------------------
# BM25 scoring + RRF fusion (r12): pure-python oracles over generated data
# ---------------------------------------------------------------------------


def _py_bm25(docs: dict, query_terms, k1=1.2, b=0.75) -> dict:
    """Pure-python BM25 oracle: docs = {doc_id: text}. Mirrors the
    whitespace tokenizer, the blank-doc filter, and rounding."""
    import math as _m

    toks = {
        i: t.split() for i, t in docs.items() if t.strip()
    }
    if not toks:
        return {}
    n_docs = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n_docs
    out = {}
    for i, ws in toks.items():
        score = 0.0
        for q in set(query_terms):
            tf = ws.count(q)
            if not tf:
                continue
            df = sum(1 for w2 in toks.values() if q in w2)
            idf = _m.log(1 + (n_docs - df + 0.5) / (df + 0.5))
            dl = len(ws)
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        if score:
            out[i] = round(score, 6)
    return out


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["spark", "join", "window", "alpha", "beta", "gamma"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
def test_bm25_scored_matches_python_oracle(texts):
    """`operators.text.bm25_scored` (the single scoring composition
    behind the batch query, the streaming probe, and the fusion)
    equals a from-scratch python BM25 on generated corpora, including
    blank documents and zero-match corpora."""
    from real_time_data_pipeline_spark.operators.text import (
        bm25_scored,
        token_count_ws,
        words,
    )

    terms = ("spark", "join", "window")
    df = _spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    docs = df.where(F.length(F.trim("text")) > 0)
    d = docs.select("doc_id", token_count_ws("text").alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(words("text")).alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    got = {
        r.doc_id: r.bm25
        for r in bm25_scored(tf, d, dfreq, stats).collect()
    }
    want = _py_bm25({i: t for i, t in enumerate(texts)}, terms)
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    lex=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=1, max_value=50),
        max_size=15,
    ),
    vec=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=1, max_value=50),
        max_size=15,
    ),
)
def test_rrf_fuse_ranked_matches_python_oracle(lex, vec):
    """`rrf_fuse_ranked` (the retriever-agnostic fusion every hybrid
    variant ends in) equals the textbook reciprocal-rank sum on
    arbitrary bounded ranked lists — docs in one list only, both
    lists, or neither; ties broken by rounded score then doc_id."""
    from real_time_data_pipeline_spark.queries.text import (
        RRF_K,
        rrf_fuse_ranked,
    )

    bm = _spark.createDataFrame(
        [(k, v) for k, v in lex.items()] or [(None, None)],
        "doc_id long, lex_rank long",
    ).where(F.col("doc_id").isNotNull())
    vc = _spark.createDataFrame(
        [(k, v) for k, v in vec.items()] or [(None, None)],
        "doc_id long, vec_rank long",
    ).where(F.col("doc_id").isNotNull())
    got = [
        (r.doc_id, r.rrf, r.lex_rank, r.vec_rank, r.rk)
        for r in rrf_fuse_ranked(bm, vc).collect()
    ]
    scores = {
        d: round(
            (1.0 / (RRF_K + lex[d]) if d in lex else 0.0)
            + (1.0 / (RRF_K + vec[d]) if d in vec else 0.0),
            6,
        )
        for d in set(lex) | set(vec)
    }
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    want = [
        (d, s, lex.get(d), vec.get(d), i + 1)
        for i, (d, s) in enumerate(ranked)
    ]
    assert got == want
