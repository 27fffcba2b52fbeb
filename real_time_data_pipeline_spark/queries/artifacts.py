"""Session-scoped shared index artifacts.

Several query families re-derive the same expensive intermediate in
many registry queries — k-means centroids, the 3-gram Jaccard dedup
graph, the nation trade-flow matrix, the part co-purchase edge list.
In production these are INDEX BUILDS: computed once per corpus
snapshot and served to every downstream report. The engine models
that by memoizing the materialized frame per
(SparkContext applicationId, sf_dir, artifact name).

Every memoized artifact must be deterministic (quantized-integer
k-means, exact integer aggregates, total-ordered top-k), so sharing
cannot change any oracle-checked value. Frames are reliably
materialized (checkpoint files when a checkpoint dir is set, local
blocks otherwise), NOT tracked persists: the cache-leak registry
stays empty and `release_caches` is unaffected.

Footprint contract: the artifacts are deliberately FEW and, with two
exceptions, DIMENSION-sized (centroids, nation/part edge lists,
component labels — thousands of rows regardless of corpus size). The
exceptions: the novelty first-owner attribution
(queries/text.py::_novelty_attributed_shared) is POSTINGS-sized, one
row per distinct (doc, 3-gram), i.e. proportional to corpus token
count; and the BM25 scored frame
(queries/text.py::_bm25_corpus_scored, artifact
``bm25_scored_default``) is MATCH-SET-sized — one row per document
matching any of the default query's terms, corpus-proportional in
the worst case of a stopword-bearing query. At 100 TB those two are
deliberate index-build trades — pay one materialization so multiple
reports share it — and deployments that cannot afford the pinned
blocks should point the session at a reliable checkpoint dir
(spilling them to shared storage rather than executor memory).

Introduced for the embed/dedup families in r8
(queries/similarity.py); factored out in r9 so the graph family can
share it without importing the 3000-line similarity module.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import DataFrame

from real_time_data_pipeline_spark.operators.materialize import (
    reliable_materialize,
)

# key → (frame, checkpoint dir of the owning context at build time —
# None when the context had no reliable checkpoint dir).
_SHARED_ARTIFACTS: "dict[tuple, tuple[DataFrame, str | None]]" = {}
_SHARED_LOCK = threading.RLock()
# Wall-clock seconds spent INSIDE one-time artifact builds this
# process. Build cost lands on whichever query consumes an artifact
# first, so per-query timings shift with execution order (the bench
# registry order rotates every round); this counter lets a harness
# report the order-dependent build share separately instead of
# misreading it as a per-query regression. The per-artifact map
# (VERDICT r12 #2) attributes growth in the aggregate to a named
# build rather than leaving it a cold-JIT-vs-new-artifact hypothesis.
_BUILD_SECONDS = 0.0
_BUILD_SECONDS_BY_ARTIFACT: "dict[str, float]" = {}


def _best_effort_delete_dir(spark, path: str) -> None:
    """Delete a dead context's checkpoint directory via the current
    context's Hadoop FS. Best-effort: eviction must never fail a live
    query because a dead app's files are unreachable."""
    try:  # pragma: no cover — exercised only across session restarts
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(p, True)
    except Exception:  # pragma: no cover
        pass


def ingest_state_root(spark, sf_dir: str, prefix: str) -> str:
    """A cleared directory for a maintained-index state build, rooted
    under the session's RELIABLE checkpoint dir when one is
    configured: on a real cluster that is shared storage every
    executor can read, whereas a ``tempfile.mkdtemp`` path is
    driver-local — executors would write ``file:`` partitions to
    their own disks and probes on other nodes would see partial state
    (ADVICE r14 #3). The fallback to a driver tempdir is exactly
    `reliable_materialize`'s local-mode fallback: in a single JVM,
    driver-local IS executor-local.

    The directory tag is derived from the FULL ``sf_dir`` string (the
    same string `_shared_artifact` memoizes on): basename for
    readability plus an 8-hex hash of the whole path, so two corpora
    with the same basename (``/a/sf1`` and ``/b/sf1``) in one session
    can never share — and clear — each other's state (r15 review;
    basename-only keying cross-contaminated exactly that way).

    Lifecycle: the per-app checkpoint dir is UUID-unique (so no
    cross-session collision) and dead-app eviction above deletes it
    wholesale; the local-mode tempdir is one small directory per
    process, freed by the OS temp policy. A stale dir from a cleared
    memo (executor-loss recovery) would keep partitions the rebuild
    does not replace, so the target is cleared before return. Lives
    here, beside `_shared_artifact` and the delete helper, so the
    similarity and graph families share one placement policy without
    cross-family private imports (r15 review)."""
    import hashlib
    import re as _re
    import tempfile

    norm = sf_dir.rstrip("/")
    tag = _re.sub(r"[^A-Za-z0-9._-]", "_", norm.rsplit("/", 1)[-1])
    digest = hashlib.sha1(norm.encode()).hexdigest()[:8]
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is not None:
        state = ckpt.rstrip("/") + f"/{prefix}_{tag}_{digest}"
    else:
        state = tempfile.mkdtemp(prefix=f"{prefix}_{tag}_{digest}_")
    _best_effort_delete_dir(spark, state)
    return state


def _shared_artifact(spark, sf_dir, what, build):
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, what)
    # Double-checked under a lock: concurrent query threads must not
    # each pay for (and race to register) the same index build. The
    # build itself runs inside the lock — the artifacts are
    # deliberately few and one-time, and a duplicate k-means training
    # racing in parallel would waste far more than the serialization.
    # The lock is reentrant, so an artifact build may itself consume
    # other shared artifacts.
    entry = _SHARED_ARTIFACTS.get(key)
    if entry is None:
        with _SHARED_LOCK:
            # Evict artifacts keyed by OTHER applicationIds: they
            # belong to stopped SparkContexts and would pin dead
            # localCheckpoint blocks for the life of the process
            # (ADVICE r8). Keying by appId alone isn't enough — the
            # memo must also *shrink* across session restarts in one
            # process. When the dead context HAD a reliable
            # checkpoint dir, its rdd-* files outlive its
            # ContextCleaner, so eviction also best-effort deletes
            # that per-context directory (safe: the UUID-suffixed dir
            # belongs exclusively to the dead app, and RDD checkpoint
            # dirs are unrelated to streaming-query checkpoints)
            # (ADVICE r9).
            stale_dirs = set()
            current_dir = spark.sparkContext.getCheckpointDir()
            for stale in [k for k in _SHARED_ARTIFACTS if k[0] != app]:
                _, ckpt_dir = _SHARED_ARTIFACTS.pop(stale)
                if ckpt_dir is not None and ckpt_dir != current_dir:
                    stale_dirs.add(ckpt_dir)
            for d in stale_dirs:
                _best_effort_delete_dir(spark, d)
            entry = _SHARED_ARTIFACTS.get(key)
            if entry is None:
                global _BUILD_SECONDS
                t0 = time.perf_counter()
                df = reliable_materialize(build())
                elapsed = time.perf_counter() - t0
                _BUILD_SECONDS += elapsed
                _BUILD_SECONDS_BY_ARTIFACT[what] = round(
                    _BUILD_SECONDS_BY_ARTIFACT.get(what, 0.0) + elapsed, 3
                )
                entry = (df, spark.sparkContext.getCheckpointDir())
                _SHARED_ARTIFACTS[key] = entry
    return entry[0]


def shared_artifact_build_seconds() -> float:
    """Total wall-clock seconds this process has spent in one-time
    shared-artifact builds (see _BUILD_SECONDS note)."""
    return _BUILD_SECONDS


def shared_artifact_build_breakdown() -> "dict[str, float]":
    """Per-artifact build seconds (artifact name → wall-clock s).

    Sums to ``shared_artifact_build_seconds()`` up to rounding. The
    map is keyed by NAME only, while the memo keys by (app, sf_dir,
    name): a name rebuilt for another sf_dir or after a session
    restart ACCUMULATES into its one cell. For the bench harness —
    one session, one sf_dir, the attribution this exists for — each
    cell is exactly one build; a multi-sf_dir process (e.g.
    scripts/scaling_curve.py) reads each cell as that artifact's
    total build time across its corpora.
    """
    return dict(_BUILD_SECONDS_BY_ARTIFACT)


def clear_shared_artifacts() -> None:
    """Drop every memoized artifact. Call after an executor loss in a
    session with no reliable checkpoint dir: localCheckpoint blocks
    died with the executor, and the memo would otherwise keep serving
    frames whose blocks are gone (every consumer fails until the
    memo is cleared or the process restarts)."""
    with _SHARED_LOCK:
        _SHARED_ARTIFACTS.clear()
