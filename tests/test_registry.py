"""Registry bookkeeping: README's query counts must match reality.

The r5 verdict flagged silent doc drift (README said 89 and 133 while
the registry held 135). These asserts make the drift impossible: any
registry growth without a README update fails the suite.
"""

import re
from pathlib import Path

from real_time_data_pipeline_spark.queries import REGISTRY, oracle_sql, queries

README = (Path(__file__).resolve().parent.parent / "README.md").read_text()


def test_readme_tree_count_is_a_true_lower_bound():
    m = re.search(r"the registry: (\d+)\+ named queries", README)
    assert m, "README tree must state the registry size as 'N+ named queries'"
    assert len(REGISTRY) >= int(m.group(1))


def test_readme_bench_paragraph_count_is_exact():
    m = re.search(r"full (\d+)-query registry", README)
    assert m, "README must state the full registry size"
    assert int(m.group(1)) == len(REGISTRY)


def test_every_query_exposed_with_oracle_keys_subset():
    q, o = queries(), oracle_sql()
    assert set(q) == set(REGISTRY)
    # every oracle key names a real query; non-SQL-expressible ops may
    # legitimately omit an oracle (driver records a rows-only check)
    assert set(o) <= set(q)


def test_rotation_bookkeeping_invariants():
    """The external gate checks only the FIRST 50 registry queries
    (ordered by `_rotation_rank`), so window discipline is
    correctness-critical bookkeeping, not style. Three invariants that
    until now lived only in the round workflow's manual simulation:

    - every `EDITED_THIS_ROUND` entry names a real query — a typo'd
      entry silently marks NOTHING and the edited query rides its
      stale-green tier out of the check window;
    - every edited query sits inside the 50-prefix — otherwise the
      round ships an implementation change the gate never re-verifies
      (the window is overfull: drop edits or new queries);
    - every query the gate has never fully-green-checked, and every
      latest-round non-green row, sits inside the 50-prefix too.
    """
    import glob
    import json
    from pathlib import Path

    from real_time_data_pipeline_spark.queries import EDITED_THIS_ROUND

    assert EDITED_THIS_ROUND <= set(REGISTRY), (
        f"typo'd EDITED_THIS_ROUND entries: {EDITED_THIS_ROUND - set(REGISTRY)}"
    )
    prefix = set(list(REGISTRY)[:50])
    assert EDITED_THIS_ROUND <= prefix, (
        f"edited queries outside the 50-query gate window: "
        f"{sorted(EDITED_THIS_ROUND - prefix)}"
    )
    root = Path(__file__).resolve().parent.parent
    rounds = sorted(glob.glob(str(root / "CORRECTNESS_r*.json")))
    ever_green: set = set()
    latest_not_green: set = set()
    for path in rounds:
        with open(path) as f:
            data = json.load(f)
        green = {
            n
            for n, row in data.items()
            if row.get("hash_match") and row.get("rows_match") and row.get("schema_match")
        }
        ever_green |= green
        if path == rounds[-1]:
            latest_not_green = set(data) - green
    never_green = set(REGISTRY) - ever_green
    assert never_green <= prefix, (
        f"never-externally-green queries outside the window: "
        f"{sorted(never_green - prefix)}"
    )
    assert latest_not_green & set(REGISTRY) <= prefix, (
        f"latest-round non-green queries outside the window: "
        f"{sorted(latest_not_green & set(REGISTRY) - prefix)}"
    )


def test_no_oracle_emits_hugeint_output_columns():
    """One-shot audit for the r7 red-query bug class (VERDICT r7 #2).

    DuckDB's sum(INTEGER/BIGINT) returns HUGEINT, which pandas fetches
    as float64 — so an oracle whose SELECT list exposes a bare integer
    sum hashes "25.0" where Spark hashes "25" at the external gate.
    Bind every oracle (lazily — no execution) against the sf0.001
    views and assert no output column resolves to HUGEINT/UHUGEINT;
    the fix at each offending site is CAST(... AS BIGINT).
    """
    import os

    import duckdb

    from tests.oracle import TABLES

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    offending = []
    for name, sql in oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ) in ("HUGEINT", "UHUGEINT"):
                offending.append(f"{name}.{col}")
    assert not offending, (
        "oracle output columns typed HUGEINT (pandas lands these as "
        f"float64 → external hash mismatch; wrap in CAST(... AS BIGINT)): "
        f"{offending}"
    )


def test_queries_wrapper_drains_previous_transient_caches():
    """The external-facing ``queries()`` mapping must bound tracked-
    persist accumulation to ONE query's caches in a driver session
    that never calls release_caches (ADVICE r13 #4): each invocation
    drains what the previous invocation left in the global registry
    before running."""
    from real_time_data_pipeline_spark.operators import materialize
    from real_time_data_pipeline_spark.queries import registry

    class FakeFrame:
        released = False

        def unpersist(self, blocking=False):
            self.released = True

    leftover = FakeFrame()
    with materialize._LOCK:
        materialize._LIVE_CACHES.append(leftover)
    ran = []
    wrapped = registry._with_cache_hygiene(lambda spark, sf_dir: ran.append(1))
    try:
        wrapped(None, "unused")
        assert leftover.released, "previous query's cache not drained"
        assert ran == [1]
    finally:
        materialize.release_caches()  # leave the registry clean


def test_queries_wrapper_does_not_touch_scoped_caches():
    """The drain must never pop a concurrent cache_scope's frames —
    foreachBatch bodies on other threads own their scoped caches."""
    from real_time_data_pipeline_spark.operators import materialize
    from real_time_data_pipeline_spark.queries import registry

    class FakeFrame:
        released = False

        def persist(self):
            return self

        def unpersist(self, blocking=False):
            self.released = True

    scoped = FakeFrame()
    wrapped = registry._with_cache_hygiene(lambda spark, sf_dir: None)
    with materialize.cache_scope():
        materialize.persist_tracked(scoped)
        wrapped(None, "unused")
        assert not scoped.released, "drain reached inside an open scope"
    assert scoped.released  # the scope itself still releases on exit


def test_hygiene_drain_skips_unmaterialized_persists(spark):
    """ADVICE r14 #1: the registry drain must not unpersist a cache
    whose buffers were never built — e.g. a ranking persist created by
    query A when the caller invokes query B before collecting A
    (unpersisting it would de-canonicalize the count/rank branches,
    ranking.py module doc). The not-yet-materialized persist survives
    the drain and is released by a later call once consumed."""
    from real_time_data_pipeline_spark.operators import materialize

    materialize.release_caches()  # start from a clean registry
    lazy = materialize.persist_tracked(
        spark.range(100).selectExpr("id", "id % 7 AS k")
    )
    assert not materialize._is_materialized(lazy)
    assert materialize.release_caches(materialized_only=True) == 0
    with materialize._LOCK:
        assert any(df is lazy for df in materialize._LIVE_CACHES), (
            "skipped cache must be re-registered for a later drain"
        )
    lazy.count()
    assert materialize._is_materialized(lazy)
    assert materialize.release_caches(materialized_only=True) == 1


def test_interleaved_registry_ranking_stays_exact(spark):
    """End-to-end shape of the ADVICE r14 #1 hazard: build query A's
    ranking frame, run the hygiene wrapper (as invoking query B does),
    THEN collect A — global row numbers must still be exact, i.e. the
    drain left A's canonicalizing range-exchange persist in place."""
    from real_time_data_pipeline_spark.operators import materialize
    from real_time_data_pipeline_spark.operators.ranking import grouped_row_number
    from real_time_data_pipeline_spark.queries import registry

    materialize.release_caches()
    df = spark.range(0, 1000).selectExpr(
        "id", "CAST((id * 2654435761) % 1000003 AS BIGINT) AS v"
    )
    ranked = grouped_row_number(df, [], ["v", "id"], rn_col="rn", num_partitions=8)
    wrapped = registry._with_cache_hygiene(lambda s, d: None)
    wrapped(None, "unused")  # drain fires between A's build and A's collect
    rows = ranked.orderBy("rn").collect()
    assert [r["rn"] for r in rows] == list(range(1, 1001))
    vals = [r["v"] for r in rows]
    assert vals == sorted(vals)


def test_round_scale_gate_artifact_passed():
    """The per-round scale gate (VERDICT r13 #4) is an invariant, not
    stale JSON: the newest committed docs/bench/round_gate_r*.json
    must exist and record passed=true — re-run
    `python scripts/round_scale_gate.py --tag rNN` after touching any
    gated operator."""
    import glob
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    # Filter to the canonical _rNN.json shape BEFORE applying the
    # numeric sort key: a sibling like round_gate_r14_retry.json would
    # otherwise make re.search return None and crash the key fn
    # (ADVICE r14 #2).
    arts = [
        p
        for p in glob.glob(str(root / "docs" / "bench" / "round_gate_r*.json"))
        if re.search(r"_r(\d+)\.json$", p)
    ]
    arts.sort(key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)))
    assert arts, "no committed round_gate artifact — run scripts/round_scale_gate.py"
    with open(arts[-1]) as f:
        gate = json.load(f)
    assert gate["passed"], f"{arts[-1]} records failures: {gate['failures']}"
