"""Round-12 pins: the round-11 ADVICE findings, each fixed this round.

  1. (low) backlog_audit's binding-level churn check was depth-1: a
     sibling helper that itself calls a changed third same-file def
     escaped detection.  The tool now follows every name a query
     reaches, transitively and across files; that attribution is
     pinned in tests/test_oracle_parity.py, the leg it selects for.
  2. (low) overflow_audit's BOUNDED whitelist was keyed by
     (module, function), so a NEW unguarded F.sum(a*b) inside an
     already-whitelisted function passed silently.  Now keyed by
     (module, function, product source text), with a stale-entry sweep,
     and `sum_product_exact` call sites are enumerated too — each must
     record a row-product bound (the round-11 verdict's What's-wrong
     #3: 9 split-sum sites had fallen out of the scanner's vision).
  3. (low) change-feed numeric widening resolved bigint+float to float
     (silently lossy above 2^24) and refused bigint+decimal despite a
     common Spark type existing.  `_widen_types` now mirrors Spark's
     findWiderTypeForTwo: integral+fractional -> DOUBLE, decimal
     conflicts widen component-wise (capped at precision 38).
  4. (low) ab_power_mde/ab_cuped docstrings claimed the DuckDB oracle
     "was never at risk — its sums are int128" while the oracle SQL
     CAST its second-moment sums to BIGINT (same 2^63 cliff).  The
     casts are gone (sums stay HUGEINT); covered by the oracle-parity
     leg, no separate pin needed here.
  5. (low) bench.py's compact stdout line stamped envelope_within
     regardless of the `applies` (sf==0.1) qualifier — now null at any
     other scale (pinned below on the emitted JSON shape).
"""

from __future__ import annotations

import pytest

from real_time_big_data_iot_monitoring_pipeline_spark.sources import pydatasource as P


def _append(spark, path, df):
    df.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()


# --- 3: change-feed widening is double for integral+fractional, has decimal --


def test_widen_types_integral_fractional_resolves_double():
    """bigint+float must widen to DOUBLE (Spark's findWiderTypeForTwo),
    never float — a float result silently loses integer precision above
    2^24 in feed values."""
    assert P._widen_types("bigint", "float") == "double"
    assert P._widen_types("float", "bigint") == "double"
    assert P._widen_types("int", "float") == "double"
    assert P._widen_types("tinyint", "double") == "double"
    # same-family widening unchanged
    assert P._widen_types("int", "bigint") == "bigint"
    assert P._widen_types("float", "double") == "double"
    assert P._widen_types("int", "int") == "int"


def test_widen_types_decimal_conflicts_have_a_common_type():
    """bigint <-> decimal evolution has a common Spark type and must not
    raise 'no common Spark type'; decimal/decimal widens component-wise,
    capped at precision 38; decimal+fractional goes to double."""
    assert P._widen_types("bigint", "decimal(38,0)") == "decimal(38,0)"
    assert P._widen_types("decimal(10,2)", "int") == "decimal(12,2)"
    assert P._widen_types("decimal(10,2)", "decimal(12,0)") == "decimal(14,2)"
    assert P._widen_types("decimal(38,10)", "decimal(38,0)") == "decimal(38,10)"
    assert P._widen_types("decimal(10,2)", "double") == "double"
    # genuinely incompatible pairs still refuse
    assert P._widen_types("int", "string") is None
    assert P._widen_types("decimal(10,2)", "boolean") is None


def test_change_feed_bigint_float_conflict_reads_exact_above_2p24(spark, tmp_path):
    """End-to-end: a feed spanning a bigint epoch and a float epoch for
    the same column must surface values above 2^24 EXACTLY (the union
    resolves to double, so 16777217 survives; a float resolution would
    collapse it to 16777216)."""
    path = str(tmp_path / "widen")
    P.register_sink(spark)
    big = 16_777_217  # 2^24 + 1: not representable as float32
    _append(spark, path, spark.range(1).selectExpr("id", f"CAST({big} AS BIGINT) AS x"))
    _append(spark, path, spark.range(1, 2).selectExpr("id", "CAST(0.5 AS FLOAT) AS x"))
    df, _ = P.read_change_feed(spark, path, since_version=0)
    assert dict(df.dtypes)["x"] == "double"
    got = {r["id"]: r["x"] for r in df.collect()}
    assert got[0] == float(big), f"integer precision lost in widening: {got[0]}"
    assert got[1] == 0.5


# --- 2: overflow audit is site-keyed and covers split-sum call sites ---------


def test_overflow_audit_flags_new_product_in_whitelisted_function():
    """The whitelist key includes the product's source text: a NEW
    multiply inside an already-whitelisted function must flag, and a
    whitelist entry whose site vanished must report stale.  Simulated
    directly against the scanner's data structures (no repo mutation):
    remove one recorded site's entry and the scan must flag it."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import overflow_audit as OA

    base = OA.scan()
    assert base["n_flagged"] == 0 and base["n_stale_whitelist"] == 0
    assert base["n_split_bounded"] >= 9
    # drop one BOUNDED entry -> its site must flag (site-keyed, so only
    # that exact product text is affected)
    victim = next(iter(OA.BOUNDED))
    saved = OA.BOUNDED.pop(victim)
    try:
        out = OA.scan()
        assert any(
            (s["file"], s["function"], s["product"]) == victim for s in out["flagged"]
        ), "un-whitelisted product did not flag"
    finally:
        OA.BOUNDED[victim] = saved
    # drop one SPLIT_BOUNDED entry -> its sum_product_exact site must flag
    victim2 = next(iter(OA.SPLIT_BOUNDED))
    saved2 = OA.SPLIT_BOUNDED.pop(victim2)
    try:
        out = OA.scan()
        assert any(
            (s["file"], s["function"], s["product"]) == victim2
            for s in out["split_flagged"]
        ), "unrecorded split-sum site did not flag"
    finally:
        OA.SPLIT_BOUNDED[victim2] = saved2
    # a whitelist entry with no live site must report stale
    ghost = ("plans/join_queries.py", "pricing_summary", "epc * (1 - dc)")
    OA.SPLIT_BOUNDED[ghost] = "ghost"
    try:
        out = OA.scan()
        assert list(ghost) in out["stale_whitelist"]
    finally:
        del OA.SPLIT_BOUNDED[ghost]


# --- 5: bench compact line gates envelope_within on `applies` ----------------


def test_bench_compact_line_gates_envelope_on_applies():
    """The compact stdout stamp must not carry an envelope verdict for a
    non-bench-scale run: the emitted value is `within` only when
    envelope.applies (sf == 0.1), else null.  Pinned on the source
    expression so a refactor cannot silently drop the gate."""
    import os

    src = open(os.path.join(os.path.dirname(__file__), "..", "bench.py")).read()
    assert 'envelope["within"] if envelope["applies"] else None' in src


# --- the sf0.1 execution leg --------------------------------------------------


_SF01_DIR = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def oracle_sf01():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{_SF01_DIR}/{t}.parquet'")
    yield con
    con.close()


def _sf01_cohort():
    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY

    return sorted(n for n, q in REGISTRY.items() if q.oracle is not None)[:40]


@pytest.mark.slow  # round-13: 40 queries EXECUTED at sf0.1 — close-gate leg
@pytest.mark.parametrize("name", _sf01_cohort())
def test_sf01_execution_cohort_oracle_match(name, spark, oracle_sf01):
    """EXECUTE the first 40 oracle queries by name at sf0.1 (10x the
    driver's gate scale) and compare against DuckDB on the same sf0.1
    fixtures — the standing form of the sweep that caught the CUPED
    overflow: a query green at every smaller scale but wrong-or-crashing
    at sf0.1 fails here."""
    import os

    if not os.path.isdir(_SF01_DIR):
        pytest.skip("sf0.1 fixtures not present")
    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
    from tests.compare import assert_frames_match

    q = REGISTRY[name]
    spark_pdf = q.build(spark, _SF01_DIR).toPandas()
    oracle_pdf = oracle_sf01.sql(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, f"{name}@sf0.1")


# ---------------------------------------------------------------------------
# Round-12 find #2 (caught BY the new sf0.1 rotation, first full-suite run):
# staged-fixture session caches that ignore the dataset.
# binaryfile_image_census cached its staged file corpus in a bare function
# attribute, so the sf0.001 oracle-parity leg staged 25 PNGs and the sf0.1
# rotation leg then read THEM back against a 250-row oracle — a wrong
# answer from cross-DATASET contamination, invisible at any single scale.
# (parquet_schema_evolution had the identical latent bug; every other
# staging cache in plans/ already keys on sf_dir or stages fixed synthetic
# content.)  Two pins: the behavior, and the pattern.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", ["binaryfile_image_census", "parquet_schema_evolution"])
def test_staged_fixture_cache_keys_on_dataset(name, spark):
    """Run the same staged-fixture query at two different sf_dirs in ONE
    session, each against its own DuckDB oracle — the exact shape that
    failed pre-fix (the second scale must restage, not reuse)."""
    import os

    import duckdb

    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
    from tests.compare import assert_frames_match

    q = REGISTRY[name]
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.isdir(sf_dir):
            pytest.skip(f"{sf_dir} fixtures not present")
        con = duckdb.connect()
        for t in ("orders", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        spark_pdf = q.build(spark, sf_dir).toPandas()
        oracle_pdf = con.sql(q.oracle).df()
        assert_frames_match(spark_pdf, oracle_pdf, f"{name}@{sf_dir}")
        con.close()


def test_no_scale_blind_staging_cache():
    """AST invariant over plans/*.py: a query function whose staging
    reads fixture tables (load_table) must NOT cache that staging in a
    bare function attribute (getattr/setattr on itself) — only in an
    sf_dir-keyed store.  Function-attribute caches remain fine for the
    pyds_*/stream_* family, whose staged content is fixed synthetic
    data with no dataset dependence."""
    import ast
    import glob
    import os

    import real_time_big_data_iot_monitoring_pipeline_spark.plans as plans_pkg

    plans_dir = os.path.dirname(plans_pkg.__file__)
    offenders = []
    for fn in sorted(glob.glob(os.path.join(plans_dir, "*.py"))):
        src = open(fn).read()
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef):
                continue
            body = ast.get_source_segment(src, node) or ""
            if "load_table(" in body and "setattr(" in body and "getattr(" in body:
                offenders.append(f"{os.path.basename(fn)}:{node.lineno} {node.name}")
    assert not offenders, (
        "sf_dir-dependent staging cached scale-blind (key the cache by "
        f"sf_dir instead — see _BINFILE_STAGED): {offenders}"
    )


# ---------------------------------------------------------------------------
# Round-12 finds #3/#4 (full-catalog sf0.1 oracle sweep — the one-shot run of
# the rotation over all 398 oracle-bearing queries):
#   #3 The global_* rank kernels (operators/windows.py) derived their
#      broadcast offset map from a SECOND execution of the range exchange;
#      AQE coalesces the wide rank exchange and the pruned count exchange
#      differently, so the pid spaces diverge and the offsets corrupt the
#      global ranks (layout_zorder_stats@sf0.1: 64 ntile buckets -> 29,
#      max_span_day 127 -> 191; green at every smaller scale).  Fixed by
#      pinning the ranged pass with a lazy localCheckpoint
#      (windows._ranged_pinned) so both consumers read the SAME physical
#      partitions — which also drops the count branch's full range shuffle.
#   #4 Oracle SQL used `sum(x) FILTER (WHERE p)` where the Spark side uses
#      sum(CASE WHEN p THEN x ELSE 0): over an EMPTY filter set SQL yields
#      NULL, Spark yields 0 — invisible until a scale where the predicate
#      first selects nothing (l_diversity_audit@sf0.1: no class has l<3).
#      Oracles now COALESCE those sums (l_diversity/k_anonymity/ab_ztest);
#      count FILTER and structurally-non-empty filters are unaffected.
# ---------------------------------------------------------------------------

_SWEEP_FOUND = [
    "layout_zorder_stats",
    "layout_hilbert_stats",
    "l_diversity_audit",
    "k_anonymity_audit",
    "ab_conversion_ztest",
]


@pytest.mark.parametrize("name", _SWEEP_FOUND)
def test_sf01_sweep_finds_stay_green(name, spark):
    """Execute the round-12 sweep's finds (and their latent siblings) at
    sf0.1 against DuckDB — the scale where each first went wrong."""
    import os

    import duckdb

    if not os.path.isdir(_SF01_DIR):
        pytest.skip("sf0.1 fixtures not present")
    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
    from tests.compare import assert_frames_match

    con = duckdb.connect()
    for t in ("orders", "customer", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{_SF01_DIR}/{t}.parquet'")
    q = REGISTRY[name]
    spark_pdf = q.build(spark, _SF01_DIR).toPandas()
    oracle_pdf = con.sql(q.oracle).df()
    con.close()
    assert_frames_match(spark_pdf, oracle_pdf, f"{name}@sf0.1")


def test_global_rank_kernels_pin_their_ranged_pass():
    """AST invariant: every global_* kernel in operators/windows.py that
    both range-repartitions and reads spark_partition_id must construct
    its ranged frame through _ranged_pinned — a raw repartitionByRange
    consumed twice reintroduces the divergent-pid-space wrong-answer
    class (find #3)."""
    import ast
    import os

    from real_time_big_data_iot_monitoring_pipeline_spark.operators import windows as W

    src = open(os.path.abspath(W.__file__)).read()
    offenders = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.FunctionDef) or node.name == "_ranged_pinned":
            continue
        body = ast.get_source_segment(src, node) or ""
        if ".repartitionByRange(" in body and "_gnt" in body:
            offenders.append(node.name)
    assert not offenders, (
        f"kernels must build their ranged pass via _ranged_pinned: {offenders}"
    )


# ---------------------------------------------------------------------------
# Config-axis pin (round-12 find #3 follow-through): the kernel bug was
# CONFIG-dependent — wrong at local[32]/32 shuffle partitions, green at
# local[8]/8 — because AQE coalescing divergence needs runtime byte-size
# differences.  Full-scale config sweeps live in tools/driver_sim.py (env
# overrides RTBD_SIM_TZ / RTBD_SIM_SHUFFLE / RTBD_SIM_MASTER; round-12 ran
# the whole catalog green under America/New_York and under shuffle=200 at
# sf0.1).  This suite-scale pin covers the axis the suite itself never
# touches: the partition-sensitive kernel family under EXTREME shuffle
# partition counts — 200 (cluster default: most partitions empty at suite
# scale, the empty-pid edge for offset maps) and 5 (fewer partitions than
# the default, boundary crowding).
# ---------------------------------------------------------------------------


@pytest.mark.slow  # round-13: config-axis kernel sweep (~70 s) — close-gate leg
@pytest.mark.parametrize("shuffle", ["200", "5"])
def test_kernel_queries_shuffle_partition_axis(shuffle, spark):
    import ast
    import glob
    import os

    import duckdb

    from real_time_big_data_iot_monitoring_pipeline_spark import plans as plans_pkg
    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY
    from tests.compare import assert_frames_match

    sf_dir = os.environ.get("RTBD_TEST_SF_DIR", "/root/testdata/sf0.001")
    # the kernel-using registered queries, derived (not hand-pinned) so a
    # new global_* call site joins the axis automatically
    names = set()
    for fn in glob.glob(os.path.join(os.path.dirname(plans_pkg.__file__), "*.py")):
        src = open(fn).read()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name in REGISTRY:
                b = ast.get_source_segment(src, node) or ""
                if any(k in b for k in (
                    "global_ntile(", "global_row_number(",
                    "global_running_sum(", "global_running_max(",
                )):
                    names.add(node.name)
    assert len(names) >= 20, f"kernel family shrank unexpectedly: {sorted(names)}"

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    try:
        for name in sorted(names):
            q = REGISTRY[name]
            assert_frames_match(
                q.build(spark, sf_dir).toPandas(),
                con.sql(q.oracle).df(),
                f"{name}@shuffle={shuffle}",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        con.close()
