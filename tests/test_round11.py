"""Round-11 pins: the round-10 ADVICE findings on the manifest table
format (sources/pydatasource.py), each fixed this round.

  1. (low) read_change_feed used to refuse WIDENING-compatible numeric
     type changes (int vs bigint vs double for the same column) that
     read_manifest(merge_schema=True) happily serves through Spark's
     union type coercion — contradicting the feed's evolves-like-the-
     batch-reader contract.  Now only conflicts with NO common Spark
     type (int vs string) refuse.
  2. (low) the empty-overwrite schema reset only fired when the
     writer's schema mapped into the supported Arrow set; an
     inference-fallback writer (arrow_schema None) fell through to the
     commit gate's pre-commit-head derivation, so the round-9 bug #1
     (reset reads back under the old head's post-rename columns)
     persisted on that path.  Now an explicit schema_ddl=None marker
     is stamped: the table fails loudly with the documented
     no-recorded-schema error instead of silently inheriting the old
     naming epoch.

(The other two round-10 ADVICE findings were test/tool hygiene: the
test_plans cohort failure message now reports the same set it asserts,
and backlog_audit degrades to None without git history.)
"""

from __future__ import annotations

import pytest

from real_time_big_data_iot_monitoring_pipeline_spark.sources import pydatasource as P


def _append(spark, path, df):
    df.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()


# --- 1: change feed widens numeric type conflicts like the batch reader ------


def test_change_feed_widens_numeric_type_conflict(spark, tmp_path):
    # appends across two naming epochs, each widening the x column:
    # int under (id), bigint under (rid), double under (pid).  The batch
    # reader resolves each file's rename chain and UNIONS the groups —
    # Spark's union coercion widens x to double — so the feed must
    # serve the same range widened identically, not refuse it.
    path = str(tmp_path / "cfw")
    P.register_sink(spark)
    _append(spark, path, spark.range(3).selectExpr("id", "CAST(id AS INT) AS x"))
    P.rename_column(path, "id", "rid")
    _append(
        spark, path, spark.range(3, 6).selectExpr("id AS rid", "CAST(id * 10 AS BIGINT) AS x")
    )
    P.rename_column(path, "rid", "pid")
    _append(
        spark, path, spark.range(6, 9).selectExpr("id AS pid", "CAST(id / 2.0 AS DOUBLE) AS x")
    )
    batch = P.read_manifest(spark, path, merge_schema=True)[0]
    assert dict(batch.dtypes)["x"] == "double" and batch.count() == 9
    df, commits = P.read_change_feed(spark, path, since_version=0)
    assert dict(df.dtypes)["x"] == "double"
    got = {r["pid"]: (r["x"], r["_commit_version"]) for r in df.collect()}
    assert got[0] == (0.0, 1) and got[4] == (40.0, 3) and got[7] == (3.5, 5)
    assert [c["op"] for c in commits] == ["append", "rename", "append", "rename", "append"]


def test_change_feed_still_refuses_non_widenable_conflict(spark, tmp_path):
    path = str(tmp_path / "cfr")
    P.register_sink(spark)
    _append(spark, path, spark.range(2).selectExpr("id", "CAST(id AS BIGINT) AS x"))
    _append(spark, path, spark.range(2, 4).selectExpr("id", "CAST(id AS STRING) AS x"))
    with pytest.raises(RuntimeError, match="no common\\s+Spark type"):
        P.read_change_feed(spark, path, since_version=0)


# --- 2: empty overwrite with an unsupported (inference-fallback) schema ------


def test_empty_overwrite_unsupported_schema_fails_loudly(spark, tmp_path):
    path = str(tmp_path / "eow")
    P.register_sink(spark)
    _append(spark, path, spark.range(5).selectExpr("id", "CAST(id % 2 AS INT) AS k"))
    # make the old logical schema distinctive via a rename: the bug read
    # the reset table back under these post-rename columns
    P.rename_column(path, "k", "kk")
    # array<bigint> is outside _spark_to_arrow_schema's mapping, so the
    # writer's arrow_schema is None (inference fallback) — and the
    # overwrite is EMPTY, so inference never sees a value either
    empty = spark.range(0).selectExpr("id", "array(id) AS vals")
    empty.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "overwrite"
    ).save()
    head = P._latest_snapshot(path)
    assert "schema_ddl" in head and head["schema_ddl"] is None, (
        "empty inference-fallback overwrite must stamp the explicit "
        f"no-schema marker, got {head.get('schema_ddl')!r}"
    )
    with pytest.raises(Exception, match="no recorded schema"):
        P.read_manifest(spark, path)
    # pre-overwrite snapshots remain time-travel readable under their
    # own naming epoch
    old, _ = P.read_manifest(spark, path, version=2)
    assert old.columns == ["id", "kk"] and old.count() == 5


# --- round-10 verdict item 3: the bench envelope rule is stamped -------------


def test_bench_envelope_stamp_self_consistent():
    """The envelope (normalized <= 20 s AND calibration_spread <= 0.2 s,
    raw <= 24.5 s evaluated only near-idle) is computed and stamped by
    bench.py itself; this asserts the committed BENCH_DETAIL.json's
    envelope block is self-consistent with the file's own numbers under
    exactly the constants in bench.py — a close note can say "envelope
    held" only if the artifact agrees."""
    import json
    import os
    import sys

    root = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, root)
    import bench

    with open(os.path.join(root, "BENCH_DETAIL.json")) as fh:
        d = json.load(fh)
    if "envelope" not in d:
        pytest.skip("BENCH_DETAIL.json predates the round-11 envelope rule")
    env = d["envelope"]
    assert env["normalized_ok"] == (
        d["value_normalized"] <= bench.ENVELOPE_NORMALIZED_SEC
    )
    assert env["spread_ok"] == (d["calibration_spread"] <= bench.ENVELOPE_SPREAD_SEC)
    assert env["within"] == (env["normalized_ok"] and env["spread_ok"])
    if d["load_factor"] < 1.1:
        assert env["raw_ok"] == (d["value"] <= bench.ENVELOPE_RAW_IDLE_SEC)
    else:
        assert env["raw_ok"] is None
    assert str(bench.ENVELOPE_NORMALIZED_SEC) in env["rule"]
    assert str(bench.ENVELOPE_SPREAD_SEC) in env["rule"]


# --- sf0.1 ANSI-overflow pin (round-11 full-catalog sweep find) ---------------


# Every query whose integer sum-of-products law is super-linear in data
# volume (or rides >=1e6 quanta), moved to the DECIMAL(38,0) lattice by
# the round-11 scale audit.  The audit's trigger: the full-catalog sweep
# caught `ab_cuped_adjustment` overflowing int64 at sf0.1 (sum(y2)^2
# past 2^63 under ANSI multiplyExact) — the first catalog query to fail
# ONLY at scale — and a source sweep of every integer moment site found
# ten more within 1.3-100x of the same cliff (n^2 rank sums, n^3
# rank-diff moments, quadratic-in-volume daily counts, micro/nano-
# quantized products).  Sites bounded by STRUCTURE (hour grids,
# <=k-row fits, bbox dimensions, name-frequency pairs) keep int64 with
# documented headroom.
_DECIMAL_HARDENED = (
    "ab_cuped_adjustment",
    "kfold_regression_stability",
    "ab_power_mde",
    "anova_value_by_type",
    "customer_spend_gini",
    "spearman_qty_price",
    "fdr_bh_correction",
    "roc_auc_doclen_lang",
    "effect_size_cohens_d",
    "levene_variance_test",
    "average_precision_doclen_lang",
    "fano_factor_burstiness",
    "tfidf_similar_pairs",
    "text_zipf_fit",
    # second wave (catalog-wide audit tool, tools/overflow_audit.py):
    # shared integer-moment helpers (std_fixed / corr_int /
    # describe_stats / seasonal_anomaly_census), the TPC-H revenue
    # product family (sum_charge crosses int64 near sf10), rank-sum
    # U-test (n^2 + n^3 tie term), micro/nano-quanta products
    "describe_stats",
    "corr_matrix",
    "seasonal_anomaly_census",
    "feature_standardize",
    "twap_per_user",
    "mann_whitney_utest",
    "brier_score_decomposition",
    "revenue_filter_agg",
    "unshipped_orders_topk",
    "returned_items_report",
    "volume_shipping",
    "join_star_revenue",
    "pricing_summary",
    "salted_join_brand_revenue",
    "incremental_join_delta",
    "incremental_agg_merge",
)


def test_decimal_hardened_queries_survive_sf01_scale(spark):
    """Pin: every decimal-hardened query executes to completion at
    sf0.1 — the scale where the int64 formulation first crashed (all
    fourteen were verified value-identical against their DuckDB oracles
    at sf0.01 AND sf0.1 when hardened; the oracles were never at risk —
    DuckDB sums in int128)."""
    import os

    from real_time_big_data_iot_monitoring_pipeline_spark.plans import REGISTRY

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 fixtures not present")
    for name in _DECIMAL_HARDENED:
        rows = REGISTRY[name].build(spark, sf01).collect()
        assert rows, f"{name} returned no rows at sf0.1"


def test_overflow_audit_clean():
    """Standing invariant: every integer sum-of-products site in the
    catalog source is either DECIMAL-GUARDED, SPLIT-ACCUMULATED with a
    recorded row-product bound, or whitelisted as structurally bounded
    with a recorded bound (tools/overflow_audit.py — the mechanical
    form of the round-11 scale audit, extended per the round-11 verdict
    "What's wrong #3": `sum_product_exact` call sites are enumerated
    and each must record why its row product satisfies the helper's
    preconditions, product >= 0 and < 2^53).  Whitelists are keyed by
    (module, function, product source text) — round-11 ADVICE #2 — so
    a NEW multiply added inside an already-whitelisted function flags
    until its exact expression is reviewed; stale whitelist entries
    (site gone / expression rewritten) fail too.  A new query that sums
    an unguarded integer product fails here before it can reintroduce
    the sf0.1 overflow class."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from overflow_audit import scan

    out = scan()
    assert out["n_flagged"] == 0, (
        "unguarded integer product sites (harden to decimal(38,0), record "
        f"a split bound, or whitelist): {out['flagged'] + out['split_flagged']}"
    )
    assert out["n_stale_whitelist"] == 0, (
        f"stale whitelist entries (reviewed expression changed): "
        f"{out['stale_whitelist']}"
    )
    # the TPC-H revenue family's 9 split-accumulator sites make the
    # wave-2 peak of 48 = 39 guarded + 9 split (the round-11 verdict's
    # 48-vs-39 delta, now visible to the scanner)
    assert out["n_guarded"] >= 35 and out["n_bounded"] >= 10
    assert out["n_split_bounded"] >= 9
