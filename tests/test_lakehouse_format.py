"""The manifest table format (sources/pydatasource.py): overwrite,
vacuum, restore, schema-DDL and change-feed contracts, pinned on small
hand-built tables.  The numbered pins are below; two later sections,
each headed by a comment, pin NULL semantics and schema guards, then
rename-chain constraints and verb guards.

  1. An EMPTY overwrite with a declared schema resets the table to the
     writer's schema; the commit gate once discarded it and re-derived
     from the PRE-commit head, so the reset read back under the OLD
     table's post-rename columns (and an empty overwrite to a fresh
     table stayed unreadable despite a declared schema).
  2. Vacuum's staging-dir sweep takes the newest mtime RECURSIVELY:
     Spark writes under nested _temporary/<n>/task_*/ subdirs whose
     activity does not bump shallow mtimes, so a long rewrite could be
     rmtree'd mid-job.
  3. Restore/clone manifests are exempt from the commit gate's
     schema_ddl derivation: restoring to a schema-less EMPTY snapshot
     stays schema-less instead of inheriting the current head's naming
     epoch.
  4. _parse_ddl splits on the LAST space and refuses malformed
     fragments loudly (was: opaque unpack ValueError in whichever
     consumer hit it first; column names with spaces mis-split).
  5. read_change_feed accepts MUTUALLY-additive column sets (two
     stale-schema appends with disjoint extras) exactly like
     read_manifest(merge_schema=True); only a same-name TYPE conflict
     refuses.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

import pytest

from real_time_big_data_iot_monitoring_pipeline_spark.sources import pydatasource as P


def _append(spark, path, df):
    df.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()


def _overwrite(spark, path, df):
    df.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "overwrite"
    ).save()


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    P.register_sink(spark)
    _append(
        spark,
        path,
        spark.range(20).selectExpr("id", "CAST(id % 3 AS INT) AS k"),
    )
    return path


# --- 1: empty overwrite takes the writer's declared schema ------------------


def test_empty_overwrite_resets_schema(spark, table):
    # make the old logical schema distinctive via a rename
    P.rename_column(table, "k", "kk")
    empty = spark.range(0).selectExpr(
        "CAST(id AS STRING) AS a", "CAST(id AS DOUBLE) AS b"
    )
    _overwrite(spark, table, empty)
    df, m = P.read_manifest(spark, table)
    assert df.columns == ["a", "b"], (
        "empty overwrite must read back under the writer's DECLARED schema, "
        f"not the old head's post-rename columns: got {df.columns}"
    )
    assert df.count() == 0
    assert m.get("schema_ddl") == "a string, b double"


def test_empty_first_write_is_readable(spark, tmp_path):
    path = str(tmp_path / "fresh")
    P.register_sink(spark)
    empty = spark.range(0).selectExpr("id", "CAST(id AS STRING) AS name")
    _overwrite(spark, path, empty)
    df, _ = P.read_manifest(spark, path)
    assert df.columns == ["id", "name"] and df.count() == 0
    # and the same via mode('append') on a fresh table
    path2 = str(tmp_path / "fresh2")
    _append(spark, path2, empty)
    df2, _ = P.read_manifest(spark, path2)
    assert df2.columns == ["id", "name"] and df2.count() == 0


def test_delete_all_still_keeps_old_schema(spark, table):
    # the gate's pre-commit-head derivation remains the fallback for
    # verbs that empty an EXISTING table in place
    P.rename_column(table, "k", "kk")
    P.delete_where(spark, table, "id", 0, 10**9)
    df, _ = P.read_manifest(spark, table)
    assert df.columns == ["id", "kk"] and df.count() == 0


# --- 2: vacuum staging sweep uses recursive mtimes ---------------------------


def test_vacuum_spares_staging_with_deep_recent_activity(spark, table):
    d = os.path.join(table, "_delete_staging_deep")
    deep = os.path.join(d, "_temporary", "0", "task_202608_0001")
    os.makedirs(deep)
    with open(os.path.join(deep, "part-000.parquet"), "w") as f:
        f.write("x")
    old = time.time() - 10_000
    # age the SHALLOW levels; only the deep task file is fresh
    os.utime(d, (old, old))
    os.utime(os.path.join(d, "_temporary"), (old, old))
    os.utime(os.path.join(d, "_temporary", "0"), (old, old))
    os.utime(deep, (old, old))
    res = P.vacuum(table, retention_seconds=600)
    assert os.path.isdir(d), (
        "staging dir with fresh DEEP task activity was swept mid-job: "
        f"{res}"
    )


def test_vacuum_sweeps_fully_stale_staging(spark, table):
    d = os.path.join(table, "_zorder_staging_dead")
    deep = os.path.join(d, "_temporary", "0")
    os.makedirs(deep)
    with open(os.path.join(deep, "part-000.parquet"), "w") as f:
        f.write("x")
    old = time.time() - 10_000
    for p in (os.path.join(deep, "part-000.parquet"), deep, os.path.join(d, "_temporary"), d):
        os.utime(p, (old, old))
    res = P.vacuum(table, retention_seconds=600)
    assert not os.path.exists(d)
    assert res["n_strays_removed"] >= 1


# --- 3: restore to a schema-less empty snapshot stays schema-less -----------


def _inject_legacy_empty_snapshot(path: str) -> int:
    """Simulate a pre-schema_ddl EMPTY snapshot (written by an older
    engine build): a versioned manifest with files=[] and NO schema_ddl
    key, claimed exactly like a real commit so the ledger sees it."""
    head = P._latest_snapshot(path)
    v = head["version"] + 1
    manifest = {
        "version": v,
        "files": [],
        "n_rows": 0,
        "stats": {},
        "file_columns": {},
        "renames": [],
        "eq_deletes": [],
        "constraints": head.get("constraints", []),
        "batches": head.get("batches", []),
        "op": "legacy",
    }
    versioned = os.path.join(path, f"_manifest-v{v}.json")
    with open(versioned + ".claim-test", "w") as f:
        json.dump(manifest, f)
    os.link(versioned + ".claim-test", versioned)
    os.remove(versioned + ".claim-test")
    return v


def test_restore_to_schemaless_empty_snapshot_stays_schemaless(spark, table):
    legacy_v = _inject_legacy_empty_snapshot(table)
    # advance the head past it, with a rename so the CURRENT naming
    # epoch is detectably different from anything the legacy snapshot
    # could legitimately carry
    _append(spark, table, spark.range(5).selectExpr("id", "CAST(0 AS INT) AS k"))
    P.rename_column(table, "k", "kk")
    m = P.restore_table(table, legacy_v)
    assert "schema_ddl" not in m, (
        "restore to a schema-less empty snapshot must stay schema-less, "
        f"not inherit the head's naming epoch: got {m.get('schema_ddl')!r}"
    )
    with pytest.raises(Exception, match="schema|empty|recorded"):
        P.read_manifest(spark, table)[0].columns


# --- 4: _parse_ddl validation ------------------------------------------------


def test_parse_ddl_last_space_and_loud_errors():
    assert P._parse_ddl("id bigint, name string") == [
        ("id", "bigint"),
        ("name", "string"),
    ]
    # column names containing spaces split on the LAST space
    assert P._parse_ddl("my col int") == [("my col", "int")]
    with pytest.raises(ValueError, match="malformed schema_ddl fragment"):
        P._parse_ddl("justonename")
    with pytest.raises(ValueError, match="malformed schema_ddl fragment"):
        P._parse_ddl("id bigint, ")


# --- 5: change feed unions mutually-additive sets ----------------------------


def test_change_feed_mutually_additive_colsets(spark, tmp_path):
    path = str(tmp_path / "cf")
    P.register_sink(spark)
    _append(spark, path, spark.range(3).selectExpr("id", "CAST(id AS INT) AS a"))
    _append(spark, path, spark.range(3, 6).selectExpr("id", "CAST(id AS DOUBLE) AS b"))
    # the batch reader serves this table by unioning with nulls both ways
    batch = P.read_manifest(spark, path, merge_schema=True)[0]
    assert sorted(batch.columns) == ["a", "b", "id"] and batch.count() == 6
    # ...so the change feed must serve the SAME range, not refuse it
    df, commits = P.read_change_feed(spark, path, since_version=0)
    assert sorted(df.columns) == ["_commit_version", "a", "b", "id"]
    assert df.count() == 6
    got = {
        r["id"]: (r["a"], r["b"], r["_commit_version"]) for r in df.collect()
    }
    assert got[0] == (0, None, 1) and got[5] == (None, 5.0, 2)
    assert [c["op"] for c in commits] == ["append", "append"]


def test_change_feed_refuses_same_name_type_conflict(spark, tmp_path):
    path = str(tmp_path / "cf2")
    P.register_sink(spark)
    _append(spark, path, spark.range(2).selectExpr("id", "CAST(id AS INT) AS x"))
    _append(spark, path, spark.range(2, 4).selectExpr("id", "CAST(id AS STRING) AS x"))
    with pytest.raises(RuntimeError, match="incompatible schema change: column 'x'"):
        P.read_change_feed(spark, path, since_version=0)


# --- found by the crash machine, but a plain sequential bug: -----------------


def test_vacuum_widening_keep_versions_after_tight_vacuum(spark, table):
    """vacuum(keep_versions=1) then vacuum(keep_versions=50) used to
    crash on the expired manifests in the widened horizon — an expired
    snapshot contributes no live files and must be skipped (the head
    itself must still exist)."""
    _append(spark, table, spark.range(20, 25).selectExpr("id", "CAST(id AS INT) AS k"))
    _append(spark, table, spark.range(25, 30).selectExpr("id", "CAST(id AS INT) AS k"))
    P.vacuum(table, keep_versions=1, retention_seconds=0)
    res = P.vacuum(table, keep_versions=50, retention_seconds=0)
    assert res["head_version"] == 3
    df, _ = P.read_manifest(spark, table)
    assert df.count() == 30


# ---------------------------------------------------------------------------
# NULL semantics and schema guards (sources/pydatasource.py):
#
#   1. `_spark_to_arrow_schema` maps EVERY field nullable=True: Spark's
#      nullable=False is advisory and occasionally wrong (joins, UDF
#      outputs), and Arrow's from_pylist does not validate nullability —
#      a None in a required int64 column silently round-tripped as 0
#      through the schema'd write path.
#   2. Range deletes are NULL-safe in every path that applies an
#      eq-delete predicate: a row whose delete-column is NULL does not
#      match `col BETWEEN lo AND hi` and must SURVIVE — the bare
#      `~between()` evaluated to NULL and silently dropped it in
#      (a) the logical reader, (b) delete_where's CoW rewrite,
#      (c) materialize_deletes, (d) the Arrow format reader.
#   3. materialize_deletes plans in O(D*F), not O(D*F^2): the live-file
#      set is hoisted out of the per-delete per-file loop.
# ---------------------------------------------------------------------------


@pytest.fixture()
def null_table(spark, tmp_path):
    """20 rows; v is NULL on every 5th row (ids 0,5,10,15), else id*3."""
    path = str(tmp_path / "t8")
    P.register_sink(spark)
    df = spark.range(20).selectExpr(
        "id",
        "CAST(id % 7 AS INT) AS k",
        "CAST(CASE WHEN id % 5 = 0 THEN NULL ELSE id * 3 END AS INT) AS v",
    )
    df.coalesce(2).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    return path


NULL_IDS = {0, 5, 10, 15}


# --- 1. Arrow schema nullability ---------------------------------------------


def test_spark_to_arrow_schema_always_nullable():
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), nullable=False),
            T.StructField("b", T.StringType(), nullable=True),
        ]
    )
    arrow = P._spark_to_arrow_schema(schema)
    assert arrow is not None
    assert all(f.nullable for f in arrow), arrow


def test_nonnullable_claimed_none_roundtrips_as_null(spark, tmp_path):
    """A None landing in a column Spark CLAIMS non-nullable must come
    back NULL, not 0 — the pre-fix required-int64 schema let pyarrow
    write it as 0 silently."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("a", T.LongType(), nullable=False)])
    arrow = P._spark_to_arrow_schema(schema)
    rows = [Row(a=7), Row(a=None), Row(a=9)]
    part = P._write_part(str(tmp_path), iter(rows), schema=arrow)
    import pyarrow.parquet as pq

    # the part file is underscore-hidden (uncommitted) — read it directly
    got = pq.read_table(str(tmp_path / part.filename)).column("a").to_pylist()
    assert got == [7, None, 9], f"None must round-trip as NULL, got {got}"


# --- 2. NULL-safe range deletes in all four paths -----------------------------


def test_delete_where_cow_keeps_null_rows(spark, null_table):
    # delete v in [0, 27] -> ids 1..9 with non-null v (1,2,3,4,6,7,8,9);
    # ids 0,5 have NULL v and MUST survive the CoW rewrite
    res = P.delete_where(spark, null_table, "v", 0, 27)
    df, _m = P.read_manifest(spark, null_table)
    surv = {r.id for r in df.collect()}
    assert NULL_IDS <= surv, f"NULL-v rows deleted by a range predicate: {surv}"
    assert surv == {0, 5, 10, 15} | set(range(10, 20)), surv
    assert res["n_deleted"] == 8


def test_delete_where_mor_logical_read_keeps_null_rows(spark, null_table):
    P.delete_where_mor(null_table, "v", 0, 27)
    df, _m = P.read_manifest(spark, null_table)
    surv = {r.id for r in df.collect()}
    assert NULL_IDS <= surv, f"NULL-v rows dropped by the MoR logical read: {surv}"
    assert surv == {0, 5, 10, 15} | set(range(10, 20)), surv


def test_materialize_deletes_keeps_null_rows(spark, null_table):
    P.delete_where_mor(null_table, "v", 0, 27)
    P.materialize_deletes(spark, null_table)
    head = P._latest_snapshot(null_table)
    assert not head.get("eq_deletes"), "materialize must clear the delete log"
    df, _m = P.read_manifest(spark, null_table)
    surv = {r.id for r in df.collect()}
    assert NULL_IDS <= surv, f"NULL-v rows dropped by the physical rewrite: {surv}"
    assert surv == {0, 5, 10, 15} | set(range(10, 20)), surv


def test_format_reader_arrow_path_keeps_null_rows(spark, null_table):
    P.delete_where_mor(null_table, "v", 0, 27)
    P.register(spark)
    fmt = spark.read.format("rtbd_manifest_table").option("path", null_table).load()
    surv = {r.id for r in fmt.collect()}
    assert NULL_IDS <= surv, f"NULL-v rows dropped by the Arrow format reader: {surv}"
    assert surv == {0, 5, 10, 15} | set(range(10, 20)), surv


def test_all_read_paths_agree_on_null_survivors(spark, null_table):
    """CoW on one copy must equal MoR-then-materialize on the same data:
    the delete semantics are a TABLE contract, not a per-path accident."""
    import os

    cow_dir = os.path.join(os.path.dirname(null_table), "t8_cow")
    src, _m = P.read_manifest(spark, null_table)
    src.coalesce(2).write.format("rtbd_manifest_sink").option("path", cow_dir).mode(
        "append"
    ).save()
    P.delete_where(spark, cow_dir, "v", 0, 27)
    P.delete_where_mor(null_table, "v", 0, 27)
    P.materialize_deletes(spark, null_table)
    a, _ = P.read_manifest(spark, cow_dir)
    b, _ = P.read_manifest(spark, null_table)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


# --- 3. materialize_deletes planning is O(D*F) --------------------------------


def test_materialize_deletes_hoists_live_set():
    """Structural pin: the set(head['files']) build sits ABOVE the
    delete loop (O(D*F^2) regression guard — same class as the round-7
    _file_logical_metadata fix)."""
    import inspect
    import textwrap

    src = textwrap.dedent(inspect.getsource(P.materialize_deletes))
    loop = src.index("for d in deletes:")
    assert "live = set(head[\"files\"])" in src[:loop], (
        "live-file set must be hoisted above the per-delete loop"
    )
    assert "set(head[\"files\"])" not in src[loop:], (
        "per-iteration set() rebuild reintroduced"
    )


# --- range CHECK constraints under SQL three-valued logic ---------------------


def test_range_check_constraint_null_semantics(spark, tmp_path):
    """CHECK (v BETWEEN lo AND hi) under three-valued logic: NULL rows
    SATISFY the check (predicate not FALSE), so (a) a mixed null/valid
    file commits, (b) an ALL-NULL file commits — proven vacuously valid
    from footer null counts, where the pre-fix 'no min/max stats ->
    unprovable' rule wrongly rejected it, (c) an out-of-range value
    still rejects, and (d) add_check_constraint accepts EXISTING
    all-null files the same way."""
    path = str(tmp_path / "t8c")
    P.register_sink(spark)
    spark.range(10).selectExpr(
        "id", "CAST(CASE WHEN id % 2 = 0 THEN NULL ELSE id + 100 END AS INT) AS v"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    P.add_check_constraint(path, "v_range", "v", lo=100, hi=200)
    # (a) mixed nulls + in-range values
    spark.sql(
        "SELECT CAST(20 AS BIGINT) AS id, CAST(NULL AS INT) AS v "
        "UNION ALL SELECT 21, 150"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    # (b) all-NULL file: vacuously valid
    spark.sql(
        "SELECT CAST(30 AS BIGINT) AS id, CAST(NULL AS INT) AS v"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    df, _h = P.read_manifest(spark, path)
    assert df.count() == 13
    # (c) out-of-range value still rejected, table untouched
    with pytest.raises(Exception, match="constraint"):
        spark.sql(
            "SELECT CAST(40 AS BIGINT) AS id, CAST(999 AS INT) AS v"
        ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
            "append"
        ).save()
    assert P.read_manifest(spark, path)[0].count() == 13
    # (d) existing all-null data accepts a new range constraint
    path2 = str(tmp_path / "t8c2")
    spark.sql(
        "SELECT CAST(1 AS BIGINT) AS id, CAST(NULL AS INT) AS v"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path2).mode(
        "append"
    ).save()
    P.add_check_constraint(path2, "v_range", "v", lo=0, hi=1)


# --- schema guards on the lakehouse verbs (round-8 self-review) ---------------


def test_rename_guards_existence_and_collision(spark, tmp_path):
    """rename_column must refuse (a) renaming a column that does not
    exist (the reader's withColumnRenamed would silently no-op, leaving
    a useless committed rename) and (b) renaming ONTO an existing name
    (duplicate logical columns break every later select by name)."""
    path = str(tmp_path / "tg1")
    P.register_sink(spark)
    spark.range(10).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    with pytest.raises(RuntimeError, match="no such column"):
        P.rename_column(path, "nope", "x")
    with pytest.raises(RuntimeError, match="already exists"):
        P.rename_column(path, "id", "v")
    P.rename_column(path, "v", "w")  # legitimate rename still works
    assert "w" in P.read_manifest(spark, path)[0].columns


def test_delete_verbs_guard_nonexistent_column(spark, tmp_path):
    """Both delete verbs fail at COMMIT time on a typo'd column — a
    committed MoR delete on a missing column would break every later
    logical read; the CoW verb would die mid-rewrite instead."""
    path = str(tmp_path / "tg2")
    P.register_sink(spark)
    spark.range(10).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    v_before = P._latest_snapshot(path)["version"]
    with pytest.raises(RuntimeError, match="no such column"):
        P.delete_where_mor(path, "nope", 0, 5)
    with pytest.raises(RuntimeError, match="no such column"):
        P.delete_where(spark, path, "nope", 0, 5)
    with pytest.raises(RuntimeError, match="no such column"):
        P.add_check_constraint(path, "c1", "nope", lo=0)
    head = P._latest_snapshot(path)
    assert head["version"] == v_before  # nothing committed
    assert P.read_manifest(spark, path)[0].count() == 10


def test_not_null_constraint_sees_schema_evolved_files(spark, tmp_path):
    """Files written BEFORE a column existed are all-NULL for it on the
    merged read, so a NOT NULL constraint on the evolved column must be
    REFUSED — the pre-fix footer walk returned null_count 0 for a
    column absent from the file and unsoundly accepted it."""
    path = str(tmp_path / "tg3")
    P.register_sink(spark)
    spark.range(5).selectExpr("id").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    spark.range(5, 10).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    with pytest.raises(RuntimeError, match="null"):
        P.add_check_constraint(path, "v_nn", "v", not_null=True)
    # a RANGE constraint on the same column is vacuously fine for the
    # old files (NULL satisfies a range CHECK) and proven for the new
    P.add_check_constraint(path, "v_range", "v", lo=0, hi=100)


def test_constraint_on_renamed_column_resolves_physical_stats(spark, tmp_path):
    """add_check_constraint AFTER a rename: the proof must resolve each
    file's PHYSICAL footer name through the rename chain — pre-fix the
    range proof found no stats (spurious unprovable) and the NOT NULL
    proof found a zero null count it never measured (unsound accept)."""
    path = str(tmp_path / "tg4")
    P.register_sink(spark)
    spark.range(10).selectExpr("id", "CAST(id + 100 AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    P.rename_column(path, "v", "w")
    P.add_check_constraint(path, "w_nn", "w", not_null=True)  # provable via 'v' footers
    P.add_check_constraint(path, "w_range", "w", lo=100, hi=109)
    with pytest.raises(RuntimeError, match="violates"):
        P.add_check_constraint(path, "w_tight", "w", lo=100, hi=105)
    # NOT NULL on a renamed column with real nulls still rejects
    path2 = str(tmp_path / "tg4b")
    spark.range(4).selectExpr(
        "id", "CAST(CASE WHEN id = 2 THEN NULL ELSE id END AS INT) AS v"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path2).mode(
        "append"
    ).save()
    P.rename_column(path2, "v", "w")
    with pytest.raises(RuntimeError, match="null"):
        P.add_check_constraint(path2, "w_nn", "w", not_null=True)


def test_delete_where_plans_against_ledger_not_head_cache(spark, tmp_path):
    """delete_where must plan against the versioned ledger: with the
    manifest.json convenience cache missing (crash between claim and
    head-pointer update), the verb still sees the latest snapshot."""
    import os

    path = str(tmp_path / "tg5")
    P.register_sink(spark)
    spark.range(100).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    os.remove(os.path.join(path, "manifest.json"))  # simulate lagging cache
    res = P.delete_where(spark, path, "v", 0, 49)
    assert res["n_deleted"] == 50
    assert P.read_manifest(spark, path)[0].count() == 50


def test_merge_upsert_null_keys_and_column_guard(spark, tmp_path):
    """MERGE semantics under NULLs (standard SQL): a NULL-keyed update
    row never matches (inserted), a NULL-keyed target row never matches
    (kept, not updated); and a typo'd merge key fails at commit time."""
    path = str(tmp_path / "tg6")
    P.register_sink(spark)
    spark.sql(
        "SELECT * FROM VALUES (CAST(1 AS BIGINT), 10), (2, 20), (CAST(NULL AS BIGINT), 30) AS t(k, v)"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    updates = spark.sql(
        "SELECT * FROM VALUES (CAST(2 AS BIGINT), 99), (CAST(NULL AS BIGINT), 77) AS t(k, v)"
    )
    res = P.merge_upsert(spark, path, updates, "k")
    assert res["n_updated"] == 1 and res["n_inserted"] == 1, res
    rows = {(r.k, r.v) for r in P.read_manifest(spark, path)[0].collect()}
    assert rows == {(1, 10), (2, 99), (None, 30), (None, 77)}, rows
    with pytest.raises(RuntimeError, match="no such column"):
        P.merge_upsert(spark, path, updates.withColumnRenamed("k", "kk"), "kk")


def test_file_columns_cache_maintained_and_consulted(spark, tmp_path):
    """Every commit records its files' column names in the manifest
    (`file_columns`) so verb planning never re-reads O(F) footers; the
    cache survives append/delete/merge/materialize/restore/clone, and a
    legacy manifest without it still plans correctly via the footer
    fallback."""
    import json
    import os

    path = str(tmp_path / "tfc")
    P.register_sink(spark)
    spark.range(100).selectExpr("id", "CAST(id AS INT) AS v").coalesce(2).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    head = P._latest_snapshot(path)
    assert set(head["file_columns"]) == set(head["files"])
    assert all(sorted(c) == ["id", "v"] for c in head["file_columns"].values())

    P.delete_where(spark, path, "v", 0, 9)
    P.delete_where_mor(path, "v", 90, 99)
    P.materialize_deletes(spark, path)
    P.merge_upsert(
        spark, path, spark.range(5).selectExpr("id", "CAST(99 AS INT) AS v"), "id"
    )
    head = P._latest_snapshot(path)
    assert set(head["file_columns"]) == set(head["files"]), "cache drifted from file list"
    P.restore_table(path, 1)
    head = P._latest_snapshot(path)
    assert set(head["file_columns"]) == set(head["files"])

    # legacy manifest (cache stripped) still resolves logical columns
    mf = os.path.join(path, f"_manifest-v{head['version']}.json")
    m = json.load(open(mf))
    m.pop("file_columns")
    json.dump(m, open(mf, "w"))
    if os.path.exists(os.path.join(path, "manifest.json")):
        json.dump(m, open(os.path.join(path, "manifest.json"), "w"))
    assert P._logical_columns(path, P._latest_snapshot(path)) == {"id", "v"}


def test_file_columns_cache_rides_clone_and_stream(spark, tmp_path):
    from pyspark.sql import Row

    path = str(tmp_path / "tfc2")
    w = P.ManifestStreamWriter({"path": path})
    msg = w.write(iter(Row(id=j, v=j) for j in range(50)))
    w.commit([msg], 0)
    head = P._latest_snapshot(path)
    assert set(head["file_columns"]) == set(head["files"])
    dst = str(tmp_path / "tfc2_clone")
    P.shallow_clone(path, dst)
    chead = P._latest_snapshot(dst)
    assert set(chead["file_columns"]) == set(chead["files"])
    assert P._logical_columns(dst, chead) == {"id", "v"}


def test_readers_see_ledger_head_not_stale_cache(spark, tmp_path):
    """Every read path resolves the LEDGER head even when the
    manifest.json convenience cache lags (crash between claim and
    head-pointer update): batch read, pruned read, format read, CDF
    default bound, and the stream reader's head version."""
    import json
    import os

    path = str(tmp_path / "tstale")
    P.register_sink(spark)
    spark.range(50).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    spark.range(50, 100).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    # simulate the lagging cache: head pointer rolled back to v1
    v1 = json.load(open(os.path.join(path, "_manifest-v1.json")))
    json.dump(v1, open(os.path.join(path, "manifest.json"), "w"))

    assert P.read_manifest(spark, path)[0].count() == 100
    df, n_scanned, n_total = P.read_manifest_pruned(spark, path, "v", 0, 99)
    assert n_total == 2 and df.count() == 100
    P.register(spark)
    fmt = spark.read.format("rtbd_manifest_table").option("path", path).load()
    assert fmt.count() == 100
    deltas = P._append_deltas(path, 0, P._head_snapshot(path)["version"])
    assert [d["version"] for d in deltas] == [1, 2]


def test_materialize_after_rename_applies_chain(spark, tmp_path):
    """Found by the model-based verb-sequence test: rename v->w, MoR
    delete on w, then materialize — the physical rewrite must read each
    file LOGICALLY (rename chain applied) or the predicate on the
    current name fails to resolve against the file's pre-rename
    columns.  The rewritten files land under current names and the
    retained rename entry no-ops on them."""
    path = str(tmp_path / "tmrn")
    P.register_sink(spark)
    spark.range(20).selectExpr("id", "CAST(id AS INT) AS v").coalesce(2).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    P.rename_column(path, "v", "w")
    P.delete_where_mor(path, "w", 5, 9)
    P.materialize_deletes(spark, path)
    df, head = P.read_manifest(spark, path)
    assert not head.get("eq_deletes")
    assert sorted(df.columns) == ["id", "w"]
    assert sorted(r.w for r in df.collect()) == [v for v in range(20) if not 5 <= v <= 9]
    # the same shape through the Arrow format reader
    P.register(spark)
    fmt = spark.read.format("rtbd_manifest_table").option("path", path).load()
    assert sorted(fmt.columns) == ["id", "w"] and fmt.count() == 15


def test_rename_onto_constraint_referenced_name_refused(spark, tmp_path):
    """Found by the model machine's state space: renaming a column ONTO
    a name an existing CHECK constraint references would re-activate
    that constraint against data it never validated (reachable via
    rename -> constrain -> restore -> re-rename).  The to-guard refuses
    symmetrically with the from-guard."""
    path = str(tmp_path / "tg7")
    P.register_sink(spark)
    spark.range(9).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    P.rename_column(path, "v", "w")  # v1 data now logically 'w'
    P.add_check_constraint(path, "w_range", "w", lo=0, hi=8)
    P.restore_table(path, 1)  # back to column 'v'; constraint on 'w' dormant
    with pytest.raises(RuntimeError, match="CHECK constraints reference 'w'"):
        P.rename_column(path, "v", "w")
    P.drop_check_constraint(path, "w_range")
    P.rename_column(path, "v", "w")  # allowed once the constraint is gone
    assert "w" in P.read_manifest(spark, path)[0].columns


# ---------------------------------------------------------------------------
# Write-path constraint proofs resolve rename chains, verb guards admit
# zero-file snapshots, and verb part-file prefixes can never collide with
# appended `part-{uuid4hex}` names:
#
#   * `_enforce_constraints`' all-NULL vacuous pass for range CHECKs
#     inferred "absent => all-NULL" from the file's PHYSICAL footer, so a
#     stale-schema append (physical pre-rename name) after
#     rename_column(old->new) silently admitted real out-of-range values
#     that every logical read surfaces via the rename chain.
#   * `_logical_columns` guards in delete_where / delete_where_mor /
#     merge_upsert rejected every column on a zero-file snapshot (empty
#     column union), breaking merge-as-insert bootstrap into an emptied
#     table.
#   * The `part-d{v}-` rewrite prefix was a hex continuation of appended
#     uuid names (~1/16 of appends), making the verb-scope test flaky;
#     prefixes are now full non-hex-continuable words.
# ---------------------------------------------------------------------------


def _write(spark, path, df, mode="append"):
    df.write.format("rtbd_manifest_sink").option("path", path).mode(mode).save()


@pytest.fixture()
def renamed_constrained(spark, tmp_path):
    """Table: id,v in [100,109]; renamed v->w; range CHECK on w."""
    path = str(tmp_path / "t9")
    P.register_sink(spark)
    _write(
        spark,
        path,
        spark.range(10).selectExpr("id", "CAST(id + 100 AS INT) AS v").coalesce(1),
    )
    P.rename_column(path, "v", "w")
    P.add_check_constraint(path, "w_range", "w", lo=0, hi=200)
    return path


# --- 1. write-path constraint proofs are rename-aware ------------------------


def test_stale_schema_append_out_of_range_rejected(spark, renamed_constrained):
    """A writer holding the pre-rename schema appends physical column
    'v' with values outside the CHECK on 'w'.  The content-based chain
    rule surfaces those values as 'w' on every logical read, so the
    write-time proof must resolve w -> v and REJECT — pre-fix the
    absent-'w' footer passed vacuously as all-NULL."""
    path = renamed_constrained
    bad = spark.range(3).selectExpr("id + 50 AS id", "CAST(500 AS INT) AS v").coalesce(1)
    with pytest.raises(Exception, match="w_range"):
        _write(spark, path, bad)
    # the table is untouched: 10 rows, constraint still provable
    df, head = P.read_manifest(spark, path)
    assert df.count() == 10
    assert head["n_rows"] == 10


def test_stale_schema_append_in_range_accepted_and_read_as_renamed(
    spark, renamed_constrained
):
    """The same stale-schema append with IN-range values must commit,
    and logical reads surface them under the current name 'w'."""
    path = renamed_constrained
    ok = spark.range(3).selectExpr("id + 50 AS id", "CAST(150 AS INT) AS v").coalesce(1)
    _write(spark, path, ok)
    df, _ = P.read_manifest(spark, path)
    assert df.count() == 13
    assert df.filter("w = 150").count() == 3
    assert "v" not in df.columns


def test_stale_schema_append_not_null_resolves_chain(spark, tmp_path):
    """NOT NULL on a renamed column: a stale-schema append with zero
    nulls in the physical pre-rename column is PROVABLE and must commit
    (pre-fix: spurious all-NULL violation); one with real nulls must
    still reject."""
    path = str(tmp_path / "t9nn")
    P.register_sink(spark)
    _write(spark, path, spark.range(5).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1))
    P.rename_column(path, "v", "w")
    P.add_check_constraint(path, "w_nn", "w", not_null=True)
    _write(spark, path, spark.range(5, 8).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1))
    df, _ = P.read_manifest(spark, path)
    assert df.count() == 8 and df.filter("w IS NULL").count() == 0
    bad = spark.range(8, 11).selectExpr(
        "id", "CAST(CASE WHEN id = 9 THEN NULL ELSE id END AS INT) AS v"
    ).coalesce(1)
    with pytest.raises(Exception, match="w_nn"):
        _write(spark, path, bad)


# --- 2. zero-file snapshots don't trip the column guards ---------------------


@pytest.fixture()
def emptied_table(spark, tmp_path):
    """Table whose only file was removed by a full-range CoW delete —
    head snapshot lists zero files."""
    path = str(tmp_path / "t9e")
    P.register_sink(spark)
    _write(
        spark,
        path,
        spark.range(6).selectExpr("id", "CAST(id % 3 AS INT) AS k", "CAST(id * 2 AS INT) AS v").coalesce(1),
    )
    P.delete_where(spark, path, "v", 0, 1000)
    head = P._latest_snapshot(path)
    assert head["files"] == [] and head["n_rows"] == 0
    return path


def test_merge_upsert_into_emptied_table_bootstraps(spark, emptied_table):
    upd = spark.range(4).selectExpr(
        "id", "CAST(id % 3 AS INT) AS k", "CAST(99 AS INT) AS v"
    )
    out = P.merge_upsert(spark, emptied_table, upd, "id")
    df, head = P.read_manifest(spark, emptied_table)
    assert df.count() == 4
    assert head["n_rows"] == 4
    assert out["version"] == head["version"]


def test_delete_verbs_noop_on_emptied_table(spark, emptied_table):
    v0 = P._latest_snapshot(emptied_table)["version"]
    out = P.delete_where(spark, emptied_table, "v", 0, 10)
    assert out.get("n_deleted", 0) == 0
    mor = P.delete_where_mor(emptied_table, "v", 0, 10)
    # no empty-scope eq-delete entry is recorded
    assert mor["eq_deletes"] == []
    head = P._latest_snapshot(emptied_table)
    assert head["files"] == [] and head["n_rows"] == 0
    assert head["version"] > v0


def test_guards_still_reject_unknown_columns_on_nonempty_tables(spark, tmp_path):
    path = str(tmp_path / "t9g")
    P.register_sink(spark)
    _write(spark, path, spark.range(3).selectExpr("id", "CAST(id AS INT) AS v").coalesce(1))
    with pytest.raises(RuntimeError, match="no such column"):
        P.delete_where(spark, path, "nope", 0, 1)
    with pytest.raises(RuntimeError, match="no such column"):
        P.delete_where_mor(path, "nope", 0, 1)
    with pytest.raises(RuntimeError, match="no such column"):
        P.merge_upsert(spark, path, spark.range(1).selectExpr("id", "CAST(1 AS INT) AS v"), "nope")


# --- 2b. replayed epoch after a lost claim leaves no orphans ------------------


def test_replayed_epoch_after_lost_claim_drops_renamed_parts(spark, tmp_path, monkeypatch):
    """Round-9 concurrency-machine find (its first run): an epoch commit
    that loses its claim to a CONCURRENT committer of the SAME batchId
    has already renamed its parts visible; the retry's replay guard
    deleted by the stale `_uncommitted_` names only, leaking the
    renamed files forever (invisible to readers, but permanent disk
    orphans no manifest references)."""
    import glob as _glob
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t9r")
    os.makedirs(path)

    def epoch_parts(tag: str):
        fn = f"_uncommitted_{tag}.parquet"
        pq.write_table(
            pa.table({"id": pa.array([1, 2], pa.int64()), "v": pa.array([5, 6], pa.int32())}),
            os.path.join(path, fn),
        )
        return [P.PartFileCommit(fn, 2)]

    P.ManifestStreamWriter({"path": path}).commit(epoch_parts("seed"), 0)

    real_claim = P._claim_and_publish
    fired = {}

    def racing(p, manifest):
        if not fired:
            fired["x"] = 1
            # a concurrent committer lands the SAME epoch first
            P.ManifestStreamWriter({"path": path}).commit(epoch_parts("winner"), 7)
        return real_claim(p, manifest)

    monkeypatch.setattr(P, "_claim_and_publish", racing)
    P.ManifestStreamWriter({"path": path}).commit(epoch_parts("loser"), 7)
    monkeypatch.setattr(P, "_claim_and_publish", real_claim)

    head = P._latest_snapshot(path)
    assert head["batches"] == [0, 7]
    df, _ = P.read_manifest(spark, path)
    assert df.count() == 4  # seed + winner, loser replay dropped
    referenced = set()
    for mf in _glob.glob(os.path.join(path, "_manifest-v*.json")):
        referenced |= set(_json.load(open(mf)).get("files", []))
    on_disk = {os.path.basename(f) for f in _glob.glob(os.path.join(path, "part-*"))}
    assert on_disk == referenced  # pre-fix: the loser's renamed part leaked
    assert not _glob.glob(os.path.join(path, "_uncommitted_*"))


# --- 2c. chunked manifests (Iceberg manifest-list shape) ----------------------


def _raw_manifest(path, version):
    import json as _json

    with open(os.path.join(path, f"_manifest-v{version}.json")) as f:
        return _json.load(f)


def test_chunked_manifest_externalizes_and_reuses_chunks(spark, tmp_path, monkeypatch):
    """Past `_MANIFEST_INLINE_MAX` files a commit writes `_filelist-*`
    chunks instead of inlining O(F) metadata, REUSING every chunk whose
    files all survive — an append's manifest write is O(new + F/chunk).
    Readers resolve behind the same snapshot API; vacuum GCs orphaned
    chunks.  Threshold forced to 4 so a tiny table exercises it all."""
    monkeypatch.setattr(P, "_MANIFEST_INLINE_MAX", 4)
    path = str(tmp_path / "t9c")
    P.register_sink(spark)
    os.makedirs(path, exist_ok=True)
    batch_counter = {"n": 0}

    def append(lo, hi, nparts):
        # in-process epoch commits (the sink's commit runs in a Python
        # DataSource worker where the monkeypatched threshold is
        # invisible; the epoch path is the same commit discipline)
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids = list(range(lo, hi))
        msgs = []
        for p in range(nparts):
            chunk_ids = ids[p::nparts]
            fn = f"_uncommitted_{uuid.uuid4().hex}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(chunk_ids, pa.int64()),
                        "k": pa.array([i % 3 for i in chunk_ids], pa.int32()),
                        "v": pa.array(chunk_ids, pa.int32()),
                    }
                ),
                os.path.join(path, fn),
            )
            msgs.append(P.PartFileCommit(fn, len(chunk_ids)))
        batch_counter["n"] += 1
        P.ManifestStreamWriter({"path": path}).commit(msgs, batch_counter["n"])

    append(0, 9, 3)  # 3 files: inline
    raw1 = _raw_manifest(path, 1)
    assert "files" in raw1 and not raw1.get("files_external")

    append(9, 18, 3)  # 6 files: externalizes
    raw2 = _raw_manifest(path, 2)
    assert raw2.get("files_external") and "files" not in raw2
    assert "stats" not in raw2 and "file_columns" not in raw2
    head = P._latest_snapshot(path)
    assert len(head["files"]) == 6 and head["n_rows"] == 18
    assert set(head["file_columns"]) == set(head["files"])

    append(18, 27, 3)  # 9 files: v2's chunks all survive -> all reused
    raw3 = _raw_manifest(path, 3)
    assert set(raw2["file_chunks"]) <= set(raw3["file_chunks"])
    head = P._latest_snapshot(path)
    assert len(head["files"]) == 9 and head["n_rows"] == 27

    # the whole verb surface works unchanged on a chunked table
    P.rename_column(path, "v", "w")
    P.delete_where_mor(path, "w", 0, 2)  # ids 0..2 logically gone
    df, _ = P.read_manifest(spark, path)
    assert df.count() == 24 and "w" in df.columns
    P.delete_where(spark, path, "w", 20, 23)  # CoW: ids 20..23
    df, _ = P.read_manifest(spark, path)
    assert df.count() == 20
    P.materialize_deletes(spark, path)
    upd = spark.range(3, 6).selectExpr("id", "CAST(9 AS INT) AS k", "CAST(99 AS INT) AS w")
    P.merge_upsert(spark, path, upd, "id")
    df, head = P.read_manifest(spark, path)
    assert df.count() == 20 and df.filter("w = 99").count() == 3
    # time travel to v3 still resolves its chunks
    df3, _ = P.read_manifest(spark, path, version=3)
    assert df3.count() == 27
    # stats flow into chunks and back out (zone-map pruning intact)
    assert any(head.get("stats", {}).values())

    # vacuum: expired manifests' chunks are GC'd, live ones survive
    res = P.vacuum(path, keep_versions=2, retention_seconds=0.0)
    assert res["n_chunks_removed"] >= 0
    import glob as _glob
    import json as _json

    live_chunks = set()
    for mf in _glob.glob(os.path.join(path, "_manifest-v*.json")):
        live_chunks |= set(_json.load(open(mf)).get("file_chunks", []))
    on_disk = {os.path.basename(c) for c in _glob.glob(os.path.join(path, "_filelist-*.json"))}
    assert on_disk == live_chunks
    df, _ = P.read_manifest(spark, path)
    assert df.count() == 20


def test_chunked_manifest_cow_delete_rewrites_only_touched_chunks(
    spark, tmp_path, monkeypatch
):
    """A delete touching one file must not rewrite chunks whose files
    all survive — chunk reuse is what bounds commit metadata I/O."""
    monkeypatch.setattr(P, "_MANIFEST_INLINE_MAX", 2)
    path = str(tmp_path / "t9d")
    P.register_sink(spark)
    os.makedirs(path, exist_ok=True)
    # 6 single-id files, ids 0..5 (v == id), via in-process epoch commits
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(6):
        fn = f"_uncommitted_{uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.table({"id": pa.array([i], pa.int64()), "v": pa.array([i], pa.int32())}),
            os.path.join(path, fn),
        )
        P.ManifestStreamWriter({"path": path}).commit([P.PartFileCommit(fn, 1)], i)
    rawN = _raw_manifest(path, 6)
    assert rawN.get("files_external")
    P.delete_where(spark, path, "v", 5, 5)  # touches exactly one file
    rawD = _raw_manifest(path, 7)
    surviving = [
        c
        for c in rawN["file_chunks"]
        if set(P._load_chunk(path, c)["files"]) <= set(P._latest_snapshot(path)["files"])
    ]
    # every fully-surviving chunk was reused verbatim
    assert set(surviving) <= set(rawD["file_chunks"])
    df, _ = P.read_manifest(spark, path)
    assert df.count() == 5


def test_chunked_manifest_pinned_ref_protects_chunks_from_vacuum(
    spark, tmp_path, monkeypatch
):
    """A tag pins its snapshot through vacuum (Iceberg retain-ref rule);
    on a chunked table that must extend to the snapshot's `_filelist-*`
    chunks, or the pinned version's file list evaporates."""
    monkeypatch.setattr(P, "_MANIFEST_INLINE_MAX", 2)
    path = str(tmp_path / "t9v")
    P.register_sink(spark)
    os.makedirs(path, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i in range(8):
        fn = f"_uncommitted_{uuid.uuid4().hex}.parquet"
        pq.write_table(
            pa.table({"id": pa.array([i], pa.int64()), "v": pa.array([i], pa.int32())}),
            os.path.join(path, fn),
        )
        P.ManifestStreamWriter({"path": path}).commit([P.PartFileCommit(fn, 1)], i)
    P.create_tag(path, "keep4", version=4)
    # churn far past the retention horizon
    P.delete_where(spark, path, "v", 6, 7)
    P.merge_upsert(
        spark, path, spark.range(100, 103).selectExpr("id", "CAST(0 AS INT) AS v"), "id"
    )
    res = P.vacuum(path, keep_versions=1, retention_seconds=0.0)
    assert res["horizon_version"] > 4
    # the pinned snapshot still time-travels with its full file list
    df4, _ = P.read_manifest(spark, path, version=4)
    assert df4.count() == 4 and sorted(r.id for r in df4.collect()) == [0, 1, 2, 3]


# --- 2d. constraint proofs see LOGICAL data under pending MoR deletes ---------


def test_constraint_add_sees_logical_rows_under_pending_mor(spark, tmp_path):
    """Round-9 model-machine find (latent since round 8): the
    footer-stat proof behind add_check_constraint still saw
    MoR-DELETED rows, so a logically-clean table was falsely refused
    whenever the deleted rows fell outside the range.  Delete-scoped
    files now get an exact column-pruned logical micro-scan."""
    path = str(tmp_path / "t9m")
    P.register_sink(spark)
    # v in 0..8 plus NULLs; physically one file.  Logical survivors of
    # the MoR delete below: 5 NULLs (ids 0,4,8,12,16) and v=8 (id 17).
    _write(
        spark,
        path,
        spark.range(18).selectExpr(
            "id", "CAST(CASE WHEN id % 4 = 0 THEN NULL ELSE id % 9 END AS INT) AS v"
        ).coalesce(1),
    )
    P.delete_where_mor(path, "v", 0, 7)
    # pre-fix: "violates constraint" from the physical [0,8] footer range
    P.add_check_constraint(path, "v_hi", "v", lo=8, hi=8)
    # and a constraint the LOGICAL data does violate still refuses
    with pytest.raises(RuntimeError, match="violates constraint"):
        P.add_check_constraint(path, "v_zero", "v", lo=0, hi=0)
    # NOT NULL keeps refusing (NULL rows survive the range delete)
    with pytest.raises(RuntimeError, match="violates constraint"):
        P.add_check_constraint(path, "v_nn", "v", not_null=True)


def test_restore_validates_target_logically_under_pending_mor(spark, tmp_path):
    """Restore to a version that carried pending MoR deletes: the
    CURRENT constraints must be proven against that version's LOGICAL
    rows, not its physical footers (which still contain rows the
    pending deletes remove)."""
    path = str(tmp_path / "t9n")
    P.register_sink(spark)
    _write(
        spark,
        path,
        spark.range(18).selectExpr(
            "id", "CAST(CASE WHEN id % 4 = 0 THEN NULL ELSE id % 9 END AS INT) AS v"
        ).coalesce(1),
    )
    P.delete_where_mor(path, "v", 0, 7)  # v2: logical = 5 NULLs + v=8, pending
    v2 = P._latest_snapshot(path)["version"]
    P.materialize_deletes(spark, path)  # v3: physically clean
    P.add_check_constraint(path, "v_hi", "v", lo=8, hi=8)  # passes on v3
    # pre-fix: refused — v2's physical files still hold v in 0..7
    out = P.restore_table(path, v2)
    df, head = P.read_manifest(spark, path)
    assert out["version"] == head["version"]
    assert df.filter("v IS NOT NULL").select("v").distinct().count() == 1
    assert df.count() == 6  # 5 NULLs + the one v=8 row (id 17)


# --- 3. verb part prefixes are not hex-continuable ----------------------------

UUID_HEX = set("0123456789abcdef")
VERB_PREFIXES = ("del", "mat", "mrg", "batch")


def test_verb_prefixes_cannot_collide_with_append_uuid_names():
    """Appended files are `part-{uuid4hex}...`: a verb prefix is
    ambiguous iff it is a string of hex digits (the round-8 'part-d'
    flake).  Every verb prefix must contain a non-hex character."""
    for p in VERB_PREFIXES:
        assert any(ch not in UUID_HEX for ch in p), p


def test_rewrite_names_use_word_prefixes(spark, tmp_path):
    path = str(tmp_path / "t9p")
    P.register_sink(spark)
    _write(
        spark,
        path,
        spark.range(20).selectExpr("id", "CAST(id AS INT) AS v").repartition(2),
    )
    P.delete_where(spark, path, "v", 0, 4)
    P.merge_upsert(
        spark,
        path,
        spark.range(2).selectExpr("id", "CAST(77 AS INT) AS v"),
        "id",
    )
    P.delete_where_mor(path, "v", 77, 77)
    P.materialize_deletes(spark, path)
    files = P._latest_snapshot(path)["files"]
    pats = [
        re.compile(r"^part-del\d+-[0-9a-f]{8}-\d{5}\.parquet$"),
        re.compile(r"^part-mrg\d+-[0-9a-f]{8}-\d{5}\.parquet$"),
        re.compile(r"^part-mat\d+-[0-9a-f]{8}-\d{3}-\d{5}\.parquet$"),
        re.compile(r"^part-[0-9a-f]{8,}"),  # plain appends
    ]
    for fn in files:
        assert any(p.match(fn) for p in pats), fn
