"""The manifest table format (sources/pydatasource.py): overwrite,
vacuum, restore, schema-DDL and change-feed contracts, pinned on small
hand-built tables.

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
import time

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
