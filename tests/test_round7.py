"""Round-7 ADVICE regression pins, all on the manifest table format
(sources/pydatasource.py):

  1. (high) delete_where / merge_upsert must APPLY pending merge-on-read
     eq-deletes to the files they rewrite and re-scope the carried
     entries — a raw rewrite resurrected MoR-deleted rows under new file
     names outside every entry's scope.
  2. (medium) the streaming epoch ledger (`batches`) is table metadata:
     every manifest-producing commit carries it forward, so a replayed
     epoch is detected even after interleaved batch/maintenance commits.
  3. (medium) read_manifest_pruned / read_manifest_bloom_pruned /
     read_staged read LOGICALLY (rename log + pending eq-deletes), not
     raw physical files.
  4. (medium) rewritten part files carry a uuid token so file identity
     never depends on the raced version number.
  5. (low) vacuum has a retention grace window: part files younger than
     `retention_seconds` are never deleted (in-flight commit safety);
     retention_seconds=0.0 restores immediate reclaim.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from real_time_big_data_iot_monitoring_pipeline_spark.sources import pydatasource as P


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t7")
    P.register_sink(spark)
    df = spark.range(100).selectExpr(
        "id", "CAST(id % 7 AS INT) AS k", "CAST(id * 3 AS INT) AS v"
    )
    df.filter("id < 50").coalesce(2).write.format("rtbd_manifest_sink").option(
        "path", path
    ).mode("append").save()
    df.filter("id >= 50").coalesce(2).write.format("rtbd_manifest_sink").option(
        "path", path
    ).mode("append").save()
    return path


# --- 1. CoW verbs vs pending MoR deletes ------------------------------------


def test_delete_where_does_not_resurrect_mor_deleted_rows(spark, tmp_path):
    # single-file table so the CoW delete provably rewrites the file
    # holding the MoR-deleted rows (the resurrection scenario)
    path = str(tmp_path / "t7one")
    P.register_sink(spark)
    spark.range(100).selectExpr(
        "id", "CAST(id % 7 AS INT) AS k", "CAST(id * 3 AS INT) AS v"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    # MoR-delete ids 0..19 (v = 0..57): logical table is ids 20..99
    P.delete_where_mor(path, "v", 0, 59)
    assert P.read_manifest(spark, path)[0].count() == 80
    # CoW-delete ids 90..99 (v = 270..297) rewrites the one file.
    # Before the fix the rewrite read RAW rows, resurrecting ids 0..19
    # under a new file name outside the eq-delete entry's scope.
    out = P.delete_where(spark, path, "v", 270, 297)
    df, head = P.read_manifest(spark, path)
    assert df.count() == 70
    assert df.agg({"id": "min"}).first()[0] == 20
    # the entry's only scoped file rewrote -> fully materialized -> dropped
    assert head["eq_deletes"] == []
    assert out["version"] == head["version"]
    # physical bookkeeping: manifest n_rows matches the real rows on disk
    assert head["n_rows"] == 70


def test_delete_where_scopes_surviving_eq_delete_entries(spark, table):
    # MoR delete scoped to ALL 4 files; then CoW-delete only the high-v
    # files (v >= 150 lives in the id>=50 files): the carried entry must
    # drop the rewritten files from its scope but keep the untouched ones
    P.delete_where_mor(table, "v", 0, 30)  # ids 0..10
    P.delete_where(spark, table, "v", 200, 297)  # rewrites the high files
    df, head = P.read_manifest(spark, table)
    # logical: 100 - 11 (mor) - 33 (ids 67..99) = 56
    assert df.count() == 56
    assert df.filter("id <= 10").count() == 0
    ent = head["eq_deletes"]
    assert len(ent) == 1
    # scope shrank: no delete-rewritten file is in the entry's list.
    # Full-pattern match, not a bare prefix: the old `part-d` prefix
    # check also matched ~1/16 of plain appends (`part-{uuid4hex}` names
    # starting with hex digit 'd'), which made this test flaky before
    # the round-9 prefix disambiguation.
    del_pat = re.compile(r"^part-del\d+-[0-9a-f]{8}-\d{5}\.parquet$")
    assert all(not del_pat.match(fn) for fn in ent[0]["files"])
    assert 0 < len(ent[0]["files"]) < 4 + 1


def test_merge_upsert_does_not_resurrect_mor_deleted_rows(spark, table):
    P.delete_where_mor(table, "v", 0, 59)  # ids 0..19 logically gone
    upd = spark.range(95, 105).selectExpr(
        "id", "CAST(id % 7 AS INT) AS k", "CAST(9999 AS INT) AS v"
    )
    out = P.merge_upsert(spark, table, upd, "id")
    assert out["n_updated"] == 5 and out["n_inserted"] == 5
    df, head = P.read_manifest(spark, table)
    assert df.count() == 85  # 80 logical + 5 inserts
    assert df.filter("id < 20").count() == 0  # stayed deleted
    assert df.filter("v = 9999").count() == 10
    # physical == logical once every eq-delete scope is materialized
    remaining_scope = {fn for d in head["eq_deletes"] for fn in d["files"]}
    assert all(fn in set(head["files"]) for fn in remaining_scope)


# --- 2. batches ledger survives interleaved commits --------------------------


def _stream_commit(spark, path, batch_id, ids):
    """Drive the streaming sink's epoch commit directly: task-side part
    write + driver-side commit, the same calls the engine makes —
    including the engine-provided schema, so epoch files carry the SAME
    column types as the fixture's batch appends (id bigint, k/v int)."""
    import pyarrow as pa
    from pyspark.sql import Row

    w = P.ManifestStreamWriter({"path": path})
    schema = pa.schema([("id", pa.int64()), ("k", pa.int32()), ("v", pa.int32())])
    msg = P._write_part(
        path, iter([Row(id=i, k=i % 7, v=i * 3) for i in ids]), schema=schema
    )
    w.commit([msg], batch_id)


def test_epoch_ledger_survives_interleaved_commits(spark, table):
    _stream_commit(spark, table, 0, range(1000, 1005))
    assert P._latest_snapshot(table)["batches"] == [0]
    # interleave NON-stream commits of every flavor that previously
    # dropped the ledger: batch append, CoW delete, merge
    extra = spark.range(2000, 2003).selectExpr(
        "id", "CAST(id % 7 AS INT) AS k", "CAST(id AS INT) AS v"
    )
    extra.coalesce(1).write.format("rtbd_manifest_sink").option("path", table).mode(
        "append"
    ).save()
    P.delete_where(spark, table, "v", 2000, 2002)
    upd = spark.range(3).selectExpr("id", "CAST(0 AS INT) AS k", "CAST(1 AS INT) AS v")
    P.merge_upsert(spark, table, upd, "id")
    assert P._latest_snapshot(table)["batches"] == [0]
    # replay epoch 0: must be detected and dropped, table unchanged
    head_before = P._latest_snapshot(table)
    n_before = P.read_manifest(spark, table)[0].count()
    _stream_commit(spark, table, 0, range(1000, 1005))
    head_after = P._latest_snapshot(table)
    assert head_after["version"] == head_before["version"]
    assert P.read_manifest(spark, table)[0].count() == n_before
    # a genuinely new epoch still lands
    _stream_commit(spark, table, 1, range(5000, 5002))
    assert P._latest_snapshot(table)["batches"] == [0, 1]
    assert P.read_manifest(spark, table)[0].count() == n_before + 2


def test_epoch_ledger_survives_overwrite_and_restore(spark, table):
    _stream_commit(spark, table, 7, range(1000, 1003))
    full, _ = P.read_manifest(spark, table)
    full.coalesce(1).write.format("rtbd_manifest_sink").option("path", table).mode(
        "overwrite"
    ).save()
    assert P._latest_snapshot(table)["batches"] == [7]
    P.restore_table(table, 2)
    assert P._latest_snapshot(table)["batches"] == [7]
    # replay after overwrite+restore: still deduped
    v = P._latest_snapshot(table)["version"]
    _stream_commit(spark, table, 7, range(1000, 1003))
    assert P._latest_snapshot(table)["version"] == v


# --- 3. pruned / staged readers apply renames + MoR deletes ------------------


def test_pruned_reads_apply_renames_and_mor_deletes(spark, table):
    P.delete_where_mor(table, "v", 0, 59)  # ids 0..19 logically gone
    P.rename_column(table, "k", "bucket")
    pruned, n_scanned, n_total = P.read_manifest_pruned(spark, table, "id", 0, 49)
    assert "bucket" in pruned.columns and "k" not in pruned.columns
    assert pruned.count() == 30  # ids 20..49 only
    assert n_scanned < n_total or n_total <= 2
    # bloom-pruned point lookup on a deleted id: zero logical rows even
    # though the physical file still holds it
    P.build_bloom_index(spark, table, "id")
    hit, _, _ = P.read_manifest_bloom_pruned(spark, table, "id", 5)
    assert hit.filter("id = 5").count() == 0
    live, _, _ = P.read_manifest_bloom_pruned(spark, table, "id", 25)
    assert live.filter("id = 25").count() == 1
    assert "bucket" in live.columns


def test_read_staged_applies_carried_metadata(spark, table):
    P.delete_where_mor(table, "v", 0, 59)
    P.rename_column(table, "k", "bucket")
    stage = spark.range(500, 505).selectExpr(
        "id", "CAST(id % 7 AS INT) AS bucket", "CAST(id AS INT) AS v"
    )
    stage.coalesce(1).write.format("rtbd_manifest_sink").option("path", table).option(
        "staged", "true"
    ).mode("append").save()
    df, staged = P.read_staged(spark, table)
    assert "bucket" in df.columns and "k" not in df.columns
    assert df.count() == 85  # 80 logical + 5 staged
    assert df.filter("id < 20").count() == 0
    P.discard_staged(table)


# --- 4. rewritten part-file identity carries a uuid token --------------------


def test_rewrite_filenames_carry_uuid_token(spark, table):
    P.delete_where(spark, table, "v", 0, 29)
    P.merge_upsert(
        spark,
        table,
        spark.range(3).selectExpr("id", "CAST(0 AS INT) AS k", "CAST(50 AS INT) AS v"),
        "id",
    )
    P.delete_where_mor(table, "v", 50, 50)
    P.materialize_deletes(spark, table)
    files = P._latest_snapshot(table)["files"]
    # verb prefixes are full words that can never continue the hex of an
    # appended `part-{uuid4hex}` name, so a prefix test is unambiguous
    pats = {
        "del": re.compile(r"^part-del\d+-[0-9a-f]{8}-\d{5}\.parquet$"),
        "mrg": re.compile(r"^part-mrg\d+-[0-9a-f]{8}-\d{5}\.parquet$"),
        "mat": re.compile(r"^part-mat\d+-[0-9a-f]{8}-\d{3}-\d{5}\.parquet$"),
    }
    seen = set()
    for fn in files:
        for kind, pat in pats.items():
            if fn.startswith(f"part-{kind}"):
                assert pat.match(fn), fn
                seen.add(kind)
    assert "mat" in seen  # materialize ran last; its files must survive


# --- 5. vacuum retention grace ------------------------------------------------


def test_vacuum_retention_grace_protects_young_files(spark, table):
    full, _ = P.read_manifest(spark, table)
    full.coalesce(1).write.format("rtbd_manifest_sink").option("path", table).mode(
        "overwrite"
    ).save()
    # default grace: just-written (and just-orphaned) parts are all young
    out = P.vacuum(table, keep_versions=1)
    assert out["n_files_removed"] == 0
    on_disk = len(glob.glob(os.path.join(table, "part-*")))
    live = len(P._latest_snapshot(table)["files"])
    assert on_disk > live  # the appends' parts are orphaned but protected
    # explicit zero-retention reclaims exactly the orphans
    out = P.vacuum(table, keep_versions=1, retention_seconds=0.0)
    assert out["n_files_removed"] == on_disk - live
    assert len(glob.glob(os.path.join(table, "part-*"))) == live
    assert P.read_manifest(spark, table)[0].count() == 100


# --- 6. resize_images routes PNG payloads through the real codec -------------


def test_resize_images_real_png_path(spark):
    from real_time_big_data_iot_monitoring_pipeline_spark.operators import multimodal as M

    docs = spark.range(3).selectExpr("id AS doc_id")
    with_png = M.synth_png(docs, height=16, width=24)
    out = M.resize_images(with_png, width=8, height=6).collect()
    assert len(out) == 3
    for r in sorted(out, key=lambda x: x["doc_id"]):
        assert r["meta"]["mime"] == "image/png"
        px = M.png_decode(bytes(r["payload"]))
        assert px.shape == (6, 8)
        # nearest-neighbor against the synthetic generator: p(r,c) =
        # (doc_id*7 + src_r*13 + src_c*5) % 256 with src = floor(i*src/out)
        for rr in range(6):
            for cc in range(8):
                src_r, src_c = (rr * 16) // 6, (cc * 24) // 8
                assert px[rr, cc] == (r["doc_id"] * 7 + src_r * 13 + src_c * 5) % 256
    # non-PNG payloads keep the deterministic stub and its byte-count
    # contract
    payload, mime = M._resize_kernel(b"abc", 8, 6)
    assert len(payload) == 48 and mime == "application/octet-stream"


# --- 7. stream epoch commits carry footer stats + explicit op ----------------


def test_stream_epochs_record_footer_stats(spark, tmp_path):
    """Streamed tables get the same zone maps batch commits get: each
    epoch commit records per-file footer stats and an explicit
    op=append, so pruned reads and targeted CoW deletes work on tables
    that only ever saw stream writes."""
    path = str(tmp_path / "tstream")
    _stream_commit(spark, path, 0, range(0, 100))
    _stream_commit(spark, path, 1, range(1000, 1100))
    head = P._latest_snapshot(path)
    assert head["op"] == "append"
    assert len(head["stats"]) == 2  # one entry per epoch's part file
    _df, n_scanned, n_total = P.read_manifest_pruned(spark, path, "id", 0, 99)
    assert (n_scanned, n_total) == (1, 2)


# --- 8. shallow clones apply carried MoR deletes (latent basename bug) --------


def test_shallow_clone_applies_carried_mor_deletes(spark, tmp_path, table):
    """A shallow clone rebases its eq-delete entries' file lists to
    relative paths (../src/part-*); the reader used to match scopes by
    BASENAME, so a clone of a table with pending MoR deletes silently
    resurrected the deleted rows.  `_read_logical` matches on the
    manifest-relative name, so clone reads now honor the carried
    deletes."""
    P.delete_where_mor(table, "v", 0, 59)  # ids 0..19 logically gone
    assert P.read_manifest(spark, table)[0].count() == 80
    dst = str(tmp_path / "clone")
    P.shallow_clone(table, dst)
    clone_df, clone_head = P.read_manifest(spark, dst)
    assert clone_head["eq_deletes"] and all(
        fn.startswith("..") for d in clone_head["eq_deletes"] for fn in d["files"]
    )
    assert clone_df.count() == 80  # was 100 under the basename match
    assert clone_df.filter("id < 20").count() == 0
    # and the clone's own CoW delete still materializes them INTO the clone
    P.delete_where(spark, dst, "v", 270, 297)
    assert P.read_manifest(spark, dst)[0].count() == 70
    # source untouched
    assert P.read_manifest(spark, table)[0].count() == 80


# --- 9. OCC commit protocol under real thread concurrency ---------------------


def test_concurrent_appends_all_land_exactly_once(spark, tmp_path):
    """8 threads commit concurrently at the writer layer (the exact
    task-write + driver-commit calls the engine makes): the OCC claim
    must serialize them into 8 consecutive versions with every row
    present exactly once — losers RECOMPUTE against the new snapshot
    and retry, the lost-update scenario the hard-link claim exists to
    prevent.  Driving the writer directly makes every thread race the
    claim for the same version numbers simultaneously."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Row

    path = str(tmp_path / "tocc")

    def append(i: int) -> None:
        msg = P._write_part(
            path,
            iter(
                Row(id=j, k=j % 7, v=j)
                for j in range(i * 1000, i * 1000 + 100)
            ),
        )
        P.ManifestParquetWriter({"path": path}, overwrite=False).commit([msg])

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(append, range(8)))
    df, head = P.read_manifest(spark, path)
    assert head["version"] == 8
    assert df.count() == 800
    assert df.select("id").distinct().count() == 800
    # every intermediate version is a readable, strictly-growing snapshot
    sizes = [P.read_manifest(spark, path, version=v)[0].count() for v in range(1, 9)]
    assert sizes == sorted(sizes) and sizes[-1] == 800
    assert all(b - a == 100 for a, b in zip(sizes, sizes[1:]))


def test_concurrent_delete_where_one_wins_loser_raises(spark, tmp_path):
    """Two concurrent copy-on-write deletes computing the same next
    version: exactly one claims it; the loser must RAISE (blind retry
    would delete against a stale file list), and the winner's committed
    files must be intact — the uuid part names guarantee the loser's
    rewrite can never have clobbered them."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "tocc2")
    P.register_sink(spark)
    spark.range(1000).selectExpr(
        "id", "CAST(id % 7 AS INT) AS k", "CAST(id AS INT) AS v"
    ).coalesce(2).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()

    def cow_delete(bounds):
        try:
            P.register_sink(spark)  # per-thread active-session lookup
            return ("ok", P.delete_where(spark, path, "v", *bounds))
        except RuntimeError as exc:
            return ("lost", str(exc))

    with ThreadPoolExecutor(max_workers=2) as ex:
        results = list(ex.map(cow_delete, [(0, 99), (900, 999)]))
    outcomes = sorted(r[0] for r in results)
    # at least one wins; a loser (if the race materialized) raised cleanly
    assert outcomes[0] in ("lost", "ok") and outcomes[-1] == "ok"
    df, head = P.read_manifest(spark, path)
    # the table reflects EXACTLY the winning delete(s): no partial state
    n = df.count()
    assert n == 1000 - 100 * outcomes.count("ok")
    # every manifest-listed file exists on disk (no clobbered data)
    for fn in head["files"]:
        assert os.path.exists(os.path.join(path, fn)), fn


# --- 10. overwrite resets read-side metadata; losers clean up ------------------


def test_overwrite_clears_renames_and_eq_deletes(spark, table):
    """An overwrite replaces every data file, so the old files'
    read-side mappings must clear: a stale rename entry would MIS-rename
    a new file that legitimately reintroduces the old column name, and a
    stale eq-delete would filter rows it was never scoped to.
    Pre-overwrite versions keep their own metadata via their manifests."""
    P.delete_where_mor(table, "v", 0, 59)  # v3
    P.rename_column(table, "k", "bucket")  # v4
    pre_v = P._latest_snapshot(table)["version"]
    # new generation REINTRODUCES a column named k
    spark.range(10).selectExpr(
        "id", "CAST(id AS INT) AS k", "CAST(id AS INT) AS v"
    ).coalesce(1).write.format("rtbd_manifest_sink").option("path", table).mode(
        "overwrite"
    ).save()
    df, head = P.read_manifest(spark, table)
    assert head["renames"] == [] and head["eq_deletes"] == []
    assert "k" in df.columns and "bucket" not in df.columns  # NOT mis-renamed
    assert df.count() == 10  # no stale delete filter
    # time travel: the pre-overwrite snapshot still renames + deletes
    old, _m = P.read_manifest(spark, table, version=pre_v)
    assert "bucket" in old.columns and old.count() == 80


def test_cow_loser_removes_its_rewrites(spark, table, monkeypatch):
    """A delete_where that loses the OCC claim must remove its own
    rewritten part files before raising — they are manifest-unlisted
    orphans that would otherwise sit until vacuum.

    The race is injected AT CLAIM TIME: since round 8 delete_where
    plans against the versioned ledger (`_latest_snapshot`), a version
    pre-claimed BEFORE planning is just the snapshot it builds on — the
    loss only happens when a competing commit lands between the
    snapshot read and the claim, which the wrapper below simulates."""
    import json as _json

    real_claim = P._claim_and_publish

    def racing_claim(path, manifest):
        # a concurrent committer claims this exact version first
        fake = {**P._latest_snapshot(path), "version": manifest["version"]}
        with open(os.path.join(path, f"_manifest-v{fake['version']}.json"), "w") as f:
            _json.dump(fake, f)
        return real_claim(path, manifest)

    monkeypatch.setattr(P, "_claim_and_publish", racing_claim)
    before = set(glob.glob(os.path.join(table, "part-*")))
    with pytest.raises(RuntimeError, match="lost the commit race"):
        P.delete_where(spark, table, "v", 0, 297)
    after = set(glob.glob(os.path.join(table, "part-*")))
    assert after == before  # no orphaned part-d files


# --- 11. the rtbd_manifest_table FORMAT reads logically too -------------------


def test_manifest_table_format_reads_logically(spark, table):
    """`spark.read.format("rtbd_manifest_table")` must agree with
    `read_manifest` on a table carrying a rename AND pending MoR
    deletes: per-file rename chains and delete predicates resolve at
    planning time and apply inside each partition's Arrow read."""
    P.delete_where_mor(table, "v", 0, 59)  # ids 0..19 logically gone
    P.rename_column(table, "k", "bucket")
    fmt = (
        spark.read.format("rtbd_manifest_table").option("path", table).load()
    )
    assert "bucket" in fmt.columns and "k" not in fmt.columns
    assert fmt.count() == 80
    assert fmt.filter("id < 20").count() == 0
    ref, _m = P.read_manifest(spark, table)
    assert sorted(fmt.columns) == sorted(ref.columns)
    sym_diff = fmt.select(*sorted(fmt.columns)).exceptAll(
        ref.select(*sorted(ref.columns))
    ).count() + ref.select(*sorted(ref.columns)).exceptAll(
        fmt.select(*sorted(fmt.columns))
    ).count()
    assert sym_diff == 0


# --- 12. code-review pins: multi-hop renames, null-prefix writes, mixed PNGs --


def test_manifest_table_format_multi_hop_rename(spark, table):
    """Chained renames (k -> bucket -> pail) must replay IN ORDER in the
    format reader — a one-shot dict mapping stops at the intermediate
    name and crashes the scan against schema()'s final name."""
    P.rename_column(table, "k", "bucket")
    P.rename_column(table, "bucket", "pail")
    fmt = spark.read.format("rtbd_manifest_table").option("path", table).load()
    assert "pail" in fmt.columns and "bucket" not in fmt.columns
    assert fmt.count() == 100
    ref, _m = P.read_manifest(spark, table)
    assert sorted(fmt.columns) == sorted(ref.columns)


def test_write_part_null_prefix_column(spark, tmp_path):
    """A task partition whose first 64k+ rows are all-None in some
    column must still write: the chunked writer falls back to buffered
    arrow tables with permissive schema promotion instead of pinning a
    null-typed schema that crashes on the first real value."""
    from pyspark.sql import Row

    path = str(tmp_path / "tnull")
    n = 70_000  # > one 65536-row chunk of nulls, then real values
    msg = P._write_part(
        path,
        iter(
            Row(id=i, v=None if i < 66_000 else i * 2) for i in range(n)
        ),
    )
    assert msg.n_rows == n
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(path, msg.filename))
    assert tbl.num_rows == n
    assert str(tbl.schema.field("v").type) == "int64"
    assert tbl.column("v").null_count == 66_000
    # whole-partition-null column gets a concrete type, not arrow null
    msg2 = P._write_part(path, iter(Row(id=i, w=None) for i in range(10)))
    tbl2 = pq.read_table(os.path.join(path, msg2.filename))
    assert str(tbl2.schema.field("w").type) == "string"
    # the REAL sink path passes the engine schema: an all-null task
    # partition stamps the TRUE column type, never a string guess that
    # would disagree with sibling part files
    import pyarrow as pa

    true_schema = pa.schema([("id", pa.int64()), ("w", pa.int64())])
    msg3 = P._write_part(
        path, iter(Row(id=i, w=None) for i in range(10)), schema=true_schema
    )
    tbl3 = pq.read_table(os.path.join(path, msg3.filename))
    assert str(tbl3.schema.field("w").type) == "int64"
    assert tbl3.column("w").null_count == 10
    # zero-row task leaves NO file behind even with a schema
    msg4 = P._write_part(path, iter([]), schema=true_schema)
    assert msg4.filename == "" and msg4.n_rows == 0


def test_resize_images_mixed_corpus_does_not_crash(spark):
    """A mixed corpus — valid grayscale PNG, corrupt PNG-signature
    payload, JPEG bytes — must flow through resize_images: only the
    decodable PNG takes the real codec path, the rest fall back to the
    deterministic stub instead of failing the job."""
    from real_time_big_data_iot_monitoring_pipeline_spark.operators import multimodal as M

    good = M.png_encode(M._synth_pixels(1, 16, 16))
    corrupt = M._PNG_SIG + b"\x00\x01\x02garbage"
    jpeg = b"\xff\xd8\xff\xe0" + b"x" * 50
    import pandas as pd

    rows = [(1, good), (2, corrupt), (3, jpeg), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in M.resize_images(df, width=8, height=4).collect()}
    assert out[1]["meta"]["mime"] == "image/png"
    assert M.png_decode(bytes(out[1]["payload"])).shape == (4, 8)
    # NULL payload: empty-payload stub branch, not a task crash
    assert out[4]["meta"]["mime"] == "application/octet-stream"
    assert bytes(out[4]["payload"]) == b"\x00" * 32
    for bad in (2, 3):
        assert out[bad]["meta"]["mime"] == "application/octet-stream"
        assert len(out[bad]["payload"]) == 32  # stub: exactly w*h bytes
