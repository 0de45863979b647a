"""CRASH-INJECTION MACHINE (round-9 verdict "Next round" item 4).

The sequential/race/thread machines cover verb ALGEBRA and
INTERLEAVINGS; the remaining bug class is TORN STATE: a writer killed
mid-commit.  This machine enumerates every driver-side write-path
operation of each verb — part-file renames, `_filelist-*` chunk writes,
the claim tmp JSON, the `os.link` claim itself, the claim-tmp removal,
the head-pointer tmp write and its `os.replace` — and kills the verb at
each one in turn.  JSON writes are killed TORN (half the payload
flushed, then the crash), so truncated chunks and half-written claim
tmps are materialized exactly as power loss would leave them.

After every injected crash, the full reader surface is asserted:

  * ATOMICITY  — the head read sees EXACTLY the pre-crash or the
    post-crash snapshot (columns and row multiset), never a blend;
  * DURABILITY — time-travel to the pre-crash version still returns
    the pre-crash rows bit-for-bit;
  * FEED       — the change feed over the full range still walks
    (the ledger heals a claim-present/pointer-absent crash);
  * LIVENESS   — retrying the verb succeeds and lands on the verb's
    own retry contract (append re-appends its delta; overwrite /
    delete / restore / zorder converge on the post state; a replayed
    STREAM EPOCH lands exactly once via the batch ledger);
  * RECLAMATION — `vacuum(retention_seconds=0)` removes every stray
    (`.claim-*`, `*.tmp`, orphan parts) without touching live state.

Run `pydatasource.py`'s healing path (`_ledger_head_version`: claim
durable, pointer stale) under every crash that lands between the link
and the pointer replace — previously exercised by a single pin.

The driver-side kill-point sweeps are marked `slow` (the full-suite leg,
see pytest.ini).  The sections after them run by default: executor-side
task kills, multi-table clone/vacuum sweeps, streaming reader cursor
faults, multi-part commit kills and concurrent streaming sinks on one
table.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from real_time_big_data_iot_monitoring_pipeline_spark.sources import pydatasource as P


class InjectedCrash(RuntimeError):
    pass


class _Injector:
    def __init__(self, table: str, nth: int):
        self.table = os.path.abspath(table)
        self.nth = nth
        self.count = 0
        self.fired: str | None = None

    def _qual(self, args) -> bool:
        return any(
            isinstance(a, str) and os.path.abspath(a).startswith(self.table)
            for a in args
        )

    def bump(self, desc: str) -> bool:
        self.count += 1
        if self.count == self.nth:
            self.fired = desc
            return True
        return False


@contextlib.contextmanager
def crash_at(table: str, nth: int):
    """Kill the nth driver-side write-path op under `table`: os.link /
    os.replace / os.remove raise; a JSON dump writes HALF its payload
    first (a torn file, as power loss leaves it)."""
    inj = _Injector(table, nth)
    real = {"link": os.link, "replace": os.replace, "remove": os.remove}

    def mk(name):
        r = real[name]

        def wrapper(*a, **k):
            if inj._qual(a) and inj.bump(f"{name}:{os.path.basename(str(a[-1]))}"):
                raise InjectedCrash(inj.fired)
            return r(*a, **k)

        return wrapper

    real_dump = P._json.dump

    def torn_dump(obj, fp, **k):
        name = getattr(fp, "name", "")
        if isinstance(name, str) and inj._qual((name,)) and inj.bump(
            f"torn-dump:{os.path.basename(name)}"
        ):
            payload = json.dumps(obj)
            fp.write(payload[: max(1, len(payload) // 2)])
            fp.flush()
            raise InjectedCrash(inj.fired)
        return real_dump(obj, fp, **k)

    os.link, os.replace, os.remove = mk("link"), mk("replace"), mk("remove")
    P._json.dump = torn_dump
    try:
        yield inj
    finally:
        os.link, os.replace, os.remove = real["link"], real["replace"], real["remove"]
        P._json.dump = real_dump


# --- state helpers -----------------------------------------------------------


def _state(spark, path, version=None):
    df, m = P.read_manifest(spark, path, version=version)
    cols = sorted(df.columns)
    rows = sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)
    return cols, rows, m


def _append_batch(path, rows):
    w = P.ManifestParquetWriter({"path": path}, overwrite=False)
    w.commit([w.write(iter(rows))])


def _setup_two_commits(spark, path):
    _append_batch(path, [Row(id=i, v=i * 10) for i in range(3)])
    _append_batch(path, [Row(id=i, v=i * 10) for i in range(3, 6)])


# --- the sweep ----------------------------------------------------------------


def _sweep(spark, tmp_path, name, setup, verb, retry_check, max_points=60, check_cdf=True):
    """Run `verb` once per injection point k=1.. until the verb completes
    with no injection left to fire (k exceeded its op count).  Returns
    the number of crash points exercised."""
    # reference run: the verb's uninjected post state
    ref = str(tmp_path / f"{name}-ref")
    setup(spark, ref)
    pre_cols, pre_rows, pre_m = _state(spark, ref)
    verb(spark, ref)
    post_cols, post_rows, _ = _state(spark, ref)

    exercised = 0
    for k in range(1, max_points + 1):
        path = str(tmp_path / f"{name}-{k}")
        setup(spark, path)
        with crash_at(path, k) as inj:
            try:
                verb(spark, path)
                completed = True
            except InjectedCrash:
                completed = False
        if inj.fired is None:
            assert completed
            break
        exercised += 1
        # ATOMICITY: the head is exactly pre or post, never a blend
        cols, rows, head_m = _state(spark, path)
        assert (cols, rows) in ((pre_cols, pre_rows), (post_cols, post_rows)), (
            f"{name}: torn head state after crash at {inj.fired!r}: "
            f"cols={cols} rows={rows[:4]}…"
        )
        crashed_committed = (cols, rows) == (post_cols, post_rows)
        # DURABILITY: the pre-crash version still time-travels exactly
        tcols, trows, _ = _state(spark, path, version=pre_m["version"])
        assert (tcols, trows) == (pre_cols, pre_rows), (
            f"{name}: pre-crash snapshot v{pre_m['version']} damaged by "
            f"crash at {inj.fired!r}"
        )
        # FEED: the full-range walk still works (ledger heals stale
        # heads).  Skipped for verbs that legally EXPIRE old snapshots
        # (vacuum) — there the loud expired-snapshot refusal is correct.
        if check_cdf:
            df, _commits = P.read_change_feed(spark, path, since_version=0)
            assert "_commit_version" in df.columns
            df.count()
        # LIVENESS + verb retry contract
        retry_check(spark, path, crashed_committed, (pre_cols, pre_rows), (post_cols, post_rows))
        # RECLAMATION: vacuum with zero retention clears every stray
        P.vacuum(path, keep_versions=50, retention_seconds=0)
        strays = (
            glob.glob(os.path.join(path, "*.claim-*"))
            + glob.glob(os.path.join(path, "*.claim"))
            + glob.glob(os.path.join(path, "*.mv-*"))
            + glob.glob(os.path.join(path, "*.tmp"))
            + glob.glob(os.path.join(path, "_uncommitted_*"))
        )
        assert not strays, f"{name}: strays survive vacuum after {inj.fired!r}: {strays}"
        # the table still reads after reclamation
        _state(spark, path)
    else:
        pytest.fail(f"{name}: more than {max_points} injection points — raise the cap")
    # every verb has at least tmp-write + atomic-move in its path
    assert exercised >= 2, f"{name}: sweep exercised only {exercised} crash points"
    return exercised


# --- verb cases ----------------------------------------------------------------


def _retry_converges_on_post(runner):
    """Retry must succeed and land the table on the verb's post state."""

    def check(spark, path, crashed_committed, pre, post):
        runner(spark, path)
        cols, rows, _ = _state(spark, path)
        assert (cols, rows) == post

    return check


@pytest.mark.slow
def test_crash_sweep_append(spark, tmp_path):
    delta = [Row(id=i, v=i * 10) for i in range(6, 9)]

    def verb(spark_, path):
        _append_batch(path, delta)

    def retry(spark_, path, crashed_committed, pre, post):
        # whatever snapshot the crash left, a retry appends the delta
        # ON TOP of it exactly once
        _, rows_at_crash, _ = _state(spark_, path)
        _append_batch(path, delta)
        cols, rows, _ = _state(spark_, path)
        expect = sorted(rows_at_crash + [(r.id, r.v) for r in delta], key=repr)
        assert rows == expect

    _sweep(spark, tmp_path, "append", _setup_two_commits, verb, retry)


@pytest.mark.slow
def test_crash_sweep_append_chunked(spark, tmp_path, monkeypatch):
    """The same append sweep with the file list externalized into
    `_filelist-*` chunks — the torn-dump points now include truncated
    CHUNK files (the round-9 verdict's named case)."""
    monkeypatch.setattr(P, "_MANIFEST_INLINE_MAX", 2)
    P._CHUNK_CACHE.clear()
    P._RESOLVED_CACHE.clear()

    def setup(spark_, path):
        for lo in (0, 3, 6):
            _append_batch(path, [Row(id=i, v=i * 10) for i in range(lo, lo + 3)])

    delta = [Row(id=i, v=i * 10) for i in range(9, 12)]

    def verb(spark_, path):
        _append_batch(path, delta)

    def retry(spark_, path, crashed_committed, pre, post):
        _, rows_at_crash, _ = _state(spark_, path)
        _append_batch(path, delta)
        _, rows, _ = _state(spark_, path)
        assert rows == sorted(rows_at_crash + [(r.id, r.v) for r in delta], key=repr)

    _sweep(spark, tmp_path, "append-chunked", setup, verb, retry)


@pytest.mark.slow
def test_crash_sweep_overwrite(spark, tmp_path):
    def verb(spark_, path):
        w = P.ManifestParquetWriter({"path": path}, overwrite=True)
        w.commit([w.write(iter([Row(id=100, v=1000)]))])

    _sweep(
        spark,
        tmp_path,
        "overwrite",
        _setup_two_commits,
        verb,
        _retry_converges_on_post(lambda s, p: verb(s, p)),
    )


@pytest.mark.slow
def test_crash_sweep_rename(spark, tmp_path):
    def verb(spark_, path):
        P.rename_column(path, "v", "w")

    def retry(spark_, path, crashed_committed, pre, post):
        if crashed_committed:
            # the rename landed before the crash; retrying it must refuse
            # (old name gone) and leave the table on the post state
            with pytest.raises(Exception):
                P.rename_column(path, "v", "w")
        else:
            P.rename_column(path, "v", "w")
        cols, rows, _ = _state(spark_, path)
        assert (cols, rows) == post

    _sweep(spark, tmp_path, "rename", _setup_two_commits, verb, retry)


@pytest.mark.slow
def test_crash_sweep_mor_delete(spark, tmp_path):
    def verb(spark_, path):
        P.delete_where_mor(path, "v", 10, 30)

    _sweep(
        spark,
        tmp_path,
        "mor-delete",
        _setup_two_commits,
        verb,
        _retry_converges_on_post(lambda s, p: P.delete_where_mor(p, "v", 10, 30)),
    )


@pytest.mark.slow
def test_crash_sweep_cow_delete(spark, tmp_path):
    def verb(spark_, path):
        P.delete_where(spark_, path, "v", 10, 30)

    _sweep(
        spark,
        tmp_path,
        "cow-delete",
        _setup_two_commits,
        verb,
        _retry_converges_on_post(lambda s, p: P.delete_where(s, p, "v", 10, 30)),
    )


@pytest.mark.slow
def test_crash_sweep_restore(spark, tmp_path):
    def verb(spark_, path):
        P.restore_table(path, 1)

    _sweep(
        spark,
        tmp_path,
        "restore",
        _setup_two_commits,
        verb,
        _retry_converges_on_post(lambda s, p: P.restore_table(p, 1)),
    )


@pytest.mark.slow
def test_crash_sweep_zorder(spark, tmp_path):
    def verb(spark_, path):
        try:
            P.optimize_zorder(spark_, path, ("id", "v"), bits=4, n_files=2)
        except InjectedCrash:
            raise
        except RuntimeError as exc:
            # "lost the commit race" must not surface here: nothing races
            raise AssertionError(f"zorder refused with no concurrent commit: {exc}")

    def retry(spark_, path, crashed_committed, pre, post):
        # zorder is a pure layout rewrite: whatever side of the crash the
        # table landed on, a retry leaves CONTENT identical to post
        verb(spark_, path)
        cols, rows, _ = _state(spark_, path)
        assert (cols, rows) == post

    _sweep(spark, tmp_path, "zorder", _setup_two_commits, verb, retry)


@pytest.mark.slow
def test_crash_sweep_stream_epoch_exactly_once(spark, tmp_path):
    """The money case: an epoch commit crashes anywhere in its write
    path, the engine replays the epoch with FRESH task parts (as a real
    restart does), and the batch ledger guarantees the epoch's rows land
    EXACTLY once — never zero, never twice."""
    delta = [Row(id=i, v=i * 10) for i in range(6, 9)]

    def verb(spark_, path):
        w = P.ManifestStreamWriter({"path": path})
        w.commit([w.write(iter(delta))], batchId=7)

    def retry(spark_, path, crashed_committed, pre, post):
        w = P.ManifestStreamWriter({"path": path})  # fresh parts = real replay
        w.commit([w.write(iter(delta))], batchId=7)
        cols, rows, _ = _state(spark_, path)
        assert (cols, rows) == post, (
            "replayed epoch after crash must land exactly once: "
            f"{len(rows)} rows vs expected {len(post[1])}"
        )

    _sweep(spark, tmp_path, "stream-epoch", _setup_two_commits, verb, retry)


@pytest.mark.slow
def test_crash_sweep_merge_upsert(spark, tmp_path):
    def _updates(spark_):
        return spark_.createDataFrame([Row(id=2, v=222), Row(id=10, v=100)])

    def verb(spark_, path):
        P.merge_upsert(spark_, path, _updates(spark_), "id")

    _sweep(
        spark,
        tmp_path,
        "merge",
        _setup_two_commits,
        verb,
        _retry_converges_on_post(lambda s, p: P.merge_upsert(s, p, _updates(s), "id")),
    )


@pytest.mark.slow
def test_crash_sweep_materialize_deletes(spark, tmp_path):
    def setup(spark_, path):
        _setup_two_commits(spark_, path)
        P.delete_where_mor(path, "v", 10, 30)

    def verb(spark_, path):
        P.materialize_deletes(spark_, path)

    _sweep(
        spark,
        tmp_path,
        "materialize",
        setup,
        verb,
        _retry_converges_on_post(lambda s, p: P.materialize_deletes(s, p)),
    )


@pytest.mark.slow
def test_crash_sweep_publish_staged(spark, tmp_path):
    """WAP publish crashed anywhere: the table lands on exactly the
    audited snapshot or stays on the base — and a retry (or the version
    conflict it correctly raises once the claim is durable) converges."""

    def setup(spark_, path):
        _setup_two_commits(spark_, path)
        w = P.ManifestParquetWriter({"path": path, "staged": "true"}, overwrite=False)
        w.commit([w.write(iter([Row(id=50, v=500)]))])

    def verb(spark_, path):
        P.publish_staged(path)

    def retry(spark_, path, crashed_committed, pre, post):
        try:
            P.publish_staged(path)
        except (RuntimeError, FileNotFoundError):
            pass  # claim already durable (conflict) or pointer consumed
        cols, rows, _ = _state(spark_, path)
        assert (cols, rows) == post

    _sweep(spark, tmp_path, "wap-publish", setup, verb, retry)


@pytest.mark.slow
def test_crash_sweep_create_tag(spark, tmp_path):
    def verb(spark_, path):
        P.create_tag(path, "t1", 1)

    def retry(spark_, path, crashed_committed, pre, post):
        try:
            P.create_tag(path, "t1", 1)
        except RuntimeError as exc:
            assert "already exists" in str(exc)
        assert P.resolve_ref(path, "t1") == 1
        cols, rows, _ = _state(spark_, path)
        assert (cols, rows) == pre  # refs never move data

    _sweep(spark, tmp_path, "tag", _setup_two_commits, verb, retry)


@pytest.mark.slow
def test_crash_sweep_advance_branch(spark, tmp_path):
    def setup(spark_, path):
        _setup_two_commits(spark_, path)
        P.create_branch(path, "b1", 1)

    def verb(spark_, path):
        P.advance_branch(path, "b1", 2)

    def retry(spark_, path, crashed_committed, pre, post):
        P.advance_branch(path, "b1", 2)  # branch moves are idempotent
        assert P.resolve_ref(path, "b1") == 2
        cols, rows, _ = _state(spark_, path)
        assert (cols, rows) == pre

    _sweep(spark, tmp_path, "branch", setup, verb, retry)


@pytest.mark.slow
def test_crash_sweep_vacuum_itself(spark, tmp_path):
    """A crash DURING vacuum must never damage live state: the head
    still reads, the retry finishes the reclamation."""

    def setup(spark_, path):
        _setup_two_commits(spark_, path)
        # create reclaimables: a CoW delete expires the originals...
        P.delete_where(spark_, path, "v", 10, 30)
        # ...plus crashed-writer residue of every stripe
        for stray in ("_uncommitted_dead.parquet", "_manifest-v9.json.claim-dead",
                      "_filelist-dead.json.tmp", "_ref-dead.json.claim"):
            with open(os.path.join(path, stray), "w") as f:
                f.write("{")

    def verb(spark_, path):
        P.vacuum(path, keep_versions=1, retention_seconds=0)

    def retry(spark_, path, crashed_committed, pre, post):
        P.vacuum(path, keep_versions=50, retention_seconds=0)
        cols, rows, _ = _state(spark_, path)
        assert (cols, rows) == pre == post  # vacuum never moves data

    _sweep(spark, tmp_path, "vacuum", setup, verb, retry, check_cdf=False)


# --- external corruption of the head-pointer CACHE ---------------------------


@pytest.mark.slow
def test_truncated_head_cache_heals(spark, tmp_path):
    """manifest.json is a convenience cache, written with os.replace —
    the protocol can't tear it, but disk corruption can.  A truncated
    cache must not break reads (full-scan fallback) and the next commit
    must heal it."""
    path = str(tmp_path / "headcache")
    _setup_two_commits(spark, path)
    _, rows_before, m = _state(spark, path)
    cache = os.path.join(path, "manifest.json")
    with open(cache) as f:
        content = f.read()
    with open(cache, "w") as f:
        f.write(content[: len(content) // 2])
    cols, rows, m2 = _state(spark, path)
    assert rows == rows_before and m2["version"] == m["version"]
    _append_batch(path, [Row(id=99, v=990)])
    with open(cache) as f:
        healed = json.load(f)  # parses again
    assert healed["version"] == m["version"] + 1


# --- chunked-manifest variants of the rewrite verbs ---------------------------


@pytest.mark.slow
def test_crash_sweep_cow_delete_chunked(spark, tmp_path, monkeypatch):
    """CoW delete with the file list externalized: chunk REUSE decisions
    and new-chunk writes are in the crash path."""
    monkeypatch.setattr(P, "_MANIFEST_INLINE_MAX", 2)
    P._CHUNK_CACHE.clear()
    P._RESOLVED_CACHE.clear()

    def setup(spark_, path):
        for lo in (0, 3, 6):
            _append_batch(path, [Row(id=i, v=i * 10) for i in range(lo, lo + 3)])

    def verb(spark_, path):
        P.delete_where(spark_, path, "v", 10, 30)

    _sweep(
        spark,
        tmp_path,
        "cow-delete-chunked",
        setup,
        verb,
        _retry_converges_on_post(lambda s, p: P.delete_where(s, p, "v", 10, 30)),
    )


@pytest.mark.slow
def test_crash_sweep_restore_chunked(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(P, "_MANIFEST_INLINE_MAX", 2)
    P._CHUNK_CACHE.clear()
    P._RESOLVED_CACHE.clear()

    def setup(spark_, path):
        for lo in (0, 3, 6):
            _append_batch(path, [Row(id=i, v=i * 10) for i in range(lo, lo + 3)])

    def verb(spark_, path):
        P.restore_table(path, 1)

    _sweep(
        spark,
        tmp_path,
        "restore-chunked",
        setup,
        verb,
        _retry_converges_on_post(lambda s, p: P.restore_table(p, 1)),
    )


# --- a CONCURRENT COMMITTER (not just a reader) heals crash residue ----------


@pytest.mark.slow
def test_claim_durable_pointer_stale_healed_by_next_committer(spark, tmp_path):
    """Crash EXACTLY between the os.link claim and the head-pointer
    update, then let a second writer commit: it must discover the
    durable claim via the ledger probe, build ON TOP of it (never
    clobber its version), and heal the head cache."""
    path = str(tmp_path / "heal")
    _setup_two_commits(spark, path)
    # find the crash point right AFTER the link: its desc is the
    # removal of the claim tmp
    fired = None
    for k in range(1, 20):
        p2 = str(tmp_path / f"heal-{k}")
        _setup_two_commits(spark, p2)
        with crash_at(p2, k) as inj:
            try:
                _append_batch(p2, [Row(id=9, v=90)])
            except InjectedCrash:
                pass
        if inj.fired and inj.fired.startswith("remove:") and ".claim-" in inj.fired:
            fired, path = inj.fired, p2
            break
    assert fired, "never reached the post-link claim-tmp removal op"
    # the claim for v3 is durable; manifest.json still says v2
    with open(os.path.join(path, "manifest.json")) as f:
        assert json.load(f)["version"] == 2
    assert os.path.exists(os.path.join(path, "_manifest-v3.json"))
    # concurrent committer: must land at v4, not clobber v3
    _append_batch(path, [Row(id=10, v=100)])
    with open(os.path.join(path, "manifest.json")) as f:
        healed = json.load(f)
    assert healed["version"] == 4, f"head cache not healed: {healed['version']}"
    cols, rows, m = _state(spark, path)
    assert m["version"] == 4
    assert len(rows) == 8  # 6 setup + crashed-but-durable 1 + concurrent 1
    assert (9, 90) in rows and (10, 100) in rows


# --- DOUBLE crash: the retry itself crashes over the first crash's residue ---


def _double_sweep(spark, tmp_path, name, setup, verb, final_expected, max_points=14):
    """Crash the verb at point i, then crash the RETRY at point j, then
    let a final retry run clean — recovery must work over recovery
    residue, and the final state must be a legal composition."""
    pairs = 0
    for i in range(1, max_points + 1):
        first_fired = None
        for j in range(1, max_points + 1):
            path = str(tmp_path / f"{name}-{i}-{j}")
            setup(spark, path)
            pre_cols, pre_rows, _ = _state(spark, path)
            with crash_at(path, i) as inj1:
                try:
                    verb(spark, path)
                except InjectedCrash:
                    pass
            if inj1.fired is None:
                return pairs  # i exceeded the verb's op count
            first_fired = inj1.fired
            with crash_at(path, j) as inj2:
                try:
                    verb(spark, path)
                except InjectedCrash:
                    pass
            # clean final retry
            verb(spark, path)
            cols, rows, _ = _state(spark, path)
            ok = final_expected(pre_rows, rows, inj1, inj2)
            assert ok, (
                f"{name}: illegal state after crashes at {first_fired!r} then "
                f"{inj2.fired!r}: {len(rows)} rows"
            )
            pairs += 1
            if inj2.fired is None:
                break  # j exceeded the retry's op count
    return pairs


@pytest.mark.slow
def test_double_crash_stream_epoch_still_exactly_once(spark, tmp_path):
    """Two crashes and three replays of the SAME epoch: the ledger must
    still land its rows exactly once."""
    delta = [Row(id=i, v=i * 10) for i in range(6, 9)]

    def verb(spark_, path):
        w = P.ManifestStreamWriter({"path": path})
        w.commit([w.write(iter(delta))], batchId=7)

    def final_expected(pre_rows, rows, inj1, inj2):
        return rows == sorted(pre_rows + [(r.id, r.v) for r in delta], key=repr)

    pairs = _double_sweep(
        spark, tmp_path, "dbl-epoch", _setup_two_commits, verb, final_expected
    )
    assert pairs >= 10, f"only {pairs} crash pairs exercised"


@pytest.mark.slow
def test_double_crash_append_deltas_count(spark, tmp_path):
    """Batch appends make no idempotence claim — but every DURABLE claim
    must count exactly once: after two crashed attempts and one clean
    one, the row multiset is pre + k*delta where k = number of attempts
    that got their claim durable (1..3), never a partial delta."""
    delta = [(i, i * 10) for i in range(6, 9)]

    def verb(spark_, path):
        _append_batch(path, [Row(id=i, v=v) for i, v in delta])

    def final_expected(pre_rows, rows, inj1, inj2):
        extra = len(rows) - len(pre_rows)
        if extra % len(delta) != 0:
            return False  # a torn partial delta
        k = extra // len(delta)
        return 1 <= k <= 3 and rows == sorted(pre_rows + delta * k, key=repr)

    pairs = _double_sweep(
        spark, tmp_path, "dbl-append", _setup_two_commits, verb, final_expected
    )
    assert pairs >= 10, f"only {pairs} crash pairs exercised"


# --- crash UNDER true concurrent committers -----------------------------------


@contextlib.contextmanager
def crash_thread_at(table: str, nth: int, thread_name: str = "crasher"):
    """Like crash_at, but only ops issued by the named thread count —
    concurrent committers run the REAL path untouched."""
    import threading

    inj = _Injector(table, nth)
    real = {"link": os.link, "replace": os.replace, "remove": os.remove}

    def mk(name):
        r = real[name]

        def wrapper(*a, **k):
            if (
                threading.current_thread().name == thread_name
                and inj._qual(a)
                and inj.bump(f"{name}:{os.path.basename(str(a[-1]))}")
            ):
                raise InjectedCrash(inj.fired)
            return r(*a, **k)

        return wrapper

    real_dump = P._json.dump

    def torn_dump(obj, fp, **k):
        name = getattr(fp, "name", "")
        if (
            threading.current_thread().name == thread_name
            and isinstance(name, str)
            and inj._qual((name,))
            and inj.bump(f"torn-dump:{os.path.basename(name)}")
        ):
            payload = json.dumps(obj)
            fp.write(payload[: max(1, len(payload) // 2)])
            fp.flush()
            raise InjectedCrash(inj.fired)
        return real_dump(obj, fp, **k)

    os.link, os.replace, os.remove = mk("link"), mk("replace"), mk("remove")
    P._json.dump = torn_dump
    try:
        yield inj
    finally:
        os.link, os.replace, os.remove = real["link"], real["replace"], real["remove"]
        P._json.dump = real_dump


@pytest.mark.slow
def test_crash_under_concurrent_appenders(spark, tmp_path):
    """One writer crashes at EVERY point of its commit path while two
    uncoordinated writers append concurrently: the survivors' rows land
    exactly once, the crasher's delta lands 0 or 1 times (then exactly
    once more on retry), and the ledger/head heal around the residue."""
    import threading

    delta_a = [(100 + i, 1) for i in range(3)]
    delta_b = [(200 + i, 2) for i in range(3)]
    delta_c = [(300 + i, 3) for i in range(3)]

    for k in range(1, 12):
        path = str(tmp_path / f"cc-{k}")
        _setup_two_commits(spark, path)
        errs: list[BaseException] = []

        def crasher(p=path):
            try:
                _append_batch(p, [Row(id=i, v=v) for i, v in delta_a])
            except InjectedCrash:
                pass
            except BaseException as e:  # noqa: BLE001
                errs.append(e)

        def committer(delta, p=path):
            try:
                _append_batch(p, [Row(id=i, v=v) for i, v in delta])
            except BaseException as e:  # noqa: BLE001
                errs.append(e)

        with crash_thread_at(path, k) as inj:
            ts = [
                threading.Thread(target=crasher, name="crasher"),
                threading.Thread(target=committer, args=(delta_b,), name="b"),
                threading.Thread(target=committer, args=(delta_c,), name="c"),
            ]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
        assert not errs, f"k={k}: survivor committer failed: {errs}"
        if inj.fired is None:
            break  # k exceeded the crasher's op count — sweep done
        cols, rows, m = _state(spark, path)
        ids = [r[0] for r in rows]
        assert len(ids) == len(set(ids)), f"k={k}: duplicated rows: {sorted(rows)}"
        for i, v in delta_b + delta_c:
            assert (i, v) in rows, f"k={k}: survivor row ({i},{v}) LOST after {inj.fired!r}"
        n_a = sum(1 for r in rows if r in delta_a)
        assert n_a in (0, len(delta_a)), f"k={k}: torn crasher delta ({n_a} rows)"
        # retry: the crasher's delta must land exactly once more
        _append_batch(path, [Row(id=i + 1000, v=v) for i, v in delta_a])
        cols2, rows2, m2 = _state(spark, path)
        assert len(rows2) == len(rows) + len(delta_a)
        assert m2["version"] > m["version"]
        # the head cache healed past every racer
        with open(os.path.join(path, "manifest.json")) as f:
            assert json.load(f)["version"] == m2["version"]
    else:
        pytest.fail("crasher had more than 11 injection points")


@pytest.mark.slow
def test_crash_under_concurrent_epochs_exactly_once(spark, tmp_path):
    """A stream epoch commit crashes at every point while a DIFFERENT
    epoch and a batch append race it: every epoch lands exactly once
    (the crashed one after its replay), the batch rows exactly once."""
    import threading

    delta7 = [(700 + i, 7) for i in range(3)]
    delta8 = [(800 + i, 8) for i in range(3)]
    batch = [(900 + i, 9) for i in range(3)]

    def epoch(p, rows, bid):
        w = P.ManifestStreamWriter({"path": p})
        w.commit([w.write(iter([Row(id=i, v=v) for i, v in rows]))], batchId=bid)

    for k in range(1, 14):
        path = str(tmp_path / f"ce-{k}")
        _setup_two_commits(spark, path)
        errs: list[BaseException] = []

        def crasher(p=path):
            try:
                epoch(p, delta7, 7)
            except InjectedCrash:
                pass
            except BaseException as e:  # noqa: BLE001
                errs.append(e)

        def other(p=path):
            try:
                epoch(p, delta8, 8)
            except BaseException as e:  # noqa: BLE001
                errs.append(e)

        def appender(p=path):
            try:
                _append_batch(p, [Row(id=i, v=v) for i, v in batch])
            except BaseException as e:  # noqa: BLE001
                errs.append(e)

        with crash_thread_at(path, k) as inj:
            ts = [
                threading.Thread(target=crasher, name="crasher"),
                threading.Thread(target=other, name="e8"),
                threading.Thread(target=appender, name="b"),
            ]
            for t in ts:
                t.start()
            for t in ts:
                t.join()
        assert not errs, f"k={k}: survivor failed: {errs}"
        if inj.fired is None:
            break
        # replay the crashed epoch with fresh parts (a real restart)
        epoch(path, delta7, 7)
        cols, rows, m = _state(spark, path)
        for i, v in delta7 + delta8 + batch:
            assert (i, v) in rows, f"k={k}: row ({i},{v}) missing after {inj.fired!r}"
        assert len(rows) == 6 + 9, (
            f"k={k}: exactly-once broken after {inj.fired!r}: {len(rows)} rows"
        )
        assert 7 in m.get("batches", []) and 8 in m.get("batches", [])
    else:
        pytest.fail("epoch crasher had more than 13 injection points")


# --- byte-level truncation fuzz of the head-pointer cache ---------------------


@pytest.mark.slow
def test_head_cache_truncated_at_every_byte(spark, tmp_path):
    """manifest.json truncated at EVERY byte offset: metadata reads must
    heal via the ledger probe at each one (the cache is a hint, never
    the truth), and the next commit repairs the cache."""
    path = str(tmp_path / "fuzzhead")
    _setup_two_commits(spark, path)
    cache = os.path.join(path, "manifest.json")
    with open(cache, "rb") as f:
        payload = f.read()
    for cut in range(len(payload)):
        with open(cache, "wb") as f:
            f.write(payload[:cut])
        head = P._head_snapshot(path)
        assert head["version"] == 2 and head["n_rows"] == 6, (
            f"cut={cut}: ledger probe failed over the torn cache"
        )
    # a torn PREFIX that is itself valid JSON of a wrong shape
    with open(cache, "w") as f:
        f.write('{"version": "not-an-int"}')
    assert P._head_snapshot(path)["version"] == 2
    # the next commit heals the cache
    _append_batch(path, [Row(id=9, v=90)])
    with open(cache) as f:
        assert json.load(f)["version"] == 3


# --- DISK-FULL (ENOSPC): the process survives, the cleanup paths run ---------


@contextlib.contextmanager
def enospc_at(table: str, nth: int):
    """Like crash_at, but the nth op raises OSError(ENOSPC) — the verb's
    own error handling (abort, loser cleanup, staged-file removal) runs,
    which a hard crash never exercises."""
    import errno

    inj = _Injector(table, nth)
    real = {"link": os.link, "replace": os.replace}

    def mk(name):
        r = real[name]

        def wrapper(*a, **k):
            if inj._qual(a) and inj.bump(f"{name}:{os.path.basename(str(a[-1]))}"):
                raise OSError(errno.ENOSPC, "No space left on device (injected)")
            return r(*a, **k)

        return wrapper

    real_dump = P._json.dump

    def failing_dump(obj, fp, **k):
        name = getattr(fp, "name", "")
        if isinstance(name, str) and inj._qual((name,)) and inj.bump(
            f"dump:{os.path.basename(name)}"
        ):
            payload = json.dumps(obj)
            fp.write(payload[: max(1, len(payload) // 2)])
            fp.flush()
            raise OSError(errno.ENOSPC, "No space left on device (injected)")
        return real_dump(obj, fp, **k)

    os.link, os.replace = mk("link"), mk("replace")
    P._json.dump = failing_dump
    try:
        yield inj
    finally:
        os.link, os.replace = real["link"], real["replace"]
        P._json.dump = real_dump


@pytest.mark.slow
@pytest.mark.parametrize(
    "vname, verb",
    [
        ("append", lambda s, p: _append_batch(p, [Row(id=9, v=90)])),
        ("mor-delete", lambda s, p: P.delete_where_mor(p, "v", 10, 30)),
        ("rename", lambda s, p: P.rename_column(p, "v", "w")),
        ("restore", lambda s, p: P.restore_table(p, 1)),
        (
            "epoch",
            lambda s, p: P.ManifestStreamWriter({"path": p}).commit(
                [P.ManifestStreamWriter({"path": p}).write(iter([Row(id=9, v=90)]))],
                batchId=5,
            ),
        ),
    ],
)
def test_enospc_surfaces_and_table_stays_consistent(spark, tmp_path, vname, verb):
    """Every write-path op hit by ENOSPC: the verb must RAISE (never
    swallow a failed commit into a fake success), the table must read
    exactly pre or post, and the op must be retryable once space is
    back."""
    for k in range(1, 30):
        path = str(tmp_path / f"{vname}-{k}")
        _setup_two_commits(spark, path)
        pre_cols, pre_rows, _ = _state(spark, path)
        with enospc_at(path, k) as inj:
            raised = False
            try:
                verb(spark, path)
            except OSError:
                raised = True
            except RuntimeError as exc:
                # acceptable: the verb wrapped the failure loudly
                raised = True
                assert "space" in str(exc).lower() or "contention" in str(exc).lower(), exc
        if inj.fired is None:
            assert not raised
            break
        cols, rows, m = _state(spark, path)
        committed = (cols, rows) != (pre_cols, pre_rows)
        if not committed:
            assert raised, (
                f"{vname}: ENOSPC at {inj.fired!r} swallowed — verb reported "
                "success but the table never changed (silent data loss)"
            )
        # space comes back; the verb must work again
        try:
            verb(spark, path)
        except Exception as exc:  # noqa: BLE001 - rename-after-commit legally refuses
            assert vname == "rename" and committed, exc
        _state(spark, path)
    else:
        pytest.fail(f"{vname}: more than 29 ENOSPC points")


@pytest.mark.slow
def test_enospc_cow_verbs_surface_and_stay_consistent(spark, tmp_path):
    """ENOSPC during the Spark-backed rewrite verbs (CoW delete, zorder,
    merge): the verb surfaces the failure, the staged rewrite never
    becomes the head partially, and the verb succeeds once space is
    back."""
    cases = [
        ("cow-delete", lambda s, p: P.delete_where(s, p, "v", 10, 30)),
        ("zorder", lambda s, p: P.optimize_zorder(s, p, ("id", "v"), bits=4, n_files=2)),
        (
            "merge",
            lambda s, p: P.merge_upsert(
                s, p, s.createDataFrame([Row(id=2, v=222)]), "id"
            ),
        ),
    ]
    for vname, verb in cases:
        for k in range(1, 40):
            path = str(tmp_path / f"{vname}-{k}")
            _setup_two_commits(spark, path)
            pre_cols, pre_rows, _ = _state(spark, path)
            with enospc_at(path, k) as inj:
                raised = False
                try:
                    verb(spark, path)
                except (OSError, RuntimeError):
                    raised = True
            if inj.fired is None:
                assert not raised
                break
            cols, rows, _ = _state(spark, path)
            committed = (cols, rows) != (pre_cols, pre_rows)
            if not committed:
                assert raised, (
                    f"{vname}: ENOSPC at {inj.fired!r} swallowed into success"
                )
            verb(spark, path)  # space back: must work
            _state(spark, path)
        else:
            pytest.fail(f"{vname}: more than 39 ENOSPC points")


# --- reader STORM racing a crashing writer ------------------------------------


@pytest.mark.slow
def test_reader_storm_during_crashing_writers(spark, tmp_path):
    """Four uncoordinated reader threads hammer head reads, time-travel
    and the change feed WHILE a writer crashes at every commit-path op
    and another writer commits normally: no reader may ever see a torn
    snapshot (row multiset not equal to any committed version) or an
    unexpected error."""
    import threading

    path = str(tmp_path / "storm")
    _setup_two_commits(spark, path)
    # committed row counts only ever grow by whole 3-row deltas: any
    # multiple of 3 in [6, 6 + 16*3] is a legal snapshot, anything else
    # is torn (the reader cannot know WHICH commits landed yet, only
    # that every visible state is a whole-delta composition)
    reader_errs: list[BaseException] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                head = P._head_snapshot(path)
                assert head["n_rows"] % 3 == 0 and 6 <= head["n_rows"] <= 54, head["n_rows"]
                # time-travel to the base version stays exact
                base = P._head_snapshot(path, version=2)
                assert base["n_rows"] == 6
                deltas = P._append_deltas(path, 0, head["version"])
                assert deltas[-1]["version"] == head["version"]
            except BaseException as e:  # noqa: BLE001
                reader_errs.append(e)
                return

    readers = [threading.Thread(target=reader, name=f"r{i}") for i in range(4)]
    for t in readers:
        t.start()
    try:

        for k in range(1, 9):
            delta = [Row(id=1000 * k + i, v=k) for i in range(3)]
            with crash_thread_at(path, k) as inj:

                def crasher():
                    try:
                        _append_batch(path, delta)
                    except InjectedCrash:
                        pass

                t = threading.Thread(target=crasher, name="crasher")
                t.start()
                t.join()
            # a clean committer advances the table over the residue
            _append_batch(path, [Row(id=2000 * k + i, v=-k) for i in range(3)])
            if inj.fired is None:
                break
    finally:
        stop.set()
        for t in readers:
            t.join()
    assert not reader_errs, f"reader saw a torn/failed state: {reader_errs[:3]}"


@pytest.mark.slow
def test_crash_sweep_shallow_clone(spark, tmp_path):
    """Clone killed at every op: the TARGET either has no table at all
    or is the complete clone (never a half-wired reference set); a retry
    refuses on a committed clone and succeeds otherwise; divergence
    isolation holds over the residue."""
    for k in range(1, 30):
        src = str(tmp_path / f"src-{k}")
        dst = str(tmp_path / f"dst-{k}")
        _setup_two_commits(spark, src)
        _, src_rows, _ = _state(spark, src)
        with crash_at(dst, k) as inj:
            try:
                P.shallow_clone(src, dst)
            except InjectedCrash:
                pass
        if inj.fired is None:
            break
        try:
            _, rows, m = _state(spark, dst)
            committed = True
            assert rows == src_rows and m["op"] == "clone", (
                f"k={k}: torn clone after {inj.fired!r}"
            )
        except FileNotFoundError:
            committed = False
        # retry: a committed clone refuses (fresh-target contract),
        # an uncommitted one completes
        try:
            P.shallow_clone(src, dst)
            assert not committed, f"k={k}: double-clone accepted"
        except RuntimeError as exc:
            assert committed and "already has a table" in str(exc), exc
        _, rows, _ = _state(spark, dst)
        assert rows == src_rows
        # divergence isolation over the residue: the clone's own append
        # and vacuum never touch the source
        _append_batch(dst, [Row(id=77, v=770)])
        P.vacuum(dst, keep_versions=50, retention_seconds=0)
        _, src_after, _ = _state(spark, src)
        assert src_after == src_rows, f"k={k}: clone activity mutated the SOURCE"
    else:
        pytest.fail("shallow_clone had more than 29 injection points")


# --- a stream whose CHECKPOINTED offset was vacuumed away ---------------------


@pytest.mark.slow
def test_stream_tail_over_vacuumed_offsets_refuses_then_resumes(spark, tmp_path):
    """A restarting stream replays from its WAL offset.  If vacuum
    expired that version's manifest while the stream was down, the
    replay must refuse LOUDLY (never silently skip rows), and tailing
    from the earliest surviving snapshot must work."""
    from pyspark.sql import types as T

    path = str(tmp_path / "st")
    for lo in (0, 3, 6, 9):
        _append_batch(path, [Row(id=i, v=i * 10) for i in range(lo, lo + 3)])
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    reader = P.ManifestStreamReader({"path": path}, schema)
    P.vacuum(path, keep_versions=2, retention_seconds=0)  # v1, v2 expire
    with pytest.raises(RuntimeError, match="expired by vacuum"):
        list(reader.readBetweenOffsets({"version": 1}, {"version": 4}))
    rows = list(reader.readBetweenOffsets({"version": 3}, {"version": 4}))
    assert sorted(rows) == [(i, i * 10) for i in range(9, 12)]
    # and the live cursor keeps tailing new appends
    _append_batch(path, [Row(id=99, v=990)])
    it, end = reader.read({"version": 4})
    assert end["version"] == 5 and list(it) == [(99, 990)]


# --- executor-side (task) write-path kills -----------------------------------


# A Python worker dying mid-part-write leaves a half-written
# `_uncommitted_*` parquet file that no abort() ever sees (abort only
# receives COMPLETED task messages), the one residue class the driver-side
# sweeps above cannot reach.  Also: a zombie task attempt racing the
# committer, and a real end-to-end failed write job through the Spark
# engine.


def _torn_part(path: str, name: str = None) -> str:
    """Materialize a HALF-WRITTEN task part exactly as a killed Python
    worker leaves it: valid parquet prefix, no footer, `_uncommitted_`
    name (never renamed — the task died before reporting)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    whole = os.path.join(path, "_whole_tmp.parquet")
    pq.write_table(pa.table({"id": list(range(100)), "v": list(range(100))}), whole)
    blob = open(whole, "rb").read()
    os.remove(whole)
    name = name or "_uncommitted_deadbeefdead.parquet"
    torn = os.path.join(path, name)
    with open(torn, "wb") as fh:
        fh.write(blob[: len(blob) // 2])
    return torn


def test_torn_task_part_invisible_and_reclaimed(spark, tmp_path):
    """A worker killed mid-part-write leaves a torn `_uncommitted_*`
    file.  It must be invisible to every reader, must not break later
    commits (footer stats read only COMMITTED files), and vacuum must
    reclaim it past the retention grace."""
    path = str(tmp_path / "torn")
    _setup_two_commits(spark, path)
    torn = _torn_part(path)
    # later commits proceed and read clean
    _append_batch(path, [Row(id=i, v=i * 10) for i in range(6, 9)])
    cols, rows, m = _state(spark, path)
    assert [r[0] for r in rows] == list(range(9))
    # change feed walks the full range over the residue
    df, _ = P.read_change_feed(spark, path, since_version=0)
    assert df.count() == 9
    # reclamation: grace spares it while young...
    P.vacuum(path, keep_versions=50, retention_seconds=600)
    assert os.path.exists(torn), "retention grace must spare a young task part"
    # ...and removes it once aged out
    P.vacuum(path, keep_versions=50, retention_seconds=0)
    assert not os.path.exists(torn), "torn task part leaked past vacuum"
    _state(spark, path)  # table still reads


def test_task_killed_mid_write_part_sweep(spark, tmp_path):
    """Kill `_write_part` ITSELF at each arrow write/close op (the
    in-task equivalent of the driver-side sweep): the dying task leaves
    at most one hidden file, the committer never lists it, a retry of
    the whole batch converges, and vacuum reclaims the residue."""
    import pyarrow.parquet as pq

    rows = [Row(id=i, v=i * 10) for i in range(6, 9)]
    real_write, real_close = pq.ParquetWriter.write_table, pq.ParquetWriter.close
    exercised = 0
    for k in (1, 2):  # 1: write_table, 2: close (one chunk -> two ops)
        path = str(tmp_path / f"k{k}")
        _setup_two_commits(spark, path)
        pre_cols, pre_rows, pre_m = _state(spark, path)
        calls = {"n": 0}

        def dying_write(self, *a, **kw):
            calls["n"] += 1
            if calls["n"] == k:
                raise InjectedCrash("task killed mid write_table")
            return real_write(self, *a, **kw)

        def dying_close(self, *a, **kw):
            calls["n"] += 1
            if calls["n"] == k:
                raise InjectedCrash("task killed at close")
            return real_close(self, *a, **kw)

        pq.ParquetWriter.write_table = dying_write
        pq.ParquetWriter.close = dying_close
        try:
            with pytest.raises(InjectedCrash):
                _append_batch(path, rows)
        finally:
            pq.ParquetWriter.write_table = real_write
            pq.ParquetWriter.close = real_close
        exercised += 1
        # the table is EXACTLY the pre state; residue is hidden only
        cols, now_rows, _ = _state(spark, path)
        assert (cols, now_rows) == (pre_cols, pre_rows), f"k={k}: torn table"
        visible_parts = {
            os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))
        }
        head = P._latest_snapshot(path)
        assert visible_parts == set(head["files"]), f"k={k}: unlisted visible part"
        # retry converges on the post state
        _append_batch(path, rows)
        _, rows_after, _ = _state(spark, path)
        assert [r[0] for r in rows_after] == list(range(9))
        # vacuum reclaims the dead task's hidden residue
        P.vacuum(path, keep_versions=50, retention_seconds=0)
        assert not glob.glob(os.path.join(path, "_uncommitted_*")), f"k={k}: leak"
    assert exercised == 2


def test_zombie_task_attempt_racing_committer(spark, tmp_path):
    """Task retry races the committer: attempt 1 reports and commits,
    the zombie attempt's part (written before OR after the commit) is
    never listed, stays invisible, and vacuum reclaims it."""
    path = str(tmp_path / "zombie")
    _setup_two_commits(spark, path)
    w = P.ManifestParquetWriter({"path": path}, overwrite=False)
    rows = [Row(id=i, v=i * 10) for i in range(6, 9)]
    m1 = w.write(iter(rows))
    zombie_before = w.write(iter(rows))  # zombie attempt, never reported
    w.commit([m1])
    zombie_after = w.write(iter(rows))  # late zombie, post-commit
    cols, got, head = _state(spark, path)
    assert [r[0] for r in got] == list(range(9)), "zombie rows leaked into the table"
    for z in (zombie_before, zombie_after):
        full = os.path.join(path, z.filename)
        assert os.path.exists(full) and z.filename.startswith("_uncommitted_")
        assert z.filename not in head["files"]
    P.vacuum(path, keep_versions=50, retention_seconds=0)
    assert not glob.glob(os.path.join(path, "_uncommitted_*")), "zombie parts leaked"
    _, got2, _ = _state(spark, path)
    assert got2 == got


def test_failed_write_job_end_to_end(spark, tmp_path):
    """A REAL engine write whose task dies mid-stream (poisoned row in
    one partition): the job fails, the table is untouched, the residue
    is hidden-only, vacuum reclaims it, and the clean retry converges —
    the full task-failure lifecycle through Spark itself, not a
    simulated writer."""
    path = str(tmp_path / "e2e")
    P.register_sink(spark)
    base = spark.range(6).selectExpr("id", "id * 10 AS v")
    base.coalesce(1).write.format("rtbd_manifest_sink").option("path", path).mode(
        "append"
    ).save()
    pre_cols, pre_rows, _ = _state(spark, path)
    poison = spark.range(6, 12).select(
        "id",
        F.expr(
            "CASE WHEN id = 9 THEN CAST(assert_true(id <> 9) AS BIGINT) "
            "ELSE id * 10 END"
        ).alias("v"),
    ).repartition(2)
    with pytest.raises(Exception):
        poison.write.format("rtbd_manifest_sink").option("path", path).mode(
            "append"
        ).save()
    cols, rows, head = _state(spark, path)
    assert (cols, rows) == (pre_cols, pre_rows), "failed job mutated the table"
    visible = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))}
    assert visible == set(head["files"]), "failed job leaked a VISIBLE part"
    P.vacuum(path, keep_versions=50, retention_seconds=0)
    assert not glob.glob(os.path.join(path, "_uncommitted_*"))
    # clean retry converges
    spark.range(6, 12).selectExpr("id", "id * 10 AS v").repartition(2).write.format(
        "rtbd_manifest_sink"
    ).option("path", path).mode("append").save()
    _, rows2, _ = _state(spark, path)
    assert sorted(r[0] for r in rows2) == list(range(12))


def _sigkill_victim(path):
    """Runs in a forked child: stream an endless feed through the REAL
    task-side writer so the parent can SIGKILL it mid-write (no
    exception path, no abort — the process just dies)."""
    from pyspark.sql import Row

    from real_time_big_data_iot_monitoring_pipeline_spark.sources import (
        pydatasource as PP,
    )

    def rows():
        i = 0
        while True:
            yield Row(id=i, v=i * 10)
            i += 1

    PP._write_part(path, rows())


def test_sigkilled_worker_leaves_only_reclaimable_residue(spark, tmp_path):
    """The hardest executor-death shape: the worker process is SIGKILLed
    mid-part-write — no Python exception, no abort(), an open parquet
    stream torn at an arbitrary byte.  The residue must be invisible to
    every reader, later commits must proceed, and vacuum must reclaim it
    past the retention grace (and spare it inside the grace window)."""
    import multiprocessing as mp
    import time

    path = str(tmp_path / "sigkill")
    _setup_two_commits(spark, path)
    proc = mp.get_context("fork").Process(target=_sigkill_victim, args=(path,))
    proc.start()
    deadline = time.time() + 30
    torn = []
    while time.time() < deadline:
        torn = [
            f
            for f in glob.glob(os.path.join(path, "_uncommitted_*"))
            if os.path.getsize(f) > 0
        ]
        if torn:
            break
        time.sleep(0.05)
    proc.kill()
    proc.join()
    assert torn, "victim never materialized its uncommitted part"
    # invisible: head read and change feed unaffected
    cols, rows, _ = _state(spark, path)
    assert [r[0] for r in rows] == list(range(6))
    # later commits proceed over the residue
    _append_batch(path, [Row(id=i, v=i * 10) for i in range(6, 9)])
    _, rows2, _ = _state(spark, path)
    assert [r[0] for r in rows2] == list(range(9))
    df, _ = P.read_change_feed(spark, path, since_version=0)
    assert df.count() == 9
    # retention grace spares it; aged-out reclamation removes it
    P.vacuum(path, keep_versions=50, retention_seconds=600)
    assert any(os.path.exists(t) for t in torn), "grace window violated"
    P.vacuum(path, keep_versions=50, retention_seconds=0)
    assert not glob.glob(os.path.join(path, "_uncommitted_*")), "SIGKILL residue leaked"
    _state(spark, path)


# --- multi-table clone/vacuum crash sweeps -----------------------------------


# Shallow clones share data files with their source by relative
# reference.  Vacuum on either side is killed at every op and cross-table
# reachability must hold: the other table reads byte-identically (or, in
# the documented source-vacuum hazard, fails LOUDLY, never silently
# partial).


def _src_rows(spark, path):
    return _state(spark, path)[1]


def test_crash_sweep_vacuum_source_spares_clone_live_files(spark, tmp_path):
    """Vacuum on the SOURCE killed at every op, while a shallow clone
    references the source's HEAD files: the vacuum legally reclaims only
    pre-head files, so under every kill point BOTH tables keep reading
    exactly — the clone's referenced files are live in the source's kept
    horizon and must survive any crash prefix of the sweep."""
    for k in range(1, 40):
        src = str(tmp_path / f"s{k}")
        dst = str(tmp_path / f"d{k}")
        _setup_two_commits(spark, src)  # v1, v2 (2 part files)
        # compaction-style overwrite -> v3; v1/v2 files become reclaimable
        w = P.ManifestParquetWriter({"path": src}, overwrite=True)
        w.commit([w.write(iter([Row(id=i, v=i * 10) for i in range(6)]))])
        P.shallow_clone(src, dst)  # references v3's files
        src_rows = _src_rows(spark, src)
        clone_rows = _src_rows(spark, dst)
        assert clone_rows == src_rows
        with crash_at(src, k) as inj:
            try:
                P.vacuum(src, keep_versions=1, retention_seconds=0)
            except InjectedCrash:
                pass
        if inj.fired is None:
            break
        # cross-table reachability after the crash: both read exactly
        assert _src_rows(spark, src) == src_rows, f"k={k}: source torn by vacuum crash"
        assert _src_rows(spark, dst) == clone_rows, (
            f"k={k}: clone lost referenced files to a crashed source vacuum "
            f"at {inj.fired!r}"
        )
        # retry completes; the clone STILL reads (its files are the head's)
        P.vacuum(src, keep_versions=1, retention_seconds=0)
        assert _src_rows(spark, src) == src_rows
        assert _src_rows(spark, dst) == clone_rows, f"k={k}: clone broken post-retry"
    else:
        pytest.fail("vacuum(source) had more than 39 injection points")


def test_crash_sweep_vacuum_source_hazard_is_loud_never_partial(spark, tmp_path):
    """The documented shallow-clone hazard (source vacuum CAN reclaim
    files only a clone still references) under crash injection: at every
    kill point the clone read is either the COMPLETE original rows or a
    loud error — never a silently partial result.  (The sweep leaves the
    source's own head intact throughout.)"""
    saw_loud = saw_complete = False
    for k in range(1, 40):
        src = str(tmp_path / f"s{k}")
        dst = str(tmp_path / f"d{k}")
        # three appends -> three part files, so a mid-sweep crash can
        # leave a PARTIAL deletion of the clone's referenced set
        for lo in (0, 3, 6):
            _append_batch(src, [Row(id=i, v=i * 10) for i in range(lo, lo + 3)])
        P.shallow_clone(src, dst)  # references v3's three files
        clone_rows = _src_rows(spark, dst)
        # source moves on: overwrite -> v4 (clone's files now unreferenced
        # by the source head)
        w = P.ManifestParquetWriter({"path": src}, overwrite=True)
        w.commit([w.write(iter([Row(id=99, v=990)]))])
        src_rows = _src_rows(spark, src)
        with crash_at(src, k) as inj:
            try:
                P.vacuum(src, keep_versions=1, retention_seconds=0)
            except InjectedCrash:
                pass
        if inj.fired is None:
            break
        assert _src_rows(spark, src) == src_rows, f"k={k}: source torn"
        try:
            got = _src_rows(spark, dst)
            assert got == clone_rows, (
                f"k={k}: clone read SILENTLY WRONG after source vacuum crash "
                f"at {inj.fired!r}: {got}"
            )
            saw_complete = True
        except AssertionError:
            raise
        except Exception:
            saw_loud = True  # loud refusal is the documented hazard outcome
    else:
        pytest.fail("vacuum(source) had more than 39 injection points")
    assert saw_complete, "sweep never observed a still-complete clone read"
    assert saw_loud, "sweep never reached the loud-hazard outcome"


def test_crash_sweep_vacuum_clone_never_touches_source(spark, tmp_path):
    """Vacuum on the CLONE killed at every op: the source's directory
    byte-set and rows are invariant under every kill point (the clone's
    vacuum may only reclaim files it owns), and the clone heals."""
    for k in range(1, 40):
        src = str(tmp_path / f"s{k}")
        dst = str(tmp_path / f"d{k}")
        _setup_two_commits(spark, src)
        P.shallow_clone(src, dst)
        _append_batch(dst, [Row(id=77, v=770)])  # divergence: dst-owned file
        # dst compaction -> v3 rewrites everything into dst-owned files;
        # the old dst-owned append + the relative refs leave the head
        w = P.ManifestParquetWriter({"path": dst}, overwrite=True)
        w.commit(
            [w.write(iter([Row(id=i, v=i * 10) for i in range(6)] + [Row(id=77, v=770)]))]
        )
        src_listing = sorted(os.listdir(src))
        src_rows = _src_rows(spark, src)
        dst_rows = _src_rows(spark, dst)
        with crash_at(dst, k) as inj:
            try:
                P.vacuum(dst, keep_versions=1, retention_seconds=0)
            except InjectedCrash:
                pass
        if inj.fired is None:
            break
        assert sorted(os.listdir(src)) == src_listing, (
            f"k={k}: clone vacuum crash touched the SOURCE dir at {inj.fired!r}"
        )
        assert _src_rows(spark, src) == src_rows, f"k={k}: source rows changed"
        assert _src_rows(spark, dst) == dst_rows, f"k={k}: clone torn"
        P.vacuum(dst, keep_versions=1, retention_seconds=0)  # retry heals
        assert _src_rows(spark, dst) == dst_rows
        assert sorted(os.listdir(src)) == src_listing
    else:
        pytest.fail("vacuum(clone) had more than 39 injection points")


# --- streaming reader cursor faults ------------------------------------------


# The manifest-table tail under a corrupted / regressed / replayed
# checkpoint cursor must stay deterministic (exactly-once composes from
# deterministic replay + the engine's offset WAL + the sink's epoch
# ledger), and an engine-level forced replay (tampered checkpoint commit
# log) must land exactly once through the sink's batchId ledger.


def _mk_stream_table(tmp_path, name="st"):
    path = str(tmp_path / name)
    for lo in (0, 3, 6, 9):
        _append_batch(path, [Row(id=i, v=i * 10) for i in range(lo, lo + 3)])
    return path


def _reader(path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    return P.ManifestStreamReader({"path": path}, schema)


def test_stream_cursor_replay_is_deterministic(spark, tmp_path):
    """Exactly-once across engine crashes composes from DETERMINISTIC
    replay: `readBetweenOffsets` over the same WAL'd range returns the
    identical row sequence every time, and a replayed `read(start)`
    (engine died between read and offset commit) is idempotent — same
    rows, same end offset."""
    path = _mk_stream_table(tmp_path)
    r = _reader(path)
    first = list(r.readBetweenOffsets({"version": 1}, {"version": 3}))
    for _ in range(3):
        assert list(r.readBetweenOffsets({"version": 1}, {"version": 3})) == first
    it1, end1 = r.read({"version": 2})
    it2, end2 = r.read({"version": 2})
    assert end1 == end2 and list(it1) == list(it2)


def test_stream_cursor_regression_replays_exact_range(spark, tmp_path):
    """A REGRESSED cursor (corrupted checkpoint rewound to an older
    version) re-serves exactly the rows of (old, head] — the engine's
    offset WAL + the sink's epoch ledger then dedup them — and never
    doubles rows WITHIN the replayed range."""
    path = _mk_stream_table(tmp_path)
    r = _reader(path)
    it, end = r.read({"version": 4})  # cursor at head: nothing new
    assert list(it) == [] and end == {"version": 4}
    it, end = r.read({"version": 2})  # regressed two versions
    rows = list(it)
    assert end == {"version": 4}
    assert sorted(rows) == [(i, i * 10) for i in range(6, 12)], rows
    assert len(rows) == len(set(rows)), "replayed range contains duplicates"


def test_stream_cursor_beyond_head_never_rewinds(spark, tmp_path):
    """A cursor CORRUPTED past the head (e.g. a bit flip) must not
    silently rewind or invent rows: read() returns no rows and leaves
    the cursor where it was (the stream stalls visibly instead of
    re-emitting history), and a malformed offset dict refuses loudly."""
    path = _mk_stream_table(tmp_path)
    r = _reader(path)
    it, end = r.read({"version": 9})
    assert list(it) == [] and end == {"version": 9}
    with pytest.raises((KeyError, TypeError)):
        r.read({"wrong_key": 1})


def test_stream_cursor_vacuumed_regression_refuses(spark, tmp_path):
    """A regressed cursor landing BELOW the vacuum horizon must refuse
    loudly (the round-10 pin covers the WAL replay path; this covers the
    live-cursor path): silently skipping the expired range would drop
    rows."""
    path = _mk_stream_table(tmp_path)
    P.vacuum(path, keep_versions=2, retention_seconds=0)  # v1, v2 expire
    r = _reader(path)
    with pytest.raises(RuntimeError, match="expired by vacuum"):
        list(r.read({"version": 1})[0])


def test_checkpoint_commit_log_tamper_lands_exactly_once(spark, tmp_path):
    """END-TO-END forced replay: run the sensor feed through the
    manifest STREAM sink, then erase the checkpoint's newest
    offsets+commits PAIR — the on-disk state of an engine that crashed
    after the SINK committed the epoch but before the checkpoint
    recorded it (the at-least-once window every streaming engine has).
    On restart the engine re-plans that batch from the prior offset and
    re-commits it under the same batchId; the sink's epoch ledger must
    drop the replay: the table holds the feed EXACTLY once.  (Deleting
    only the commit marker is rejected by Spark itself as concurrent
    checkpoint use — the offsets+commits pair is the honest crash
    image.)"""
    base = str(tmp_path / "tamper")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    P.register(spark)
    P.register_sink(spark)

    def run():
        q = (
            spark.readStream.format("rtbd_sensors")
            .option("n_rows", 6_000)
            .option("n_sensors", 10)
            .option("rows_per_batch", 2_000)
            .load()
            .writeStream.format("rtbd_manifest_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    run()
    assert P.read_manifest(spark, out)[0].count() == 6_000
    newest = max(
        int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
    )
    for d in ("commits", "offsets"):  # forge the crash window (incl. the
        # Hadoop checksum sidecars — a stale .crc makes the replayed
        # batch's log rename fail as phantom concurrent use)
        for f in (str(newest), f".{newest}.crc"):
            p = os.path.join(ckpt, d, f)
            if os.path.exists(p):
                os.remove(p)
    run()  # restart: engine re-plans + replays the final epoch; ledger dedups
    back, head = P.read_manifest(spark, out)
    assert back.count() == 6_000, "replayed epoch double-counted or dropped"
    assert sorted(head["batches"]) == sorted(set(head["batches"])), "ledger dup"
    got = back.groupBy("sensor_id").count().collect()
    assert all(r["count"] == 600 for r in got)


# --- multi-part commit kills -------------------------------------------------


# A batch whose write produces N>1 parquet parts, killed at every
# write-path op, including strictly BETWEEN part K's rename and part K+1's.
# The table must stay all-or-nothing under every kill point, for the batch
# committer AND the streaming epoch committer, and replay-after-crash must
# land exactly once with any half-renamed residue invisible and
# reclaimable.


def _part_msgs(path, batches, schema=None):
    """Write one `_uncommitted_` part per row batch (the task-side half
    of an N-part commit), returning the commit messages."""
    return [P._write_part(path, iter(rows), schema) for rows in batches]


def _three_batches(lo=6):
    return [[Row(id=i, v=i * 10) for i in range(b, b + 3)] for b in (lo, lo + 3, lo + 6)]


def test_crash_sweep_multipart_batch_commit_all_or_nothing(spark, tmp_path):
    """A 3-part batch commit killed at EVERY write-path op — part
    renames, manifest dump, head swap — including the kills that land
    strictly between part K and part K+1 becoming visible.  At every
    kill point the table reads either the FULL pre-state or the full
    post-state (all 9 new rows), never a partial part set; the visible
    file set always equals the head manifest's; a clean retry
    converges."""
    part_rename_kills = 0
    for k in range(1, 60):
        path = str(tmp_path / f"mp{k}")
        _setup_two_commits(spark, path)  # rows 0..5
        pre_cols, pre_rows, _ = _state(spark, path)
        post_rows = sorted(
            pre_rows + [(i, i * 10) for i in range(6, 15)], key=repr
        )
        with crash_at(path, k) as inj:
            try:
                msgs = _part_msgs(path, _three_batches())
                w = P.ManifestParquetWriter({"path": path}, overwrite=False)
                w.commit(msgs)
            except InjectedCrash:
                pass
        if inj.fired is None:
            break
        if inj.fired.startswith(("link:part-", "replace:part-")):
            part_rename_kills += 1
        cols, rows, head = _state(spark, path)
        assert rows in (pre_rows, post_rows), (
            f"k={k}: PARTIAL batch visible after {inj.fired!r}: "
            f"{len(rows)} rows"
        )
        # a kill BETWEEN part renames leaves a new residue class: a
        # part already under its VISIBLE name but referenced by no
        # manifest.  Readers are manifest-driven so it never surfaces
        # (the rows assertion above proves that at every k); vacuum
        # must reclaim it past the grace like any crashed-writer residue
        stray = {
            os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))
        } - set(head["files"])
        # retry converges regardless of where the crash landed
        if rows == pre_rows:
            msgs = _part_msgs(path, _three_batches())
            P.ManifestParquetWriter({"path": path}, overwrite=False).commit(msgs)
        _, rows2, head2 = _state(spark, path)
        assert rows2 == post_rows, f"k={k}: retry did not converge"
        P.vacuum(path, keep_versions=50, retention_seconds=0)
        assert not glob.glob(os.path.join(path, "_uncommitted_*")), (
            f"k={k}: crash residue survived vacuum"
        )
        visible = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))}
        assert visible == set(P._latest_snapshot(path)["files"]), (
            f"k={k}: renamed-orphan residue {sorted(stray)} leaked past vacuum "
            f"at {inj.fired!r}"
        )
    else:
        pytest.fail("multi-part commit had more than 59 injection points")
    # the sweep must actually have crossed the between-parts boundary:
    # with 3 parts there are >= 3 separate part-visibility ops, so kills
    # strictly between two parts' renames were exercised
    assert part_rename_kills >= 3, (
        f"sweep never killed between part renames ({part_rename_kills} "
        "part-visibility kill points)"
    )


def test_crash_sweep_multipart_stream_epoch_exactly_once(spark, tmp_path):
    """The STREAMING twin: a 3-part epoch commit killed at every op,
    then the engine's replay of the SAME batchId with freshly written
    parts (restart semantics: task re-execution produces new part
    files).  The epoch must land EXACTLY once — half-renamed residue
    from the crashed attempt is invisible (not in any manifest), the
    replay either publishes the fresh parts (crash before the ledger
    recorded the epoch) or drops them (crash after), and vacuum
    reclaims every orphan."""
    for k in range(1, 60):
        path = str(tmp_path / f"se{k}")
        _setup_two_commits(spark, path)  # rows 0..5
        pre_cols, pre_rows, _ = _state(spark, path)
        post_rows = sorted(pre_rows + [(i, i * 10) for i in range(6, 15)], key=repr)
        with crash_at(path, k) as inj:
            try:
                msgs = _part_msgs(path, _three_batches())
                P.ManifestStreamWriter({"path": path}).commit(msgs, 5)
            except InjectedCrash:
                pass
        if inj.fired is None:
            break
        cols, rows, head = _state(spark, path)
        assert rows in (pre_rows, post_rows), (
            f"k={k}: partial epoch visible after {inj.fired!r}"
        )
        # engine replay: same batchId, fresh task attempts' parts
        msgs = _part_msgs(path, _three_batches())
        P.ManifestStreamWriter({"path": path}).commit(msgs, 5)
        _, rows2, head2 = _state(spark, path)
        assert rows2 == post_rows, f"k={k}: epoch missing or doubled after replay"
        assert head2["batches"].count(5) == 1, f"k={k}: ledger dup"
        # every visible file is referenced; orphans reclaim
        P.vacuum(path, keep_versions=50, retention_seconds=0)
        visible = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))}
        assert visible == set(P._latest_snapshot(path)["files"]), (
            f"k={k}: orphan part survived vacuum"
        )
        assert not glob.glob(os.path.join(path, "_uncommitted_*"))
    else:
        pytest.fail("multi-part epoch commit had more than 59 injection points")


# --- concurrent streaming sinks on one table ---------------------------------


# Two engine queries with their own checkpoints write the same manifest
# table.  BatchIds are per-query counters (both queries commit a batchId
# 0), so a bare-batchId epoch ledger would CROSS-DEDUP the queries: the
# second query's epoch 0 silently dropped as a "replay" of the first's.
# Ledger entries are scoped to the query's checkpoint identity
# ("<sha1(ckpt)[:12]>:<batchId>", sources/pydatasource.py::
# ManifestStreamWriter).  The sweeps pin: no cross-query dedup, true
# same-query replays still dedup (scoped AND legacy bare-int entries), and
# ledger contention under interleaved/crashing committers serializes
# without loss or duplication.


def test_concurrent_engine_queries_one_table_no_cross_dedup(spark, tmp_path):
    """THE FIND: two real engine streaming queries (own checkpoints)
    writing the same manifest table.  Both queries commit a batchId 0;
    the pre-round-12 bare-batchId ledger dropped the second query's
    epoch 0 as a 'replay' of the first's — silent data loss.  With
    checkpoint-scoped ledger entries the table must hold BOTH feeds in
    full."""
    base = str(tmp_path / "two_queries")
    out = os.path.join(base, "out")
    P.register(spark)
    P.register_sink(spark)

    def run(n_rows, ckpt):
        q = (
            spark.readStream.format("rtbd_sensors")
            .option("n_rows", n_rows)
            .option("n_sensors", 10)
            .option("rows_per_batch", 1_000)
            .load()
            .writeStream.format("rtbd_manifest_sink")
            .option("path", out)
            .option("checkpointLocation", os.path.join(base, ckpt))
            .outputMode("append")
            .start()
        )
        return q

    qa = run(2_000, "ckpt_a")
    qb = run(3_000, "ckpt_b")
    for q in (qa, qb):
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    back, head = P.read_manifest(spark, out)
    # feed A: readings 0..1999, feed B: 0..2999 -> reading 0..1999 twice,
    # 2000..2999 once = 5000 rows total; a cross-deduped epoch 0 loses
    # 1000 rows from whichever query committed second
    assert back.count() == 5_000, (
        f"cross-query epoch dedup lost rows: {back.count()} != 5000"
    )
    counts = {r["reading_id"]: r["n"] for r in
              back.groupBy("reading_id").count().withColumnRenamed("count", "n").collect()}
    assert all(counts[i] == 2 for i in range(0, 2_000, 97)), "feed overlap not doubled"
    assert all(counts[i] == 1 for i in range(2_000, 3_000, 97)), "feed B tail wrong"
    # ledger: every entry distinct, two scopes present
    assert len(head["batches"]) == len(set(head["batches"])), "ledger dup"
    scopes = {str(b).split(":")[0] for b in head["batches"]}
    assert len(scopes) == 2, f"expected two query scopes, got {scopes}"


def test_scoped_ledger_interleaved_committers_no_loss(spark, tmp_path):
    """Direct-API twin at the ledger layer: two SCOPED writers (distinct
    checkpoint identities) interleave epochs 0..2 on one table.  All six
    epochs must land; same-scope replays must drop; the other scope's
    same-numbered batchId must NOT be treated as a replay."""
    path = str(tmp_path / "interleave")
    _append_batch(path, [Row(id=0, v=0)])
    wa = P.ManifestStreamWriter({"path": path, "checkpointlocation": "/ck/a"})
    wb = P.ManifestStreamWriter({"path": path, "checkpointlocation": "/ck/b"})
    rows_for = lambda scope, b: [Row(id=1000 * scope + 10 * b + j, v=j) for j in range(3)]
    for b in range(3):
        wa.commit(_part_msgs(path, [rows_for(1, b)]), b)
        wb.commit(_part_msgs(path, [rows_for(2, b)]), b)
    _, rows, head = _state(spark, path)
    assert len(rows) == 1 + 6 * 3, f"epoch lost under interleaving: {len(rows)}"
    assert len(head["batches"]) == len(set(head["batches"])) == 6
    # replay each scope's epoch 1: both must dedup against THEIR entry
    wa.commit(_part_msgs(path, [rows_for(1, 1)]), 1)
    wb.commit(_part_msgs(path, [rows_for(2, 1)]), 1)
    _, rows2, head2 = _state(spark, path)
    assert len(rows2) == 19 and len(head2["batches"]) == 6, "scoped replay not deduped"


def test_scoped_ledger_crash_sweep_two_committers(spark, tmp_path):
    """Contention under kills: scope A's epoch commit is killed at every
    op; scope B then commits the SAME batchId number; A replays.  At
    every kill point B's epoch must land (never cross-deduped by A's
    residue), A must land exactly once, and the visible file set must
    equal the head's."""
    for k in range(1, 60):
        path = str(tmp_path / f"cc{k}")
        _append_batch(path, [Row(id=0, v=0)])
        wa = P.ManifestStreamWriter({"path": path, "checkpointlocation": "/ck/a"})
        wb = P.ManifestStreamWriter({"path": path, "checkpointlocation": "/ck/b"})
        a_rows = [Row(id=100 + j, v=j) for j in range(3)]
        b_rows = [Row(id=200 + j, v=j) for j in range(3)]
        with crash_at(path, k) as inj:
            try:
                wa.commit(_part_msgs(path, [a_rows]), 0)
            except InjectedCrash:
                pass
        if inj.fired is None:
            break
        wb.commit(_part_msgs(path, [b_rows]), 0)
        wa.commit(_part_msgs(path, [a_rows]), 0)  # A's engine replays epoch 0
        _, rows, head = _state(spark, path)
        ids = sorted(r[0] for r in rows)
        assert ids == [0, 100, 101, 102, 200, 201, 202], (
            f"k={k}: loss or duplication after {inj.fired!r}: {ids}"
        )
        # two scoped entries (the seed is a batch append, no ledger row)
        assert len(head["batches"]) == len(set(head["batches"])) == 2
        P.vacuum(path, keep_versions=50, retention_seconds=0)
        visible = {os.path.basename(p) for p in glob.glob(os.path.join(path, "part-*"))}
        assert visible == set(P._latest_snapshot(path)["files"])
    else:
        pytest.fail("scoped commit had more than 59 injection points")


def test_scoped_writer_dedups_legacy_bare_int_entry(spark, tmp_path):
    """Upgrade compatibility: a pre-round-12 ledger carries bare-int
    entries (written by a checkpointed engine query under the old
    code).  The SAME query restarting post-upgrade replays its batchId
    as a scoped writer — it must treat the legacy int entry as its own
    commit and drop the replay (not double the epoch)."""
    path = str(tmp_path / "legacy")
    _append_batch(path, [Row(id=0, v=0)])
    # legacy entry: unscoped writer (pre-upgrade engine) commits epoch 0
    P.ManifestStreamWriter({"path": path}).commit(
        _part_msgs(path, [[Row(id=100 + j, v=j) for j in range(3)]]), 0
    )
    n_before = _state(spark, path)[1]
    # post-upgrade restart: scoped writer replays epoch 0
    w = P.ManifestStreamWriter({"path": path, "checkpointlocation": "/ck/a"})
    w.commit(_part_msgs(path, [[Row(id=100 + j, v=j) for j in range(3)]]), 0)
    _, rows, head = _state(spark, path)
    assert rows == n_before, "legacy replay doubled the epoch across the upgrade"
    assert head["batches"] == [0]
    # a genuinely NEW scoped epoch still lands
    w.commit(_part_msgs(path, [[Row(id=200, v=1)]]), 1)
    _, rows2, head2 = _state(spark, path)
    assert len(rows2) == len(rows) + 1
    assert head2["batches"] == [0, f"{w.ledger_scope}:1"]
