"""A REAL custom connector via the Spark 4 Python DataSource API — the
engine's answer to the reference's MQTT/Kafka edge sources in an
environment with no broker: `rtbd_sensors` is a registerable format
(`spark.read.format("rtbd_sensors")` / `spark.readStream.format(...)`)
with

  * a BATCH reader that splits the feed into range partitions
    (`InputPartition` subclass carrying [start, end)) and supports
    FILTER PUSHDOWN (`pushFilters`): an `EqualTo("sensor_id", k)`
    predicate is consumed by the source and applied during generation,
    so filtered reads materialize ~1/n_sensors of the rows instead of
    generating everything and filtering in the plan;
  * a STREAMING reader with real offset management — start-driven
    `read(start)` chunks the feed `rows_per_batch` at a time and caps
    at `n_rows`, so a `processAllAvailable()` replay terminates with
    exactly the batch feed's contents, micro-batched, and a RESTART
    resumes from the checkpointed offset with zero duplicates (see the
    class docstring for the latestOffset-cursor bug this design
    replaced).

The feed itself is a deterministic integer formula (Knuth
multiplicative hash of the reading index), so a SQL oracle regenerates
it exactly — the connector is value-hash-checkable end-to-end, like
every other source in this engine (`sources/sensors.py` precedent).

Reference parity: ref:mqtt_publisher.py + ref:spark_streaming.py:125-130
(the Kafka readStream) — this module is the same contract (schema'd
feed, offsets, partitions) implemented as an in-engine source instead
of gated external infrastructure.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = "reading_id bigint, sensor_id int, ts_us bigint, temp_centi int"

#: feed constants — mirrored verbatim in the SQL oracles
BASE_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in micros
INTERVAL_US = 250_000  # 4 readings/sec across the fleet
KNUTH = 2654435761
TEMP_MOD = 4000
TEMP_OFF = 1000  # temp_centi in [1000, 5000) -> 10.00-50.00 degrees


class RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


def gen_rows(start: int, end: int, n_sensors: int, only_sensor: int | None = None):
    """The deterministic feed: reading i -> (i, i % n_sensors,
    BASE + i*INTERVAL, knuth-hash temp).  With `only_sensor` the loop
    strides directly over that sensor's indices — the pushed-down
    filter costs O(rows/n_sensors), not O(rows)."""
    if only_sensor is None:
        idx = range(start, end)
    elif not 0 <= only_sensor < n_sensors:
        # no reading has this sensor_id; a modular stride would silently
        # return the congruent sensor's rows instead of the empty set
        return
    else:
        first = start + ((only_sensor - start) % n_sensors)
        idx = range(first, end, n_sensors)
    for i in idx:
        temp = ((i * KNUTH) % 4294967296) % TEMP_MOD + TEMP_OFF
        yield (i, i % n_sensors, BASE_US + i * INTERVAL_US, temp)


class SensorBatchReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 100_000))
        self.n_sensors = int(options.get("n_sensors", 50))
        self.n_parts = int(options.get("n_partitions", 8))
        self.only_sensor: int | None = None

    def pushFilters(self, filters: Sequence[Filter]) -> Iterator[Filter]:
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and f.attribute == ("sensor_id",)
                and self.only_sensor is None
                and isinstance(f.value, int)
                and 0 <= f.value < self.n_sensors
            ):
                self.only_sensor = int(f.value)  # consumed: applied at generation
            else:
                # unsupported — or an out-of-domain value, where the
                # generation-time stride would return the congruent
                # sensor's rows; Spark keeps the predicate in the plan
                yield f

    def partitions(self):
        step = max(1, self.n_rows // self.n_parts)
        return [
            RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: RangePartition):
        # Round-13 (guide §4.2): the feed is a pure arithmetic function
        # of the reading index, so generate it VECTORIZED and hand Spark
        # Arrow RecordBatches instead of yielding Python tuples row by
        # row (the row path re-entered the interpreter per reading).
        # Same stride semantics as gen_rows, which remains the scalar
        # reference (the streaming reader and the unit tests use it).
        import numpy as np
        import pyarrow as pa

        if self.only_sensor is None:
            idx = np.arange(partition.start, partition.end, dtype=np.int64)
        elif not 0 <= self.only_sensor < self.n_sensors:
            return iter([])
        else:
            first = partition.start + (
                (self.only_sensor - partition.start) % self.n_sensors
            )
            idx = np.arange(first, partition.end, self.n_sensors, dtype=np.int64)
        temp = (idx * KNUTH) % 4294967296 % TEMP_MOD + TEMP_OFF
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(idx, type=pa.int64()),
                pa.array((idx % self.n_sensors).astype(np.int32), type=pa.int32()),
                pa.array(BASE_US + idx * INTERVAL_US, type=pa.int64()),
                pa.array(temp.astype(np.int32), type=pa.int32()),
            ],
            names=["reading_id", "sensor_id", "ts_us", "temp_centi"],
        )
        return iter([batch]) if batch.num_rows else iter([])


class SensorStreamReader(SimpleDataSourceStreamReader):
    """START-DRIVEN offset progression (`read(start)` returns the next
    chunk AND the next offset): Spark passes the CHECKPOINTED offset on
    restart, so exactly-once across restarts holds by construction.

    The first cut of this reader kept a process-local cursor behind
    `DataSourceStreamReader.latestOffset()` — measured to VIOLATE
    exactly-once on restart (the fresh process's cursor restarts at 0,
    the engine trusts the stale offsets, and a mid-feed restart
    re-emitted 16k duplicate rows; pinned by
    `test_pyds_stream_restart_exactly_once`).  A latestOffset-style
    reader is only restart-safe when the offset is derived from the
    external system itself, which a synthetic feed does not have —
    hence the simple reader, whose progression state lives in Spark's
    offset WAL, not in the reader.  (Caveat per the API contract:
    `read` runs on the driver — right for this feed's demo rate; the
    PARTITIONED batch reader above is the high-throughput path.)"""

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 100_000))
        self.n_sensors = int(options.get("n_sensors", 50))
        self.rows_per_batch = int(options.get("rows_per_batch", 20_000))

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start: dict):
        lo = start["offset"]
        hi = min(lo + self.rows_per_batch, self.n_rows)
        # iter(list), not a generator: the engine's prefetch cache
        # copy.copy()s the returned iterator for batch replay, and
        # generators are not copyable (list iterators are)
        return iter(list(gen_rows(lo, hi, self.n_sensors))), {"offset": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # failure recovery: deterministic re-read of a WAL'd batch
        return iter(list(gen_rows(start["offset"], end["offset"], self.n_sensors)))

    def commit(self, end: dict) -> None:
        pass  # offsets are derivable; nothing external to ack


class SensorDataSource(DataSource):
    """`rtbd_sensors`: options n_rows, n_sensors, n_partitions
    (batch), rows_per_batch (streaming)."""

    @classmethod
    def name(cls) -> str:
        return "rtbd_sensors"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> SensorBatchReader:
        return SensorBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SensorStreamReader:
        return SensorStreamReader(self.options)


def register(spark) -> None:
    """Idempotent format registration.  Also enables the (runtime-
    settable) Python-source filter-pushdown flag: Spark refuses to plan
    a reader that implements `pushFilters` while the flag is off, so
    registration without it would leave a format that errors on read."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SensorDataSource)


# --- transactional SINK: manifest-committed parquet -------------------------
#
# The write half of the connector story (SURVEY §2.1 S5/S6): the JDBC
# sink is environment-gated, but the two-phase-commit CONTRACT it needs
# is executable here.  Executors write parquet part files under
# `_uncommitted_` names and return a `WriterCommitMessage` per task; the
# driver's `commit()` atomically publishes a manifest listing exactly
# the committed files (rename-free: readers only trust the manifest),
# and `abort()` deletes the orphans.  A reader that joins the manifest
# therefore sees all-or-nothing job output — the same
# visible-only-after-commit semantics a transactional JDBC/Delta sink
# provides, value-hash-checked by `pyds_sink_roundtrip`.

import dataclasses
import json as _json


@dataclasses.dataclass
class PartFileCommit(WriterCommitMessage):
    filename: str
    n_rows: int


def _spark_to_arrow_schema(spark_schema):
    """The Spark StructType the engine hands the writer, as an Arrow
    schema (the inverse of `_arrow_to_ddl`, over the same supported
    column set).  Returns None when any field falls outside the mapping
    — the caller then uses value inference, never a wrong type."""
    import pyarrow as pa
    from pyspark.sql import types as T

    mapping = [
        (T.LongType, pa.int64()),
        (T.IntegerType, pa.int32()),
        (T.ShortType, pa.int16()),
        (T.ByteType, pa.int8()),
        (T.DoubleType, pa.float64()),
        (T.FloatType, pa.float32()),
        (T.StringType, pa.string()),
        (T.BooleanType, pa.bool_()),
        (T.BinaryType, pa.binary()),
        (T.DateType, pa.date32()),
        (T.TimestampType, pa.timestamp("us")),
    ]
    fields = []
    for f in spark_schema.fields:
        for st, at in mapping:
            if type(f.dataType) is st:
                # ALWAYS nullable (round-8 ADVICE, medium): Spark's
                # nullable=False is advisory and occasionally wrong
                # (joins, UDF outputs), and Arrow's from_pylist does NOT
                # validate nullability — a None in a required int64
                # column silently round-trips as 0.  Parquet optional
                # columns cost nothing and Spark re-infers nullability
                # on read, so required-ness buys nothing here.
                fields.append(pa.field(f.name, at, nullable=True))
                break
        else:
            return None
    return pa.schema(fields)


def _write_part(path: str, iterator, schema=None) -> PartFileCommit:
    """Task-side part write shared by the batch and streaming writers:
    rows land in an underscore-hidden (uncommitted) parquet file.

    Rows stream through a BOUNDED chunk buffer (64k rows -> one parquet
    row group via an incremental ParquetWriter) instead of materializing
    the whole task partition as Python dicts — the un-chunked version
    OOM'd the probe harness at 2M rows/task (PERF.md, "Lakehouse CoW-verb
    scale probe"), and at 100 TB task partitions are sized by bytes, not
    by what a Python list can hold.

    Schema handling: the REAL writers pass the table's Arrow `schema`
    (from the engine's StructType via `_spark_to_arrow_schema`), so
    every chunk — all-null prefixes included — streams against the true
    types and one task's null skew can never stamp a type that disagrees
    with its sibling part files.  Schema-less direct calls (probes,
    tests) fall back to first-chunk inference; a null-typed first chunk
    buffers Arrow tables until a later chunk types every column (then
    pins, flushes the buffer through the writer, and resumes streaming),
    and a column null across the WHOLE partition is stamped string —
    the documented harness-mode guess the schema'd path never makes."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    fname = f"_uncommitted_{uuid.uuid4().hex}.parquet"
    os.makedirs(path, exist_ok=True)
    full = os.path.join(path, fname)
    chunk_rows = 65536
    writer = None  # lazy: a zero-row task must leave NO file behind
    buffered: list[pa.Table] = []
    n_rows = 0
    batch: list[dict] = []

    def flush() -> None:
        nonlocal writer, schema, n_rows
        if not batch:
            return
        if schema is not None:
            if writer is None:
                writer = pq.ParquetWriter(full, schema)
            writer.write_table(pa.Table.from_pylist(batch, schema=schema))
        else:
            table = pa.Table.from_pylist(batch)
            buffered.append(table)
            merged = (
                table
                if len(buffered) == 1
                else pa.concat_tables(buffered, promote_options="permissive")
            )
            if not any(pa.types.is_null(f.type) for f in merged.schema):
                # every column typed: pin, drain the buffer, stream on
                schema = merged.schema
                writer = pq.ParquetWriter(full, schema)
                writer.write_table(merged)
                buffered.clear()
        n_rows += len(batch)
        batch.clear()

    for r in iterator:
        batch.append(r.asDict())
        if len(batch) >= chunk_rows:
            flush()
    flush()
    if writer is not None:
        writer.close()
    elif buffered:
        merged = pa.concat_tables(buffered, promote_options="permissive")
        # schema-less mode, column null across the whole partition:
        # stamp a concrete type so footer reads see a real schema
        merged = merged.cast(
            pa.schema(
                [
                    pa.field(f.name, pa.string() if pa.types.is_null(f.type) else f.type)
                    for f in merged.schema
                ]
            )
        )
        pq.write_table(merged, full)
    return PartFileCommit(filename=fname if n_rows else "", n_rows=n_rows)


def _footer_stats(path: str, files: list[str]) -> dict:
    """Per-file min/max column statistics read from the parquet FOOTERS
    of just-committed part files (metadata only — no data pages touched;
    bounded driver work, one footer per file).  These land in the
    manifest so readers can do FILE SKIPPING: a predicate on a stats'd
    column prunes every file whose [min, max] cannot overlap it — the
    same zone-map contract Iceberg manifests / Delta file stats /
    parquet row-group pruning provide, now at the table-format layer of
    this sink.  Only int/float leaf columns with complete row-group
    stats are recorded; files or columns without stats simply stay
    un-prunable (safe default)."""
    import os

    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for fn in files:
        meta = pq.ParquetFile(os.path.join(path, fn)).metadata
        cols: dict[str, list] = {}
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                st = col.statistics
                name = col.path_in_schema
                if st is None or not st.has_min_max or "." in name:
                    cols[name] = None  # no/partial stats -> not prunable
                    continue
                mn, mx = st.min, st.max
                if not isinstance(mn, (int, float)) or isinstance(mn, bool):
                    cols[name] = None
                    continue
                if name in cols:
                    if cols[name] is None:
                        continue
                    cols[name] = [min(cols[name][0], mn), max(cols[name][1], mx)]
                else:
                    cols[name] = [mn, mx]
        out[fn] = {k: v for k, v in cols.items() if v is not None}
    return out


# --- chunked file lists (Iceberg manifest-list shape) -------------------------
#
# Small tables inline `files` / `stats` / `file_columns` in every
# versioned manifest, exactly as before.  Past `_MANIFEST_INLINE_MAX`
# files, a commit EXTERNALIZES them into immutable `_filelist-*.json`
# chunks (≤ `_MANIFEST_INLINE_MAX` files each) and the manifest records
# only the chunk names — so an append's metadata write is O(new files +
# F/chunk) instead of O(F), and UNCHANGED chunks are REUSED across
# commits (a chunk is reusable iff every file it lists survives into
# the new snapshot; part files and their footer stats are immutable, so
# subset survival is the whole reuse condition).  At F ~ 10^5 this is
# the difference between every commit rewriting a ~10-100 MB JSON and
# writing a few KB (the round-8 verdict's "known compaction" item in
# the MoR docstring).  Readers resolve chunks back into the flat
# {files, stats, file_columns} form behind the SAME snapshot API —
# chunk files are immutable and cached per-process, and resolved
# snapshots are memoized by (path, mtime, size), so repeat head reads
# cost O(1) after the first touch.  Losing committers can orphan
# chunks (written before the claim, like part files); `vacuum` removes
# chunk files no surviving manifest references, under the same
# retention grace as parts.

_MANIFEST_INLINE_MAX = 2048  # tests monkeypatch this down to force chunking
_CHUNK_CACHE: dict[str, dict] = {}  # abs chunk path -> parsed chunk (immutable)
_RESOLVED_CACHE: dict[tuple, dict] = {}  # (abs manifest path, mtime_ns, size) -> resolved


def _load_chunk(path: str, cname: str) -> dict:
    import os

    key = os.path.join(os.path.abspath(path), cname)
    chunk = _CHUNK_CACHE.get(key)
    if chunk is None:
        with open(os.path.join(path, cname)) as f:
            chunk = _json.load(f)
        if len(_CHUNK_CACHE) > 256:  # bounded: FIFO eviction
            _CHUNK_CACHE.pop(next(iter(_CHUNK_CACHE)))
        _CHUNK_CACHE[key] = chunk
    return chunk


def _resolve_manifest(path: str, raw: dict) -> dict:
    """Inline manifests pass through untouched; external ones merge
    their chunks into the flat form every verb and reader consumes.
    The chunk refs stay on the resolved dict (stripped keys would lose
    the reuse hints `{**head, ...}` manifests carry into the next
    commit's externalize)."""
    if not raw.get("files_external") or "files" in raw:
        return raw
    files: list[str] = []
    stats: dict = {}
    fcols: dict = {}
    for cname in raw.get("file_chunks", []):
        chunk = _load_chunk(path, cname)
        files.extend(chunk["files"])
        stats.update(chunk.get("stats", {}))
        fcols.update(chunk.get("file_columns", {}))
    return {**raw, "files": sorted(files), "stats": stats, "file_columns": fcols}


def _load_manifest_file(path: str, filename: str) -> dict:
    """Load + chunk-resolve one manifest JSON, memoized for immutable
    versioned entries (`_manifest-v{N}.json` is write-once by the OCC
    claim; the mtime+size key guards against a recreated table reusing
    the same path)."""
    import os

    full = os.path.join(path, filename)
    st = os.stat(full)
    key = (os.path.abspath(full), st.st_mtime_ns, st.st_size)
    hit = _RESOLVED_CACHE.get(key)
    if hit is not None:
        return hit
    with open(full) as f:
        raw = _json.load(f)
    resolved = _resolve_manifest(path, raw)
    if raw.get("files_external"):  # memoize only where resolution costs
        if len(_RESOLVED_CACHE) > 64:
            _RESOLVED_CACHE.pop(next(iter(_RESOLVED_CACHE)))
        _RESOLVED_CACHE[key] = resolved
    return resolved


def _externalize_files(path: str, manifest: dict) -> tuple[dict, list[str]]:
    """Commit-side inverse of `_resolve_manifest`: decide inline vs
    chunked for a flat manifest dict, reusing any still-valid chunks
    named by the dict's carried hints or the current raw ledger head.
    Returns (manifest, newly_written_chunk_names) — the claim deletes
    the new chunks if it loses, so a 64-attempt contention loop can't
    accumulate one orphan chunk set per failed attempt (reused chunks
    belong to committed versions and are never touched).

    Reuse-liveness argument (why a reused chunk can never be a
    vacuumed-away file): hints come from the snapshot the verb planned
    against.  If that snapshot is still the ledger head at claim time,
    vacuum cannot have expired it (the head always survives), so its
    chunks are on disk; if any commit advanced the head in between, the
    claim LOSES on the version collision and the retry re-plans with
    fresh hints.  A winning manifest therefore only ever references
    chunks of the live head plus its own new writes."""
    import os
    import uuid as _uuid

    files = manifest.get("files")
    flat = {k: v for k, v in manifest.items() if k not in ("files_external", "file_chunks")}
    if files is None or len(files) <= _MANIFEST_INLINE_MAX:
        return flat, []
    fset = set(files)
    stats = manifest.get("stats", {})
    fcols = manifest.get("file_columns", {})
    candidates = list(manifest.get("file_chunks", []))
    prev_raw = _latest_snapshot_raw(path)
    if prev_raw:
        candidates += [c for c in prev_raw.get("file_chunks", []) if c not in candidates]
    kept: list[str] = []
    covered: set[str] = set()
    # Small-chunk MERGE rule (Iceberg's min-count-to-merge): only
    # chunks at least half-full are reused verbatim; smaller ones fold
    # their files back into the leftover repack.  Without this, every
    # 1-file append mints one tiny chunk forever and the chunk count
    # grows O(commits) — the contention probe measured 81 chunk files
    # after ~85 commits at F=10k.  With it, the steady state is
    # ~F/chunk full chunks plus one rewritten tail.
    min_reuse = max(1, _MANIFEST_INLINE_MAX // 2)
    for cname in candidates:
        try:
            chunk = _load_chunk(path, cname)
        except FileNotFoundError:
            continue
        cf = chunk["files"]
        if len(cf) >= min_reuse and covered.isdisjoint(cf) and fset.issuperset(cf):
            kept.append(cname)
            covered.update(cf)
    leftover = sorted(fset - covered)
    new_chunks: list[str] = []
    for i in range(0, len(leftover), _MANIFEST_INLINE_MAX):
        part = leftover[i : i + _MANIFEST_INLINE_MAX]
        cname = f"_filelist-{_uuid.uuid4().hex[:12]}.json"
        payload = {
            "files": part,
            "stats": {fn: stats[fn] for fn in part if fn in stats},
            "file_columns": {fn: fcols[fn] for fn in part if fn in fcols},
        }
        tmp = os.path.join(path, cname + ".tmp")
        with open(tmp, "w") as f:
            _json.dump(payload, f)
        os.replace(tmp, os.path.join(path, cname))
        new_chunks.append(cname)
    for k in ("files", "stats", "file_columns"):
        flat.pop(k, None)
    flat["files_external"] = True
    flat["file_chunks"] = kept + new_chunks
    flat["n_files"] = len(files)
    return flat, new_chunks


def _ledger_head_version(path: str) -> int | None:
    """Highest committed ledger version.  Fast path: the head-pointer
    cache's version is never AHEAD of the ledger (it is written after
    the claim), only possibly behind (crash between claim and pointer
    move, or a racer's slower pointer write) — so start there and probe
    upward file-by-file: O(1 + lag) `exists` checks instead of an
    O(dir entries) listdir.  At F~10^4 part files per directory the
    listdir was the dominant cost of EVERY snapshot read (the
    contention probe measured ~400 ms/commit, mostly ledger
    discovery).  Falls back to the full scan when there is no usable
    head cache (fresh table, legacy layout, or the cached version was
    vacuumed away)."""
    import os

    head = os.path.join(path, "manifest.json")
    v = None
    try:
        with open(head) as f:
            v = _json.load(f).get("version")
    except (FileNotFoundError, ValueError):
        pass
    if isinstance(v, int) and v >= 1 and os.path.exists(
        os.path.join(path, f"_manifest-v{v}.json")
    ):
        while os.path.exists(os.path.join(path, f"_manifest-v{v + 1}.json")):
            v += 1
        return v
    import re

    pat = re.compile(r"^_manifest-v(\d+)\.json$")
    try:
        versions = [int(m.group(1)) for fn in os.listdir(path) if (m := pat.match(fn))]
    except FileNotFoundError:
        return None
    return max(versions) if versions else None


def _latest_snapshot_raw(path: str) -> dict | None:
    """Newest committed ledger entry WITHOUT chunk resolution — the
    committers' reuse-hint source and the head-pointer heal content
    (healing with a resolved dict would inline an O(F) file list back
    into `manifest.json` on every commit)."""
    import os

    v = _ledger_head_version(path)
    if v is not None:
        with open(os.path.join(path, f"_manifest-v{v}.json")) as f:
            return _json.load(f)
    head = os.path.join(path, "manifest.json")
    if os.path.exists(head):
        with open(head) as f:
            return _json.load(f)
    return None


def _latest_snapshot(path: str) -> dict | None:
    """Newest COMMITTED snapshot: the highest `_manifest-v*.json` (the
    ledger — versioned entries are the commit truth, the head pointer is
    a convenience cache), else the head, else None.  Chunk-resolved:
    callers always see the flat {files, stats, file_columns} form."""
    import os

    v = _ledger_head_version(path)
    if v is not None:
        return _load_manifest_file(path, f"_manifest-v{v}.json")
    head = os.path.join(path, "manifest.json")
    if os.path.exists(head):
        with open(head) as f:
            return _resolve_manifest(path, _json.load(f))
    return None


def _head_snapshot(path: str, version: int | None = None) -> dict:
    """Snapshot for READ paths: an explicit `version` loads that
    immutable manifest; otherwise the LEDGER head via `_latest_snapshot`
    — never the manifest.json convenience cache, which can lag one
    version after a crash between claim and head-pointer update (the
    ledger is the commit truth; the cache is healed on the next commit
    but readers must not wait for it).  Raises FileNotFoundError on a
    missing table/version, matching the old open() behavior."""
    import os

    if version is not None:
        return _load_manifest_file(path, f"_manifest-v{version}.json")
    head = _latest_snapshot(path)
    if head is None:
        raise FileNotFoundError(f"no manifest at {path}")
    return head


def _parse_ddl(ddl: str) -> list[tuple[str, str]]:
    """Split a sink-family DDL string ('name type, name type, …') into
    (name, type) pairs — the ONE parser for every schema_ddl consumer,
    kept in lockstep with `_arrow_to_ddl`'s emission.  Splits on the
    LAST space of each fragment (type names are single tokens, column
    names may contain spaces) and refuses malformed fragments loudly —
    a 1-tuple here used to surface as an opaque unpack ValueError in
    whichever consumer hit it first."""
    parts: list[tuple[str, str]] = []
    for frag in ddl.split(", "):
        name_type = frag.strip().rsplit(" ", 1)
        if len(name_type) != 2 or not name_type[0] or not name_type[1]:
            raise ValueError(
                f"malformed schema_ddl fragment {frag!r} in {ddl!r}: "
                "expected '<name> <type>' pairs separated by ', '"
            )
        parts.append((name_type[0], name_type[1]))
    return parts


def _logical_schema_ddl(path: str, manifest: dict) -> str | None:
    """The snapshot's LOGICAL schema as a DDL string: the first file's
    footer names with the rename log replayed over them (same per-file
    rule as the readers; driver-side metadata only).  None when the
    snapshot has no files and no recorded `schema_ddl` to fall back on."""
    import os

    import pyarrow.parquet as pq

    files = manifest.get("files") or []
    if not files:
        return manifest.get("schema_ddl")
    ddl = _arrow_to_ddl(pq.read_schema(os.path.join(path, files[0])))
    renames = manifest.get("renames", [])
    if renames:
        parts = _parse_ddl(ddl)
        cur = {n for n, _t in parts}
        for r in renames:
            if r["from"] in cur:
                parts = [(r["to"] if n == r["from"] else n, t) for n, t in parts]
                cur.discard(r["from"])
                cur.add(r["to"])
        ddl = ", ".join(f"{n} {t}" for n, t in parts)
    return ddl


def _claim_and_publish(path: str, manifest: dict) -> bool:
    """OPTIMISTIC CONCURRENCY commit: atomically CLAIM
    `_manifest-v{N}.json` via hard-link creation — `os.link` both fails
    if the name exists AND materializes the fully-written content in
    one step, so exactly ONE committer owns each version and no reader
    can ever observe a partial manifest (Delta's log-entry
    mutual-exclusion rule, on a plain filesystem).  Two racing writers
    previously both computed version N and the second `os.replace`
    silently clobbered the first — committed files orphaned with no
    error; with the claim, the loser gets False and must RECOMPUTE
    against the new snapshot and retry at N+1.  After claiming, the
    head pointer is moved and any momentary regression (a slower racer
    publishing an older head last) is HEALED by re-pointing at the
    true newest version."""
    import os
    import uuid

    # a commit that EMPTIES the file list (a delete removing every row,
    # an empty overwrite) records the table's logical schema so the
    # empty snapshot stays readable — derived from the pre-commit head
    # at the single commit gate, so every verb gets it without knowing.
    # DELETE FROM t must leave a readable, schema-stable empty table.
    # RESTORE/CLONE manifests are exempt: they copy their TARGET
    # snapshot's state verbatim — if the target was a schema-less empty
    # snapshot, deriving from the CURRENT head would stamp the wrong
    # naming epoch onto it (exactly what their explicit schema_ddl
    # propagation exists to prevent), so the restored state must stay
    # schema-less instead of inheriting the head's schema.
    if (
        not manifest.get("files")
        and "schema_ddl" not in manifest
        and manifest.get("op") not in ("restore", "clone")
    ):
        prev = _latest_snapshot(path)
        try:
            ddl = _logical_schema_ddl(path, prev) if prev else None
        except ValueError:
            # a column type outside _arrow_to_ddl's DDL set (inference-
            # fallback writes allow more than the sink family emits):
            # the emptying commit must still SUCCEED — the empty read
            # then fails with the documented no-recorded-schema error
            ddl = None
        if ddl is not None:
            manifest["schema_ddl"] = ddl
    # past the inline threshold, the file list externalizes into reused
    # +new `_filelist-*` chunks here — the single commit gate, so every
    # verb and writer gets chunking without knowing about it.  A loser's
    # freshly-written chunks are orphans exactly like its part files;
    # vacuum reclaims both.
    manifest, new_chunks = _externalize_files(path, manifest)
    versioned = os.path.join(path, f"_manifest-v{manifest['version']}.json")
    tmpc = f"{versioned}.claim-{uuid.uuid4().hex}"
    with open(tmpc, "w") as f:
        _json.dump(manifest, f)
    try:
        os.link(tmpc, versioned)
    except FileExistsError:
        os.remove(tmpc)
        # loser cleanup: chunks written for THIS attempt are unlisted
        # orphans (retry re-externalizes against the winner's head);
        # reused chunks belong to committed versions and stay
        for cn in new_chunks:
            try:
                os.remove(os.path.join(path, cn))
            except FileNotFoundError:
                pass
        return False
    os.remove(tmpc)
    head = os.path.join(path, "manifest.json")
    tmp = os.path.join(path, f"_manifest-head-v{manifest['version']}.tmp")
    with open(tmp, "w") as f:
        _json.dump(manifest, f)
    os.replace(tmp, head)
    latest = _latest_snapshot_raw(path)
    if latest is not None and latest.get("version", 0) > manifest["version"]:
        tmp2 = tmp + ".heal"
        with open(tmp2, "w") as f:
            _json.dump(latest, f)
        os.replace(tmp2, head)
    return True


class ManifestParquetWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool, schema=None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("rtbd_manifest_sink requires a path option")
        self.overwrite = overwrite
        # the engine's StructType, mapped to Arrow so every task chunk
        # streams against the TRUE types (see _write_part); None when a
        # type falls outside the supported set (inference fallback)
        self.arrow_schema = _spark_to_arrow_schema(schema) if schema is not None else None
        # WAP (write-audit-publish): staged=true commits the snapshot to
        # `_staged-manifest.json` WITHOUT moving the head pointer —
        # readers of the table see nothing until `publish_staged`
        # promotes it (or `discard_staged` deletes it after a failed
        # audit).  Same two-phase task contract either way.
        self.staged = str(options.get("staged", "false")).lower() == "true"

    def write(self, iterator):
        return _write_part(self.path, iterator, self.arrow_schema)

    def commit(self, messages):
        import os

        # Underscore-prefixed files are invisible to Spark's parquet
        # reader (its hidden-file rule) — exactly right while tasks are
        # in flight.  Commit = rename each part to a visible name, then
        # atomically publish the manifest that lists them.
        #
        # SNAPSHOT VERSIONING (Iceberg/Delta-style): each commit also
        # writes an immutable `_manifest-v{N}.json` whose file list is
        # CUMULATIVE over the previous version (append semantics), so
        # `read_manifest(version=k)` is a time-travel read of the table
        # as of commit k, and concurrent readers of version k never see
        # a later commit's files — snapshot isolation from nothing but
        # atomic renames.
        files = []
        for m in messages:
            if m is not None and m.filename:
                visible = m.filename.replace("_uncommitted_", "part-", 1)
                os.replace(
                    os.path.join(self.path, m.filename),
                    os.path.join(self.path, visible),
                )
                files.append(visible)
        # Version numbering ALWAYS continues from the latest snapshot —
        # overwrite only resets the cumulative file list/row count, never
        # the version counter.  (Resetting to v1 would clobber the
        # immutable _manifest-v1.json, breaking the snapshot contract:
        # older versioned manifests must stay readable forever, and an
        # overwrite's prior part files remain on disk precisely so
        # time-travel reads of pre-overwrite versions keep working.)
        #
        # The build-then-claim loop is the OPTIMISTIC CONCURRENCY
        # protocol: each attempt recomputes the manifest against the
        # NEWEST snapshot, then tries to claim its version atomically
        # (`_claim_and_publish`); a lost race means another commit
        # landed first, so the cumulative lists are stale and must be
        # rebuilt — never blind-retried.
        new_stats = _footer_stats(self.path, files)
        new_cols = _footer_columns(self.path, files)
        n_new_rows = sum(m.n_rows for m in messages if m is not None)
        manifest = None
        for _attempt in range(64):
            prev = _latest_snapshot(self.path)
            prev_version = prev.get("version", 0) if prev else 0
            if prev is not None and not self.overwrite:
                prev_files, prev_rows = prev["files"], prev["n_rows"]
                prev_stats = prev.get("stats", {})
                prev_cols = prev.get("file_columns", {})
            else:
                prev_files, prev_rows, prev_stats, prev_cols = [], 0, {}, {}
            manifest = {
                "version": prev_version + 1,
                "files": sorted(prev_files + files),
                "n_rows": prev_rows + n_new_rows,
                "stats": {**prev_stats, **new_stats},
                # per-file column-name cache: verb planning reads THIS,
                # not O(F) footers (carried like stats; reset on overwrite)
                "file_columns": {**prev_cols, **new_cols},
                # the rename log is TABLE metadata: every APPEND carries
                # it forward or renamed columns would silently revert.
                # An OVERWRITE replaces every data file, so the old
                # files' read-side mappings are cleared: a stale rename
                # entry could otherwise MIS-rename a new file that
                # legitimately reintroduces the old column name, and a
                # stale eq-delete scopes to files no longer in the
                # snapshot (the overwrite's input was read logically, so
                # pending deletes are already materialized in its rows).
                # Time-travel readers of pre-overwrite versions use those
                # versions' own manifests, which retain their metadata.
                "renames": [] if self.overwrite else (prev or {}).get("renames", []),
                "eq_deletes": []
                if self.overwrite
                else (prev or {}).get("eq_deletes", []),
                # CHECK constraints are table metadata: every commit
                # carries them forward AND is validated against them
                "constraints": (prev or {}).get("constraints", []),
                # the STREAMING EPOCH LEDGER is table metadata too: any
                # commit that dropped it would blind the stream writer's
                # replay guard and double-count a replayed epoch (carried
                # even across overwrite — the epoch WAS processed; the
                # overwrite deliberately replaced its rows)
                "batches": (prev or {}).get("batches", []),
                # op lets table-tailing consumers distinguish NEW DATA
                # from REWRITES: an overwrite (e.g. compaction) lists
                # replacement files whose rows were already emitted — a
                # change-feed that treated them as fresh would
                # double-count (Delta's dataChange=false flag, as a
                # commit-level op).
                "op": "overwrite" if self.overwrite else "append",
            }
            # A ZERO-FILE commit that REPLACES the table state (mode
            # 'overwrite', or the very first commit of a fresh table)
            # records the WRITER'S declared schema: an empty overwrite
            # resets the table to the new schema instead of reading
            # back under the old head's post-rename columns, and an
            # empty first write leaves a readable table.  The commit
            # gate's pre-commit-head derivation remains the fallback
            # for verbs that empty an EXISTING table in place (DELETE
            # FROM t), where the old schema is exactly right.  When the
            # writer's schema fell OUTSIDE the supported DDL set
            # (arrow_schema is None — inference fallback), an explicit
            # None marker is stamped instead: the commit gate must NOT
            # fall through to the stale pre-commit head (the round-9
            # bug #1 path — the reset would read back under the old
            # head's post-rename columns); the empty table instead
            # fails loudly with the documented no-recorded-schema
            # error on read.
            if not manifest["files"] and (self.overwrite or prev is None):
                manifest["schema_ddl"] = (
                    _arrow_to_ddl(self.arrow_schema)
                    if self.arrow_schema is not None
                    else None
                )
            # WRITE-TIME CHECK-CONSTRAINT enforcement (footer-stats
            # proof, never a data scan): a violating commit removes its
            # own parts and raises — the table is untouched.
            _enforce_constraints(
                self.path, files, manifest["constraints"], manifest.get("renames")
            )
            if self.staged:
                break
            if _claim_and_publish(self.path, manifest):
                return
        else:
            raise RuntimeError(
                "manifest commit contention: could not claim a version in 64 attempts"
            )
        if self.staged:
            # WAP: the snapshot exists on disk, carries the NEXT version
            # number, and is reachable only via the staged pointer —
            # audit queries read it explicitly; table readers (head /
            # versioned manifests) cannot see it until publish.
            staged_path = os.path.join(self.path, "_staged-manifest.json")
            with open(staged_path + ".tmp", "w") as f:
                _json.dump(manifest, f)
            os.replace(staged_path + ".tmp", staged_path)
            return

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except FileNotFoundError:
                    pass


class ManifestStreamWriter(DataSourceStreamWriter):
    """STREAMING side of the manifest sink — the exactly-once epoch
    commit discipline a custom streaming sink owes the engine: each
    micro-batch's tasks write underscore-hidden parts (same task
    contract as the batch writer), and the per-epoch driver `commit`
    (a) renames them visible, (b) publishes a new cumulative manifest
    version RECORDING THE BATCH ID, and (c) is IDEMPOTENT on batchId —
    a replayed epoch (restart after the sink committed but before the
    engine checkpointed) finds its batchId already in the manifest,
    deletes the replayed parts, and returns without changing the table.
    Without (c) a crash in that window double-counts the epoch — the
    streaming twin of the cursor bug the stream READER fixed in round 5
    (`cf289ab`).  `abort` deletes the epoch's uncommitted parts."""

    def __init__(self, options, schema=None):
        import hashlib
        import os

        self.path = options.get("path")
        if not self.path:
            raise ValueError("rtbd_manifest_sink requires a path option")
        self.arrow_schema = _spark_to_arrow_schema(schema) if schema is not None else None
        # Epoch-ledger SCOPE (round 12): batchIds are per-QUERY counters
        # (every engine query starts at 0), so a bare-batchId ledger
        # cross-dedups CONCURRENT queries writing the same table — the
        # second query's epoch 0 would be silently dropped as a
        # "replay" of the first's (found by the round-12
        # concurrent-streaming-sinks machine before any query hit it).
        # The checkpoint location is the engine's durable identity for
        # a query across restarts (the engine forwards it in the write
        # options, lowercased), so scoped ledger entries are
        # "<sha1(ckpt)[:12]>:<batchId>".  Writers constructed without a
        # checkpoint (direct API use, single-writer by definition) keep
        # the legacy bare-int entries.
        ckpt = options.get("checkpointlocation") or options.get("checkpointLocation")
        self.ledger_scope = (
            hashlib.sha1(os.path.abspath(ckpt).encode()).hexdigest()[:12]
            if ckpt
            else None
        )

    def write(self, iterator):
        return _write_part(self.path, iterator, self.arrow_schema)

    def _ledger_key(self, batchId: int):
        return f"{self.ledger_scope}:{batchId}" if self.ledger_scope else batchId

    def _replayed(self, batchId: int, batches: list) -> bool:
        """Is this epoch already in the table?  Scoped queries also match
        a legacy bare-int entry of the same batchId (pre-round-12 ledgers
        were written by checkpointed single-writer queries, so across an
        engine upgrade the int entry IS this query's own commit); direct
        unscoped writers never match scoped entries."""
        if self._ledger_key(batchId) in batches:
            return True
        return self.ledger_scope is not None and batchId in batches

    def commit(self, messages, batchId: int) -> None:
        import os

        files = None
        n_new_rows = sum(m.n_rows for m in messages if m is not None)
        for _attempt in range(64):
            prev = _latest_snapshot(self.path)
            prev_files = prev["files"] if prev else []
            prev_rows = prev["n_rows"] if prev else 0
            prev_version = prev.get("version", 0) if prev else 0
            batches = prev.get("batches", []) if prev else []
            if self._replayed(batchId, batches):
                # replayed epoch: the table already holds this batch —
                # drop the re-written parts, publish nothing.  The parts
                # may already carry their VISIBLE names: an epoch that
                # lost a claim to a concurrent committer of the SAME
                # batchId renamed them on attempt 1 and only discovers
                # the replay on retry — deleting by the stale
                # `_uncommitted_` names alone leaked the renamed files
                # forever (found by the round-9 concurrency model
                # machine on its first run).
                for fn in files or []:
                    try:
                        os.remove(os.path.join(self.path, fn))
                    except FileNotFoundError:
                        pass
                if files is None:
                    for m in messages:
                        if m is not None and m.filename:
                            try:
                                os.remove(os.path.join(self.path, m.filename))
                            except FileNotFoundError:
                                pass
                return
            if files is None:  # rename once; retries reuse the visible names
                files = []
                for m in messages:
                    if m is not None and m.filename:
                        visible = m.filename.replace(
                            "_uncommitted_", f"part-batch{batchId}-", 1
                        )
                        os.replace(
                            os.path.join(self.path, m.filename),
                            os.path.join(self.path, visible),
                        )
                        files.append(visible)
                new_stats = _footer_stats(self.path, files)
                new_cols = _footer_columns(self.path, files)
            manifest = {
                "version": prev_version + 1,
                "files": sorted(prev_files + files),
                "n_rows": prev_rows + n_new_rows,
                "batches": batches + [self._ledger_key(batchId)],
                "file_columns": {**((prev or {}).get("file_columns", {})), **new_cols},
                # footer stats per epoch commit give STREAMED tables the
                # same zone maps batch commits get (pruned reads, targeted
                # CoW deletes) — one footer read per new part, bounded
                "stats": {**((prev or {}).get("stats", {})), **new_stats},
                # explicit op (matches _append_deltas' containment
                # classification of epoch appends)
                "op": "append",
                "renames": (prev or {}).get("renames", []),
                "eq_deletes": (prev or {}).get("eq_deletes", []),
                "constraints": (prev or {}).get("constraints", []),
            }
            # per-epoch CHECK enforcement — same footer-stats proof as
            # the batch writer; a violating epoch fails the stream query
            # with the table untouched
            _enforce_constraints(
                self.path, files, manifest["constraints"], manifest.get("renames")
            )
            if _claim_and_publish(self.path, manifest):
                return
        raise RuntimeError(
            "manifest stream commit contention: could not claim a version in 64 attempts"
        )

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except FileNotFoundError:
                    pass


class ManifestSinkDataSource(DataSource):
    """`rtbd_manifest_sink`: option path=<dir>.  Batch writes via
    `ManifestParquetWriter`, streaming writes via `ManifestStreamWriter`
    (same on-disk contract, per-epoch versions)."""

    @classmethod
    def name(cls) -> str:
        return "rtbd_manifest_sink"

    def writer(self, schema: StructType, overwrite: bool) -> ManifestParquetWriter:
        return ManifestParquetWriter(self.options, overwrite, schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> ManifestStreamWriter:
        return ManifestStreamWriter(self.options, schema)


def _read_logical(
    spark,
    path: str,
    files: list[str],
    manifest: dict,
    merge_schema: bool = False,
    apply_deletes: bool = True,
):
    """Read a SUBSET of a snapshot's files as LOGICAL rows: the
    snapshot's rename log and pending merge-on-read eq-deletes are
    applied, restricted to the given file list.  This is the one
    logical-read path shared by head/time-travel reads AND the pruned /
    bloom-pruned / staged readers — handing `manifest['files']` straight
    to a parquet scan returns physically present but logically deleted
    rows (and pre-rename column names), so every reader routes here.

    Files group by (applicable renames, applicable eq-deletes) and each
    group reads once.  Renames are a per-file footer question
    (planning-time metadata, no data pages) replayed IN ORDER over the
    evolving name set so chained renames resolve; an eq-delete applies
    exactly to the files in its recorded snapshot list (rows appended
    later survive).  Renames apply before delete filters —
    `rename_column` refuses to rename a column with pending deletes, so
    delete predicates always reference current names.

    `apply_deletes=False` gives a RENAME-ONLY read of the physical rows
    (pending MoR deletes NOT filtered) — for consumers whose contract is
    a superset over any restorable state, like the Bloom index builders:
    a filter built excluding MoR-deleted values turns into a FALSE
    NEGATIVE after restore_table resurrects them (an index at version k
    serves every read at version >= k)."""
    import os

    if not files:
        # an emptied table (DELETE removed every file / empty overwrite)
        # reads as zero rows under the schema its emptying commit
        # recorded — a parquet scan over no paths cannot infer one
        ddl = manifest.get("schema_ddl")
        if ddl is None:
            raise RuntimeError(
                "cannot read an empty snapshot with no recorded schema "
                "(table emptied by a pre-schema_ddl commit?)"
            )
        return spark.createDataFrame([], ddl)
    fpaths = {fn: os.path.join(path, fn) for fn in files}
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    if not manifest.get("renames") and not manifest.get("eq_deletes"):
        # iterate `files`, not the dict: both paths must treat a
        # (pathological) duplicated filename identically
        return reader.parquet(*[fpaths[fn] for fn in files])
    from pyspark.sql import functions as F

    # per-file rules resolved by the ONE shared resolver (also feeds the
    # rtbd_manifest_table format reader) — files group by identical
    # (rename chain, delete predicates) and each group reads once
    meta = _file_logical_metadata(path, manifest, files)
    groups: dict[tuple, list[str]] = {}
    for fn in files:
        groups.setdefault(meta[fn], []).append(fpaths[fn])
    frames = []
    for (app, dels), fps in groups.items():
        df = reader.parquet(*fps)
        for old, new in app:
            df = df.withColumnRenamed(old, new)
        for col, lo, hi in dels if apply_deletes else ():
            # NULL-safe (round-8 ADVICE): a NULL delete-column value
            # does not match the range predicate, so the row SURVIVES —
            # bare ~between() evaluates to NULL and silently drops it
            df = df.filter(F.col(col).isNull() | ~F.col(col).between(lo, hi))
        frames.append(df)
    out = frames[0]
    for extra in frames[1:]:
        out = out.unionByName(extra, allowMissingColumns=merge_schema)
    return out


def read_manifest(spark, path: str, version: int | None = None, merge_schema: bool = False):
    """Reader side of the contract: only manifest-listed files exist to
    the query — uncommitted/aborted orphans are invisible.  With
    `version=k` this is a TIME-TRAVEL read: the table exactly as of
    commit k (immutable `_manifest-v{k}.json`), regardless of how many
    commits happened since.  With `merge_schema=True` the scan unifies
    the snapshot's per-file schemas (SCHEMA EVOLUTION: commits may add
    columns; older files surface nulls for them) instead of trusting
    one file's footer.  Rename-log and MoR-delete application live in
    `_read_logical` (shared with the pruned/staged readers)."""
    import os

    manifest = _head_snapshot(path, version)
    return _read_logical(spark, path, manifest["files"], manifest, merge_schema), manifest


def read_manifest_pruned(
    spark, path: str, col: str, lo, hi, version: int | None = None
):
    """STATS-PRUNED manifest read: only files whose manifest-recorded
    [min, max] for `col` can overlap the CLOSED interval [lo, hi] are
    handed to the parquet scan — file skipping from footer stats, the
    zone-map pruning a 100 TB table needs so a narrow predicate touches
    bytes proportional to the selected range, not the table.  Files with
    no recorded stats for `col` are always scanned (safe default), and
    the predicate itself must still be applied by the caller's plan —
    pruning is a superset guarantee, exactly like parquet row-group
    skipping.  Returns (df, n_files_scanned, n_files_total)."""
    import os

    manifest = _head_snapshot(path, version)
    stats = manifest.get("stats", {})
    keep = []
    for fn in manifest["files"]:
        s = stats.get(fn, {}).get(col)
        if s is None or (s[0] <= hi and s[1] >= lo):
            keep.append(fn)
    # the kept files still read LOGICALLY (rename log + pending MoR
    # deletes applied) — a pruned read of a table with eq-deletes must
    # not resurrect deleted rows (round-7 ADVICE finding)
    if keep:
        df = _read_logical(spark, path, keep, manifest)
    else:
        # fully pruned: an empty frame with the table's schema (footer
        # read only — limit(0) scans no data pages)
        df = _read_logical(spark, path, manifest["files"], manifest).limit(0)
    return df, len(keep), len(manifest["files"])


def build_bloom_index(
    spark, path: str, col: str, n_bits: int = 4096, n_hashes: int = 5,
    version: int | None = None,
) -> dict:
    """Build a PER-FILE BLOOM FILTER index over `col` for a manifest
    snapshot and persist it as an immutable sidecar
    `_bloom-{col}-v{N}.json` — the point-lookup complement to the
    min/max zone maps (`_footer_stats`): on a HASH-SCATTERED layout
    every file spans nearly the full value range, so [min, max] prunes
    nothing, but a Bloom probe skips every file whose filter provably
    excludes the value (Iceberg puffin blobs / Delta bloom indexes /
    parquet bloom filters, at this sink's table-format layer).

    The build is DISTRIBUTED: one scan computes the k=`n_hashes` bit
    positions per value (JVM-side `xxhash64(col, seed)` — k independent
    hashes via the seed column), dedups (file, position) pairs —
    bounded at n_files x n_bits — and folds each file's positions into
    a bitmap in an Arrow-batched `applyInPandas`; the driver only ever
    sees one ~n_bits/8-byte base64 string per file.  At very large file
    counts the sidecar would shard per manifest partition, same
    contract.  False positives only ever SCAN extra files (the caller's
    predicate still applies); false negatives are impossible for values
    present when the index was built.  Files committed AFTER the
    indexed snapshot have no entry and are always scanned — the same
    safe default as un-stats'd columns."""
    import base64
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    manifest = _head_snapshot(path, version)
    files = manifest["files"]
    # RENAME-ONLY logical read: `col` is a logical name — a raw scan of
    # files physically carrying pre-rename names cannot resolve it (the
    # builder-side twin of the round-7 pruned-reader fix).  Pending MoR
    # deletes are deliberately NOT applied: the filter must stay a
    # SUPERSET over every restorable state — an index built excluding a
    # deleted value false-negatives after restore_table resurrects it
    # (an index at version k serves every read at version >= k).
    # input_file_name() still resolves per row under the renames.
    df = _read_logical(spark, path, files, manifest, apply_deletes=False)
    dtype = df.schema[col].dataType.simpleString()
    probes = F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(n_bits)).cast("int")
            for i in range(n_hashes)
        ]
    )
    pairs = (
        df.select(F.input_file_name().alias("f"), F.explode(probes).alias("p"))
        .distinct()
    )

    def to_bitmap(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        p = pdf["p"].to_numpy()
        np.bitwise_or.at(bits, p // 8, (1 << (p % 8)).astype(np.uint8))
        return pd.DataFrame(
            {"f": [pdf["f"].iloc[0]], "b64": [base64.b64encode(bits.tobytes()).decode()]}
        )

    rows = pairs.groupBy("f").applyInPandas(to_bitmap, "f string, b64 string").collect()
    index = {
        "col": col,
        "dtype": dtype,
        "n_bits": n_bits,
        "n_hashes": n_hashes,
        "version": manifest["version"],
        "filters": {os.path.basename(r["f"]): r["b64"] for r in rows},
    }
    out = os.path.join(path, f"_bloom-{col}-v{manifest['version']}.json")
    with open(out + ".tmp", "w") as f:
        _json.dump(index, f)
    os.replace(out + ".tmp", out)
    return index


def refresh_bloom_index(spark, path: str, col: str) -> dict:
    """INCREMENTAL Bloom-index maintenance: bring the newest
    `_bloom-{col}-v*.json` sidecar up to the CURRENT head snapshot by
    computing bitmaps ONLY for files the old index has never seen —
    existing entries are carried over byte-identical (immutable part
    files mean an old filter never goes stale; delete/compaction
    commits drop files, and dropped entries are simply omitted).  Cost
    is proportional to the DELTA since the last index, not the table —
    the property that makes per-commit index maintenance affordable at
    100 TB, exactly like Iceberg's incremental puffin rewrites.  Writes
    a new sidecar at the head version and returns it; raises if no
    index exists yet (build_bloom_index is the bootstrap)."""
    import os
    import re

    manifest = _head_snapshot(path)
    pat = re.compile(rf"^_bloom-{re.escape(col)}-v(\d+)\.json$")
    cand = [int(m.group(1)) for fn in os.listdir(path) if (m := pat.match(fn))]
    if not cand:
        raise FileNotFoundError(
            f"no bloom index for column {col!r} at {path} — run build_bloom_index first"
        )
    with open(os.path.join(path, f"_bloom-{col}-v{max(cand)}.json")) as f:
        old = _json.load(f)
    new_files = [fn for fn in manifest["files"] if fn not in old["filters"]]
    live = set(manifest["files"])  # hoisted: not rebuilt per filter entry
    filters = {fn: b64 for fn, b64 in old["filters"].items() if fn in live}
    if new_files:
        import base64

        import pandas as pd
        from pyspark.sql import functions as F

        n_bits, n_hashes = old["n_bits"], old["n_hashes"]
        # rename-only read of just the delta files (same rules as the
        # bootstrap build — a stale-schema append after a rename must
        # index under the logical column; MoR deletes never excluded)
        df = _read_logical(spark, path, new_files, manifest, apply_deletes=False)
        probes = F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(n_bits)).cast("int")
                for i in range(n_hashes)
            ]
        )
        pairs = (
            df.select(F.input_file_name().alias("f"), F.explode(probes).alias("p"))
            .distinct()
        )

        def to_bitmap(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            bits = np.zeros(n_bits // 8, dtype=np.uint8)
            p = pdf["p"].to_numpy()
            np.bitwise_or.at(bits, p // 8, (1 << (p % 8)).astype(np.uint8))
            return pd.DataFrame(
                {
                    "f": [pdf["f"].iloc[0]],
                    "b64": [base64.b64encode(bits.tobytes()).decode()],
                }
            )

        rows = pairs.groupBy("f").applyInPandas(to_bitmap, "f string, b64 string").collect()
        filters.update({os.path.basename(r["f"]): r["b64"] for r in rows})
    index = {**old, "version": manifest["version"], "filters": filters}
    out = os.path.join(path, f"_bloom-{col}-v{manifest['version']}.json")
    with open(out + ".tmp", "w") as f:
        _json.dump(index, f)
    os.replace(out + ".tmp", out)
    return index


def read_manifest_bloom_pruned(spark, path: str, col: str, value, version: int | None = None):
    """BLOOM-PRUNED point-lookup read: only files whose Bloom filter for
    `col` can contain `value` are handed to the parquet scan.  Uses the
    NEWEST `_bloom-{col}-v{k}.json` sidecar with k <= the snapshot
    version; files without an entry (committed after the index was
    built, or no sidecar at all) are always scanned — pruning is a
    superset guarantee and the caller's plan must still apply the
    predicate, exactly like `read_manifest_pruned`.  The probe's bit
    positions come from a 1-row Spark job so the probe hash is
    BIT-IDENTICAL to the build hash (same JVM xxhash64 on the same
    type — the literal is cast to the indexed column's recorded dtype).
    Returns (df, n_files_scanned, n_files_total)."""
    import base64
    import os
    import re

    from pyspark.sql import functions as F

    manifest = _head_snapshot(path, version)
    pat = re.compile(rf"^_bloom-{re.escape(col)}-v(\d+)\.json$")
    cand = [
        int(m.group(1))
        for fn in os.listdir(path)
        if (m := pat.match(fn)) and int(m.group(1)) <= manifest["version"]
    ]
    files = manifest["files"]
    if not cand:
        df = _read_logical(spark, path, files, manifest)
        return df, len(files), len(files)
    with open(os.path.join(path, f"_bloom-{col}-v{max(cand)}.json")) as f:
        index = _json.load(f)
    n_bits, n_hashes = index["n_bits"], index["n_hashes"]
    probe = F.lit(value).cast(index["dtype"])
    pos_row = (
        spark.range(1)
        .select(
            *[
                F.pmod(F.xxhash64(probe, F.lit(i)), F.lit(n_bits)).cast("int").alias(f"p{i}")
                for i in range(n_hashes)
            ]
        )
        .first()
    )
    positions = [pos_row[i] for i in range(n_hashes)]
    keep = []
    for fn in files:
        b64 = index["filters"].get(fn)
        if b64 is None:
            keep.append(fn)  # post-index file: safe default, always scan
            continue
        bits = base64.b64decode(b64)
        if all(bits[p // 8] & (1 << (p % 8)) for p in positions):
            keep.append(fn)
    # logical read of the surviving files (renames + MoR deletes), same
    # contract as read_manifest_pruned
    if keep:
        df = _read_logical(spark, path, keep, manifest)
    else:
        df = _read_logical(spark, path, files, manifest).limit(0)
    return df, len(keep), len(files)


def optimize_zorder(
    spark, path: str, cols: tuple[str, str], bits: int = 8, n_files: int = 16
) -> dict:
    """OPTIMIZE ZORDER on the manifest table — the layout-rewrite verb
    (Delta OPTIMIZE ZORDER BY / Iceberg rewrite_data_files sort-order)
    that turns the min/max footer stats (`_footer_stats`) into a
    MULTI-column file skipper: read the current snapshot, interleave the
    bits of the two (numeric, mod 2^bits) clustering columns into a
    Morton z-value, range-repartition along it, and commit the rewritten
    files as an OVERWRITE (op records a rewrite: the change feed emits
    no rows — dataChange=false — and prior snapshots stay time-travel
    readable; VACUUM reclaims the old files later).  After the rewrite
    every file covers a ~sqrt-sized rectangle of the (col1, col2) grid,
    so `read_manifest_pruned` skips on BOTH dimensions where a
    single-key sort helps only one (the measured argument lives in
    `layout_zorder_stats`/`layout_hilbert_stats`; this applies it to
    the table format's own write path).

    CONCURRENCY: single-shot CoW discipline, like `delete_where` /
    `materialize_deletes` — the rewrite stages its files, then claims
    EXACTLY the version after the snapshot it read.  A commit landing
    in between loses the claim: the rewrite removes its staged files
    and raises `lost the commit race` (re-run to rewrite the new
    snapshot).  The previous implementation committed through the
    sink's blind-overwrite retry, which RE-CLAIMED at the new head and
    silently replaced a concurrent append's rows with the stale
    pre-append row set — Delta/Iceberg OPTIMIZE refuses on exactly
    this conflict (found by extending the true-thread races to mixed
    verb storms)."""
    import glob
    import os
    import shutil
    import uuid

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    assert len(cols) == 2, "z-order rewrite clusters exactly two columns"
    head = _latest_snapshot(path)
    assert head is not None, "optimize_zorder requires an existing table"
    if not head.get("files"):
        return head  # zero-file table: nothing to rewrite, no commit
    df = _read_logical(spark, path, head["files"], head)
    a, b = cols
    terms = []
    for i in range(bits):
        p = 1 << i
        terms.append(f"(((({a}) % {1 << bits}) div {p}) % 2) * {4 ** i}")
        terms.append(f"(((({b}) % {1 << bits}) div {p}) % 2) * {2 * 4 ** i}")
    z = df.withColumn("__z", F.expr(" + ".join(terms)))
    tok = uuid.uuid4().hex[:8]
    staging = os.path.join(path, f"_zorder_staging_{tok}")
    try:
        (
            z.repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(staging)
        )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)  # no staging residue
        raise
    next_v = head.get("version", 0) + 1
    new_files, n_rows = [], 0
    for i, part in enumerate(sorted(glob.glob(os.path.join(staging, "part-*")))):
        nr = _pq.ParquetFile(part).metadata.num_rows
        if nr == 0:
            continue  # never list zero-row files
        # 'z' is not a hex digit: the prefix cannot collide with
        # appended `part-{uuid4hex}` names (round-8 verdict rule)
        visible = f"part-zorder{next_v}-{tok}-{i:05d}.parquet"
        os.replace(part, os.path.join(path, visible))
        new_files.append(visible)
        n_rows += nr
    shutil.rmtree(staging, ignore_errors=True)
    manifest = {
        "version": next_v,
        "files": sorted(new_files),
        "n_rows": n_rows,
        "stats": _footer_stats(path, new_files),
        "file_columns": _footer_columns(path, new_files),
        # a rewrite restates rows already emitted: dataChange=false to
        # the change feed, exactly like compaction
        "op": "overwrite",
        # the input was read LOGICALLY: rename chains and pending MoR
        # deletes are materialized into the rewritten files
        "renames": [],
        "eq_deletes": [],
        "constraints": head.get("constraints", []),
        "batches": head.get("batches", []),
    }
    if not _claim_and_publish(path, manifest):
        for fn in new_files:
            try:
                os.remove(os.path.join(path, fn))
            except FileNotFoundError:
                pass
        raise RuntimeError(
            "optimize_zorder lost the commit race: the table changed during "
            "the rewrite — re-run against the new snapshot"
        )
    return manifest


def read_staged(spark, path: str):
    """Audit-side read of a WAP-staged snapshot (the staged pointer, not
    the head): the candidate table exactly as it would look after
    publish — including the carried-forward rename log and pending MoR
    deletes (the audit must see what publish would publish)."""
    import os

    with open(os.path.join(path, "_staged-manifest.json")) as f:
        manifest = _resolve_manifest(path, _json.load(f))
    return _read_logical(spark, path, manifest["files"], manifest), manifest


def publish_staged(path: str) -> dict:
    """Atomically promote the staged snapshot to the table head (the
    'publish' in write-audit-publish).  Refuses if another commit moved
    the head since the stage was written (version conflict — the staged
    snapshot's base is gone; re-stage on top of the new head)."""
    import os

    staged_path = os.path.join(path, "_staged-manifest.json")
    with open(staged_path) as f:
        manifest = _json.load(f)
    latest = _latest_snapshot(path)
    head_version = latest.get("version", 0) if latest else 0
    if manifest["version"] != head_version + 1:
        raise RuntimeError(
            f"staged snapshot v{manifest['version']} no longer applies: head is v{head_version}"
        )
    # the atomic publish is the same OCC claim every commit uses — a
    # commit racing between the check above and the claim loses cleanly
    if not _claim_and_publish(path, manifest):
        raise RuntimeError(
            f"staged snapshot v{manifest['version']} no longer applies: "
            "a concurrent commit claimed that version"
        )
    os.remove(staged_path)
    return manifest


def discard_staged(path: str) -> int:
    """Drop a staged snapshot after a failed audit: delete the part
    files ONLY the stage introduced, then the staged pointer.  "Its
    own" is decided by reference counting, not a head diff — a file is
    removed only if NO surviving versioned manifest (nor the head)
    lists it, so discarding a stale stage after unrelated commits,
    overwrites, or vacuums can never strand an older snapshot.
    Returns #files removed."""
    import glob
    import os

    staged_path = os.path.join(path, "_staged-manifest.json")
    with open(staged_path) as f:
        staged = _resolve_manifest(path, _json.load(f))
    referenced: set[str] = set()
    for mf in glob.glob(os.path.join(path, "_manifest-v*.json")) + [
        os.path.join(path, "manifest.json")
    ]:
        if os.path.exists(mf):
            with open(mf) as f:
                referenced.update(_resolve_manifest(path, _json.load(f))["files"])
    removed = 0
    for fn in staged["files"]:
        if fn not in referenced:
            try:
                os.remove(os.path.join(path, fn))
                removed += 1
            except FileNotFoundError:
                pass
    os.remove(staged_path)
    return removed


def delete_where(spark, path: str, col: str, lo, hi) -> dict:
    """ROW-LEVEL DELETE on the manifest table via COPY-ON-WRITE — the
    lakehouse `DELETE WHERE col BETWEEN lo AND hi` verb: manifest
    footer stats pick the files that can contain matching rows (the
    same zone-map pruning as `read_manifest_pruned`), ONLY those files
    are rewritten minus the deleted rows, and one commit publishes
    (untouched files + rewritten survivors) as the next version.  Files
    whose stats cannot overlap the predicate are never read or
    rewritten — at 100 TB a narrow delete touches bytes proportional to
    the deleted range, not the table.  The commit keeps the snapshot
    contract: version numbering continues, prior versioned manifests
    (and the pre-delete part files) stay readable, and the manifest
    `op` is `delete` — NOT `append` — so `read_change_feed` never
    emits survivor rewrites as fresh rows (insert-only CDF; a deletion
    change feed would carry the removed keys separately).  Survivor
    stats are recomputed from the new files' footers; untouched files
    keep their recorded stats.  Returns {n_deleted, n_files_rewritten,
    n_files_untouched, version}."""
    import glob
    import os
    import shutil
    import uuid

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    # plan against the LEDGER head, not the manifest.json convenience
    # cache: a crash between claim and head-pointer update leaves the
    # cache one version behind, and planning there guarantees losing
    # the OCC claim (or missing a just-committed file list)
    head = _latest_snapshot(path)
    assert head is not None, "delete_where requires an existing table"
    # zero-file snapshots (a delete emptied the table, or an empty
    # overwrite) have an EMPTY logical column union — the guard would
    # reject every column name; a delete there is a legitimate no-op
    # (same escape as add_check_constraint, round-8 ADVICE)
    cols = _logical_columns(path, head)
    if cols and col not in cols:
        raise RuntimeError(f"delete_where: no such column {col!r}")
    stats = head.get("stats", {})
    touched, untouched = [], []
    for fn in head["files"]:
        s = stats.get(fn, {}).get(col)
        (touched if s is None or (s[0] <= hi and s[1] >= lo) else untouched).append(fn)
    untouched_set = set(untouched)
    n_deleted, new_files, n_physical_removed = 0, [], 0
    # part-file names carry a uuid token: identity must never depend on
    # the raced version number, or two same-verb committers computing
    # the same next_v os.replace onto identical names before the OCC
    # claim resolves and the winner's manifest references clobbered data
    tok = uuid.uuid4().hex[:8]
    if touched:
        # victims read LOGICALLY (rename log + pending MoR deletes
        # applied, scoped to the touched files) — a raw read would
        # resurrect rows a delete_where_mor already removed, because
        # the carried eq-delete entries scope to the OLD file names
        victims = _read_logical(spark, path, touched, head)
        n_before = victims.count()
        # NULL-safe: rows with a NULL delete-column don't match the
        # range predicate and must survive the rewrite (round-8 ADVICE)
        survivors = victims.filter(F.col(col).isNull() | ~F.col(col).between(lo, hi))
        # staging dir carries the same uuid token as the part names:
        # two concurrent deletes sharing a fixed staging path clobber
        # each other's task files mid-write (caught by the round-7 OCC
        # concurrency test)
        staging = os.path.join(path, f"_delete_staging_{tok}")
        survivors.write.mode("overwrite").parquet(staging)
        next_v = head.get("version", 0) + 1
        n_surv = 0
        for i, part in enumerate(sorted(glob.glob(os.path.join(staging, "part-*")))):
            n_rows = _pq.ParquetFile(part).metadata.num_rows
            if n_rows == 0:
                continue  # empty task output: never list zero-row files
            n_surv += n_rows
            # verb prefix "del" cannot be a hex continuation of an
            # appended `part-{uuid4hex}` name ('l' is not a hex digit) —
            # the old `part-d{v}` prefix collided with ~1/16 of appends
            # (round-8 verdict: the genuinely-flaky round-7 scope test)
            visible = f"part-del{next_v}-{tok}-{i:05d}.parquet"
            os.replace(part, os.path.join(path, visible))
            new_files.append(visible)
        shutil.rmtree(staging, ignore_errors=True)
        n_deleted = n_before - n_surv
        # manifest n_rows stays PHYSICAL: the rewrite also materialized
        # any MoR-deleted rows in the touched files, so the physical
        # delta is (physical touched rows) - (surviving rows)
        n_physical_removed = (
            sum(
                _pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows
                for fn in touched
            )
            - n_surv
        )
    touched_set = set(touched)
    manifest = {
        "version": head.get("version", 0) + 1,
        "files": sorted(untouched + new_files),
        "n_rows": head["n_rows"] - n_physical_removed,
        "stats": {
            **{fn: stats[fn] for fn in untouched if fn in stats},
            **_footer_stats(path, new_files),
        },
        "file_columns": {
            # untouched-set hoisted: a per-iteration set() rebuild is the
            # O(F^2) planning class the round-8 ADVICE flagged
            **{fn: c for fn, c in head.get("file_columns", {}).items() if fn in untouched_set},
            **_footer_columns(path, new_files),
        },
        "op": "delete",
        "renames": head.get("renames", []),
        # rewritten files already had their applicable MoR deletes
        # materialized, so each carried entry drops them from its scope
        # (entries left with no files are fully materialized: drop them)
        "eq_deletes": [
            e
            for d in head.get("eq_deletes", [])
            if (e := {**d, "files": [fn for fn in d["files"] if fn not in touched_set]})[
                "files"
            ]
        ],
        "constraints": head.get("constraints", []),
        # the streaming epoch ledger is table metadata like renames —
        # dropping it would let a replayed epoch double-count
        "batches": head.get("batches", []),
        # the logical predicate travels with the commit so a change-feed
        # consumer can apply the same retention delete downstream (the
        # deletion half of CDC that an insert-only row feed cannot carry)
        "predicate": {"col": col, "lo": lo, "hi": hi},
    }
    # maintenance ops are OCC committers like any writer: claim or fail
    # loudly (the caller re-reads the new snapshot and re-plans the
    # delete — blind retry would delete against stale file lists).  A
    # loser removes its own rewritten files before raising — no manifest
    # lists them, so deleting them leaves the table untouched and spares
    # vacuum the orphans.
    if not _claim_and_publish(path, manifest):
        for fn in new_files:
            try:
                os.remove(os.path.join(path, fn))
            except FileNotFoundError:
                pass
        raise RuntimeError(
            f"delete_where lost the commit race for v{manifest['version']}: "
            "re-read the table and retry"
        )
    return {
        "n_deleted": n_deleted,
        "n_files_rewritten": len(touched),
        "n_files_untouched": len(untouched),
        "version": manifest["version"],
    }


def _logical_columns(path: str, head: dict) -> set[str]:
    """Current LOGICAL column set of a snapshot: union over data files
    of their footer schema names with each file's applicable rename
    chain applied (same hop-by-hop rule as `_file_logical_metadata`,
    so the guard agrees with what readers actually produce).  Metadata
    only: the manifest's `file_columns` cache (recorded at commit time)
    answers in O(F) dict lookups; files missing from the cache (legacy
    manifests) fall back to one footer read each."""
    import os

    import pyarrow.parquet as pq

    renames = head.get("renames", [])
    cache = head.get("file_columns", {})
    out: set[str] = set()
    for fn in head.get("files", []):
        names = cache.get(fn)
        if names is None:  # legacy manifest / staged path: one footer read
            names = pq.read_schema(os.path.join(path, fn)).names
        cur = set(names)
        for r in renames:
            if r["from"] in cur:
                cur.discard(r["from"])
                cur.add(r["to"])
        out |= cur
    if not out and head.get("schema_ddl"):
        # zero-file snapshot: the recorded logical schema still knows the
        # columns, so verb guards can catch typos on emptied tables
        # instead of skipping the check (tables emptied before schema_ddl
        # existed return the empty set — callers keep the old escape)
        out = {n for n, _t in _parse_ddl(head["schema_ddl"])}
    return out


def _check_rename_constraints(head: dict, old: str, new: str) -> None:
    """Shared from-/to-guards: CHECK-constraint predicates always
    reference current names, so renaming a constrained column — or
    renaming ONTO a constraint-referenced name, which would re-activate
    that constraint against data it never validated — refuses until the
    constraint is dropped."""
    if any(c["col"] == old for c in head.get("constraints", [])):
        raise RuntimeError(
            f"cannot rename {old!r}: CHECK constraints reference it — "
            "drop_check_constraint first (constraint predicates always use current names)"
        )
    if any(c["col"] == new for c in head.get("constraints", [])):
        # symmetric to-guard (found by the round-8 model machine's
        # state space): renaming ONTO a constraint-referenced name
        # re-activates that constraint against data the constraint
        # never validated — a rename-then-restore-then-rename chain
        # reaches it with the column's values outside the range
        raise RuntimeError(
            f"cannot rename {old!r} -> {new!r}: CHECK constraints reference "
            f"{new!r} — drop_check_constraint first or pick another name"
        )


def rename_column(path: str, old: str, new: str) -> dict:
    """METADATA-ONLY column rename on the manifest table — the schema
    evolution by-name reads cannot give you (rename the column and
    mergeSchema sees two unrelated columns; Iceberg solves it with
    field-id indirection, this format with an ordered RENAME Log in the
    manifest): no part file is touched, the commit just records
    {from, to} and readers apply the mapping to files written under the
    old name (`read_manifest` — per-file footer check at planning time,
    no data pages).  Renames compose in order, commit through the same
    OCC claim as every writer, and time-travel reads BEFORE the rename
    version see the old name — exactly Iceberg's contract."""
    for _attempt in range(64):
        head = _latest_snapshot(path)
        assert head is not None, "rename_column requires an existing table"
        cols = _logical_columns(path, head)
        if not head.get("files") and head.get("schema_ddl"):
            # ZERO-FILE table (emptied by a delete / empty overwrite):
            # the column-union guard below would refuse every name, but
            # the recorded logical schema says what exists.  The rename
            # edits the ddl AND still appends a rename-log entry — a
            # stale writer appending the OLD physical name later must
            # chain to the new one exactly like on a populated table.
            parts = _parse_ddl(head["schema_ddl"])
            names = {n for n, _t in parts}
            if old not in names:
                raise RuntimeError(
                    f"cannot rename {old!r}: no such column (current: {sorted(names)})"
                )
            if new in names:
                raise RuntimeError(
                    f"cannot rename {old!r} -> {new!r}: column {new!r} already exists — "
                    "the rename would produce duplicate logical columns"
                )
            _check_rename_constraints(head, old, new)
            manifest = {
                **head,
                "version": head.get("version", 0) + 1,
                "schema_ddl": ", ".join(
                    f"{new if n == old else n} {t}" for n, t in parts
                ),
                "renames": head.get("renames", []) + [{"from": old, "to": new}],
                "op": "rename",
            }
            if _claim_and_publish(path, manifest):
                return manifest
            continue
        if old not in cols:
            raise RuntimeError(
                f"cannot rename {old!r}: no such column (current: {sorted(cols)})"
            )
        if new in cols:
            raise RuntimeError(
                f"cannot rename {old!r} -> {new!r}: column {new!r} already exists — "
                "the rename would produce duplicate logical columns"
            )
        if any(d["col"] == old for d in head.get("eq_deletes", [])):
            raise RuntimeError(
                f"cannot rename {old!r}: pending merge-on-read deletes reference it — "
                "run materialize_deletes first (delete predicates always use current names)"
            )
        _check_rename_constraints(head, old, new)
        manifest = {
            **head,
            "version": head.get("version", 0) + 1,
            "renames": head.get("renames", []) + [{"from": old, "to": new}],
            "op": "rename",
        }
        if _claim_and_publish(path, manifest):
            return manifest
    raise RuntimeError("rename_column: could not claim a version in 64 attempts")


def delete_where_mor(path: str, col: str, lo, hi) -> dict:
    """MERGE-ON-READ row-level DELETE — the O(1)-commit alternative to
    `delete_where`'s copy-on-write (Iceberg equality-delete files /
    Delta deletion vectors, as manifest metadata): no part file is
    touched; the commit records the predicate plus THE SNAPSHOT'S FILE
    LIST, and readers apply `NOT (col BETWEEN lo AND hi)` to exactly
    those files — rows appended AFTER the delete match the predicate
    yet survive, because the delete scopes to the files that existed
    when it committed (Iceberg's sequence-number rule, realized here as
    an explicit applies-to list; at very large file counts the
    sequence-number encoding is the known compaction of that list).
    Reads pay a filter until `materialize_deletes` rewrites the
    affected files and clears the entry — the read-amplification vs
    write-amplification trade MoR exists to offer.  `n_rows` in the
    manifest stays PHYSICAL rows (documented; logical count needs the
    read-side filter)."""
    for _attempt in range(64):
        head = _latest_snapshot(path)
        assert head is not None, "delete_where_mor requires an existing table"
        cols = _logical_columns(path, head)
        if cols and col not in cols:
            # fail at COMMIT time, not at first read: a committed delete
            # on a typo'd column would break every later logical read.
            # (Zero-file tables validate against the recorded schema_ddl;
            # no entry is recorded either way — the delete scopes to
            # nothing on an empty table.)
            raise RuntimeError(f"delete_where_mor: no such column {col!r}")
        entry = {"col": col, "lo": lo, "hi": hi, "files": head["files"]}
        manifest = {
            **head,
            "version": head.get("version", 0) + 1,
            # an empty-scope entry would be pure noise every later read
            # plans around — a MoR delete on a zero-file table commits
            # as a no-op version bump instead
            "eq_deletes": head.get("eq_deletes", []) + ([entry] if head.get("files") else []),
            "op": "delete_mor",
        }
        if _claim_and_publish(path, manifest):
            return manifest
    raise RuntimeError("delete_where_mor: could not claim a version in 64 attempts")


def materialize_deletes(spark, path: str) -> dict:
    """MATERIALIZE pending merge-on-read deletes: rewrite every file at
    least one eq-delete applies to (with all its applicable predicates
    applied), keep untouched files as-is, and commit a snapshot with
    the delete list CLEARED — moving the cost from every future read to
    one write, the compaction step every MoR format eventually runs.
    Commits through the OCC claim; op is `materialize` (a rewrite — the
    change feed emits no rows)."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    head = _latest_snapshot(path)
    assert head is not None
    deletes = head.get("eq_deletes", [])
    if not deletes:
        return {"n_files_rewritten": 0, "version": head.get("version", 0)}
    applicable: dict[str, list[dict]] = {}
    # hoisted live-set (round-8 ADVICE): rebuilding set(head['files'])
    # inside the D*F inner loop made planning O(D*F^2) — same fix the
    # round-7 _file_logical_metadata O(F) planning pass got
    live = set(head["files"])
    for d in deletes:
        for fn in d["files"]:
            if fn in live:
                applicable.setdefault(fn, []).append(d)
    untouched = [fn for fn in head["files"] if fn not in applicable]
    untouched_set = set(untouched)
    new_files = []
    next_v = head.get("version", 0) + 1
    import uuid

    tok = uuid.uuid4().hex[:8]  # name identity never rides the raced version
    staging = os.path.join(path, f"_mor_staging_{tok}")  # uuid: see delete_where
    # group files by their applicable delete set so each group rewrites once
    groups: dict[tuple, list[str]] = {}
    for fn, ds in applicable.items():
        keyt = tuple((d["col"], d["lo"], d["hi"]) for d in ds)
        groups.setdefault(keyt, []).append(fn)
    gi = 0
    for keyt, fns in groups.items():
        # LOGICAL read of the group (found by the round-8 model-based
        # verb-sequence test): delete predicates reference CURRENT
        # column names, but a raw parquet read surfaces each file's
        # PHYSICAL (pre-rename) names — a rename committed before the
        # MoR delete made the rewrite fail on an unresolvable column.
        # `_read_logical` applies each file's rename chain AND its
        # applicable eq-deletes (NULL-safe), so the rewritten files
        # land under current names and the retained rename log no-ops
        # on them per the per-file chain rule.
        df = _read_logical(spark, path, fns, head)
        gdir = os.path.join(staging, str(gi))
        df.write.mode("overwrite").parquet(gdir)
        for i, part in enumerate(sorted(glob.glob(os.path.join(gdir, "part-*")))):
            if _pq.ParquetFile(part).metadata.num_rows == 0:
                continue
            visible = f"part-mat{next_v}-{tok}-{gi:03d}-{i:05d}.parquet"
            os.replace(part, os.path.join(path, visible))
            new_files.append(visible)
        gi += 1
    shutil.rmtree(staging, ignore_errors=True)
    n_rows = 0
    for fn in untouched + new_files:
        n_rows += _pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows
    manifest = {
        **head,
        "version": next_v,
        "files": sorted(untouched + new_files),
        "n_rows": n_rows,
        "stats": {
            **{fn: head.get("stats", {}).get(fn) for fn in untouched if fn in head.get("stats", {})},
            **_footer_stats(path, new_files),
        },
        "file_columns": {
            # untouched-set hoisted: a per-iteration set() rebuild is the
            # O(F^2) planning class the round-8 ADVICE flagged
            **{fn: c for fn, c in head.get("file_columns", {}).items() if fn in untouched_set},
            **_footer_columns(path, new_files),
        },
        "eq_deletes": [],
        "op": "materialize",
    }
    if not _claim_and_publish(path, manifest):
        # loser cleanup: unlisted rewrites are pure orphans (see delete_where)
        for fn in new_files:
            try:
                os.remove(os.path.join(path, fn))
            except FileNotFoundError:
                pass
        raise RuntimeError("materialize_deletes lost the commit race: retry")
    return {
        "n_files_rewritten": len(applicable),
        "n_files_untouched": len(untouched),
        "version": next_v,
    }


def merge_upsert(spark, path: str, updates, key_col: str) -> dict:
    """MERGE (upsert) into the manifest table via COPY-ON-WRITE — the
    `MERGE INTO t USING u ON t.k = u.k WHEN MATCHED THEN UPDATE WHEN
    NOT MATCHED THEN INSERT` verb (Delta/Iceberg MERGE;
    `merge_into_orders` is the plain-parquet generic): manifest footer
    stats pick the files whose [min, max] on `key_col` can OVERLAP the
    updates' key range, ONLY those files are rewritten with their
    matched rows REPLACED (anti-join on the broadcast update keys +
    union of the updates), and one OCC commit publishes (untouched
    files + rewritten files) as the next version.  Files outside the
    update key range are never read — a narrow upsert touches bytes
    proportional to the updated range, not the table.  The commit op is
    `merge` (dataChange for the upserted rows is real, but the
    change feed cannot distinguish updated from re-stated rows in a
    rewritten file, so downstream CDF consumers should treat `merge`
    like `overwrite` plus the update payload — the documented
    limitation CoW MERGE has everywhere without deletion vectors).
    Returns {n_updated, n_inserted, n_files_rewritten,
    n_files_untouched, version}."""
    import glob
    import os
    import shutil
    import uuid

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    head = _latest_snapshot(path)
    assert head is not None, "merge_upsert requires an existing table"
    cols = _logical_columns(path, head)
    if cols and key_col not in cols:
        # same commit-time guard as the delete verbs: a typo'd merge key
        # would die mid-rewrite (AnalysisException) instead of cleanly.
        # (A merge into a zero-file snapshot is the insert-all bootstrap
        # — validated against the recorded schema_ddl when one exists,
        # skipped only on pre-schema_ddl empty tables.)
        raise RuntimeError(f"merge_upsert: no such column {key_col!r}")
    stats = head.get("stats", {})
    n_updates = updates.count()
    keys = updates.select(key_col).distinct()
    # Per-file pruning against the ACTUAL update keys, not the updates'
    # bounding interval — one scattered insert would stretch [lo, hi]
    # over the whole table and defeat interval pruning; instead each
    # file's [min, max] is range-joined against the key set (file
    # bounds broadcast — manifest-sized), so only files PROVABLY
    # holding a matched key rewrite.  Files without recorded stats are
    # always rewritten (safe default).
    bounded = [
        (fn, s[key_col][0], s[key_col][1])
        for fn in head["files"]
        if (s := stats.get(fn, {})) and s.get(key_col) is not None
    ]
    unstatted = [fn for fn in head["files"] if stats.get(fn, {}).get(key_col) is None]
    hit = set()
    if bounded:
        bframe = spark.createDataFrame(bounded, ["__fn", "__mn", "__mx"])
        hit = {
            r["__fn"]
            for r in keys.join(
                F.broadcast(bframe),
                (F.col(key_col) >= F.col("__mn")) & (F.col(key_col) <= F.col("__mx")),
            )
            .select("__fn")
            .distinct()
            .collect()
        }
    touched = sorted(hit) + unstatted
    touched_set = set(touched)
    untouched = [fn for fn in head["files"] if fn not in touched_set]
    untouched_set = set(untouched)
    n_updated, new_files, n_physical_touched = 0, [], 0
    survivors_plus = updates
    if touched:
        # logical read of the victims (renames + pending MoR deletes,
        # scoped to the touched files): a raw read would resurrect
        # MoR-deleted rows into the rewritten files, whose new names
        # fall outside every carried eq-delete entry's scope
        victims = _read_logical(spark, path, touched, head)
        n_before = victims.count()
        kept = victims.join(F.broadcast(keys), key_col, "left_anti")
        n_updated = n_before - kept.count()
        survivors_plus = kept.unionByName(updates)
        n_physical_touched = sum(
            _pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows for fn in touched
        )
    # uuid token: rewritten-file identity (and the staging dir) must not
    # depend on the raced version number (see delete_where)
    tok = uuid.uuid4().hex[:8]
    staging = os.path.join(path, f"_merge_staging_{tok}")
    survivors_plus.write.mode("overwrite").parquet(staging)
    next_v = head.get("version", 0) + 1
    n_rows_new = 0
    for i, part in enumerate(sorted(glob.glob(os.path.join(staging, "part-*")))):
        n_rows = _pq.ParquetFile(part).metadata.num_rows
        if n_rows == 0:
            continue
        n_rows_new += n_rows
        visible = f"part-mrg{next_v}-{tok}-{i:05d}.parquet"
        os.replace(part, os.path.join(path, visible))
        new_files.append(visible)
    shutil.rmtree(staging, ignore_errors=True)
    manifest = {
        "version": next_v,
        "files": sorted(untouched + new_files),
        # PHYSICAL row count: untouched files keep their rows; touched
        # files are replaced wholesale by the rewritten output (which
        # also materialized their pending MoR deletes)
        "n_rows": head["n_rows"] - n_physical_touched + n_rows_new,
        "stats": {
            **{fn: stats[fn] for fn in untouched if fn in stats},
            **_footer_stats(path, new_files),
        },
        "file_columns": {
            # untouched-set hoisted: a per-iteration set() rebuild is the
            # O(F^2) planning class the round-8 ADVICE flagged
            **{fn: c for fn, c in head.get("file_columns", {}).items() if fn in untouched_set},
            **_footer_columns(path, new_files),
        },
        "op": "merge",
        "renames": head.get("renames", []),
        # rewritten files had their applicable MoR deletes materialized:
        # drop them from each entry's scope (empty entries drop entirely)
        "eq_deletes": [
            e
            for d in head.get("eq_deletes", [])
            if (e := {**d, "files": [fn for fn in d["files"] if fn not in touched_set]})[
                "files"
            ]
        ],
        "constraints": head.get("constraints", []),
        # streaming epoch ledger carries forward (table metadata)
        "batches": head.get("batches", []),
    }
    # the merge's INSERT half is new data — prove it against the table's
    # CHECK constraints like any write (footer stats; rejects cleanly)
    _enforce_constraints(path, new_files, manifest["constraints"], manifest.get("renames"))
    if not _claim_and_publish(path, manifest):
        # loser cleanup: unlisted rewrites are pure orphans (see delete_where)
        for fn in new_files:
            try:
                os.remove(os.path.join(path, fn))
            except FileNotFoundError:
                pass
        raise RuntimeError(
            f"merge_upsert lost the commit race for v{manifest['version']}: "
            "re-read the table and retry"
        )
    return {
        "n_updated": n_updated,
        "n_inserted": n_updates - n_updated,
        "n_files_rewritten": len(touched),
        "n_files_untouched": len(untouched),
        "version": manifest["version"],
    }


def vacuum(path: str, keep_versions: int = 2, retention_seconds: float = 600.0) -> dict:
    """VACUUM the manifest table: physically delete part files that are
    unreachable from the newest `keep_versions` snapshots, and drop the
    older versioned manifests — the retention verb that reclaims the
    space copy-on-write operations (compaction, DELETE, overwrite)
    leave behind.  Time travel is the reason vacuum must exist AND the
    reason it is bounded: every rewrite keeps its predecessor's files
    alive for old readers, so without vacuum a churning table's storage
    grows with write volume, not data size.  Retention contract:
    snapshots newer than the horizon stay byte-identical readable;
    reads pinned to a vacuumed version fail loudly (their manifest is
    gone — the Iceberg `expire_snapshots` behavior).  The live file set
    is the UNION of the kept manifests' file lists, so a file shared
    across the horizon (e.g. an old append still listed by the head)
    is never touched.  Returns {n_files_removed, n_manifests_removed,
    head_version, horizon_version}.  Driver-side metadata walk only —
    no data read; at 100 TB this is a listing + set difference, the
    same cost profile as any table-format maintenance job.

    RETENTION GRACE (`retention_seconds`, Delta's VACUUM retention
    check): part files younger than the grace window are never deleted
    even if no kept manifest lists them — an in-flight commit renames
    its parts visible BEFORE claiming its manifest version, and a
    graceless vacuum racing that window would delete data a manifest is
    about to reference.  Tests/maintenance that KNOW no commit is in
    flight pass `retention_seconds=0.0` explicitly (the analogue of
    disabling Delta's retentionDurationCheck)."""
    import glob
    import os
    import time

    head_version = _head_snapshot(path)["version"]
    horizon = max(1, head_version - keep_versions + 1)
    # named refs PIN their snapshots (Iceberg's retain-ref rule): a
    # tagged or branch-pinned version keeps its manifest AND its files
    # alive regardless of the horizon, until the ref is dropped
    pinned = {r["version"] for r in list_refs(path)}
    live: set[str] = set()
    live_chunks: set[str] = set()
    for v in sorted(set(range(horizon, head_version + 1)) | pinned):
        try:
            snap = _load_manifest_file(path, f"_manifest-v{v}.json")
        except FileNotFoundError:
            # already expired by an earlier (possibly crashed) vacuum
            # with a tighter horizon — an expired snapshot contributes
            # no live files (found by the crash-injection machine:
            # vacuum(keep_versions=1) then vacuum(keep_versions=50)
            # crashed on the gap).  The HEAD must always exist.
            if v == head_version:
                raise
            continue
        live.update(snap["files"])
        live_chunks.update(snap.get("file_chunks", []))
    # an in-flight WAP stage is reachable (via the staged pointer) even
    # though no versioned manifest lists it yet — never vacuum it
    staged = os.path.join(path, "_staged-manifest.json")
    if os.path.exists(staged):
        with open(staged) as f:
            s = _resolve_manifest(path, _json.load(f))
        live.update(s["files"])
        live_chunks.update(s.get("file_chunks", []))
    n_files = 0
    now = time.time()
    for part in glob.glob(os.path.join(path, "part-*")):
        if os.path.basename(part) in live:
            continue
        try:
            young = now - os.path.getmtime(part) < retention_seconds
        except FileNotFoundError:
            continue  # a racer already removed it
        if young:
            continue  # grace window: possibly an in-flight commit's part
        try:
            os.remove(part)
        except FileNotFoundError:
            continue  # a concurrent vacuum removed it between stat and here
        n_files += 1
    n_manifests = 0
    for mf in glob.glob(os.path.join(path, "_manifest-v*.json")):
        v = int(os.path.basename(mf)[len("_manifest-v") : -len(".json")])
        if v < horizon and v not in pinned:
            try:
                os.remove(mf)
            except FileNotFoundError:
                continue  # a concurrent vacuum beat us to it
            n_manifests += 1
    # chunk GC: a `_filelist-*` chunk is live iff a SURVIVING manifest
    # (or the WAP stage) references it; orphans come from expired
    # manifests and losing committers.  Same retention grace as parts —
    # an in-flight commit writes its chunks before its claim.
    n_chunks = 0
    for cf in glob.glob(os.path.join(path, "_filelist-*.json")):
        if os.path.basename(cf) in live_chunks:
            continue
        try:
            if now - os.path.getmtime(cf) < retention_seconds:
                continue
            os.remove(cf)
            n_chunks += 1
        except FileNotFoundError:
            continue
    # STRAY RECLAMATION: a CRASHED writer's residue — hidden task parts
    # (`_uncommitted_*`, from a task that died before commit/abort),
    # verb staging directories (`_delete_staging_*`/`_zorder_staging_*`,
    # from a rewrite that died mid-job), and claim/head tmp files — is
    # referenced by nothing and would otherwise leak FOREVER (abort only
    # runs when the engine survives to call it).  Reclaimed past the
    # same retention grace; dirs use their NEWEST inner mtime so a slow
    # in-flight writer still filling the dir is never swept.
    import shutil

    n_strays = 0
    stray_files = (
        glob.glob(os.path.join(path, "_uncommitted_*"))
        + glob.glob(os.path.join(path, "_manifest-*.claim-*"))
        + glob.glob(os.path.join(path, "_manifest-head-*.tmp*"))
        + glob.glob(os.path.join(path, "_staged-manifest.json.tmp"))
        # a writer killed mid-chunk-write leaves a torn _filelist tmp
        # (found by the crash-injection machine on its first run) —
        # committed chunks never keep the .tmp suffix (os.replace), so
        # any survivor is residue
        + glob.glob(os.path.join(path, "_filelist-*.json.tmp"))
        # ref verbs killed between their tmp write and the link/replace
        # leave `.claim` / `.mv-*` residue (same machine, second run);
        # the live refs themselves are `_ref-*.json` and never match
        + glob.glob(os.path.join(path, "_ref-*.json.claim"))
        + glob.glob(os.path.join(path, "_ref-*.json.mv-*"))
    )
    for stray in stray_files:
        try:
            if now - os.path.getmtime(stray) < retention_seconds:
                continue
            os.remove(stray)
            n_strays += 1
        except FileNotFoundError:
            continue
    for d in glob.glob(os.path.join(path, "_*staging_*")):
        if not os.path.isdir(d):
            continue
        try:
            # NEWEST mtime RECURSIVELY: Spark writes staging output under
            # nested _temporary/<n>/task_*/ subdirs, and deep task
            # activity does not bump the shallow mtimes — a max over the
            # dir and its direct children would let a rewrite running
            # longer than the retention be swept MID-JOB.
            newest = max(
                os.path.getmtime(p)
                for p in [d] + glob.glob(os.path.join(d, "**"), recursive=True)
            )
        except FileNotFoundError:
            continue  # the owning writer is actively mutating it
        if now - newest < retention_seconds:
            continue
        shutil.rmtree(d, ignore_errors=True)
        n_strays += 1
    return {
        "n_files_removed": n_files,
        "n_manifests_removed": n_manifests,
        "n_chunks_removed": n_chunks,
        "n_strays_removed": n_strays,
        "head_version": head_version,
        "horizon_version": horizon,
    }


# --- CHECK constraints, RESTORE, and named refs (branches/tags) -------------
#
# The remaining Delta/Iceberg table-management verbs on this format:
# write-time CHECK constraints proven from parquet FOOTER STATS (never a
# data scan), RESTORE as a new commit pointing at an old snapshot's
# state (rollback without losing history), and named refs — immutable
# TAGS and movable BRANCH pointers — that pin snapshots against VACUUM
# (Iceberg's retain-ref retention rule).


def _footer_nulls(path: str, files: list[str], cols: list[str]) -> dict:
    """Per-file total null counts for the given columns, from parquet
    footers only.  Returns {file: {col: null_count | None}} — None when
    any row group lacks the statistic (unprovable).  A column ABSENT
    from a file's schema counts as null_count = num_rows: under
    schema-evolution merged reads (`unionByName(allowMissingColumns)`)
    that file's rows carry NULL for the column, and the proof must see
    what the reader produces — the pre-fix 0 silently PASSED a NOT NULL
    constraint over files written before the column existed."""
    import os

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fn in files:
        meta = pq.ParquetFile(os.path.join(path, fn)).metadata
        counts: dict[str, int | None] = {c: 0 for c in cols}
        seen: set[str] = set()
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                seen.add(name)
                if name not in counts or counts[name] is None:
                    continue
                st = col.statistics
                if st is None or st.null_count is None:
                    counts[name] = None
                else:
                    counts[name] += st.null_count
        for c in cols:
            if c not in seen:
                counts[c] = meta.num_rows
        out[fn] = counts
    return out


def _footer_columns(path: str, files: list[str]) -> dict:
    """Per-file PHYSICAL column names from parquet footers (metadata
    only).  Committers record this in the manifest as `file_columns` so
    later verb planning (`_logical_columns`, rename-chain resolution)
    never re-reads O(F) footers — at 100 TB footer fetches are remote
    round-trips, and the committer already has these footers open for
    `_footer_stats`."""
    import os

    import pyarrow.parquet as pq

    return {fn: list(pq.read_schema(os.path.join(path, fn)).names) for fn in files}


def _footer_row_counts(path: str, files: list[str]) -> dict:
    """Per-file total row counts from parquet footers (metadata only)."""
    import os

    import pyarrow.parquet as pq

    return {
        fn: pq.ParquetFile(os.path.join(path, fn)).metadata.num_rows for fn in files
    }


def _enforce_constraints(
    path: str,
    new_files: list[str],
    constraints: list[dict],
    renames: list[dict] | None = None,
) -> None:
    """Validate just-written part files against the table's CHECK
    constraints using footer statistics only: a range constraint is
    proven by every file's [min, max] landing inside [lo, hi]; NOT NULL
    by null_count == 0.  UNPROVABLE is a violation (a constrained
    column missing stats fails loudly rather than silently admitting
    bad data).  On violation the new files are deleted — no manifest
    lists them, so the table is untouched — and the commit raises.
    Cost: one footer read per new file, independent of row count.

    Constraint predicates reference CURRENT logical names, but a new
    file may physically carry a PRE-RENAME name (a writer holding a
    stale schema appends after rename_column(old->new); the
    content-based chain rule in `_file_logical_metadata` then surfaces
    its 'old' values as 'new' on every logical read).  The proof
    therefore resolves each file's physical name per constrained column
    through its applicable rename chain first — without that, footer
    stats for 'new' are simply absent and the all-NULL vacuous pass for
    range CHECKs silently admits real, possibly out-of-range values
    (round-8 ADVICE)."""
    import os

    if not constraints or not new_files:
        return
    range_cs = [c for c in constraints if c.get("lo") is not None or c.get("hi") is not None]
    null_cs = [c for c in constraints if c.get("not_null")]
    stats = _footer_stats(path, new_files)
    # per-file physical resolution: replay the table's rename log over
    # the file's physical name set (same hop-by-hop rule the readers
    # use), then invert it for each constrained logical column
    phys: dict[str, dict[str, str]] = {}
    cols = {c["col"] for c in range_cs + null_cs}
    if renames:
        fcols = _footer_columns(path, new_files)
        for fn in new_files:
            cur = set(fcols[fn])
            acc = []
            for r in renames:
                if r["from"] in cur:
                    acc.append((r["from"], r["to"]))
                    cur.discard(r["from"])
                    cur.add(r["to"])
            phys[fn] = {c: _physical_column(tuple(acc), c) for c in cols}
    else:
        ident = {c: c for c in cols}
        phys = {fn: ident for fn in new_files}
    null_cols = sorted({phys[fn][c] for fn in new_files for c in cols})
    nulls = _footer_nulls(path, new_files, null_cols) if null_cols else {}
    counts = _footer_row_counts(path, new_files) if range_cs else {}
    err = None
    for fn in new_files:
        for c in range_cs:
            pcol = phys[fn][c["col"]]
            mm = stats.get(fn, {}).get(pcol)
            if mm is None:
                # parquet writes no min/max for an ALL-NULL column — and
                # under SQL three-valued logic NULL satisfies a range
                # CHECK (the predicate is not FALSE), so an all-null
                # file is PROVEN valid by its null count alone.  Only a
                # genuinely statless column stays unprovable-> reject.
                nc = nulls.get(fn, {}).get(pcol)
                if nc is not None and nc == counts.get(fn):
                    continue
                err = f"constraint {c['name']!r}: no footer stats for {c['col']!r} in {fn} (unprovable)"
                break
            lo, hi = c.get("lo"), c.get("hi")
            if (lo is not None and mm[0] < lo) or (hi is not None and mm[1] > hi):
                err = (
                    f"constraint {c['name']!r} violated by {fn}: "
                    f"{c['col']} range {mm} outside [{lo}, {hi}]"
                )
                break
        if err is None:
            for c in null_cs:
                nc = nulls.get(fn, {}).get(phys[fn][c["col"]])
                if nc is None:
                    err = f"constraint {c['name']!r}: no null stats for {c['col']!r} in {fn}"
                    break
                if nc > 0:
                    err = f"constraint {c['name']!r} violated by {fn}: {nc} null(s) in {c['col']}"
                    break
        if err:
            break
    if err:
        for fn in new_files:
            try:
                os.remove(os.path.join(path, fn))
            except FileNotFoundError:
                pass
        raise RuntimeError(f"commit rejected: {err}")


def add_check_constraint(
    path: str, name: str, col: str, lo=None, hi=None, not_null: bool = False
) -> dict:
    """ADD a CHECK constraint (range and/or NOT NULL) to the manifest
    table — a metadata commit (op=alter) that every later write must
    satisfy (`_enforce_constraints` in both writers and merge_upsert)
    and every later RESTORE is validated against.  Like Delta's ALTER
    TABLE ADD CONSTRAINT, the EXISTING data must already satisfy it:
    the current snapshot's files are proven from their manifest stats /
    footers first, and a violating table refuses the constraint.
    Renaming a constrained column is refused until the constraint is
    dropped (predicates always reference current names, the same rule
    as MoR deletes)."""
    assert lo is not None or hi is not None or not_null, "empty constraint"
    entry = {"name": name, "col": col, "lo": lo, "hi": hi, "not_null": bool(not_null)}
    for _attempt in range(64):
        head = _latest_snapshot(path)
        assert head is not None, "add_check_constraint requires an existing table"
        cols = _logical_columns(path, head)
        if cols and col not in cols:
            raise RuntimeError(f"add_check_constraint: no such column {col!r}")
        if any(c["name"] == name for c in head.get("constraints", [])):
            raise RuntimeError(f"constraint {name!r} already exists")
        # prove the EXISTING data satisfies the constraint before
        # admitting it (footer walk; no data pages)
        _enforce_existing(path, head, [entry])
        manifest = {
            **head,
            "version": head.get("version", 0) + 1,
            "constraints": head.get("constraints", []) + [entry],
            "op": "alter",
        }
        if _claim_and_publish(path, manifest):
            return manifest
    raise RuntimeError("add_check_constraint: could not claim a version in 64 attempts")


def drop_check_constraint(path: str, name: str) -> dict:
    """DROP a named CHECK constraint (metadata commit, op=alter)."""
    for _attempt in range(64):
        head = _latest_snapshot(path)
        assert head is not None, "drop_check_constraint requires an existing table"
        kept = [c for c in head.get("constraints", []) if c["name"] != name]
        if len(kept) == len(head.get("constraints", [])):
            raise RuntimeError(f"no such constraint: {name!r}")
        manifest = {
            **head,
            "version": head.get("version", 0) + 1,
            "constraints": kept,
            "op": "alter",
        }
        if _claim_and_publish(path, manifest):
            return manifest
    raise RuntimeError("drop_check_constraint: could not claim a version in 64 attempts")


def _physical_column(chain: tuple, logical: str) -> str:
    """Invert a file's applied rename chain: the PHYSICAL footer name a
    logical column has inside that file (walk the hops backwards)."""
    cur = logical
    for old, new in reversed(chain):
        if cur == new:
            cur = old
    return cur


def _enforce_logical_scan(
    path: str,
    fn: str,
    chain: tuple,
    dels: tuple,
    range_cs: list[dict],
    null_cs: list[dict],
) -> None:
    """Exact constraint proof for ONE file carrying pending MoR delete
    predicates: read only the constrained + predicate columns, drop the
    rows the (NULL-safe, three-valued) delete predicates remove, and
    check the survivors.  Column names in both constraints and delete
    predicates are CURRENT logical names; the file's physical names
    resolve through its rename chain."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cons_cols = {c["col"] for c in range_cs + null_cs}
    del_cols = {d[0] for d in dels}
    phys = {col: _physical_column(chain, col) for col in cons_cols | del_cols}
    schema_names = set(pq.read_schema(os.path.join(path, fn)).names)
    read_cols = sorted({p for p in phys.values() if p in schema_names})
    tbl = pq.read_table(os.path.join(path, fn), columns=read_cols)
    keep = None  # None => no applicable predicate: every row survives
    for dcol, lo, hi in dels:
        p = phys[dcol]
        if p not in schema_names:
            continue  # column absent => all NULL => predicate never matches
        col = tbl.column(p)
        hit = pc.and_kleene(pc.greater_equal(col, lo), pc.less_equal(col, hi))
        # three-valued logic: NULL comparisons are NULL => row survives
        surv = pc.fill_null(pc.invert(hit), True)
        keep = surv if keep is None else pc.and_(keep, surv)
    for c in range_cs:
        p = phys[c["col"]]
        if p not in schema_names:
            continue  # absent => all NULL => range CHECK vacuously holds
        vals = tbl.column(p) if keep is None else pc.filter(tbl.column(p), keep)
        lo, hi = c.get("lo"), c.get("hi")
        mm = pc.min_max(vals).as_py()  # NULLs ignored; empty => (None, None)
        if mm["min"] is None:
            continue  # no surviving non-NULL values: vacuous
        if (lo is not None and mm["min"] < lo) or (hi is not None and mm["max"] > hi):
            raise RuntimeError(
                f"existing data violates constraint {c['name']!r}: "
                f"{fn} has {c['col']} range [{mm['min']}, {mm['max']}] "
                f"outside [{lo}, {hi}] (logical scan, MoR deletes applied)"
            )
    for c in null_cs:
        p = phys[c["col"]]
        n_kept = (
            tbl.num_rows
            if keep is None
            else (pc.sum(pc.cast(keep, pa.int64())).as_py() or 0)
        )
        if p not in schema_names:
            if n_kept > 0:
                raise RuntimeError(
                    f"existing data violates constraint {c['name']!r}: "
                    f"{fn} carries no {c['col']!r} column — all-NULL on the merged read"
                )
            continue
        vals = tbl.column(p) if keep is None else pc.filter(tbl.column(p), keep)
        nc = vals.null_count
        if nc > 0:
            raise RuntimeError(
                f"existing data violates constraint {c['name']!r}: "
                f"{fn} has {nc} null(s) in {c['col']} (logical scan, MoR deletes applied)"
            )


def _enforce_existing(path: str, snapshot: dict, constraints: list[dict]) -> None:
    """Prove an EXISTING snapshot satisfies `constraints`, preferring
    the manifest's recorded stats and falling back to footers.  Raises
    on violation or unprovability (same loud-fail rule as writes).
    Constraint predicates reference CURRENT logical names; footer stats
    and manifest stats are keyed by each file's PHYSICAL names, so the
    proof resolves each file's rename chain first — without that, a
    constraint added after a rename either read no stats at all (range:
    spurious unprovable) or an all-zero null count (NOT NULL: unsound
    accept).  A column ABSENT from a file entirely is all-NULL on the
    merged read: that VIOLATES a NOT NULL constraint and vacuously
    SATISFIES a range constraint (three-valued logic).

    Files scoped by PENDING MERGE-ON-READ deletes get an exact LOGICAL
    micro-scan instead of the footer shortcut (round-9 model-machine
    find): footer stats still contain the MoR-deleted rows, so a table
    whose logical data satisfies the constraint was falsely refused
    ("violates") whenever the deleted rows' values fell outside the
    range — e.g. append, MoR-delete the out-of-range rows, then
    add_check_constraint.  Physical stats are a SUPERSET of logical
    rows (the proof was always sound, only over-refusing); the
    micro-scan reads just the constrained + predicate columns of just
    the delete-scoped files (column-pruned Arrow read), which at 100 TB
    bounds the cost by the pending-delete scope — the same data a
    materialize would have to touch anyway."""
    range_cs = [c for c in constraints if c.get("lo") is not None or c.get("hi") is not None]
    null_cs = [c for c in constraints if c.get("not_null")]
    if not (range_cs or null_cs):
        return
    meta = _file_logical_metadata(path, snapshot)
    stats = snapshot.get("stats", {})
    for fn in snapshot["files"]:
        chain, dels = meta[fn]
        if dels:
            _enforce_logical_scan(path, fn, chain, dels, range_cs, null_cs)
            continue
        phys = {
            c["col"]: _physical_column(chain, c["col"]) for c in range_cs + null_cs
        }
        fstats = None
        for c in range_cs:
            pcol = phys[c["col"]]
            mm = stats.get(fn, {}).get(pcol)
            if mm is None:
                if fstats is None:
                    fstats = _footer_stats(path, [fn])[fn]
                mm = fstats.get(pcol)
            if mm is None:
                # all-NULL (or absent) column: vacuously valid iff the
                # null count covers every row; else genuinely unprovable
                nc = _footer_nulls(path, [fn], [pcol])[fn][pcol]
                if nc is not None and nc == _footer_row_counts(path, [fn])[fn]:
                    continue
                raise RuntimeError(
                    f"constraint {c['name']!r}: no stats for {c['col']!r} in {fn} (unprovable)"
                )
            lo, hi = c.get("lo"), c.get("hi")
            if (lo is not None and mm[0] < lo) or (hi is not None and mm[1] > hi):
                raise RuntimeError(
                    f"existing data violates constraint {c['name']!r}: "
                    f"{fn} has {c['col']} range {mm} outside [{lo}, {hi}]"
                )
        if null_cs:
            nulls = _footer_nulls(path, [fn], sorted({phys[c["col"]] for c in null_cs}))[fn]
            for c in null_cs:
                nc = nulls[phys[c["col"]]]
                if nc is None:
                    raise RuntimeError(
                        f"constraint {c['name']!r}: no null stats for {c['col']!r} in {fn}"
                    )
                if nc > 0:
                    raise RuntimeError(
                        f"existing data violates constraint {c['name']!r}: "
                        f"{fn} has {nc} null(s) in {c['col']}"
                    )


def restore_table(path: str, to_version: int) -> dict:
    """RESTORE the table to an earlier snapshot — as a NEW commit whose
    data state (files, row count, stats, renames, MoR deletes) is
    copied from `_manifest-v{to_version}.json` (Delta `RESTORE TABLE
    ... TO VERSION AS OF k`): history is never rewritten, every
    intermediate version still time-travels, and the change feed shows
    an explicit op=restore commit (dataChange=false — restored rows
    were already emitted by their original appends).  CONSTRAINTS are
    table metadata, not data: the restored state must satisfy the
    CURRENT constraint set (proven from the target snapshot's stats) or
    the restore is refused — restoring yesterday's data may not smuggle
    in rows a constraint added today forbids.  O(1) metadata commit;
    the restored files are still on disk because vacuum's retention is
    exactly what bounds how far back restore reaches."""
    import os

    try:
        target = _load_manifest_file(path, f"_manifest-v{to_version}.json")
    except FileNotFoundError:
        raise RuntimeError(
            f"cannot restore to v{to_version}: no such committed snapshot "
            "(expired by vacuum, or never committed — cannot restore forward)"
        ) from None
    for _attempt in range(64):
        head = _latest_snapshot(path)
        assert head is not None, "restore_table requires an existing table"
        if to_version > head.get("version", 0):
            raise RuntimeError(f"cannot restore forward to v{to_version}")
        constraints = head.get("constraints", [])
        _enforce_existing(path, target, constraints)
        manifest = {
            "version": head.get("version", 0) + 1,
            "files": target["files"],
            "n_rows": target["n_rows"],
            "stats": target.get("stats", {}),
            "file_columns": target.get("file_columns", {}),
            "renames": target.get("renames", []),
            "eq_deletes": target.get("eq_deletes", []),
            "constraints": constraints,
            # the epoch ledger follows the HEAD, not the restore target:
            # restoring old data does not un-process later stream epochs
            "batches": head.get("batches", []),
            "op": "restore",
            "restored_from": to_version,
            # restoring TO an emptied snapshot keeps ITS recorded schema
            # (the claim gate would otherwise re-derive from the current
            # head, whose naming epoch may differ)
            **({"schema_ddl": target["schema_ddl"]} if "schema_ddl" in target else {}),
        }
        if _claim_and_publish(path, manifest):
            return manifest
    raise RuntimeError("restore_table: could not claim a version in 64 attempts")


def shallow_clone(src: str, dst: str) -> dict:
    """SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a new
    table whose v1 manifest REFERENCES the source snapshot's part files
    by relative path — zero bytes copied, O(1) metadata — after which
    the two tables diverge freely: appends land in the clone's own
    directory; copy-on-write verbs (delete/merge/compaction) rewrite
    referenced files INTO the clone, so the source is never touched by
    any clone operation.  Stats, renames, MoR deletes, and CHECK
    constraints all carry over (they describe the referenced data).
    The documented Delta hazard carries over too, deliberately:
    VACUUMING THE SOURCE can delete files a shallow clone still
    references (the clone's vacuum never can — it only removes files it
    owns in its own directory).  `tests/test_lakehouse_verbs.py` pins
    both the divergence isolation and the hazard."""
    import os

    head = _latest_snapshot(src)
    assert head is not None, "shallow_clone requires an existing source table"
    os.makedirs(dst, exist_ok=True)
    if _latest_snapshot(dst) is not None:
        raise RuntimeError(f"clone target {dst!r} already has a table")
    rel = os.path.relpath(src, dst)
    files = [os.path.join(rel, fn) for fn in head["files"]]
    stats = {os.path.join(rel, fn): v for fn, v in head.get("stats", {}).items()}
    fcols = {os.path.join(rel, fn): v for fn, v in head.get("file_columns", {}).items()}
    manifest = {
        "version": 1,
        "files": sorted(files),
        "n_rows": head["n_rows"],
        "stats": stats,
        "file_columns": fcols,
        "renames": head.get("renames", []),
        "eq_deletes": [
            {**d, "files": [os.path.join(rel, fn) for fn in d["files"]]}
            for d in head.get("eq_deletes", [])
        ],
        "constraints": head.get("constraints", []),
        # the clone holds the source epochs' rows, so a stream resumed
        # against the clone must still dedup those epochs
        "batches": head.get("batches", []),
        "op": "clone",
        "cloned_from": {"path": os.path.abspath(src), "version": head.get("version", 0)},
        # cloning an emptied source keeps its recorded schema readable
        **({"schema_ddl": head["schema_ddl"]} if "schema_ddl" in head else {}),
    }
    if not _claim_and_publish(dst, manifest):
        raise RuntimeError("shallow_clone lost the commit race on a fresh target")
    return manifest


def _ref_path(path: str, name: str) -> str:
    import os
    import re

    assert re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name), f"bad ref name: {name!r}"
    return os.path.join(path, f"_ref-{name}.json")


def create_tag(path: str, name: str, version: int) -> dict:
    """Create an IMMUTABLE tag pointing at a committed snapshot
    (Iceberg tag / Delta named snapshot).  Creation is atomic via the
    same hard-link claim as manifests — two racers get exactly one
    winner — and an existing ref of any kind refuses the name.  Tagged
    snapshots are pinned against `vacuum` until the tag is dropped."""
    import os

    if not os.path.exists(os.path.join(path, f"_manifest-v{version}.json")):
        raise RuntimeError(f"cannot tag v{version}: no such committed snapshot")
    ref = {"name": name, "kind": "tag", "version": version}
    rp = _ref_path(path, name)
    tmp = rp + ".claim"
    with open(tmp, "w") as f:
        _json.dump(ref, f)
    try:
        os.link(tmp, rp)
    except FileExistsError:
        os.remove(tmp)
        raise RuntimeError(f"ref {name!r} already exists")
    os.remove(tmp)
    return ref


def create_branch(path: str, name: str, version: int) -> dict:
    """Create a MOVABLE branch pointer at a committed snapshot.  Same
    atomic claim as tags; advance with `advance_branch`.  A branch pins
    its current target against vacuum, so a slow consumer pinned to a
    branch never loses its snapshot."""
    import os

    if not os.path.exists(os.path.join(path, f"_manifest-v{version}.json")):
        raise RuntimeError(f"cannot branch at v{version}: no such committed snapshot")
    ref = {"name": name, "kind": "branch", "version": version}
    rp = _ref_path(path, name)
    tmp = rp + ".claim"
    with open(tmp, "w") as f:
        _json.dump(ref, f)
    try:
        os.link(tmp, rp)
    except FileExistsError:
        os.remove(tmp)
        raise RuntimeError(f"ref {name!r} already exists")
    os.remove(tmp)
    return ref


def advance_branch(path: str, name: str, version: int) -> dict:
    """Move a branch pointer to another committed snapshot (atomic
    replace).  Tags refuse — immutability is their contract."""
    import os

    rp = _ref_path(path, name)
    with open(rp) as f:
        ref = _json.load(f)
    if ref["kind"] != "branch":
        raise RuntimeError(f"ref {name!r} is a {ref['kind']}, not a branch")
    if not os.path.exists(os.path.join(path, f"_manifest-v{version}.json")):
        raise RuntimeError(f"cannot advance to v{version}: no such committed snapshot")
    new = {**ref, "version": version}
    tmp = rp + f".mv-{version}"
    with open(tmp, "w") as f:
        _json.dump(new, f)
    os.replace(tmp, rp)
    return new


def drop_ref(path: str, name: str) -> None:
    import os

    os.remove(_ref_path(path, name))


def list_refs(path: str) -> list[dict]:
    import glob
    import os

    out = []
    for rp in sorted(glob.glob(os.path.join(path, "_ref-*.json"))):
        with open(rp) as f:
            out.append(_json.load(f))
    return out


def resolve_ref(path: str, name: str) -> int:
    with open(_ref_path(path, name)) as f:
        return _json.load(f)["version"]


def read_manifest_ref(spark, path: str, name: str):
    """Read the table AS OF a named ref (`VERSION AS OF 'tag'`): resolve
    the ref to its pinned snapshot version and time-travel there."""
    return read_manifest(spark, path, version=resolve_ref(path, name))


def _append_deltas(path: str, since_version: int, to_version: int) -> list[dict]:
    """Shared change-feed walk: classify each commit in
    (since_version, to_version] and compute the per-APPEND file delta
    against its parent's cumulative list.  `op` comes from the manifest
    when recorded; older manifests (and the streaming writer's
    per-epoch ones) are classified by containment — a file list that is
    a superset of its parent's is an append.  Non-append commits
    (overwrite/compaction, delete) are dataChange=false: they advance
    the cursor with zero new files.  Returns
    [{version, op, new_files}] — manifest JSON walk only."""
    import os

    def load(v: int) -> dict:
        try:
            return _load_manifest_file(path, f"_manifest-v{v}.json")
        except FileNotFoundError:
            raise RuntimeError(
                f"change feed: snapshot v{v} has been expired by vacuum — "
                "tail from a later since_version (the earliest surviving "
                "snapshot), or raise vacuum retention for feed consumers"
            ) from None

    prev_files = set(load(since_version)["files"]) if since_version >= 1 else set()
    out = []
    for v in range(since_version + 1, to_version + 1):
        m = load(v)
        cur = set(m["files"])
        op = m.get("op") or ("append" if cur >= prev_files else "overwrite")
        entry = {
            "version": v,
            "op": op,
            "new_files": sorted(cur - prev_files) if op == "append" else [],
            # the version's cumulative rename log rides along so the feed
            # can detect naming-epoch splits (a rename a later restore/
            # overwrite reset) without re-reading manifests
            "renames": m.get("renames", []),
        }
        if "predicate" in m:
            entry["predicate"] = m["predicate"]
        out.append(entry)
        prev_files = cur
    return out


_INTEGRAL_LADDER = ("tinyint", "smallint", "int", "bigint")
_FRACTIONAL_LADDER = ("float", "double")
# max base-10 digits an integral type can need (bigint: 19 digits + sign
# headroom -> 20, matching Spark's DecimalType.LongDecimal precision)
_INTEGRAL_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 20}


def _widen_types(a: str, b: str) -> str | None:
    """Spark-union-coercion twin for the change-feed compatibility gate:
    the widened Spark type name for two conflicting column types, or
    None when no common Spark type exists (int vs string).  Mirrors
    Spark's findWiderTypeForTwo where it matters (round-11 ADVICE #3):
    integral+fractional resolves to DOUBLE, never float — a float
    result would silently lose integer precision above 2^24 — and
    decimal conflicts widen component-wise (integral joins at its digit
    count, fractional at double, capped at precision 38) instead of
    refusing despite a common type existing."""
    import re

    if a == b:
        return a
    if a in _INTEGRAL_LADDER and b in _INTEGRAL_LADDER:
        return max(a, b, key=_INTEGRAL_LADDER.index)
    if a in _FRACTIONAL_LADDER and b in _FRACTIONAL_LADDER:
        return max(a, b, key=_FRACTIONAL_LADDER.index)
    if {a, b} <= set(_INTEGRAL_LADDER + _FRACTIONAL_LADDER):
        return "double"

    def dec_ps(t: str) -> tuple[int, int] | None:
        m = re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
        return (int(m.group(1)), int(m.group(2))) if m else None

    pa, pb = dec_ps(a), dec_ps(b)
    if pa and pb:
        s = max(pa[1], pb[1])
        i = max(pa[0] - pa[1], pb[0] - pb[1])
        return f"decimal({min(38, i + s)},{s})"
    for dec, other in ((pa, b), (pb, a)):
        if dec:
            if other in _INTEGRAL_LADDER:
                i = max(dec[0] - dec[1], _INTEGRAL_DIGITS[other])
                return f"decimal({min(38, i + dec[1])},{dec[1]})"
            if other in _FRACTIONAL_LADDER:
                return "double"
    return None


def read_change_feed(spark, path: str, since_version: int, to_version: int | None = None):
    """CHANGE-FEED (incremental) read of the manifest table: the rows
    ADDED by commits in (since_version, to_version], each tagged with
    the commit version that introduced them — the Delta CDF /
    `readChangeFeed` contract a downstream incremental consumer needs
    so it can tail the table instead of re-scanning it.

    Commit classification (see `_append_deltas`): `append` commits
    contribute exactly their NEW files; `overwrite` (compaction) and
    `delete` commits are dataChange=false — their files RESTATE rows an
    earlier commit already emitted, so a consumer that treated them as
    fresh would double-count.  They advance the cursor but contribute
    no rows.  Returns (df, commits): df has the table schema plus
    `_commit_version int`; commits is the per-version audit trail
    [{version, op, n_new_files}].  Driver work is manifest JSON only —
    no data is read outside the delta files.

    Rows surface under the LOGICAL schema of the `to_version` snapshot:
    each delta file's rename chain is resolved exactly as `_read_logical`
    does (a feed spanning a rename_column otherwise unions pre- and
    post-rename physical names and fails — Delta CDF likewise presents
    the current read schema).  Pending MoR delete predicates are NOT
    applied: the feed's contract is rows-as-appended — a row added at
    v2 and deleted at v5 was still added at v2.

    Schema evolution across the range: ADDITIVE changes union with
    nulls for the missing columns, exactly like
    `read_manifest(merge_schema=True)` — including MUTUALLY-additive
    sets (two stale-schema appends with disjoint extras, e.g. {id,a}
    and {id,b}), which the batch reader serves by unioning with nulls
    both ways, so the feed must too.  Two incompatibilities are
    PROVABLE and refuse loudly with instructions to read sub-ranges
    split at the schema-reset commit (Delta CDF likewise blocks
    non-additive schema changes mid-range): a naming-epoch SPLIT — a
    rename recorded within the range whose from/to names both surface
    across the frames, i.e. one logical column arrived under two names
    because a later restore/overwrite reset the rename log — and a
    same-name TYPE conflict with NO common Spark type (int vs string);
    widening-compatible numeric changes (int vs bigint vs double)
    coerce to the least-common type through the union, exactly like
    the batch reader's rename-group union path (its single-scan fast
    path can refuse the same files at the parquet mergeSchema level —
    the feed, which always reads per-delta frames, is never stricter
    than the union semantics)."""
    import os

    from pyspark.sql import functions as F

    if to_version is None:
        to_version = _head_snapshot(path)["version"]
    try:
        to_m = _load_manifest_file(path, f"_manifest-v{to_version}.json")
    except FileNotFoundError:
        raise RuntimeError(
            f"change feed: snapshot v{to_version} has been expired by vacuum — "
            "read within surviving snapshots, or raise vacuum retention "
            "for feed consumers"
        ) from None
    frames, commits = [], []
    range_renames: set[tuple[str, str]] = set()
    for d in _append_deltas(path, since_version, to_version):
        # rename logs are cumulative per version, so any version in the
        # range carries every entry recorded up to it — including ones a
        # later restore/overwrite reset out of the to_version log
        range_renames.update((r["from"], r["to"]) for r in d.get("renames", []))
        if d["new_files"]:
            # group the delta's files by applicable rename chain (the
            # to_version log replayed over each file's physical names)
            meta = _file_logical_metadata(path, to_m, d["new_files"])
            groups: dict[tuple, list[str]] = {}
            for fn in d["new_files"]:
                groups.setdefault(meta[fn][0], []).append(os.path.join(path, fn))
            for app, fps in groups.items():
                df = spark.read.parquet(*fps)
                for old, new in app:
                    df = df.withColumnRenamed(old, new)
                frames.append(
                    df.withColumn("_commit_version", F.lit(d["version"]).cast("int"))
                )
        entry = {"version": d["version"], "op": d["op"], "n_new_files": len(d["new_files"])}
        if "predicate" in d:
            entry["predicate"] = d["predicate"]
        commits.append(entry)
    if frames:
        # additive evolution unions with nulls both ways (the subset-of-
        # widest check here used to falsely refuse mutually-additive
        # disjoint-extra sets the batch reader happily merges).  The two
        # PROVABLE incompatibilities: (a) a naming-epoch SPLIT — a rename
        # recorded in the range whose from/to names BOTH surface across
        # the resolved frames means one logical column arrived under two
        # names (the reset left appends from different epochs; unioning
        # would silently fork it into two half-null columns); (b) a
        # same-name type conflict.
        all_cols = set().union(*(set(f.columns) for f in frames))
        for old_name, new_name in sorted(range_renames):
            if old_name in all_cols and new_name in all_cols:
                raise RuntimeError(
                    f"change feed ({since_version}, {to_version}] spans an "
                    f"incompatible schema change: {old_name!r} was renamed to "
                    f"{new_name!r} within the range but a later schema reset "
                    "left appends from both naming epochs — read the feed in "
                    "sub-ranges split at the schema-reset commit"
                )
        # widening-compatible numeric conflicts (int vs bigint vs double
        # for the same column) are NOT incompatibilities: the batch
        # reader (`read_manifest(merge_schema=True)`, rename-group
        # union path) serves exactly these files through Spark's union
        # type coercion — so the feed must too, or it contradicts the
        # evolves-like-the-batch-reader contract.  Refuse only when no
        # common Spark type exists
        # (e.g. int vs string), which the union below cannot coerce.
        seen_types: dict[str, str] = {}
        for f in frames:
            for cname, ctype in f.dtypes:
                prev_t = seen_types.setdefault(cname, ctype)
                if prev_t == ctype:
                    continue
                widened = _widen_types(prev_t, ctype)
                if widened is not None:
                    seen_types[cname] = widened
                    continue
                raise RuntimeError(
                    f"change feed ({since_version}, {to_version}] spans an "
                    f"incompatible schema change: column {cname!r} appears "
                    f"as both {prev_t} and {ctype}, which have no common "
                    "Spark type — read the feed in sub-ranges split at the "
                    "schema-reset commit"
                )
        df = frames[0]
        for extra in frames[1:]:
            df = df.unionByName(extra, allowMissingColumns=True)
    else:
        # no data change in the range: empty frame with the table's
        # LOGICAL schema (rename log applied; limit(0) scans no pages)
        df = _read_logical(spark, path, to_m["files"], to_m).limit(0).withColumn(
            "_commit_version", F.lit(0).cast("int")
        )
    return df, commits


# --- the manifest table as a STREAMING SOURCE --------------------------------
#
# Delta/Iceberg tables are dual-natured: a batch table AND a stream of
# their own appends.  `rtbd_manifest_table` gives the manifest sink the
# same second nature — the STREAM OFFSET IS THE MANIFEST VERSION, so
# exactly-once tailing falls out of the table format itself: offsets
# are durable (immutable versioned manifests), deterministic to replay
# (`readBetweenOffsets` re-walks the same manifests), and rewrite
# commits (compaction, CoW delete) are dataChange=false exactly as in
# `read_change_feed`.  Downstream, a streaming query over the table IS
# the incremental consumer the change feed promises.


def _arrow_to_ddl(schema) -> str:
    """Map a parquet/arrow schema to a Spark DDL string (the column
    set the sink family actually writes: ints, floats, strings, bool,
    binary, date, micro timestamps)."""
    import pyarrow as pa

    def one(t) -> str:
        if pa.types.is_int64(t):
            return "bigint"
        if pa.types.is_int32(t) or pa.types.is_int16(t) or pa.types.is_int8(t):
            return "int"
        if pa.types.is_float64(t):
            return "double"
        if pa.types.is_float32(t):
            return "float"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        if pa.types.is_date(t):
            return "date"
        if pa.types.is_timestamp(t):
            return "timestamp"
        raise ValueError(f"unsupported column type for rtbd_manifest_table: {t}")

    return ", ".join(f"{f.name} {one(f.type)}" for f in schema)


class ManifestFilePartition(InputPartition):
    def __init__(self, filename: str, renames: tuple = (), deletes: tuple = ()):
        self.filename = filename
        # per-file LOGICAL-read metadata, resolved at planning time:
        # ((from, to), ...) rename chain and ((col, lo, hi), ...) pending
        # eq-delete predicates scoped to this file
        self.renames = renames
        self.deletes = deletes


def _file_logical_metadata(path: str, manifest: dict, files: list[str] | None = None) -> dict:
    """Planning-time resolution of each file's applicable rename CHAIN
    (ordered — multi-hop renames replay hop by hop over the evolving
    name set) and eq-delete predicates.  THE single copy of the
    per-file rules: `_read_logical` (JVM scans) and the
    `rtbd_manifest_table` format reader both consume this, so the two
    read paths cannot drift.  Returns {filename: (renames, deletes)}
    over `files` (default: the whole snapshot).  Eq-delete scopes are
    materialized as sets ONCE, not per file (a table-wide delete over F
    files would otherwise cost O(F^2) planning)."""
    import os

    import pyarrow.parquet as pq

    renames = manifest.get("renames", [])
    eq_deletes = manifest.get("eq_deletes", [])
    del_sets = [
        ((d["col"], d["lo"], d["hi"]), set(d["files"])) for d in eq_deletes
    ]
    out: dict[str, tuple] = {}
    for fn in files if files is not None else manifest["files"]:
        app: tuple = ()
        if renames:
            cached = manifest.get("file_columns", {}).get(fn)
            cur = (
                set(cached)
                if cached is not None
                else set(pq.read_schema(os.path.join(path, fn)).names)
            )
            acc = []
            for r in renames:
                if r["from"] in cur:
                    acc.append((r["from"], r["to"]))
                    cur.discard(r["from"])
                    cur.add(r["to"])
            app = tuple(acc)
        dels = tuple(pred for pred, fset in del_sets if fn in fset)
        out[fn] = (app, dels)
    return out


class ManifestBatchReader(DataSourceReader):
    """Batch half of the table source: one partition per manifest-listed
    file, read LOGICALLY — each partition carries its file's applicable
    rename chain and pending eq-delete predicates, resolved at planning
    time, so the FORMAT agrees with `read_manifest` on tables carrying
    schema-evolution or merge-on-read metadata (a raw per-file read
    returned deleted rows and pre-rename column names — the same
    round-7 ADVICE gap the pruned readers had).  `read_manifest`
    remains the fast path (JVM parquet scan)."""

    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        self.fields = [f.name for f in schema.fields]

    def partitions(self):
        import os

        manifest = _head_snapshot(self.path)
        meta = _file_logical_metadata(self.path, manifest)
        if not manifest["files"]:
            # an emptied table still plans: one sentinel partition that
            # yields no rows (the engine calls read() regardless, and a
            # zero-partition plan hands it a None partition)
            return [ManifestFilePartition(None)]
        return [
            ManifestFilePartition(fn, *meta[fn]) for fn in manifest["files"]
        ]

    def read(self, partition: ManifestFilePartition):
        import os

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition.filename is None:  # empty-table sentinel
            return iter([])
        tbl = pq.read_table(os.path.join(self.path, partition.filename))
        if partition.renames:
            # replay the chain IN ORDER over the evolving name set — a
            # one-shot dict mapping resolves a multi-hop rename
            # (k->bucket, bucket->pail) only one hop, disagreeing with
            # schema()/read_manifest
            names = list(tbl.column_names)
            for old, new in partition.renames:
                names = [new if n == old else n for n in names]
            tbl = tbl.rename_columns(names)
        for col, lo, hi in partition.deletes:
            c = pc.field(col)
            # NULL-safe: pc comparisons propagate nulls and filter()
            # drops null-mask rows, so OR in an explicit is_null leg —
            # same survive-on-NULL contract as the Spark-side readers
            tbl = tbl.filter(pc.is_null(c) | ~((c >= lo) & (c <= hi)))
        # Round-13 (guide §4.2): return Arrow RecordBatches directly —
        # the Python DataSource API accepts them since Spark 4 — instead
        # of materializing every row as a Python tuple (to_pylist + zip
        # built the whole file as objects before the first row crossed
        # the boundary).  select() both orders the columns to the read
        # schema and keeps the old loud KeyError contract for a file
        # missing a schema column.
        return iter(tbl.select(self.fields).to_batches())


class ManifestStreamReader(SimpleDataSourceStreamReader):
    """Streaming half: START-DRIVEN version-cursor tailing (same
    SimpleDataSourceStreamReader discipline as `SensorStreamReader` —
    the offset lives in Spark's WAL, not in the reader, so restart
    exactly-once holds by construction).  Each `read(start)` advances
    the cursor to the current head version and emits the rows ADDED by
    append commits in between; overwrite/delete commits advance the
    cursor with no rows (dataChange=false).  `readBetweenOffsets` is a
    deterministic replay because versioned manifests are immutable.
    Per the Simple-reader contract rows flow through the driver — the
    demo-rate path; a production tail at 100 TB uses the same
    version-cursor offsets with `read_change_feed` handing PLANS (not
    rows) to executors, cf. `pyds_sink_change_feed`.

    Metadata-op interaction: rename / delete_mor / merge / materialize
    commits are dataChange=false here (no rows emitted — for `merge`
    that is the documented CoW-MERGE change-feed limitation).  Delta
    files resolve their rename chains against the range's END manifest
    (same rule as `read_change_feed`), so a stream whose schema matches
    the table's current logical names keeps working across files
    written under stale pre-rename schemas.  A rename that changes the
    LOGICAL schema mid-stream cannot be served under the stream's fixed
    start schema: it refuses loudly with a restart-the-stream error
    (previously a bare KeyError from the arrow column lookup).  A field
    the stream knows but an old delta file predates (additive schema
    evolution) surfaces NULLs, matching `read_manifest(merge_schema)`."""

    def __init__(self, options, schema: StructType):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("rtbd_manifest_table requires a path option")
        self.fields = [f.name for f in schema.fields]

    def initialOffset(self):
        return {"version": 0}

    def _head_version(self) -> int:
        import os

        latest = _latest_snapshot(self.path)
        return latest.get("version", 0) if latest else 0

    def _rows(self, v0: int, v1: int) -> list:
        import os

        import pyarrow.parquet as pq

        deltas = _append_deltas(self.path, v0, v1)
        new_files = [fn for d in deltas for fn in d["new_files"]]
        if not new_files:
            return []
        # per-file rename chains under the range's END manifest — the
        # same logical-name rule as read_change_feed / _read_logical
        end_m = _load_manifest_file(self.path, f"_manifest-v{v1}.json")
        meta = _file_logical_metadata(self.path, end_m, new_files)
        out: list = []
        for fn in new_files:
            tbl = pq.read_table(os.path.join(self.path, fn))
            names = list(tbl.column_names)
            for old, new in meta[fn][0]:
                names = [new if n == old else n for n in names]
            have = set(names)
            missing = [n for n in self.fields if n not in have]
            if missing and (have - set(self.fields)):
                raise RuntimeError(
                    f"rtbd_manifest_table stream: delta file {fn} resolves to "
                    f"logical columns {sorted(have)}, which diverge from the "
                    f"stream's fixed schema {self.fields} (column renamed "
                    "mid-stream?) — restart the stream to adopt the new schema"
                )
            tbl = tbl.rename_columns(names)
            cols = [
                tbl.column(n).to_pylist() if n in have else [None] * tbl.num_rows
                for n in self.fields
            ]
            out.extend(zip(*cols))
        return out

    def read(self, start: dict):
        v0, v1 = start["version"], self._head_version()
        if v1 <= v0:
            return iter([]), {"version": v0}
        return iter(self._rows(v0, v1)), {"version": v1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(start["version"], end["version"]))

    def commit(self, end: dict) -> None:
        pass  # the cursor is derivable from immutable manifests


class ManifestTableDataSource(DataSource):
    """`rtbd_manifest_table`: option path=<dir of a manifest-sink
    table>.  Batch reads see the committed snapshot; streaming reads
    tail the table's append commits with the manifest version as the
    offset.  Schema is inferred from the snapshot's parquet footers
    (driver-side metadata read)."""

    @classmethod
    def name(cls) -> str:
        return "rtbd_manifest_table"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("rtbd_manifest_table requires a path option")
        manifest = _head_snapshot(path)
        # the table's LOGICAL schema presents post-rename names (the
        # shared helper replays the rename log over the sampled footer);
        # an emptied table serves the schema its emptying commit recorded
        ddl = _logical_schema_ddl(path, manifest)
        if ddl is None:
            raise ValueError("rtbd_manifest_table: empty table has no schema")
        return ddl

    def reader(self, schema: StructType) -> ManifestBatchReader:
        return ManifestBatchReader(self.options, schema)

    def simpleStreamReader(self, schema: StructType) -> ManifestStreamReader:
        return ManifestStreamReader(self.options, schema)


def register_sink(spark) -> None:
    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(ManifestTableDataSource)
