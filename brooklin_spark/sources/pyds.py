"""Spark 4 Python DataSource implementations — the official connector SPI.

The reference's connector surface is an SPI (Connector.java:21,
DatabaseChunkedReader.java:60); this module re-expresses two of its
source shapes through Spark's first-class Python DataSource API instead
of ad-hoc readers, so they plan, schedule, and checkpoint like any
built-in format:

1. ``chunked_duckdb`` — the chunked snapshot source
   (DatabaseChunkedReader / MySqlChunkedQueryManager semantics,
   SURVEY §2.1) against a LIVE embedded database: DuckDB executes
   ``MOD(hash(pk), N) = shard`` database-side, one InputPartition per
   hash shard, and supported WHERE predicates are pushed into the
   database query via the SPI's ``pushFilters`` hook. No JDBC server
   ships in this container; DuckDB standing in as the database makes the
   previously golden-SQL-only chunk semantics actually executable.

2. ``parquet_replay`` — a micro-batch stream source with explicit
   numeric offsets over a deterministically-ordered file: Kafka-like
   ``startingOffset`` / ``maxRecordsPerBatch`` flow control
   (KafkaConnectorTask poll-loop semantics, SURVEY §2.1/§2.8) through
   ``DataSourceStreamReader`` — initialOffset/latestOffset/partitions/
   read/commit are the engine's own replay contract, so checkpoint
   recovery and exactly-once offsets come from Structured Streaming, not
   hand-rolled state.

Each task opens its own in-process DuckDB connection (connections are
not serializable); reads yield Arrow record batches, so rows never pass
through Python object conversion.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

_DUCK_TO_SPARK = {
    "BIGINT": "bigint",
    "UBIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",
    "FLOAT[]": "array<float>",
    "DOUBLE[]": "array<double>",
}


def _q(path: str) -> str:
    """Single-quote a path for embedding in a DuckDB literal."""
    return path.replace("'", "''")


def _probe_schema(path: str) -> str:
    """DDL schema string derived from the parquet footer via DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{_q(path)}')"
        ).fetchall()
    finally:
        con.close()
    cols = []
    for name, typ, *_ in rows:
        t = typ.upper()
        if t.startswith("DECIMAL"):
            spark_t = t.lower()
        else:
            spark_t = _DUCK_TO_SPARK.get(t)
        if spark_t is None:
            raise ValueError(f"unsupported parquet column type {typ} for {name}")
        cols.append(f"{name} {spark_t}")
    return ", ".join(cols)


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


class _ShardPartition(InputPartition):
    def __init__(self, shard: int, where: list):
        self.shard = shard
        self.where = where


class ChunkedDuckDBReader(DataSourceReader):
    """One InputPartition per hash shard; the database evaluates the
    shard predicate AND every pushed filter (DatabaseChunkedReader's
    'the DB does the work' contract)."""

    def __init__(self, options):
        self.path = options["path"]
        self.pk = options["pk"]
        self.num_shards = int(options.get("num_shards", "8"))
        self.pushed: list[str] = []

    def pushFilters(self, filters):
        """Translate supported comparisons to database-side WHERE terms;
        yield back what the database should not handle (Spark applies
        those). The accepted terms filter EXACTLY, so double-application
        by Spark is harmless."""
        _OPS = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        # REPLACE, never append: the same reader instance serves every
        # query planned over its DataFrame, so appending would leak one
        # query's filters into the next (observed: an unfiltered count
        # returning the previous query's filtered count)
        self.pushed = []
        for f in filters:
            op = _OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.pushed.append(
                    f"{f.attribute[0]} {op} {_sql_literal(f.value)}"
                )
            elif isinstance(f, IsNotNull) and len(f.attribute) == 1:
                self.pushed.append(f"{f.attribute[0]} IS NOT NULL")
            else:
                yield f

    def partitions(self):
        # consume-once: snapshot this query's pushed filters into the
        # partitions and CLEAR reader state — the reader object can
        # outlive the query (observed), and pushFilters is not re-invoked
        # for filterless queries, so state left behind here would poison
        # the next scan over the same DataFrame
        where, self.pushed = self.pushed, []
        return [_ShardPartition(i, where) for i in range(self.num_shards)]

    def read(self, partition: _ShardPartition):
        import duckdb

        where = [f"MOD(hash({self.pk}), {self.num_shards}) = {partition.shard}"]
        where += partition.where
        con = duckdb.connect()
        try:
            cur = con.execute(
                f"SELECT * FROM read_parquet('{_q(self.path)}') "
                f"WHERE {' AND '.join(where)}"
            )
            reader = cur.fetch_record_batch(65536)
            while True:
                try:
                    yield reader.read_next_batch()
                except StopIteration:
                    break
        finally:
            con.close()


class ChunkedDuckDBDataSource(DataSource):
    """spark.read.format("chunked_duckdb")
    .options(path=..., pk=..., num_shards=...)"""

    @classmethod
    def name(cls) -> str:
        return "chunked_duckdb"

    def schema(self) -> str:
        return _probe_schema(self.options["path"])

    def reader(self, schema) -> DataSourceReader:
        return ChunkedDuckDBReader(self.options)


class ParquetReplayStreamReader(SimpleDataSourceStreamReader):
    """Numeric-offset micro-batch replay of a deterministically-ordered
    file: offset = rows delivered so far; each read() advances by at most
    ``batch_rows`` (the maxRecordsPerPoll flow-control knob,
    KafkaConnectorTask poll-loop parity). Each batch re-sorts for its
    LIMIT/OFFSET slice, so a full replay costs O(batches * sort) — sized
    for bootstrap/replay of bounded files (the reference's snapshot
    use-case), not unbounded tailing; a production variant would keyset-
    paginate on order_col exactly like sources/jdbc_chunked.py.

    Simple-reader protocol on purpose: the engine owns offset
    bookkeeping — on checkpoint recovery it replays the uncommitted
    range via readBetweenOffsets(start, end) and CONTINUES from the
    committed offset via read(start), so flow control survives restart
    with no reader-side persistent state. (The partition-planning
    DataSourceStreamReader protocol only tells a restarted reader the
    committed offset once new data is planned — a fresh reader would
    re-advertise from zero and processAllAvailable would see nothing to
    do; measured exactly that before switching APIs.)
    """

    def __init__(self, options):
        self.path = options["path"]
        self.order_col = options["order_col"]
        self.batch_rows = int(options.get("batch_rows", "1000"))
        self.start_row = int(options.get("start_row", "0"))
        import duckdb

        con = duckdb.connect()
        try:
            self.total = con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{_q(self.path)}')"
            ).fetchone()[0]
        finally:
            con.close()

    def initialOffset(self) -> dict:
        return {"rows": self.start_row}

    def _fetch(self, lo: int, hi: int) -> list:
        import duckdb

        con = duckdb.connect()
        try:
            return con.execute(
                f"SELECT * FROM read_parquet('{_q(self.path)}') "
                f"ORDER BY {self.order_col} "
                f"LIMIT {hi - lo} OFFSET {lo}"
            ).fetchall()
        finally:
            con.close()

    def read(self, start: dict):
        lo = start["rows"]
        hi = min(self.total, lo + self.batch_rows)
        if hi <= lo:
            return iter([]), start
        return iter(self._fetch(lo, hi)), {"rows": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._fetch(start["rows"], end["rows"]))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the streaming checkpoint, nothing to ack


class ParquetReplayDataSource(DataSource):
    """spark.readStream.format("parquet_replay")
    .options(path=..., order_col=..., batch_rows=...)"""

    @classmethod
    def name(cls) -> str:
        return "parquet_replay"

    def schema(self) -> str:
        return _probe_schema(self.options["path"])

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return ParquetReplayStreamReader(self.options)


class _FileCommit(WriterCommitMessage):
    """Per-task commit message: staged file path + row count."""

    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class TransactionalDirStreamWriter(DataSourceStreamWriter):
    """Two-phase-commit directory sink over the Python DataSource WRITER
    SPI — the Spark-4 twin of the reference's file/directory
    TransportProvider contract (TransportProvider.java:15 send/flush;
    the two-phase pending->promote discipline mirrored from this repo's
    dirwatch source and materialize sink): executor tasks stage their
    partition as a JSONL file under ``_tmp/``; the driver-side
    ``commit(messages, batchId)`` atomically promotes the staged files
    into ``data/`` and appends ONE manifest line for the epoch;
    ``abort`` discards stages. Readers consume ONLY manifest-listed
    files (``committed_files``), so a torn epoch is invisible — the same
    reader contract as the materialize store. Local/shared-FS
    assumption: rename-based promotion needs driver+executors on one
    filesystem (true for the directory transport's use-case; the Kafka
    transport is the network path).
    """

    def __init__(self, options):
        self.path = options["path"]

    # runs on EXECUTORS — one staged file per task.
    # Type mapping (so a numeric read-back schema stays numeric):
    # Decimal -> JSON number (float), date/timestamp -> ISO string (read
    # back as string or via to_timestamp), binary -> hex string; plain
    # str() only as the last-resort fallback.
    def write(self, iterator):
        import datetime as _dt
        import json as _json
        import os as _os
        import uuid as _uuid
        from decimal import Decimal as _Dec

        def safe(v):
            if isinstance(v, _Dec):
                return float(v)
            if isinstance(v, _dt.datetime):
                return v.isoformat(sep=" ")
            if isinstance(v, _dt.date):
                return v.isoformat()
            if isinstance(v, (bytes, bytearray)):
                return bytes(v).hex()
            return v

        tmp_dir = _os.path.join(self.path, "_tmp")
        _os.makedirs(tmp_dir, exist_ok=True)
        fp = _os.path.join(tmp_dir, f"part-{_uuid.uuid4().hex}.jsonl")
        n = 0
        with open(fp, "w") as f:
            for row in iterator:
                d = {k: safe(v) for k, v in row.asDict().items()}
                f.write(_json.dumps(d, default=str) + "\n")
                n += 1
        return _FileCommit(fp, n)

    # driver-side: atomic promote + manifest append (the commit point).
    # IDEMPOTENT by epoch: after a crash-restart Structured Streaming
    # re-runs the last possibly-uncommitted batch with the SAME batchId —
    # if its manifest line already exists, the re-delivery's stages are
    # discarded instead of double-appending (the sink-side half of
    # exactly-once; the reference's flushless-checkpoint analog).
    def commit(self, messages, batchId) -> None:
        manifest = os.path.join(self.path, "_manifest.jsonl")
        if any(e["epoch"] == batchId for e in _manifest_entries(manifest)):
            self.abort(messages, batchId)
            return
        data_dir = os.path.join(self.path, "data")
        os.makedirs(data_dir, exist_ok=True)
        promoted, rows = [], 0
        for m in messages:
            if m is None:
                continue
            if m.rows == 0:
                if os.path.exists(m.path):
                    os.remove(m.path)
                continue
            dst = os.path.join(
                data_dir, f"epoch-{batchId:06d}-{os.path.basename(m.path)}"
            )
            os.rename(m.path, dst)
            promoted.append(dst)
            rows += m.rows
        # fsync'd append: a crash BEFORE the line lands leaves only
        # manifest-invisible orphans in data/ (a retried commit writes a
        # fresh line for its own stages); a torn trailing line is skipped
        # by the tolerant parse in _manifest_entries
        with open(manifest, "a") as f:
            f.write(
                json.dumps({"epoch": batchId, "files": promoted, "rows": rows})
                + "\n"
            )
            f.flush()
            os.fsync(f.fileno())

    def abort(self, messages, batchId) -> None:
        for m in messages or []:
            try:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)
            except OSError:
                pass  # best-effort cleanup; stragglers stay in _tmp/


class TransactionalDirDataSource(DataSource):
    """df.writeStream.format("txn_dir").option("path", ...)"""

    @classmethod
    def name(cls) -> str:
        return "txn_dir"

    def streamWriter(self, schema, overwrite):
        return TransactionalDirStreamWriter(self.options)


def _manifest_entries(manifest: str) -> list:
    """Parsed manifest lines, TOLERANT of a torn trailing line (a crash
    mid-append must not poison the sink — the partial line's epoch was
    never durably committed, so skipping it is the correct recovery)."""
    out: list = []
    if not os.path.exists(manifest):
        return out
    with open(manifest) as f:
        for line in f:
            if not line.endswith("\n"):
                break  # torn tail: epoch not durably committed
            try:
                out.append(json.loads(line))
            except ValueError:
                break  # garbage tail from a partial write
    return out


def committed_files(path: str) -> list:
    """Files promoted by a completed commit — the ONLY thing a reader
    may consume (torn/aborted epochs never reach the manifest)."""
    manifest = os.path.join(path, "_manifest.jsonl")
    out: list = []
    for entry in _manifest_entries(manifest):
        out.extend(entry["files"])
    return out


class _OcfSplit(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


_AVRO_TO_SPARK = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "bytes": "binary",
}


def _ocf_files(path: str) -> list:
    import glob as _g

    if os.path.isdir(path):
        return sorted(_g.glob(os.path.join(path, "*.avro")))
    return sorted(_g.glob(path))


def _ocf_header(path: str):
    """Parse just the container header: (writer_schema, sync, header_end)."""
    from brooklin_spark.functions.avro_codec import _read_varint, decode_value

    with open(path, "rb") as f:
        data = f.read(1 << 16)  # headers are tiny; metadata is schema+codec
    if data[:4] != b"Obj\x01":
        raise ValueError(f"{path}: not an Avro OCF")
    meta, pos = {}, 4
    while True:
        count, pos = _read_varint(data, pos)
        if count == 0:
            break
        for _ in range(abs(count)):
            k, pos = decode_value("string", data, pos)
            v, pos = decode_value("bytes", data, pos)
            meta[k] = v
    schema = json.loads(meta["avro.schema"].decode())
    return schema, data[pos : pos + 16], pos + 16


class AvroOcfReader(DataSourceReader):
    """Byte-range-splittable Avro OCF reader — the real Avro split
    algorithm: partitions are fixed byte ranges; each task mmaps its
    file, finds the first block boundary at-or-after its range start by
    scanning for the 16-byte sync marker (a block starts right after the
    header or right after a sync), then decodes exactly the blocks whose
    START falls inside its range (a block may spill past range end — it
    belongs to the range containing its start, so every block is decoded
    exactly once). Same 2^-128 false-sync caveat as every Avro reader.

    This upgrades functions/avro_ocf.read_ocf's one-task-per-file
    granularity to true intra-file parallelism: a single huge container
    file fans out across the cluster.
    """

    def __init__(self, options):
        self.path = options["path"]
        self.split_bytes = int(options.get("split_bytes", str(4 << 20)))
        # optional READER schema (Avro 'Schema Resolution', the same
        # name-matching + defaults subset as functions/avro_codec.resolve):
        # each file decodes with ITS OWN writer schema, then projects onto
        # the reader record — writer-only fields drop, reader-only fields
        # take declared defaults. This is how mixed-generation landing
        # directories (additive column evolution) read as one table.
        self.reader_schema = (
            json.loads(options["reader_schema"])
            if "reader_schema" in options
            else None
        )

    def partitions(self):
        out = []
        for p in _ocf_files(self.path):
            size = os.path.getsize(p)
            start = 0
            while start < size:
                out.append(_OcfSplit(p, start, min(start + self.split_bytes, size)))
                start += self.split_bytes
        return out or [_OcfSplit("", 0, 0)]

    def read(self, partition: _OcfSplit):
        import mmap

        import pyarrow as pa

        from brooklin_spark.functions.avro_codec import _read_varint, decode_value

        if not partition.path:
            return
        schema, sync, header_end = _ocf_header(partition.path)
        if self.reader_schema is not None:
            fields = [f["name"] for f in self.reader_schema["fields"]]
            writer_names = {f["name"] for f in schema["fields"]}
            defaults = {}
            for f in self.reader_schema["fields"]:
                if f["name"] not in writer_names:
                    if "default" not in f:
                        raise ValueError(
                            f"reader field {f['name']!r} absent from "
                            f"{partition.path} and has no default"
                        )
                    defaults[f["name"]] = f["default"]
        else:
            fields = [f["name"] for f in schema["fields"]]
            defaults = {}
        with open(partition.path, "rb") as f:
            mm = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
            try:
                size = len(mm)
                # first block boundary at-or-after range start
                if partition.start <= header_end:
                    pos = header_end
                else:
                    hit = mm.find(sync, partition.start - 16)
                    if hit < 0:
                        return
                    pos = hit + 16
                rows: list = []
                while pos < partition.end and pos < size:
                    n_rec, p = _read_varint(mm, pos)
                    _, p = _read_varint(mm, p)
                    for _ in range(n_rec):
                        rec, p = decode_value(schema, mm, p)
                        rows.append(rec)
                    if mm[p : p + 16] != sync:
                        raise ValueError(
                            f"{partition.path}: sync mismatch at {p}"
                        )
                    pos = p + 16
                if rows:
                    yield pa.RecordBatch.from_pydict(
                        {
                            c: [r.get(c, defaults.get(c)) for r in rows]
                            for c in fields
                        }
                    )
            finally:
                mm.close()


class OcfTailStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch tail of an OCF landing directory: offset = number of
    files consumed in lexicographic name order (producers name files
    monotonically — the dirwatch/file-source convention; producers that
    can't should land through the txn_dir manifest instead). Each read()
    consumes at most ``max_files`` new files (maxFilesPerPoll flow
    control); the engine's checkpoint owns the offset, so restart
    recovery replays the uncommitted file range exactly once — the same
    simple-reader rationale as ParquetReplayStreamReader above."""

    def __init__(self, options):
        self.path = options["path"]
        self.max_files = int(options.get("max_files", "4"))

    def _files(self) -> list:
        return _ocf_files(self.path)

    def initialOffset(self) -> dict:
        return {"files": 0}

    def _rows(self, files: list) -> list:
        # materialized list, NOT a generator: the engine's prefetch cache
        # copy.copy()s entries, and generators don't pickle — a batch is
        # bounded by max_files anyway
        from brooklin_spark.functions.avro_ocf import read_ocf_bytes

        out = []
        for p in files:
            with open(p, "rb") as f:
                schema, recs = read_ocf_bytes(f.read())
            fields = [fl["name"] for fl in schema["fields"]]
            out.extend(tuple(r[c] for c in fields) for r in recs)
        return out

    def read(self, start: dict):
        files = self._files()
        lo = start["files"]
        hi = min(len(files), lo + self.max_files)
        if hi <= lo:
            return iter([]), start
        return iter(self._rows(files[lo:hi])), {"files": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(self._files()[start["files"] : end["files"]]))

    def commit(self, end: dict) -> None:
        pass


class AvroOcfDataSource(DataSource):
    """spark.read.format("avro_ocf").options(path=..., split_bytes=...)"""

    @classmethod
    def name(cls) -> str:
        return "avro_ocf"

    def schema(self) -> str:
        if "reader_schema" in self.options:
            schema = json.loads(self.options["reader_schema"])
        else:
            files = _ocf_files(self.options["path"])
            if not files:
                raise ValueError(f"no .avro files under {self.options['path']}")
            schema, _, _ = _ocf_header(files[0])
        cols = []
        for f in schema["fields"]:
            t = f["type"]
            if isinstance(t, list):  # nullable union ["null", T]
                t = next(x for x in t if x != "null")
            cols.append(f"{f['name']} {_AVRO_TO_SPARK[t]}")
        return ", ".join(cols)

    def reader(self, schema) -> DataSourceReader:
        return AvroOcfReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return OcfTailStreamReader(self.options)


def register(spark) -> None:
    """Idempotently register all formats on a session."""
    spark.dataSource.register(ChunkedDuckDBDataSource)
    spark.dataSource.register(ParquetReplayDataSource)
    spark.dataSource.register(TransactionalDirDataSource)
    spark.dataSource.register(AvroOcfDataSource)
