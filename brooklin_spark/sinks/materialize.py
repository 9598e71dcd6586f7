"""CDC materialization transport: apply a change stream's op-codes to a
keyed state table (the consumer-side completion of the reference's CDC
envelope — Brooklin delivers INSERT/UPDATE/DELETE + scn
(BrooklinEnvelopeMetadataConstants.java:19-45) and leaves application to the
consumer; this sink IS that consumer).

Semantics = MERGE INTO: per key, the highest-scn change wins; a winning
DELETE removes the key. State lives as versioned parquet snapshots with an
atomically-replaced pointer file, so readers never see a half-written
snapshot and a crash mid-merge is invisible (the pointer still names the
previous complete version; Structured Streaming replays the uncommitted
batch — idempotent because the merge is deterministic in scn).

At 100 TB this becomes Delta/Iceberg MERGE with the same plan shape: the
expensive step is one shuffle of (key) to line up current state and the
batch — here current-state ⋈ batch union + window; there, the MERGE join.
Rewriting the full snapshot per batch is the standalone-parquet cost; table
formats with file-level pruning replace it with touched-file rewrites.

Each snapshot directory also holds ``_schema.json``, the schema it was
written with (``merge_batch``'s projection: ``k`` string, ``value`` and
``op_code`` as the batch carries them — binary and string for the envelope
— and ``scn`` bigint). Every read declares it to ``io.read_parquet``, so a
merge, reader view or time-travel read launches no footer-inference job.
Spark's reader skips ``_``-prefixed files, so the sidecar is invisible to
the scan.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from brooklin_spark.io import read_parquet

_POINTER = "_CURRENT"
#: per-snapshot sidecar holding the schema the snapshot was written with
_SCHEMA_FILE = "_schema.json"


def _state_root(spec) -> str:
    path = (spec.dest_uri or "").removeprefix("parquet://").removeprefix("file://")
    if not path:
        raise ValueError(f"materialize sink needs dest_uri, got {spec.dest_uri!r}")
    return path


def current_version(root: str) -> int | None:
    p = os.path.join(root, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def read_raw_state(spark, root: str) -> DataFrame | None:
    """Stored state INCLUDING delete tombstones — the merge input. A
    winning DELETE stays on disk as a tombstone so a lower-scn change for
    the same key arriving in a LATER micro-batch (at-least-once
    re-delivery, cross-partition scn skew) loses against it instead of
    resurrecting the deleted row."""
    v = current_version(root)
    if v is None:
        return None
    return _read_snapshot(spark, root, v)


def _read_snapshot(spark, root: str, version: int) -> DataFrame:
    """One snapshot, read with the schema it was written with; a snapshot
    published without the sidecar falls back to the inferring read."""
    path = os.path.join(root, f"v{version}")
    try:
        with open(os.path.join(path, _SCHEMA_FILE)) as f:
            schema = T.StructType.fromJson(json.load(f))
    except FileNotFoundError:
        schema = None
    return read_parquet(spark, path, schema)


def read_state(spark, root: str) -> DataFrame | None:
    """Reader view of the state table: tombstones filtered out."""
    raw = read_raw_state(spark, root)
    if raw is None:
        return None
    return raw.filter(F.col("op_code") != "DELETE")


def versions(root: str) -> list[int]:
    """All snapshot versions still on disk (ascending)."""
    if not os.path.isdir(root):
        return []
    out = []
    for fn in os.listdir(root):
        if fn.startswith("v") and fn[1:].isdigit():
            out.append(int(fn[1:]))
    return sorted(out)


def read_state_at(spark, root: str, version: int) -> DataFrame:
    """Time-travel read: the reader view AS OF a retained snapshot
    version (tombstones filtered). Raises KeyError for vacuumed or
    never-written versions — time travel is bounded by retention, like
    any table format."""
    if version not in versions(root):
        raise KeyError(f"version {version} not retained in {root}")
    return _read_snapshot(spark, root, version).filter(F.col("op_code") != "DELETE")


def vacuum(root: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (never the current
    pointer target). Returns the versions removed."""
    cur = current_version(root)
    keep = set(versions(root)[-max(keep_last, 1):])
    if cur is not None:
        keep.add(cur)
    removed = []
    for v in versions(root):
        if v not in keep:
            shutil.rmtree(os.path.join(root, f"v{v}"), ignore_errors=True)
            removed.append(v)
    return removed


def merge_batch(
    batch_df: DataFrame,
    root: str,
    spark=None,
    keep_versions: int = 2,
    rows: int | None = None,
) -> None:
    """Merge one envelope micro-batch into the state table.

    An empty batch publishes nothing: a merge rewrites the whole state, and
    a snapshot identical to the current one would only push a real version
    out of time-travel retention. So a merge first probes the batch for a
    row (one job), unless the caller passes ``rows``, the batch's row count
    taken without a job (the holding-pen flush counts it from the parquet
    footers); then the merge is only its write jobs.
    """
    spark = spark or batch_df.sparkSession
    if batch_df.isEmpty() if rows is None else rows == 0:
        return
    # keyless records (e.g. file lines) merge by content hash: re-delivered
    # duplicates collapse (at-least-once → effectively-once for keyless
    # streams), distinct payloads stay distinct rows
    upd = batch_df.select(
        F.coalesce(F.col("key").cast("string"), F.md5(F.col("value"))).alias("k"),
        F.col("value").alias("value"),
        F.col("op_code").alias("op_code"),
        F.coalesce(F.col("scn"), F.col("offset")).alias("scn"),
    )
    cur = read_raw_state(spark, root)
    merged = cur.unionByName(upd) if cur is not None else upd
    w = W.partitionBy("k").orderBy(F.desc("scn"))
    # highest scn wins; DELETE winners are RETAINED as tombstones (filtered
    # only in read_state). Compaction after a retention horizon would drop
    # tombstones older than the source's max re-delivery lag.
    new_state = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    _publish(new_state, root, keep_versions)


def _publish(new_state: DataFrame, root: str, keep_versions: int) -> int:
    """Write a snapshot as the next version and atomically swap the
    pointer; trim versions beyond the time-travel retention."""
    v = (current_version(root) or 0) + 1
    out = os.path.join(root, f"v{v}")
    new_state.write.mode("overwrite").parquet(out)
    # as parquet reads it back: every column nullable
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in new_state.schema])
    with open(os.path.join(out, _SCHEMA_FILE), "w") as f:
        f.write(schema.json())
    tmp = os.path.join(root, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(root, _POINTER))
    # retain the newest keep_versions snapshots for time travel
    # (read_state_at); older ones are garbage
    for old in range(1, v - keep_versions + 1):
        shutil.rmtree(os.path.join(root, f"v{old}"), ignore_errors=True)
    return v


def compact(
    root: str,
    spark,
    tombstone_horizon_scn: int | None = None,
    target_files: int | None = None,
    keep_versions: int = 2,
) -> int:
    """OPTIMIZE for the parquet state store: rewrite the current snapshot
    as a new pointer-swapped version, dropping DELETE tombstones at or
    below the re-delivery horizon and/or coalescing small files.

    - ``tombstone_horizon_scn``: a tombstone only exists to outrank a
      lower-scn change arriving late; once the source's max re-delivery
      lag has passed the tombstone's scn, no such change can still
      arrive and the row is garbage. Tombstones ABOVE the horizon are
      kept (and keep suppressing late changes).
    - ``target_files``: per-micro-batch merges leave one small file set
      per batch pattern; at 100 TB the equivalent is the table format's
      OPTIMIZE/bin-packing. Here: one repartition to the target count.

    Readers are never disturbed: the rewrite lands as a NEW version and
    the pointer swap is atomic (same guarantee as merge_batch). Returns
    the published version.
    """
    raw = read_raw_state(spark, root)
    if raw is None:
        raise ValueError(f"no state to compact in {root}")
    out = raw
    if tombstone_horizon_scn is not None:
        out = out.filter(
            ~(
                (F.col("op_code") == "DELETE")
                & (F.col("scn") <= tombstone_horizon_scn)
            )
        )
    if target_files is not None:
        out = out.repartition(target_files)
    return _publish(out, root, keep_versions)
