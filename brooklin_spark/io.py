"""Table loading helpers and the engine's one parquet reader.

All testdata access funnels through here so scans stay column-prunable and
filter-pushable: callers get a plain parquet scan DataFrame (no caching, no
collect) and Catalyst prunes columns/filters into the parquet scan per
query. At 100 TB these would be partitioned/bucketed tables behind a
catalog; the API shape is the same.

Every batch parquet read under ``brooklin_spark/`` goes through
``read_parquet``. A read without a schema makes Spark launch one job only to
read a footer (``parquet at ...``, ``mergeSchemasInParallel``), even with
``mergeSchema=false``; at micro-batch scale that fixed per-job cost, not the
data, is what a read costs. The contract:

- An engine-owned store passes the schema it was written with (the
  materialize state, the holding pen, the dead letters), so its read
  launches no job at all.
- Any other path is inferred once and memoized. The memo key is the
  absolute path, the path's ``file_stamp`` and the session confs that
  change what inference returns (``_INFER_CONFS``). One entry is kept per
  path and replaced when its stamp changes, so a rewritten file or
  directory is never served its old schema.
- The memo holds schemas, never DataFrames: each call builds a fresh
  reader, so two reads of one path get distinct attribute ids and a
  self-join of them resolves.

Derived artifacts (an index, a stream split, a fixture file set) are
built from source tables through ``derived(name, sources, build, *params)``:

- The serving path is ``<tempdir>/bspark_<name>_<key>``; the key hashes
  each source's absolute path and ``file_stamp`` plus ``params``
  (``source_key``), so a source rewritten in place gets a fresh build and
  is never served an artifact of its old contents. Stale builds are left
  in place.
- ``build(tmp)`` writes into a private ``<path>.building.<pid>`` dir; the
  helper marks it complete with ``_SUCCESS`` at its root and publishes it
  with ``atomic_publish``, so concurrent builders never serve a partial
  or mixed build. A path whose ``_SUCCESS`` exists is returned at once.

A caller that deletes a directory it read through ``read_parquet`` calls
``forget(dir)`` after it, so the memo holds no entry for a deleted path.

``cdc_schema_evolution_union`` reads with ``mergeSchema=true`` on purpose
(schema evolution is the point of that query) and is the one batch parquet
read that bypasses this module (``tests/test_reachability.py`` holds the
allow-list).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: session confs that change the schema parquet inference returns
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: absolute path -> ((stamp, conf values), inferred schema); one entry per path
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def file_stamp(path: str) -> tuple | None:
    """Identity of a local file or directory as it is now: ``(ino,
    mtime_ns, size)`` of the path and, for a directory, of each top-level
    entry by name. Appending a part file or rewriting the path changes it;
    a file added inside a partition directory changes it through that
    directory's mtime, so only once the kernel's coarse clock has ticked
    since the last change there. None when the path cannot be stat'ed
    (missing, a glob, a URI, a catalog name)."""
    try:
        st = os.stat(path)
        out = (st.st_ino, st.st_mtime_ns, st.st_size)
        if stat.S_ISDIR(st.st_mode):
            with os.scandir(path) as it:
                entries = [(e.name, e.stat()) for e in it]
            out += tuple(
                sorted((n, e.st_ino, e.st_mtime_ns, e.st_size) for n, e in entries)
            )
    except OSError:
        return None
    return out


def source_key(sources, *params) -> str:
    """Hex key of each source's ``(abspath, file_stamp)`` and ``params``:
    the one source-identity key of derived artifacts and scratch tables."""
    import hashlib

    ident = [(os.path.abspath(s), file_stamp(s)) for s in sources]
    return hashlib.md5(repr((ident, params)).encode()).hexdigest()[:12]


def derived(name: str, sources, build, *params) -> str:
    """Serving path of the artifact ``name`` built from ``sources`` under
    ``params``: built on first use by ``build(tmp)``, then published
    atomically (see the module docstring)."""
    import shutil
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"bspark_{name}_{source_key(sources, *params)}"
    )
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = f"{path}.building.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    atomic_publish(tmp, path)
    return path


def forget(root: str) -> None:
    """Drop the memoized schemas of ``root`` and every path under it."""
    root = os.path.abspath(root)
    for p in [p for p in _SCHEMAS if p == root or p.startswith(root + os.sep)]:
        del _SCHEMAS[p]


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` that runs no schema-inference job when
    the schema is known: either passed by the caller (an engine-owned
    store) or memoized from an earlier read of the same unchanged path
    under the same inference confs (see the module docstring)."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    stamp = file_stamp(path)
    if stamp is None:
        # not a local path: Spark resolves it (and reports a missing one)
        return spark.read.parquet(path)
    full = os.path.abspath(path)
    key = (stamp, tuple(spark.conf.get(c, None) for c in _INFER_CONFS))
    hit = _SCHEMAS.get(full)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    # stamp taken before inference: a write racing the read can only make
    # the next read miss, never serve a schema older than its stamp
    df = spark.read.parquet(path)
    _SCHEMAS[full] = (key, df.schema)
    return df


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory summed from the footers,
    without a Spark job. Like Spark, skips ``_``- and ``.``-prefixed
    entries (``_SUCCESS``, ``_temporary``, checksum files)."""
    import pyarrow.dataset as pads

    return sum(
        frag.metadata.num_rows
        for frag in pads.dataset(path, format="parquet").get_fragments()
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    # engine invariants, set at runtime so externally-created sessions (the
    # correctness driver's) behave like session.py sessions: UTC event-time
    # semantics (matches the timezone-naive DuckDB oracle) and nanos-as-long
    # for the events table (Spark 4 refuses TIMESTAMP(NANOS) otherwise)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # "bucketed:<db>:<fallback_dir>" — the 100 TB layout: facts live as
    # bucketed catalog tables (shuffle paid once at write time, joins on
    # the bucket key plan with zero Exchange); tables not in the db fall
    # back to the plain parquet dir. Same queries, different layout —
    # scripts/spine_bucketed.py A/Bs the two.
    if sf_dir.startswith("bucketed:"):
        _, db, fallback = sf_dir.split(":", 2)
        if spark.catalog.tableExists(f"{db}.{name}"):
            return spark.table(f"{db}.{name}")
        return table(spark, fallback, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ts is parquet TIMESTAMP(NANOS) read as long (see session.py conf);
        # truncate to micros — same conversion DuckDB applies natively.
        # Derived corpora (scripts/make_benchdata.py) store micros already
        # and skip this.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so queries can be written in Spark SQL."""
    for n in names or TABLES:
        table(spark, sf_dir, n).createOrReplaceTempView(n)


def atomic_publish(tmp: str, idx: str, success_rel: str = "_SUCCESS") -> None:
    """Publish a freshly-built index directory ``tmp`` at serving path ``idx``.

    Concurrency contract: any number of concurrent builders may call this
    with DISTINCT ``tmp`` dirs (pid-suffixed); exactly one complete build
    ends up served at ``idx``, losers discard their own build, and no
    builder ever removes a directory another builder just published.
    The key discipline: a dir is only rmtree'd after the caller WON an
    exclusive ``os.rename`` of it to a private trash path — rename is
    atomic, so two losers cannot both "clear" the same incomplete index
    (the race the old copy-pasted rmtree-then-rename block had).

    ``success_rel`` is the path — or list of paths — relative to the index
    root whose existence marks a COMPLETE index; Spark writes each during
    its parquet job, before publish, so any successfully-renamed dir
    already has them all.  Multi-part indexes (BM25's postings + stats)
    MUST pass every part's marker: a build that crashed between the parts
    has the first marker but not the last, and treating it as complete
    would keep the broken dir and discard the fresh good build (r8 advice).
    """
    import shutil

    rels = (success_rel,) if isinstance(success_rel, str) else tuple(success_rel)

    def _complete(d: str) -> bool:
        return all(os.path.exists(os.path.join(d, r)) for r in rels)

    for _ in range(16):
        try:
            os.rename(tmp, idx)  # atomic when idx is absent
            return
        except OSError:
            pass
        if _complete(idx):
            # a complete index is already served — we lost the race; keep
            # serving it and drop our own build
            shutil.rmtree(tmp, ignore_errors=True)
            return
        # idx exists but is incomplete (a crashed pre-publish build from an
        # older code path): claim it exclusively before deleting
        trash = f"{idx}.trash.{os.getpid()}"
        try:
            os.rename(idx, trash)
        except OSError:
            continue  # another builder is clearing or publishing — retry
        # TOCTOU guard (r8 advice): between our _complete(idx) == False and
        # winning the rename, a concurrent builder may have cleared the
        # stale dir and published a COMPLETE index — which we just grabbed.
        # Re-check inside the trash dir we now own exclusively; if it is
        # complete, restore it instead of deleting another builder's
        # publish out from under concurrent readers.
        if _complete(trash):
            try:
                os.rename(trash, idx)  # restore; atomic while idx absent
                shutil.rmtree(tmp, ignore_errors=True)
                return
            except OSError:
                # a third builder already published at idx; if that one is
                # complete we can safely drop the copy we hold
                if _complete(idx):
                    shutil.rmtree(trash, ignore_errors=True)
                    shutil.rmtree(tmp, ignore_errors=True)
                    return
                # served dir incomplete again — drop our trash copy and
                # retry the loop to clear/republish
        shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    raise RuntimeError(f"atomic_publish: could not publish {idx}")
