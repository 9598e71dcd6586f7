"""Partitioning-preserving localCheckpoint for iterative model tables.

Under AQE, ``Dataset.localCheckpoint`` records ``UnknownPartitioning``
(the adaptive wrapper hides the final partitioning at checkpoint time),
so a downstream stage that could ride the checkpoint's existing hash
clustering re-exchanges instead — measured as one full-table shuffle per
iteration in the PageRank rounds (edge table) and the BPE rounds (word
table). Executing the eager checkpoint with AQE disabled for exactly
that one job keeps the ``HashPartitioning`` on the resulting LogicalRDD;
Spark's ``EnsureRequirements`` then accepts it for any window/aggregate
whose clustering keys are a superset of the partitioning keys.

Use ONLY for tables an iteration re-reads clustered on a stable key; a
one-shot checkpoint gains nothing from losing AQE on its build job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_partitioned(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint whose output KEEPS the plan's partitioning."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def spill_bucketed(df: DataFrame, key: str, table_name: str) -> DataFrame:
    """Columnar DISK materialization that keeps hash partitioning via a
    bucket spec — the beyond-JVM-memory sibling of checkpoint_partitioned.

    localCheckpoint caches partitions DESERIALIZED (MEMORY_AND_DISK java
    objects): the r6 sf100 PageRank measured 4.1 GiB per partition x 32
    for a ~1.5B-row edge table — scratch-disk/heap exhaustion in one JVM.
    Writing the table bucketed+sorted on the iteration's join key instead
    stores it as parquet (columnar, ~10x smaller than object form) while
    the bucketed scan still reports HashPartitioning(key) — every
    iteration's join reuses it with zero edge-side Exchange, exactly what
    the partitioned checkpoint bought, minus the cache. Overwrites a
    FIXED scratch table name per call (warehouse-local; re-runs reclaim
    the space)."""
    from pyspark.sql import functions as F

    from brooklin_spark.operators.bucketing import write_bucketed

    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    drop_scratch_table(spark, table_name)
    # repartition on the bucket key first: writer bucket hash == Murmur3
    # repartition hash, so each task holds one bucket -> one sorted file
    # per bucket -> the scan's outputOrdering survives for SMJ
    write_bucketed(df.repartition(n, F.col(key)), table_name, key, n, sort=True)
    return spark.table(table_name)


def drop_scratch_table(spark, table_name: str) -> None:
    """DROP a scratch table AND its orphaned warehouse directory: the
    in-memory catalog dies with the session but the managed files don't,
    and a later session's CREATE fails with LOCATION_ALREADY_EXISTS.

    The directory is resolved from the CATALOG when the table is still
    registered (a db-qualified table lives at <warehouse>/<db>.db/<name>,
    not <warehouse>/<name>); only a fully-orphaned directory (files with
    no catalog entry) falls back to path construction — which then must
    account for the owning database the same way."""
    import os
    import shutil

    if spark.catalog.tableExists(table_name):
        from brooklin_spark.operators.bucketing import table_location

        loc = table_location(spark, table_name)
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        shutil.rmtree(loc, ignore_errors=True)
        return
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    parts = table_name.split(".")
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase()
    name = parts[-1]
    loc = (
        os.path.join(warehouse, name)
        if db == "default"
        else os.path.join(warehouse, f"{db}.db", name)
    )
    shutil.rmtree(loc, ignore_errors=True)


def scratch_name(base: str, corpus_path: str) -> str:
    """Collision-safe scratch-table name: <base>_<corpus-key>_<pid>.

    The corpus key (``io.source_key``: the path and its ``file_stamp``,
    the key of every derived artifact) separates back-to-back runs over
    different data; the pid separates concurrent processes sharing one
    warehouse (the pytest-alongside-bench case). Orphans from crashed runs
    are reclaimed by gc_dead_scratch()."""
    import os

    from brooklin_spark.io import source_key

    return f"{base}_{source_key([corpus_path])}_{os.getpid()}"


def gc_dead_scratch(spark, prefix: str) -> None:
    """Reclaim scratch tables/directories named <prefix>_<key>_<pid> whose
    owning process is gone (crashed or finished without cleanup). Live
    pids are never touched, so concurrent runs stay isolated."""
    import os
    import re
    import shutil

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    pat = re.compile(rf"^{re.escape(prefix)}_[0-9a-f]+_(\d+)$")
    candidates = set()
    if os.path.isdir(warehouse):
        candidates.update(os.listdir(warehouse))
    for t in spark.catalog.listTables():
        candidates.add(t.name)
    for name in candidates:
        m = pat.match(name)
        if not m or os.path.exists(f"/proc/{m.group(1)}"):
            continue
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
