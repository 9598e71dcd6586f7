"""Storage layout operators: partitioned + bucket/sorted parquet writes.

At 100 TB the read-side plan is only half the story — the write-side
LAYOUT decides how much of the lake a query touches:

- hive-style partition columns (e.g. event date) let Catalyst prune whole
  directories at planning time (`PartitionFilters` in the scan, asserted in
  tests/test_plan_quality.py) — a date-ranged query reads days, not years;
- sorting within files tightens parquet min/max row-group statistics, so
  pushed filters skip row groups inside the surviving partitions;
- see operators/bucketing.py for the join-key layout (shuffle-free joins).

The reference's directory sink writes flat files; this is the analytic
upgrade of that surface for the envelope/event tables the engine lands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.io import read_parquet


def write_date_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    sort_cols: list[str] | None = None,
) -> None:
    """Write df as parquet partitioned by the date of ``ts_col`` (hive
    layout, `dt=YYYY-MM-DD/` directories), optionally sorted within
    partitions for tight row-group statistics."""
    out = df.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
    if sort_cols:
        out = out.repartition("dt").sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").partitionBy("dt").parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path)


def zvalue(x_bits: F.Column | str, y_bits: F.Column | str, bits: int = 8) -> F.Column:
    """Morton/Z-order interleave of two ``bits``-bit bucket indexes —
    the space-filling-curve key behind multidimensional clustering
    (Delta's OPTIMIZE ZORDER BY, Iceberg sort orders). Pure bit
    arithmetic, whole-stage-codegen friendly."""
    x = F.col(x_bits) if isinstance(x_bits, str) else x_bits
    y = F.col(y_bits) if isinstance(y_bits, str) else y_bits
    terms = []
    for j in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, j).bitwiseAND(F.lit(1)), 2 * j))
        terms.append(F.shiftleft(F.shiftright(y, j).bitwiseAND(F.lit(1)), 2 * j + 1))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zvalue_sql(x_expr: str, y_expr: str, bits: int = 8) -> str:
    """The identical interleave as portable SQL (oracle twin)."""
    terms = []
    for j in range(bits):
        terms.append(f"((({x_expr} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y_expr} >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


def zorder_repartition(
    df: DataFrame, z_col: F.Column, n_partitions: int
) -> DataFrame:
    """Range-partition by z-value: rows close in BOTH dimensions land in
    the same output file, so parquet min/max statistics stay tight on
    both columns at once — a filter on either dimension prunes files.
    This is the write-side clustering step; pair with a partitioned write
    from write_date_partitioned for the full layout."""
    return df.withColumn("_z", z_col).repartitionByRange(n_partitions, "_z").drop("_z")
