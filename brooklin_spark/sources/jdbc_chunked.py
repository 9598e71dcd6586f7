"""Chunked JDBC snapshot reader: keyset pagination + hash sharding.

Reference semantics (SURVEY.md §2.1):
- DatabaseChunkedReader.java:60,116,262-307 — execute a user query in
  chunks, resumable from per-shard checkpoint keys;
- ChunkedQueryManager.java:16-56 / MySqlChunkedQueryManager.java:19-99 —
  wrap the query as
    SELECT * FROM (q) WHERE MOD(hash(pk...), N) IN (shards)
      AND (pk > ?) ORDER BY pk LIMIT chunk
  (keyset pagination, never OFFSET).

Spark-first split: the *sharding* half maps to spark.read.jdbc's
``predicates`` list — one disjoint hash-shard predicate per partition, so
every executor pulls its own slice in parallel and the DB does the hashing.
The *keyset-pagination* half stays useful for resumable/bounded bootstrap
(generate_chunk_query), e.g. driving incremental snapshot loads.

No database ships in this container, so the reader is exercised through
golden-SQL tests (the reference tests the same way —
TestMysqlChunkedQueryManager.java) plus a DuckDB-backed execution test of
the generated SQL.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class ChunkedQuerySpec:
    """One chunked snapshot read: base query, primary key, shard layout."""

    query: str                       # inner user query (no trailing ;)
    pk_cols: list[str]               # composite key, significant order
    num_shards: int                  # MOD(hash, N) buckets
    chunk_size: int = 10_000
    hash_fn: str = "CRC32"           # dialect hash of the concatenated pk


def _pk_concat(spec: ChunkedQuerySpec) -> str:
    if len(spec.pk_cols) == 1:
        return spec.pk_cols[0]
    return "CONCAT(" + ", ".join(spec.pk_cols) + ")"


def shard_predicate(spec: ChunkedQuerySpec, shards: list[int]) -> str:
    """MOD(hash(pk), N) IN (...) — the per-task partition filter."""
    in_list = ", ".join(str(s) for s in sorted(shards))
    return f"MOD({spec.hash_fn}({_pk_concat(spec)}), {spec.num_shards}) IN ({in_list})"


def keyset_predicate(spec: ChunkedQuerySpec) -> str:
    """Row-value keyset condition for resuming after the last seen key:
    (k1 > ?) OR (k1 = ? AND k2 > ?) OR ... (lexicographic successor)."""
    terms = []
    for i in range(len(spec.pk_cols)):
        eqs = [f"{c} = ?" for c in spec.pk_cols[:i]]
        eqs.append(f"{spec.pk_cols[i]} > ?")
        terms.append("( " + " AND ".join(eqs) + " )")
    return "( " + " OR ".join(terms) + " )"


def generate_first_query(spec: ChunkedQuerySpec, shards: list[int]) -> str:
    """First chunk for a shard set (ChunkedQueryManager.generateFirstQuery
    parity: nested query + shard filter + ORDER BY pk LIMIT chunk)."""
    order = ", ".join(spec.pk_cols)
    return (
        f"SELECT * FROM ( {spec.query} ) nested "
        f"WHERE {shard_predicate(spec, shards)} "
        f"ORDER BY {order} LIMIT {spec.chunk_size}"
    )


def generate_chunk_query(spec: ChunkedQuerySpec, shards: list[int]) -> str:
    """Subsequent chunk: first query + keyset resume condition
    (generateChunkedQuery parity — '?' placeholders bind the last seen key,
    exactly the reference's PreparedStatement shape)."""
    order = ", ".join(spec.pk_cols)
    return (
        f"SELECT * FROM ( {spec.query} ) nested "
        f"WHERE {shard_predicate(spec, shards)} "
        f"AND {keyset_predicate(spec)} "
        f"ORDER BY {order} LIMIT {spec.chunk_size}"
    )


def shard_predicates(spec: ChunkedQuerySpec) -> list[str]:
    """One predicate per shard — feed straight into spark.read.jdbc(
    url, table, predicates=...): N parallel disjoint partition reads with
    the hash evaluated DB-side (no data skew if the hash is uniform)."""
    return [shard_predicate(spec, [s]) for s in range(spec.num_shards)]
