"""Dedup operator queries over the documents corpus (oracle-checked).

Thresholds fit the testdata (25 near-dup pairs at jaccard >= 0.9, clean gap
below 0.3 — so 0.7 is robust); the operators themselves are generic
(brooklin_spark/operators/dedup.py).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.checkpoint import checkpoint_partitioned, spill_bucketed
from brooklin_spark.io import table
from brooklin_spark.operators import dedup as D
from brooklin_spark.operators import graph as GR
from brooklin_spark.queries import _sqlgen as G
from brooklin_spark.registry import query

# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on the full text. Corpus-level stats per source
# (robust whether or not exact dups exist). 100 TB path: same plan — md5 is
# computed map-side, the groupBy is one shuffle on the fingerprint.
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT source, md5(text) AS fp, count(*) AS n, min(doc_id) AS canonical
      FROM documents GROUP BY source, md5(text))
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_unique,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
    FROM fp GROUP BY source
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    fp = docs.groupBy("source", F.md5("text").alias("fp")).agg(
        F.count("*").alias("n"), F.min("doc_id").alias("canonical")
    )
    return fp.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count("*").alias("n_unique"),
        (F.sum("n") - F.count("*")).cast("bigint").alias("n_redundant"),
        F.sum((F.col("n") > 1).cast("int")).cast("bigint").alias("n_dup_groups"),
    )


# ---------------------------------------------------------------------------
# Bag-of-words exact dedup: fingerprint = md5 over the SORTED token list,
# so token-order permutations of the same content collapse (the curation
# step between raw-byte dedup above and fuzzy Jaccard below — catches
# shuffled boilerplate that md5(text) misses and Jaccard only scores).
# Same 100 TB shape as the raw fingerprint: the sort is per-row map-side
# (bounded by doc length), then one shuffle on the fingerprint.
# ---------------------------------------------------------------------------


@query(
    "dedup_bow_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT source,
             md5(array_to_string(list_sort(list_filter(string_split(text, ' '),
                                                       x -> x <> '')), ' ')) AS fp,
             count(*) AS n, min(doc_id) AS canonical
      FROM documents GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) AS n_unique,
           CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
    FROM fp GROUP BY source
    """,
)
def dedup_bow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    fp = docs.groupBy(
        "source",
        F.md5(F.concat_ws(" ", F.array_sort(toks))).alias("fp"),
    ).agg(F.count("*").alias("n"), F.min("doc_id").alias("canonical"))
    return fp.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count("*").alias("n_unique"),
        (F.sum("n") - F.count("*")).cast("bigint").alias("n_redundant"),
        F.sum((F.col("n") > 1).cast("int")).cast("bigint").alias("n_dup_groups"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard over all pairs sharing a shingle. This is the
# verification kernel; standalone it's only sane at modest corpus sizes
# (the LSH query below is the scale path that feeds it candidates).
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # Shingling via ONE Arrow-batched mapInPandas pass emitting exploded
    # (id, n, shingle) rows (HOFs are interpreted — measured 3x; and the
    # array+size+explode composition double-evaluated the UDF per
    # consumer). Per-doc set size rides on every shingle row so the pair
    # groupBy emits jaccard directly (no size-lookup joins). Shingles key
    # by xxhash64 (codegen, 8-byte shuffle keys instead of 3-word strings;
    # a 64-bit collision inside one doc pair is the accepted ~1e-10 risk,
    # standard for shingle tables at scale).
    # No checkpoint: python subtrees never canonicalize equal, so each
    # self-join side runs the kernel once (2x total map work) — cheaper
    # than a localCheckpoint barrier, which serializes the whole shingle
    # table to disk before the join and is fault-tolerance-unsafe on a
    # real cluster.
    sh = D.shingle_rows_pandas(docs, n=3).select(
        "id", "n", F.xxhash64("shingle").alias("shingle")
    )
    return D.jaccard_pairs_selfjoin(sh, threshold=0.7)


# ---------------------------------------------------------------------------
# MinHash + LSH: 16 hashes, 4 bands × 4 rows → candidates → exact-jaccard
# verify at 0.7. The banding threshold (~(1/4)^(1/4) ≈ 0.71) matches the
# verify threshold. This is the 100 TB dedup path: no all-pairs stage.
# ---------------------------------------------------------------------------

_MH, _BANDS, _ROWS = 16, 4, 4
# Band-bucket posting cap (r5): a giant near-dup cluster shares whole
# signatures and lands in ONE bucket — quadratic candidates. Buckets
# larger than this are dropped (never binds at test SFs — pinned by a
# unit test with a synthetic giant cluster; at 100 TB it is the hard
# per-bucket pair bound).
_LSH_MAX_BUCKET = 1024


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sig AS ({G.minhash_km_select(_MH)}),
    banded AS ({" UNION ALL ".join(G.band_int_exprs(_BANDS, _ROWS))}),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS c
              FROM banded GROUP BY 1, 2),
    capped AS (SELECT b.doc_id, b.band_id, b.band_key
               FROM banded b JOIN bsize s
                 ON s.band_id = b.band_id AND s.band_key = b.band_key
               WHERE s.c <= {_LSH_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM capped x JOIN capped y
        ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, count(*) AS common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT c.doc_a, c.doc_b,
           common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
    FROM cand c
    JOIN common co ON co.doc_a = c.doc_a AND co.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # measured fastest combination (see operators/dedup.py scale notes):
    # checkpointed shingle arrays (computed once, reused by sig + both
    # verify sides; per-call localCheckpoint, NOT persist() — persist
    # registers with the CacheManager and would silently serve later calls
    # from cache; at real scale materialize to a table instead, SCALING.md),
    # signatures via the zero-shuffle Arrow kernel (same KM hash family as
    # the groupBy variant, bit-identical), sig checkpointed too because the
    # band self-join would otherwise re-run the UDF on both sides (no
    # exchange reuse across pandas-UDF subtrees), candidates from banding,
    # then per-pair array-intersect verify — work is O(candidates)
    arr = D.shingle_arrays_pandas(docs, n=3).localCheckpoint()
    sig = D.minhash_signature_pandas(arr, num_hashes=_MH).localCheckpoint()
    cand = D.lsh_candidate_pairs(
        sig, bands=_BANDS, rows_per_band=_ROWS, max_bucket=_LSH_MAX_BUCKET
    )
    return D.jaccard_verify(arr, cand, threshold=0.7)


# ---------------------------------------------------------------------------
# SimHash near-dup: 32-bit signature over shingle features, EXACT
# hamming <= 3 via 4-band candidate generation (Manku et al. pigeonhole:
# d < bands ⇒ every qualifying pair agrees on a full band — no cross join).
# ---------------------------------------------------------------------------

_BITS, _SH_BANDS, _MAX_D = 32, 4, 3


# ---------------------------------------------------------------------------
# Cluster canonicalization: near-dup pairs → connected components → keep the
# min-id doc per cluster. The step that turns pair detection into an actual
# dedup decision. Oracle = DuckDB recursive-CTE transitive closure.
# ---------------------------------------------------------------------------


@query(
    "dedup_canonical_clusters",
    oracle=f"""
    WITH RECURSIVE {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dup_pairs AS (
      SELECT doc_a, doc_b FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT doc_a AS id FROM dup_pairs UNION SELECT doc_b FROM dup_pairs)),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM dup_pairs
      UNION SELECT doc_b, doc_a FROM dup_pairs),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r)
    SELECT id AS doc_id, MIN(r) AS component,
           CAST(MIN(r) = id AS BOOLEAN) AS keep
    FROM reach GROUP BY id
    """,
)
def dedup_canonical_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()  # see dedup_ngram_jaccard: UDF would run twice
    )
    pairs = D.jaccard_pairs_selfjoin(sh, threshold=0.7).select("doc_a", "doc_b")
    comps = D.connected_components(pairs)
    return comps.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("comp") == F.col("id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (r6): the contamination failure mode
# of a naive per-doc split is a near-dup PAIR straddling train and test —
# the eval answer is in the training set. Assignment therefore hashes the
# near-dup CLUSTER id (connected component canonical; singletons hash
# their own doc_id, so un-clustered docs get exactly the
# sample_train_val_test assignment): whole clusters co-assign BY
# CONSTRUCTION. The straddling_clusters column is the AUDIT — computed
# from the assignment, not asserted — and must be 0.
#
# Scale shape: the proven capped-pair/CC path (corpus-scale work is the
# shingle self-join, already posting-capped), then a map-only hash assign
# and one tiny per-split reduce. At 100 TB the cluster table is the small
# output of dedup, joined back broadcast-or-SMJ by AQE.
# ---------------------------------------------------------------------------


@query(
    "dedup_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dup_pairs AS (
      SELECT doc_a, doc_b FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT doc_a AS id FROM dup_pairs UNION SELECT doc_b FROM dup_pairs)),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM dup_pairs
      UNION SELECT doc_b, doc_a FROM dup_pairs),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
    comp AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id),
    assigned AS (
      SELECT d.doc_id, c.comp,
             CASE
               WHEN ascii(substr(md5('split:' || COALESCE(c.comp, d.doc_id)), 1, 1)) % 10 < 8 THEN 'train'
               WHEN ascii(substr(md5('split:' || COALESCE(c.comp, d.doc_id)), 1, 1)) % 10 = 8 THEN 'val'
               ELSE 'test' END AS split
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    straddle AS (
      SELECT COUNT(*) AS straddling_clusters FROM (
        SELECT comp FROM assigned WHERE comp IS NOT NULL
        GROUP BY comp HAVING COUNT(DISTINCT split) > 1))
    SELECT a.split, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN a.comp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(COUNT(DISTINCT a.comp) AS BIGINT) AS n_clusters,
           s.straddling_clusters
    FROM assigned a CROSS JOIN straddle s
    GROUP BY a.split, s.straddling_clusters
    """,
)
def dedup_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()  # UDF would run on both self-join sides otherwise
    )
    pairs = D.jaccard_pairs_selfjoin(sh, threshold=0.7).select("doc_a", "doc_b")
    comps = D.connected_components(pairs).withColumnRenamed("id", "doc_id")
    ck = F.coalesce(F.col("comp"), F.col("doc_id"))
    bucket = (
        F.ascii(
            F.substring(F.md5(F.concat(F.lit("split:"), ck.cast("string"))), 1, 1)
        )
        % 10
    )
    split = F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    assigned = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select("doc_id", "comp", split.alias("split"))
        .localCheckpoint()  # thin (3 cols); feeds the audit AND the reduce
    )
    straddle = (
        assigned.filter(F.col("comp").isNotNull())
        .groupBy("comp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").alias("straddling_clusters"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("comp").isNotNull().cast("long"))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.countDistinct("comp").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(straddle))
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    base AS ({G.simhash_base_int(_BITS)}),
    sums AS (
      SELECT doc_id, {G.simhash_sum_cols_int(_BITS)}
      FROM base GROUP BY doc_id),
    sigs AS (SELECT doc_id, {G.simhash_sig_int_expr(_BITS)} AS sig FROM sums),
    banded AS ({" UNION ALL ".join(G.simhash_band_int_selects(_BITS, _SH_BANDS))}),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS c
              FROM banded GROUP BY 1, 2),
    capped AS (SELECT b.doc_id, b.band_id, b.band_key
               FROM banded b JOIN bsize s
                 ON s.band_id = b.band_id AND s.band_key = b.band_key
               WHERE s.c <= {_LSH_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM capped x JOIN capped y
        ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id)
    SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM cand c JOIN sigs a ON a.doc_id = c.doc_a JOIN sigs b ON b.doc_id = c.doc_b
    WHERE bit_count(xor(a.sig, b.sig)) <= {_MAX_D}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # integer signatures from the zero-shuffle Arrow kernel (bit-identical
    # to the groupBy variant), then ONE band join with inline
    # bit_count(xor) verify. The sig is checkpointed because Spark never
    # reuses exchanges across pandas-UDF subtrees (measured: without it
    # both self-join sides re-run the whole UDF chain — 4 ArrowEvalPython
    # nodes, 0 ReusedExchange; with it the band join is ~0.3s). 8 bytes ×
    # n_docs, the cheapest possible materialization point.
    arr = D.shingle_arrays_pandas(docs, n=3)
    sig = D.simhash_signature_int_pandas(arr, bits=_BITS).localCheckpoint()
    return D.simhash_pairs_onepass(
        sig, bits=_BITS, bands=_SH_BANDS, max_distance=_MAX_D,
        max_bucket=_LSH_MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag corpus documents sharing >= K distinct
# shingles with ANY document of a held-out benchmark set (here: doc_id <
# 50). The asymmetric cousin of near-dup detection every training-data
# pipeline runs before a model ships. Scale shape: the benchmark side's
# shingles are a broadcast-small set — the corpus streams through one
# semi-join-style aggregation keyed on shingle, no corpus self-join at all.
# ---------------------------------------------------------------------------

_DECON_K = 5


@query(
    "dedup_decontamination_flags",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM sh s JOIN bench b ON b.shingle = s.shingle
      WHERE s.doc_id >= 50
      GROUP BY s.doc_id)
    SELECT doc_id, n_shared,
           CAST(n_shared >= {_DECON_K} AS BOOLEAN) AS contaminated
    FROM hits
    """,
)
def dedup_decontamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # filter BEFORE the shingle kernel: doc_id predicates cannot push below
    # a mapInPandas node, so filtering the kernel's OUTPUT shingled the
    # full corpus on both sides (the bench side re-shingled 500k docs for
    # its 50); filtering the input reaches the parquet scan and the bench
    # side's kernel touches 50 docs
    bench = (
        D.shingle_rows_pandas(docs.filter(F.col("doc_id") < 50), n=3)
        .select("shingle").distinct()
    )
    return (
        D.shingle_rows_pandas(docs.filter(F.col("doc_id") >= 50), n=3)
        .select("id", "shingle")
        .join(F.broadcast(bench), "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count("*").alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            (F.col("n_shared") >= _DECON_K).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# LSH self-evaluation: recall of the banded MinHash candidate generator
# against ground-truth jaccard >= 0.7 pairs — the measurement that
# justifies a banding config before trusting it on 100 TB (bands/rows set
# the theoretical S-curve; this measures the realized recall on the
# corpus). Integer counts + a round-6 ratio keep it hash-exact.
# ---------------------------------------------------------------------------


@query(
    "dedup_lsh_recall",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7),
    sig AS ({G.minhash_km_select(_MH)}),
    banded AS ({" UNION ALL ".join(G.band_int_exprs(_BANDS, _ROWS))}),
    bsize AS (SELECT band_id, band_key, COUNT(*) AS c
              FROM banded GROUP BY 1, 2),
    capped AS (SELECT b.doc_id, b.band_id, b.band_key
               FROM banded b JOIN bsize s
                 ON s.band_id = b.band_id AND s.band_key = b.band_key
               WHERE s.c <= {_LSH_MAX_BUCKET}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM capped x JOIN capped y
        ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
    hit AS (SELECT t.doc_a, t.doc_b FROM truth t JOIN cand c
            ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    SELECT (SELECT COUNT(*) FROM truth) AS n_true_pairs,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM hit) AS n_recalled,
           round((SELECT COUNT(*) FROM hit) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS recall
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    truth = D.jaccard_pairs_selfjoin(sh, threshold=0.7).select("doc_a", "doc_b")
    arr = D.shingle_arrays_pandas(docs, n=3).localCheckpoint()
    sig = D.minhash_signature_pandas(arr, num_hashes=_MH).localCheckpoint()
    cand = D.lsh_candidate_pairs(
        sig, bands=_BANDS, rows_per_band=_ROWS, max_bucket=_LSH_MAX_BUCKET
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    hit = truth.join(cand, ["doc_a", "doc_b"])
    n_true = truth.count()
    n_cand = cand.count()
    n_hit = hit.count()
    recall = round(n_hit / n_true, 6) if n_true else None
    return spark.createDataFrame(
        [(n_true, n_cand, n_hit, recall)],
        "n_true_pairs bigint, n_candidates bigint, n_recalled bigint, recall double",
    )


# ---------------------------------------------------------------------------
# Triangle count on the near-dup graph: how many edge triangles the
# detected pairs form — the cluster-density diagnostic (a clique of exact
# copies is triangle-dense; a chain of drifting revisions has none). The
# pair DETECTION stays banded; the detected edges go through the same
# degree-oriented census as graph_triangle_census (GR.triangle_census:
# each triangle counted once at its smallest corner, all inside one lazy
# plan).
# ---------------------------------------------------------------------------


@query(
    "dedup_graph_triangles",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7)
    SELECT COUNT(*) AS n_triangles,
           (SELECT COUNT(*) FROM e) AS n_edges
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    # doc_a < doc_b: the near-dup pairs are already the census's
    # undirected (pa < pb) input
    pairs = D.jaccard_pairs_selfjoin(sh, threshold=0.7).select(
        F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb")
    )
    return GR.triangle_census(pairs).select("n_triangles", "n_edges")


# ---------------------------------------------------------------------------
# Pair-similarity histogram: the jaccard distribution over all pairs
# sharing a shingle, in 0.1 bins — the evidence behind a dedup threshold
# choice (this corpus shows the clean gap: mass below 0.3, near-dups
# above 0.9, nothing in between). Same capped self-join as the detector;
# one extra tiny groupBy on the bin.
# ---------------------------------------------------------------------------


@query(
    "dedup_pair_similarity_histogram",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jac AS (
      SELECT common * 1.0 / (sa.n_sh + sb.n_sh - common) AS j
      FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b)
    SELECT CAST(LEAST(floor(j * 10), 9) AS INTEGER) AS bin,
           COUNT(*) AS n_pairs
    FROM jac GROUP BY 1
    """,
)
def dedup_pair_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    pairs = D.jaccard_pairs_selfjoin(sh, threshold=0.0)
    bin_col = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("int")
    return pairs.groupBy(bin_col.alias("bin")).agg(F.count("*").alias("n_pairs"))


# ---------------------------------------------------------------------------
# Dedup APPLY: the action that detection exists for — drop every document
# that is not its cluster's canonical (min-id) member and report the
# surviving corpus per source. Detection → components → anti-join is the
# whole near-dup removal pipeline in one query; the anti-join's right side
# is only the non-canonical ids (tiny), so the corpus streams.
# ---------------------------------------------------------------------------


@query(
    "dedup_apply_keep_canonical",
    oracle=f"""
    WITH RECURSIVE {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dup_pairs AS (
      SELECT doc_a, doc_b FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT doc_a AS id FROM dup_pairs UNION SELECT doc_b FROM dup_pairs)),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM dup_pairs
      UNION SELECT doc_b, doc_a FROM dup_pairs),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
    drop_ids AS (
      SELECT id AS doc_id FROM reach GROUP BY id HAVING MIN(r) <> id)
    SELECT d.source,
           COUNT(*) AS n_kept,
           CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_ids)
    GROUP BY d.source
    """,
)
def dedup_apply_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()
    )
    pairs = D.jaccard_pairs_selfjoin(sh, threshold=0.7).select("doc_a", "doc_b")
    comps = D.connected_components(pairs)
    drop_ids = comps.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    # drop set scales with the duplicate fraction of the corpus — no
    # broadcast hint on the anti-join side
    kept = docs.join(drop_ids, "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


# ---------------------------------------------------------------------------
# Containment (overlap-coefficient) pairs: |A∩B| / min(|A|,|B|) >= 0.8 —
# catches a short document wholly QUOTED inside a longer one, which
# symmetric jaccard misses (|A∩B|/|A∪B| stays small when sizes differ).
# The training-data case is boilerplate/quotation contamination. Same
# windowed-cap self-join shape as dedup_ngram_jaccard (per-doc set size
# carried on every shingle row; one term-keyed exchange both sides reuse),
# only the final measure differs.
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.8


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           common * 1.0 / least(sa.n_sh, sb.n_sh) AS containment,
           common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common * 1.0 / least(sa.n_sh, sb.n_sh) >= {_CONTAIN_T}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    sh = D.shingle_rows_pandas(docs, n=3).select(
        "id", "n", F.xxhash64("shingle").alias("shingle")
    )
    capped = sh.withColumn(
        "c", F.count("*").over(W.partitionBy("shingle"))
    ).filter(F.col("c") <= D.MAX_POSTING).drop("c")
    a, b = capped.alias("a"), capped.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    containment = F.col("common") / F.least("na", "nb")
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return common.select(
        "doc_a",
        "doc_b",
        containment.alias("containment"),
        jac.alias("jaccard"),
    ).filter(F.col("containment") >= _CONTAIN_T)


# ---------------------------------------------------------------------------
# PageRank (fixed 5 iterations, damping 0.85) over the customer<->supplier
# order graph — the iterative-propagation family member beside connected
# components: node importance over the near-dup/interaction graph a
# curation pipeline builds. Deterministic cross-engine: every iteration
# rounds ranks to 8 decimals (value magnitudes ~1e-3, parallel-sum fold
# noise ~1e-17 — five orders below the grid), so the trajectories are
# bit-identical and the SQL oracle simply unrolls the five steps.
#
# Scale shape: ranks live in two node-scale tables (customers, suppliers);
# each round is ONE supplier-keyed shuffle plus a broadcast of the
# supplier message table into the ck-partitioned grouped adjacency
# (_pr_bipartite_rounds). 100 TB graphs run the same plan with more
# partitions — nothing is collected driver-side.
# ---------------------------------------------------------------------------

def _key_upper_bound(sf_dir: str, tbl: str, col: str) -> int | None:
    """MAX of a key column from the parquet footer statistics only (no
    Spark job, no data scan). None when stats are missing or the layout
    isn't a plain parquet path (e.g. the "bucketed:" scheme)."""
    try:
        import pyarrow.dataset as _pads

        hi = None
        path = os.path.join(sf_dir, f"{tbl}.parquet")
        for frag in _pads.dataset(path, format="parquet").get_fragments():
            md = frag.metadata
            schema_idx = md.schema.to_arrow_schema().get_field_index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(schema_idx).statistics
                if st is None or st.max is None or st.min is None or st.min < 0:
                    return None  # packing requires provably nonnegative keys
                hi = st.max if hi is None else max(hi, st.max)
        return int(hi) if hi is not None else None
    except Exception:
        return None


def _cs_keys(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column, Column]:
    """The customer-supplier rows of orders ⋈ lineitem as `(df, ck, sk)`:
    a frame and the custkey / suppkey column expressions over it.

    When the footer-stat key bounds prove the packing exact, `df` is ONE
    packed long p = custkey * M + suppkey (M = next power of two above
    max suppkey; product bounded by 2^63), and ck = p DIV M, sk = p % M —
    single-column hashing + half the exchange bytes for whatever shuffles
    it (measured 57 -> 26 s on the 58.7M-pair distinct at sf10). Key
    domains that outgrow the packable range (the sf100 replica shift), or
    missing/negative key statistics, fall back to the two columns
    (ck, sk); exact either way."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    joined = o.join(li, li.l_orderkey == o.o_orderkey)
    max_c = _key_upper_bound(sf_dir, "orders", "o_custkey")
    max_s = _key_upper_bound(sf_dir, "lineitem", "l_suppkey")
    if max_c is not None and max_s is not None:
        mult = 1 << max(max_s, 1).bit_length()
        if (max_c + 1) * mult < (1 << 63):
            packed = joined.select(
                (F.col("o_custkey") * F.lit(mult) + F.col("l_suppkey")).alias("p")
            )
            # integer DIV, never `/`: double division loses exactness for
            # packed values above 2^53
            return packed, F.expr(f"p DIV {mult}"), F.col("p") % mult
    cs = joined.select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
    return cs, F.col("ck"), F.col("sk")


def _graph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct bipartite customer-supplier pairs with INTEGER node ids
    (custkey*2 / suppkey*2+1): the graph kernels shuffle longs, not
    'c123' strings — half the shuffle bytes and integer hashing on the
    1M+-edge table at sf0.1+. The display string is formatted only on
    the final per-node result rows (_graph_node_str). The same
    even/odd encoding is written inline wherever a query maps raw keys to
    node ids (_pr_bipartite_rounds, _kcore_grouped, graph_nhop_reach's
    seed set); _graph_node_str is its one inverse.

    The DISTINCT runs on the _cs_keys frame before the ids are formed:
    on the packed path that is one long per row."""
    cs, ck, sk = _cs_keys(spark, sf_dir)
    return cs.distinct().select((ck * 2).alias("c_node"), (sk * 2 + 1).alias("s_node"))


def _grouped_adjacency(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """The customer-grouped adjacency `(ck, ss)` = custkey with its sorted
    distinct supplier array, built from ONE fact-scale exchange keyed on
    the customer (repartition on the group key, so the groupBy adds no
    second exchange; the per-customer distinct+sort runs inside the
    aggregate) and materialized KEEPING HashPartitioning(ck), so every
    per-round groupBy/join on ck rides it exchange-free. deg(c) =
    size(ss): no pair-scale degree exchange, and the stored table is
    customer rows of arrays, not pair rows. Packed-long shuffle when the
    key bounds allow (_cs_keys). A/B'd against the distinct-pairs build
    end-to-end on PageRank (OPTIMIZATION_r09.md, OPTIMIZATION_r10.md):
    sf1 min-of-3 7.26 s vs 7.99 s, and under the r10 bipartite rounds
    sf0.1 too.

    Storage (r6 memory-vs-disk rule): an AQE-off partitioned checkpoint;
    past _PR_SPILL_LI_ROWS fact rows a ck-bucketed columnar scratch table
    named from `scratch` + corpus + pid instead (the deserialized
    checkpoint cache exhausted one JVM on the sf100 graph; the bucketed
    scan keeps the same partitioning), with dead-pid orphans
    garbage-collected first."""
    cs, ck, sk = _cs_keys(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    g = (
        cs.repartition(par, ck)
        .groupBy(ck.alias("ck"))
        .agg(F.array_sort(F.array_distinct(F.collect_list(sk))).alias("ss"))
    )
    if _lineitem_rows(spark, sf_dir) <= _PR_SPILL_LI_ROWS:
        return checkpoint_partitioned(g)
    from brooklin_spark.checkpoint import gc_dead_scratch, scratch_name

    gc_dead_scratch(spark, scratch)
    corpus = os.path.join(sf_dir, "lineitem.parquet")
    return spill_bucketed(g, "ck", scratch_name(scratch, corpus))


def _graph_node_str(col: str):
    """Format the integer node id back to the oracle's 'c<k>'/'s<k>'."""
    n = F.col(col)
    return (
        F.when(
            n % 2 == 0,
            F.concat(F.lit("c"), (n / 2).cast("long").cast("string")),
        ).otherwise(
            F.concat(F.lit("s"), ((n - 1) / 2).cast("long").cast("string"))
        )
    )


_PR_D = 0.85
_PR_ITERS = 5
#: above this many fact rows the grouped adjacency spills columnar
#: (_grouped_adjacency)
_PR_SPILL_LI_ROWS = 100_000_000
#: kcore keeps the r9 pair-table peel below this (its own measured
#: crossover, scripts/r10_kcore_ab.py: sf0.1 pairs wins 5/5 — the grouped
#: build + per-round broadcast jobs lose to the 3-round latency floor;
#: sf1 grouped 3/4, sf10 grouped 3/3 at 2.7x). Data-derived (parquet
#: footer row count), not core-count-derived.
_KCORE_GROUPED_LI_ROWS = 2_000_000
#: largest node count whose node-scale (key, long) side is broadcast into
#: a graph round, whatever table the key comes from (suppliers for
#: PageRank and kcore, parts for assortativity): 64M rows is ~1 GiB
#: framed, well inside the 8 GiB broadcast cap. Above it the same rounds
#: shuffle-join that side instead — a join hint, never a second algorithm.
_BCAST_MAX_NODES = 64_000_000


def _node_side(df: DataFrame, n_nodes: int | None) -> DataFrame:
    """`df` broadcast-hinted when its node count (or key bound) is known
    and within _BCAST_MAX_NODES, else left for a shuffle join."""
    if n_nodes is not None and n_nodes <= _BCAST_MAX_NODES:
        return F.broadcast(df)
    return df

#: per-corpus fact row counts for the spill switches — read ONCE from the
#: parquet footers (metadata-only, no Spark job) instead of running a
#: count() job inside the measured query path on every invocation
_ROWCOUNT_CACHE: dict[tuple[str, str], int] = {}


def _fact_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    if (sf_dir, name) not in _ROWCOUNT_CACHE:
        try:
            import pyarrow.dataset as _pads

            path = os.path.join(sf_dir, f"{name}.parquet")
            n = sum(
                frag.metadata.num_rows
                for frag in _pads.dataset(path, format="parquet").get_fragments()
            )
        except Exception:
            # non-filesystem layouts (the "bucketed:" scheme) fall back to
            # a real count — paid once per corpus per process
            n = table(spark, sf_dir, name).count()
        _ROWCOUNT_CACHE[(sf_dir, name)] = n
    return _ROWCOUNT_CACHE[(sf_dir, name)]


def _lineitem_rows(spark: SparkSession, sf_dir: str) -> int:
    return _fact_rows(spark, sf_dir, "lineitem")


def _pr_bipartite_rounds(g: DataFrame, deg_s: DataFrame, n_c: int, n_s: int) -> DataFrame:
    """Bipartite message-passing rounds over the customer-grouped adjacency
    (r10, guide §2.3/§2.4): customer and supplier ranks are kept as two
    node-scale tables, so NOTHING pair-scale is ever joined, written or
    exchanged inside the rounds —

    - c→s: each customer's message rank/deg(c) is computed BEFORE the
      explode (one division per customer row, not per pair; deg(c) =
      size(ss) so no degree join either), then explode + groupBy(sk):
      partial aggregation bounds the exchange at (partitions × suppliers).
    - s→c: the node-scale supplier message table (sk, rank/deg) is
      BROADCAST into the exploded adjacency (within _BCAST_MAX_NODES
      suppliers; beyond it the same join shuffles); BroadcastHashJoin and
      Generate both preserve g's HashPartitioning(ck), so the groupBy(ck)
      needs no Exchange at all.

    Every supplier appears in some ss and every g row has a non-empty ss
    (pairs come from an inner join), so both aggregates cover their full
    node sets — in the doubled graph every node has an incoming edge, so
    the oracle's LEFT-join-over-nodes is redundant. The two per-direction
    rank chains are disjoint (ranks_c(k+1) reads only ranks_s(k) and vice
    versa), so keeping them lazy double-evaluates nothing. An empty graph
    (no orders or lineitems) yields no rows."""
    n = max(n_c + n_s, 1)  # empty graph: no rows to rank, no division by 0
    base = (1.0 - _PR_D) / n
    r0 = F.round(F.lit(1.0) / n, 8)
    ranks_c = g.select("ck", r0.alias("rank"))
    ranks_s = deg_s.select("sk", r0.alias("rank"))
    for _ in range(_PR_ITERS):
        inflow_s = (
            g.join(ranks_c, "ck")
            .select((F.col("rank") / F.size("ss")).alias("m"), "ss")
            .select(F.explode("ss").alias("sk"), "m")
            .groupBy("sk")
            .agg(F.sum("m").alias("inflow"))
        )
        msg_s = ranks_s.join(deg_s, "sk").select(
            "sk", (F.col("rank") / F.col("deg")).alias("m")
        )
        inflow_c = (
            g.select("ck", F.explode("ss").alias("sk"))
            .join(_node_side(msg_s, n_s), "sk")
            .groupBy("ck")
            .agg(F.sum("m").alias("inflow"))
        )
        rank_upd = F.round(F.lit(base) + _PR_D * F.col("inflow"), 8).alias("rank")
        ranks_s = inflow_s.select("sk", rank_upd)
        ranks_c = inflow_c.select("ck", rank_upd)
    out = ranks_c.select((F.col("ck") * 2).alias("node"), "rank").unionAll(
        ranks_s.select((F.col("sk") * 2 + 1).alias("node"), "rank")
    )
    return out.select(_graph_node_str("node").alias("node"), "rank")


def _pr_iter_sql(k: int) -> str:
    return f"""
    r{k + 1} AS (
      SELECT n.node,
             round((1 - {_PR_D}) / (SELECT cnt FROM n_nodes)
                   + {_PR_D} * COALESCE(SUM(r.rank / d.deg), 0), 8) AS rank
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r{k} r ON r.node = e.src
      LEFT JOIN degree d ON d.node = e.src
      GROUP BY n.node)"""


@query(
    "graph_pagerank_influence",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o.o_custkey AS c_node, 's' || l.l_suppkey AS s_node
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL
      SELECT s_node AS src, c_node AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n_nodes AS (SELECT COUNT(*) AS cnt FROM nodes),
    degree AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT node, round(1.0 / (SELECT cnt FROM n_nodes), 8) AS rank FROM nodes),
    {", ".join(_pr_iter_sql(k).strip() for k in range(_PR_ITERS))}
    SELECT node, rank FROM r{_PR_ITERS}
    """,
)
def graph_pagerank_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the STATIC graph once (the rounds re-read it; unchecked,
    # the orders+lineitem join would re-execute per round): the grouped
    # adjacency, ONE fact-scale exchange yielding pairs AND deg(c) =
    # size(ss), stored hash-partitioned on ck so every round's groupBy(ck)
    # rides it exchange-free (_grouped_adjacency). The per-round ranks
    # stay LAZY: each round's output feeds exactly one consumer, so the
    # five rounds compile into one linear DAG executed once — measured
    # faster at sf1 than eager per-round checkpoints (20.7 s vs 27.5 s
    # best-of-2). r10: the rounds run BIPARTITE over this table
    # (_pr_bipartite_rounds), so no pair-scale table is unioned, joined
    # or written after the build (OPTIMIZATION_r10.md: sf100 2088 s for
    # the r9 edge-table rounds vs 361.6 s, one same-window pair).
    g = _grouped_adjacency(spark, sf_dir, "pr_grouped_scratch")
    # deg(s) = customers carrying s — the single remaining pair-scale
    # aggregate, run once at build (partial aggregation bounds its
    # exchange at partitions × suppliers); node-scale checkpoint so the
    # per-round supplier message table never re-derives it
    deg_s = checkpoint_partitioned(
        g.select(F.explode("ss").alias("sk")).groupBy("sk").agg(F.count("*").alias("deg"))
    )
    return _pr_bipartite_rounds(g, deg_s, g.count(), deg_s.count())


# ---------------------------------------------------------------------------
# Blocked fuzzy name matching (entity resolution): candidate pairs of
# distinct part names that share a blocking key (last name token) and sit
# within edit distance 4 — the record-linkage companion to the shingle/LSH
# dedup family, for short strings where n-gram Jaccard is too coarse.
# Shape: DISTINCT names (one shuffle), equi-join on the block key (never a
# cartesian — same candidates-first discipline as LSH banding), levenshtein
# verify inline JVM-side. At 100 TB the block key bounds each group exactly
# like an LSH band bucket.
# ---------------------------------------------------------------------------


@query(
    "fuzzy_name_match_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    k AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names)
    SELECT a.blk AS block, a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           round(1.0 - levenshtein(a.p_name, b.p_name) * 1.0 /
                 greatest(length(a.p_name), length(b.p_name)), 8) AS sim
    FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def fuzzy_name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = table(spark, sf_dir, "part").select("p_name").distinct()
    keyed = names.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    # An alias alone does NOT guarantee single evaluation — Catalyst's
    # CollapseProject/pushdown would inline `dist` into both the Filter
    # and the Project, re-running levenshtein up to 3x per candidate
    # pair. The lazy localCheckpoint below is a lineage barrier: the thin
    # (block, name_a, name_b, dist) projection materializes ONCE at first
    # use, so each candidate pair pays exactly one levenshtein, and the
    # downstream filter/sim read the stored column. Candidate volume is
    # bounded by the block key (same discipline as an LSH band bucket),
    # so the materialization is small.
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.blk").alias("block"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("dist"),
        )
        .localCheckpoint(eager=False)
        .filter(F.col("dist") <= 4)
    )
    return cand.select(
        "block",
        "name_a",
        "name_b",
        F.col("dist").cast("bigint").alias("dist"),
        F.round(
            1.0
            - F.col("dist")
            / F.greatest(F.length("name_a"), F.length("name_b")),
            8,
        ).alias("sim"),
    )


# ---------------------------------------------------------------------------
# k-hop BFS reach: minimum hop distance from a seed set over the bipartite
# customer-supplier order graph (the doubled _graph_pairs edge table,
# GR.doubled) — the "blast radius" query of lineage/impact analysis.
# Shape: per round, ONE frontier⋈edges equi-join (frontier is the only
# thing that moves; at real scale it's the small side and broadcasts) +
# an anti-join against the visited set; the static edge table is
# localCheckpoint'ed once. The unrolled-round DAG is linear — each round
# feeds exactly one consumer — so Catalyst executes it as one job, like
# the PageRank rounds.
# ---------------------------------------------------------------------------

_BFS_HOPS = 3


def _bfs_round_sql(k: int) -> str:
    return f"""
    f{k + 1} AS (
      SELECT DISTINCT e.dst AS node FROM edges e JOIN f{k} ON f{k}.node = e.src
      WHERE e.dst NOT IN (SELECT node FROM v{k})),
    v{k + 1} AS (
      SELECT node, hops FROM v{k}
      UNION ALL SELECT node, {k + 1} AS hops FROM f{k + 1})"""


@query(
    "graph_nhop_reach",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o.o_custkey AS c_node, 's' || l.l_suppkey AS s_node
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (
      SELECT c_node AS src, s_node AS dst FROM pairs
      UNION ALL
      SELECT s_node AS src, c_node AS dst FROM pairs),
    f0 AS (
      SELECT DISTINCT 'c' || c_custkey AS node FROM customer WHERE c_custkey < 10),
    v0 AS (SELECT node, 0 AS hops FROM f0),
    {", ".join(_bfs_round_sql(k).strip() for k in range(_BFS_HOPS))}
    SELECT node, CAST(hops AS BIGINT) AS hops FROM v{_BFS_HOPS}
    """,
)
def graph_nhop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    # static graph, read every round; integer node ids (see _graph_pairs)
    edges = GR.doubled(_graph_pairs(spark, sf_dir), "c_node", "s_node").localCheckpoint()
    frontier = (
        cust.filter(F.col("c_custkey") < 10)
        .select((F.col("c_custkey") * 2).alias("node"))
        .distinct()
    )
    visited = frontier.select("node", F.lit(0).alias("hops"))
    for k in range(_BFS_HOPS):
        # frontier and visited are each consumed TWICE per round (expand +
        # union); without a per-round checkpoint the lazy DAG doubles per
        # round (measured 53 exchanges at 3 hops). Both tables are
        # reach-bounded — materializing them is the iterative-graph
        # discipline, same as the PageRank static tables.
        nxt = (
            edges.join(F.broadcast(frontier), frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionAll(
            nxt.select("node", F.lit(k + 1).alias("hops"))
        ).localCheckpoint()
        frontier = nxt
    return visited.select(
        _graph_node_str("node").alias("node"),
        F.col("hops").cast("bigint").alias("hops"),
    )


# ---------------------------------------------------------------------------
# Bounded label propagation (2 synchronous min-label rounds) over the
# part co-purchase graph: parts co-occurring in >= 2 distinct orders are
# linked; after K rounds every node carries the min part id within K
# hops — the bounded-round community detector (LPA shape) that
# complements the run-to-convergence connected components above. Scale
# shape mirrors PageRank: the edge table is built once and
# localCheckpoint'd (reused by both rounds + the node set), each round
# is one src-keyed join + one node-keyed min aggregate; labels are
# (node, long) pairs — the only data that moves.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph: (pa, pb), pa < pb, for part pairs
    ordered together in >= 2 DISTINCT orders — the oracles' lineitem
    self-join `GROUP BY pa, pb HAVING COUNT(DISTINCT l_orderkey) >= 2`.

    Built from per-basket sorted arrays (GR.baskets -> GR.pairs_within),
    NOT a lineitem self-join (r8, basket_part_affinity's lesson): the join
    form shuffles BOTH lineitem copies and routes every candidate row
    through the join operator; combinations generate after ONE
    orderkey-grouped exchange (triangle census measured ~0.9 s faster at
    sf0.1, label propagation 2.73 -> 1.92 s). Baskets hold distinct
    parts, so the per-pair count(*) is the distinct-order support. Lazy:
    each caller materializes it as its own consumers need."""
    li = table(spark, sf_dir, "lineitem")
    return (
        GR.pairs_within(GR.baskets(li), "parts", "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ord"))
        .filter(F.col("n_ord") >= 2)
        .select("pa", "pb")
    )


def _min_labels(edges: DataFrame) -> DataFrame:
    """(v, lbl): _LPA_ROUNDS synchronous min-label rounds over the doubled
    (src, dst) edge table, starting from every node labelled with itself —
    each round is one src-keyed join + one node-keyed min aggregate."""
    labels = edges.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        propagated = edges.join(labels, edges.src == labels.v).select(
            F.col("dst").alias("v"), "lbl"
        )
        labels = (
            labels.unionByName(propagated).groupBy("v").agg(F.min("lbl").alias("lbl"))
        )
    return labels


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
    l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
    l1 AS (
      SELECT v, MIN(lbl) AS lbl FROM (
        SELECT v, lbl FROM l0
        UNION ALL
        SELECT e.dst AS v, l0.lbl FROM edges e JOIN l0 ON l0.v = e.src)
      GROUP BY v),
    l2 AS (
      SELECT v, MIN(lbl) AS lbl FROM (
        SELECT v, lbl FROM l1
        UNION ALL
        SELECT e.dst AS v, l1.lbl FROM edges e JOIN l1 ON l1.v = e.src)
      GROUP BY v)
    SELECT CAST(lbl AS BIGINT) AS community,
           COUNT(*) AS n_members,
           CAST(MAX(v) AS BIGINT) AS max_member
    FROM l2 GROUP BY lbl
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the static edge table feeds both rounds and the node set
    edges = GR.doubled(_copurchase_pairs(spark, sf_dir), "pa", "pb").localCheckpoint()
    labels = _min_labels(edges)
    return labels.groupBy(F.col("lbl").cast("bigint").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.max("v").cast("bigint").alias("max_member"),
    )


# ---------------------------------------------------------------------------
# Quality-aware survivor selection: within each near-dup cluster keep the
# HIGHEST-QUALITY member, not the lowest id — the curation rule real
# corpus builds use (the near-dup group often spans a clean original and
# boilerplate-wrapped mirrors; id order is arbitrary, quality is not).
# Composes the canonical-cluster machinery (shingle Jaccard pairs ->
# connected components) with the standard quality score; the survivor is
# argmax(quality, tie -> lowest doc_id) per component.
#
# Float discipline: quality is the same fixed IEEE expression tree both
# engines already hash-match in text_quality_score, so the per-cluster
# ordering (and therefore the kept set) is engine-exact. Scale shape: the
# per-component window partitions on component — cluster-sized groups,
# never corpus-sized; everything upstream is the proven pair/CC path.
# ---------------------------------------------------------------------------


@query(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dup_pairs AS (
      SELECT doc_a, doc_b FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT doc_a AS id FROM dup_pairs UNION SELECT doc_b FROM dup_pairs)),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM dup_pairs
      UNION SELECT doc_b, doc_a FROM dup_pairs),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
    comps AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
    q AS (
      SELECT doc_id,
             0.5 * least(len(list_filter(string_split(text, ' '), x -> x <> '')) / 100.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
                        / len(list_filter(string_split(text, ' '), x -> x <> '')))
               + 0.2 * least(5.0 * len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
                     x -> list_contains(['the','and','of','to','in','is','a'], x)))
                     / len(list_filter(string_split(text, ' '), x -> x <> '')), 1.0) AS quality
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0)
    SELECT c.doc_id, c.component, q.quality,
           (ROW_NUMBER() OVER (PARTITION BY c.component
                               ORDER BY q.quality DESC, c.doc_id ASC) = 1) AS keep
    FROM comps c JOIN q USING (doc_id)
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from brooklin_spark.functions import text as X

    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()  # see dedup_ngram_jaccard: UDF would run twice
    )
    pairs = D.jaccard_pairs_selfjoin(sh, threshold=0.7).select("doc_a", "doc_b")
    comps = D.connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )
    n_tok = X.token_count()
    quality = (
        0.5 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (X.distinct_token_count().cast("double") / n_tok)
        + 0.2 * F.least(5.0 * X.stopword_hits(lang="en") / n_tok, F.lit(1.0))
    )
    q = docs.filter(n_tok > 0).select("doc_id", quality.alias("quality"))
    best = W.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        comps.join(q, "doc_id")
        .withColumn("keep", F.row_number().over(best) == 1)
        .select("doc_id", "component", "quality", "keep")
    )


# ---------------------------------------------------------------------------
# Triangle census + global clustering coefficient over the part
# co-purchase graph (_copurchase_pairs, shared by every part-graph
# query: parts sharing >= 2 distinct orders). Degree-ORIENTED counting —
# each undirected edge is directed from its (degree, id)-smaller endpoint
# to the larger, so every triangle is generated by exactly ONE wedge at
# its smallest-degree corner and out-degrees are bounded by O(sqrt(E))
# (the classic bound: a node of out-degree d has d neighbors of degree
# >= its own, so d^2 <= sum of degrees = 2E). The wedge self-join is
# therefore capped by the orientation itself — the same hot-key
# discipline the LSH caps enforce, here falling out of the algorithm (a
# celebrity node generates NO wedges at its own corner; its triangles
# are counted at their low-degree corners).
#
# Exact integers end-to-end; the clustering coefficient 3T / W (W =
# sum C(deg,2) — undirected wedges) is the single final IEEE division.
# ---------------------------------------------------------------------------


@query(
    "graph_triangle_census",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT pa AS v FROM pairs UNION ALL SELECT pb AS v FROM pairs)
      GROUP BY v),
    oriented AS (
      SELECT CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN p.pa ELSE p.pb END AS src,
             CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN p.pb ELSE p.pa END AS dst,
             CASE WHEN (da.d, p.pa) < (db.d, p.pb) THEN db.d ELSE da.d END AS ddeg
      FROM pairs p
      JOIN deg da ON da.v = p.pa
      JOIN deg db ON db.v = p.pb),
    wedges AS (
      SELECT o1.dst AS b, o2.dst AS c
      FROM oriented o1 JOIN oriented o2
        ON o1.src = o2.src AND (o1.ddeg, o1.dst) < (o2.ddeg, o2.dst)),
    tri AS (
      SELECT COUNT(*) AS t FROM wedges w
      WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.src = w.b AND o.dst = w.c)),
    stats AS (
      SELECT COUNT(*) AS n_nodes,
             COALESCE(CAST(SUM(d) / 2 AS BIGINT), 0) AS n_edges,
             COALESCE(CAST(SUM(d * (d - 1) / 2) AS BIGINT), 0) AS n_wedges
      FROM deg)
    SELECT s.n_nodes, s.n_edges, s.n_wedges,
           CAST(t.t AS BIGINT) AS n_triangles,
           CASE WHEN s.n_wedges > 0
                THEN CAST(3.0 * t.t AS DOUBLE) / s.n_wedges
                ELSE 0.0 END AS global_clustering
    FROM stats s CROSS JOIN tri t
    """,
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    return GR.triangle_census(_copurchase_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Exact set-similarity join via PREFIX FILTERING (PPJoin family, Xiao et
# al. 2008): the zero-false-negative alternative to the capped LSH paths.
# Shingles get a global rare-first total order (df asc, shingle asc);
# each doc exposes only its first p = n - ceil(t*n) + 1 tokens in that
# order, because two sets with Jaccard >= t MUST share a token inside
# those prefixes (J >= t implies overlap >= ceil(t * max(|A|,|B|)); if
# the prefixes were disjoint the overlap could be at most
# min(n - p) = ceil(t*n) - 1). Candidates sharing a prefix token pass a
# length filter (10*min >= 7*max — J >= 0.7 is impossible otherwise,
# exact integer compare) and are verified with the exact array-intersect
# kernel. Same output contract as dedup_ngram_jaccard; equality of the
# two pipelines is pinned by a property test.
#
# Scale: candidate generation joins only PREFIX rows — the rare-first
# order makes hot tokens structurally unlikely in prefixes (a stopword
# shingle has maximal df, so it sorts last and only enters prefixes of
# near-degenerate docs); there is NO recall-losing cap anywhere.
# ceil(0.7*n) is computed as (7n+9)//10 so the prefix boundary is
# engine-exact.
# ---------------------------------------------------------------------------

_PF_TH = 0.7
#: above this many documents the shingle tables spill columnar (see the
#: r9 switch note inside dedup_prefix_filter_jaccard) — sf10 (500k docs)
#: is comfortably in-memory (17.9 s), sf100 (5M) was GC-bound
_PF_SPILL_DOC_ROWS = 1_000_000


@query(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    ordered AS (
      SELECT s.doc_id, s.shingle, z.n_sh,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY df.df ASC, s.shingle ASC) AS rn
      FROM sh s JOIN df USING (shingle) JOIN sizes z ON z.doc_id = s.doc_id),
    prefix AS (
      SELECT doc_id, shingle, n_sh FROM ordered
      WHERE rn <= n_sh - ((7 * n_sh + 9) // 10) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      WHERE 10 * LEAST(a.n_sh, b.n_sh) >= 7 * GREATEST(a.n_sh, b.n_sh)),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS common
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2)
    SELECT co.doc_a, co.doc_b,
           common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
    FROM common co
    JOIN sizes sa ON sa.doc_id = co.doc_a
    JOIN sizes sb ON sb.doc_id = co.doc_b
    WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= {_PF_TH}
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    # one kernel pass materialized once: rows feed df stats, the prefix
    # window AND (via arrays below) the verify — python subtrees never
    # canonicalize equal, so without the checkpoint each consumer re-runs
    # the shingler. LAZY cuts (r8): every consumer sits inside the one
    # final action, so the first materialization caches for the rest —
    # two fewer job launches than eager cuts, same single kernel pass.
    # (A pure-JVM shingle expression was measured 3x SLOWER than this
    # Arrow kernel at sf0.1 — codegen string HOFs + a thin scan-side
    # partition count; the kernel's explicit repartition is part of the
    # win.)
    # memory-vs-disk switch (r9, the PageRank spill_bucketed pattern
    # applied to the shingle tables — r8 verdict item 3): past
    # _PF_SPILL_DOC_ROWS documents the two 25-shingles-per-doc tables
    # (125M rows at 5M docs) stop being deserialized-object JVM caches
    # and spill COLUMNAR as bucketed scratch tables. Bucket keys follow
    # each table's consumers: `sh` on shingle (the df groupBy AND the
    # sh x df join both cluster on it — zero extra Exchange), `windowed`
    # on id (the verify collect_set groupBy(id) rides the bucketing; the
    # prefix self-join re-keys by shingle either way). One JVM's GC is
    # the only thing this switch is about — the sf100 run was 438-482 s
    # of collector pressure on an unchanged plan shape.
    spill = _fact_rows(spark, sf_dir, "documents") > _PF_SPILL_DOC_ROWS
    sh_rows = D.shingle_rows_pandas(docs, n=3).select(
        "id", "n", F.xxhash64("shingle").alias("shingle")
    )
    if spill:
        from brooklin_spark.checkpoint import gc_dead_scratch, scratch_name

        corpus = os.path.join(sf_dir, "documents.parquet")
        gc_dead_scratch(spark, "pf_sh_scratch")
        gc_dead_scratch(spark, "pf_win_scratch")
        sh = spill_bucketed(sh_rows, "shingle", scratch_name("pf_sh_scratch", corpus))
    else:
        sh = sh_rows.localCheckpoint(eager=False)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rn = F.row_number().over(
        W.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    )
    p = F.col("n") - ((7 * F.col("n") + 9) / 10).cast("bigint") + 1
    # one windowed table feeds BOTH the prefix rows and the verify
    # arrays: the collect_set groupBy(id) reuses the window's
    # hashpartitioning(id) — no second shuffle of the shingle table
    windowed_df = (
        sh.join(df, "shingle")  # vocab-keyed, no broadcast hint
        .withColumn("rn", rn)
        .select("id", "n", "shingle", "rn")
    )
    if spill:
        windowed = spill_bucketed(
            windowed_df, "id", scratch_name("pf_win_scratch", corpus)
        )
    else:
        windowed = windowed_df.localCheckpoint(eager=False)
    prefix = windowed.filter(F.col("rn") <= p).select("id", "n", "shingle", "rn")
    a, b = prefix.alias("a"), prefix.alias("b")
    # POSITIONAL filter (the PPJoin refinement over plain prefix filter):
    # a pair matching on a token at ranks (rn_a, rn_b) can have overlap at
    # most 1 + min(n_a - rn_a, n_b - rn_b) — the shared token plus the two
    # suffixes — and J >= 0.7 needs overlap >= ceil(7(n_a+n_b)/17). Exact
    # integer compare: 17*(1 + min(suffix)) >= 7*(n_a+n_b). Zero false
    # negatives: for any true pair the globally-FIRST shared token (which
    # the prefix theorem puts in both prefixes) has every other shared
    # token after it in both orders, so ITS row satisfies the bound even
    # when later shared-token rows are pruned. Cuts the candidate set
    # ahead of distinct+verify — the r7 7×-growth fix.
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                10 * F.least(F.col("a.n"), F.col("b.n"))
                >= 7 * F.greatest(F.col("a.n"), F.col("b.n"))
            )
            & (
                17
                * (
                    1
                    + F.least(
                        F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")
                    )
                )
                >= 7 * (F.col("a.n") + F.col("b.n"))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verify on hashed-shingle arrays rebuilt from the windowed
    # rows (collect_set keeps set semantics; order-free)
    arr = windowed.groupBy(F.col("id")).agg(
        F.collect_set("shingle").alias("shingles")
    )
    return D.jaccard_verify(arr, cand, threshold=_PF_TH)


# ---------------------------------------------------------------------------
# Bounded k-core peeling on the customer-supplier bipartite graph: three
# rounds of "drop nodes with degree < k, keep edges between survivors" —
# the densest-region extractor (community cores, fraud rings) that
# complements PageRank (influence) and CC (components). k is
# CORPUS-ADAPTIVE — floor(mean degree) + 1, an exact integer both engines
# derive identically — because a frozen k is degenerate once degrees grow
# with the data. Peeling is INCREMENTAL (r9): per-round state is the
# node-scale degree table; newly-dead nodes join the cached edge set once
# to decrement their surviving neighbors, so converged rounds cost two
# empty probes instead of an edge-scale recount. Zero driver-side scalar
# actions — k lives in the DAG as a broadcast 1-row aggregate (the
# oracle's kv CROSS JOIN shape). Reference analog: none (the reference stops
# at transport) — this is the analytics extension, same family as
# graph_pagerank_influence.
# ---------------------------------------------------------------------------

_KCORE_ROUNDS = 3


def _kcore_round_sql(r: int) -> str:
    prev = f"e{r - 1}"
    return f"""
    alive{r} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT c AS node FROM {prev} UNION ALL SELECT s FROM {prev})
        GROUP BY node) CROSS JOIN kv WHERE d >= k),
    e{r} AS MATERIALIZED (
      SELECT c, s FROM {prev}
      WHERE c IN (SELECT node FROM alive{r})
        AND s IN (SELECT node FROM alive{r})),
    nodes{r} AS MATERIALIZED (
      SELECT c AS node FROM e{r} UNION SELECT s FROM e{r})"""


@query(
    "graph_kcore_bounded",
    oracle=f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    deg0 AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM (
        SELECT c AS node FROM e0 UNION ALL SELECT s FROM e0)
      GROUP BY node),
    kv AS MATERIALIZED (
      SELECT (2 * (SELECT COUNT(*) FROM e0))
               // (2 * (SELECT COUNT(*) FROM deg0)) + 1 AS k),
    {",".join(_kcore_round_sql(r) for r in range(1, _KCORE_ROUNDS + 1))}
    SELECT * FROM (
      SELECT 0 AS round, (SELECT MAX(k) FROM kv) AS k,
             (SELECT COUNT(*) FROM deg0) AS n_nodes,
             (SELECT COUNT(*) FROM e0) AS n_edges
      {"".join(f'''
      UNION ALL SELECT {r}, (SELECT MAX(k) FROM kv),
             (SELECT COUNT(*) FROM nodes{r}),
             (SELECT COUNT(*) FROM e{r})''' for r in range(1, _KCORE_ROUNDS + 1))}
    ) ORDER BY round
    """,
)
def graph_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10: the peel now runs over the GROUPED adjacency (the PageRank
    # build), not the flat pair table — the r9 form's round-1 decrement
    # joined the corpus-scale dead set against a plain lazy checkpoint of
    # e0 (UnknownPartitioning), which re-exchanged the FULL pair table
    # twice in one round. Grouped form per round (guide §2.3/§2.4):
    #   - supplier decrements: inner-join the newly-dead customers
    #     (node-scale) against g on ck — g's HashPartitioning(ck) means
    #     only the dead set moves — then explode just THEIR arrays and
    #     partial-aggregate by supplier;
    #   - customer decrements: broadcast the newly-dead suppliers
    #     (node-scale; within _BCAST_MAX_NODES by the footer supplier-key
    #     bound, else shuffle-joined) into the exploded adjacency;
    #     Generate+BroadcastHashJoin preserve g's partitioning so the
    #     groupBy(ck) needs no Exchange at all.
    # No pair-scale Exchange anywhere after the one grouped build. Rounds
    # past convergence have EMPTY dead sets and AQE prunes both decrement
    # subtrees to empty relations. Same early-dead-neighbor argument as
    # the r9 form (decrements against already-dead nodes are discarded by
    # the alive join).
    # Crossover measured r10 (scripts/r10_kcore_ab.py, alternating
    # min-of-N, oracle-equal both sides): sf0.1 pairs wins 5/5 (3.13 vs
    # 3.62 s — the grouped build + per-round broadcast jobs lose to the
    # 3-round latency floor), sf1 grouped wins 3/4 (4.38 vs 4.49 s), sf10
    # grouped wins 3/3 (min 35.9 vs 96.5 s, 2.7x — vs DuckDB's 38.7 s
    # booked sf10, i.e. the r9 1.32x flag row crosses under 1x). That
    # data-derived crossover (_KCORE_GROUPED_LI_ROWS) is the only switch
    # between the two peels.
    if _lineitem_rows(spark, sf_dir) > _KCORE_GROUPED_LI_ROWS:
        return _kcore_grouped(spark, sf_dir)
    return _kcore_pairs(spark, sf_dir)


def _kcore_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _grouped_adjacency(spark, sf_dir, "kcore_grouped_scratch")
    max_s = _key_upper_bound(sf_dir, "lineitem", "l_suppkey")
    deg_c = g.select(
        (F.col("ck") * 2).alias("node"), F.size("ss").cast("long").alias("d")
    )
    deg = deg_c.unionAll(
        g.select(F.explode("ss").alias("sk"))
        .groupBy("sk")
        .agg(F.count("*").alias("d"))
        .select((F.col("sk") * 2 + 1).alias("node"), "d")
    ).localCheckpoint(eager=False)

    def decrements(r: int, dead: DataFrame) -> DataFrame:
        dead_c = dead.filter(F.col("node") % 2 == 0).select(
            F.expr("node DIV 2").alias("ck")
        )
        dead_s = dead.filter(F.col("node") % 2 == 1).select(
            F.expr("node DIV 2").alias("sk")
        )
        decs = (
            g.join(dead_c, "ck")
            .select(F.explode("ss").alias("sk"))
            .groupBy("sk")
            .agg(F.count("*").alias("cut"))
            .select((F.col("sk") * 2 + 1).alias("node"), "cut")
        )
        decc = (
            g.select("ck", F.explode("ss").alias("sk"))
            .join(_node_side(dead_s, max_s), "sk")
            .groupBy("ck")
            .agg(F.count("*").alias("cut"))
            .select((F.col("ck") * 2).alias("node"), "cut")
        )
        # decc keys are even, decs odd — disjoint, no re-agg needed
        return decc.unionAll(decs)

    return _kcore_peel(deg, decrements)


def _kcore_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = _graph_pairs(spark, sf_dir).select(
        F.col("c_node").alias("c"), F.col("s_node").alias("s")
    ).localCheckpoint(eager=False)
    # r9 layout experiments, both measured and REJECTED at sf10 before
    # landing here: (a) double key-partitioned edge checkpoints (the
    # PageRank pattern) pay two eager 58.7M-row materializations that
    # cost what the round joins save (231 s -> 252 s); (b) a post-round-1
    # alive-edge rebuild pays two extra full semi-join shuffles for the
    # same wash. What DOES pay: the packed single-long distinct inside
    # _graph_pairs (57 -> 26 s on the pair build) and broadcast-hinted
    # CHANGE SETS for rounds >= 2 below.
    e_by_s = e_by_c = e0

    # bipartite node ids are DISJOINT by construction (c even, s odd —
    # _graph_pairs encoding), so the two per-side groupBys never share
    # a key and their union IS the degree table: two half-size parallel
    # exchanges instead of one union-doubled one
    dc = e_by_c.groupBy(F.col("c").alias("node")).agg(F.count("*").alias("d"))
    ds = e_by_s.groupBy(F.col("s").alias("node")).agg(F.count("*").alias("d"))
    deg = dc.unionAll(ds).localCheckpoint(eager=False)

    def decrements(r: int, dead: DataFrame) -> DataFrame:
        # rounds >= 2 broadcast the dead set: it is the per-round CHANGE
        # set of a 3-round peel — nodes alive after the first mass kill
        # that die later — empty at fixed point (these corpora converge
        # in one round) and shrinking by construction. The hint turns the
        # decrement joins into scans of the CACHED edge table with no
        # edge-side exchange; round 1's dead set is corpus-scaled, so it
        # keeps the shuffle form per the r4 broadcast policy.
        dd = dead if r == 1 else F.broadcast(dead)
        decc = (
            e_by_s.join(dd, e_by_s.s == dd.node)
            .groupBy(F.col("c").alias("node"))
            .agg(F.count("*").alias("cut"))
        )
        decs = (
            e_by_c.join(dd, e_by_c.c == dd.node)
            .groupBy(F.col("s").alias("node"))
            .agg(F.count("*").alias("cut"))
        )
        # decc keys are even (c side), decs odd — disjoint, no re-agg
        return decc.unionAll(decs)

    return _kcore_peel(deg, decrements)


def _kcore_peel(deg: DataFrame, decrements) -> DataFrame:
    """The incremental peel both kcore forms share, from the initial
    (node, d) degree table; `decrements(r, dead)` returns (node, cut) —
    per surviving neighbor, the edges round r's newly-dead nodes take
    with them.

    INCREMENTAL (r9, replaces per-round edge re-materialization + degree
    recount): degrees only FALL as edges drop, so alive sets are nested
    and each round's state is the NODE-scale (node, d) table; the
    decrement join touches only edges incident to newly-dead nodes
    (empty once the peel converges), never the surviving edge mass.
    Edges whose other endpoint died EARLIER need no exclusion: their
    decrement landed in the round that endpoint died, and dead nodes
    drop out of the alive_deg join. r8 form measured 9.7 s at sf1 / 2.6 s
    at sf0.1; this one 5.0 / 1.9, value-identical, and the 100x posture
    drops from edge-scale checkpoints per round to one node-scale
    checkpoint per round."""
    # k stays IN the DAG as a broadcast 1-row aggregate (the oracle's kv
    # CROSS JOIN shape): r8's .first() was a synchronous driver barrier
    # that serialized the whole edge build before the peel could even be
    # PLANNED — at any scale that is one full extra pass of latency (r9)
    kv = deg.agg(
        ((F.sum("d") / (2 * F.count("*"))).cast("bigint") + 1).alias("k")
    ).localCheckpoint(eager=False)

    def stat_row(r: int, d: DataFrame) -> DataFrame:
        return d.agg(
            F.lit(r).cast("bigint").alias("round"),
            F.count("*").cast("bigint").alias("n_nodes"),
            (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("bigint").alias("n_edges"),
        )

    stats = [stat_row(0, deg)]
    for r in range(1, _KCORE_ROUNDS + 1):
        # broadcast of kv is bounded by construction: a 1-row aggregate
        dead = deg.join(F.broadcast(kv), F.col("d") < F.col("k")).select("node")
        alive_deg = deg.join(F.broadcast(kv), F.col("d") >= F.col("k")).select(
            "node", "d"
        )
        deg = (
            alive_deg.join(decrements(r, dead), "node", "left")
            .select(
                "node",
                (F.col("d") - F.coalesce(F.col("cut"), F.lit(0))).alias("d"),
            )
            .localCheckpoint(eager=False)
        )
        stats.append(stat_row(r, deg))
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return (
        out.join(F.broadcast(kv))
        .select("round", "k", "n_nodes", "n_edges")
        .orderBy("round")
    )


# ---------------------------------------------------------------------------
# Modularity of the label-propagation communities: the quality score a
# community detection pass reports next to its assignment (Newman 2006,
# Q = sum_c [ e_c/m - (d_c/2m)^2 ]). Communities are the same 2-round
# min-label propagation as graph_label_propagation; the score reduces to
# THREE exact integer aggregates — m (undirected edges), sum(e_c)
# (within-community edges) and sum(d_c^2) (squared community degree
# sums) — so Q is two IEEE divisions over exact integers, engine-exact
# with no per-community float summation order to disagree on. Fact-scale
# work is the basket-array pair build (one orderkey exchange) + the two
# propagation rounds; everything after is community-scale.
# ---------------------------------------------------------------------------


@query(
    "graph_modularity_score",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
    l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM edges),
    l1 AS (
      SELECT v, MIN(lbl) AS lbl FROM (
        SELECT v, lbl FROM l0
        UNION ALL
        SELECT e.dst AS v, l0.lbl FROM edges e JOIN l0 ON l0.v = e.src)
      GROUP BY v),
    l2 AS (
      SELECT v, MIN(lbl) AS lbl FROM (
        SELECT v, lbl FROM l1
        UNION ALL
        SELECT e.dst AS v, l1.lbl FROM edges e JOIN l1 ON l1.v = e.src)
      GROUP BY v),
    deg AS (SELECT src AS v, COUNT(*) AS d FROM edges GROUP BY src),
    m AS (SELECT COUNT(*) AS m FROM pairs),
    within AS (
      SELECT COUNT(*) AS e_in
      FROM pairs p JOIN l2 la ON la.v = p.pa JOIN l2 lb ON lb.v = p.pb
      WHERE la.lbl = lb.lbl),
    dsq AS (
      SELECT SUM(dc * dc) AS sum_dc2, COUNT(*) AS n_comm
      FROM (SELECT l2.lbl, SUM(deg.d) AS dc
            FROM l2 JOIN deg ON deg.v = l2.v GROUP BY l2.lbl))
    SELECT (SELECT COUNT(*) FROM l2) AS n_nodes,
           CAST(n_comm AS BIGINT) AS n_communities,
           CAST(m.m AS BIGINT) AS n_edges,
           round(CAST(within.e_in AS DOUBLE) / m.m
                 - CAST(dsq.sum_dc2 AS DOUBLE) / (4.0 * m.m * m.m), 6)
             AS modularity
    FROM m CROSS JOIN within CROSS JOIN dsq
    """,
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # three consumers (edges both ways + within-community join) — one
    # materialization instead of three basket passes
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=False)
    edges = GR.doubled(pairs, "pa", "pb")
    labels = _min_labels(edges).localCheckpoint(eager=False)  # two consumers below
    deg = edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    la = labels.select(F.col("v").alias("pa"), F.col("lbl").alias("lbl_a"))
    lb = labels.select(F.col("v").alias("pb"), F.col("lbl").alias("lbl_b"))
    e_in = (
        pairs.join(la, "pa")
        .join(lb, "pb")
        .filter(F.col("lbl_a") == F.col("lbl_b"))
        .agg(F.count("*").alias("e_in"))
    )
    dsq = (
        labels.join(deg, "v")
        .groupBy("lbl")
        .agg(F.sum("d").alias("dc"))
        .agg(
            F.sum(F.col("dc") * F.col("dc")).alias("sum_dc2"),
            F.count("*").alias("n_comm"),
        )
    )
    n_nodes = labels.agg(F.count("*").alias("n_nodes"))
    m = pairs.agg(F.count("*").alias("m"))
    return (
        n_nodes.crossJoin(dsq)
        .crossJoin(m)
        .crossJoin(e_in)
        .select(
            "n_nodes",
            F.col("n_comm").cast("bigint").alias("n_communities"),
            F.col("m").cast("bigint").alias("n_edges"),
            F.round(
                F.col("e_in").cast("double") / F.col("m")
                - F.col("sum_dc2").cast("double")
                / (F.lit(4.0) * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
    )


# ---------------------------------------------------------------------------
# Common-neighbor link prediction on the co-purchase graph: for part
# pairs NOT currently co-purchased, how many shared co-purchase
# neighbors they have — the classic cheapest link-prediction score
# (Liben-Nowell & Kleinberg 2003), and the "customers who bought X also
# bought Y" candidate generator. Candidate pairs come from per-node
# sorted adjacency arrays (the basket/triangle pattern: ONE exchange on
# the wedge center, combinations explode locally — never an edges x
# edges shuffle join); existing edges drop out with one anti-join. At
# 100 TB the wedge count is bounded the same way the triangle census is:
# sum C(deg, 2) over the support-filtered graph, with the support
# threshold as the degree-tail control.
# ---------------------------------------------------------------------------


@query(
    "graph_common_neighbor_linkpred",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
    wedges AS (
      SELECT e1.dst AS na, e2.dst AS nb, COUNT(*) AS cn
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY 1, 2),
    cand AS (
      SELECT w.na, w.nb, w.cn FROM wedges w
      WHERE cn >= 2
        AND NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = w.na AND p.pb = w.nb)),
    ranked AS (
      SELECT na, nb, cn,
             ROW_NUMBER() OVER (ORDER BY cn DESC, na ASC, nb ASC) AS rank
      FROM cand)
    SELECT CAST(na AS BIGINT) AS part_a, CAST(nb AS BIGINT) AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def graph_common_neighbor_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # two consumers: adjacency + anti-join
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=False)
    # adjacency arrays at the wedge center: one src exchange, sorted
    # neighbor combinations generate locally (na < nb by sort order)
    adj = GR.sorted_adjacency(GR.doubled(pairs, "pa", "pb"))
    wedges = (
        GR.pairs_within(adj, "nb", "na", "nb")
        .groupBy("na", "nb")
        .agg(F.count("*").alias("cn"))
        .filter(F.col("cn") >= 2)
    )
    # NB: wedges.na would resolve to DataFrameNaFunctions, not the column
    cand = wedges.join(
        pairs,
        (F.col("na") == pairs.pa) & (wedges.nb == pairs.pb),
        "left_anti",
    )
    rw = W.orderBy(F.desc("cn"), F.asc("na"), F.asc("nb"))
    top = cand.orderBy(F.desc("cn"), F.asc("na"), F.asc("nb")).limit(20)
    return top.select(
        F.col("na").cast("bigint").alias("part_a"),
        F.col("nb").cast("bigint").alias("part_b"),
        F.col("cn").cast("bigint").alias("common_neighbors"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Dedup threshold sweep: the survivor-rate curve a corpus owner reads
# BEFORE picking a dedup threshold — pairs are computed ONCE at the
# loosest threshold (the expensive stage), then each candidate threshold
# re-filters the pair table (cheap, pair-scale) under the keep-smaller-id
# policy (a doc is dropped iff it is the larger end of any qualifying
# pair). One shingle self-join regardless of how many thresholds are
# swept — the marginal threshold costs one pair-scale aggregate.
# ---------------------------------------------------------------------------

_SWEEP_TH = [0.5, 0.6, 0.7, 0.8, 0.9]


@query(
    "dedup_threshold_survivor_curve",
    oracle=f"""
    WITH {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jac AS (
      SELECT doc_a, doc_b,
             common * 1.0 / (sa.n_sh + sb.n_sh - common) AS jaccard
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= {_SWEEP_TH[0]}),
    th AS (SELECT unnest({_SWEEP_TH}) AS threshold),
    per AS (
      SELECT th.threshold,
             COUNT(j.jaccard) AS n_pairs,
             COUNT(DISTINCT j.doc_b) AS n_dropped
      FROM th LEFT JOIN jac j ON j.jaccard >= th.threshold
      GROUP BY th.threshold)
    SELECT p.threshold,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(p.n_dropped AS BIGINT) AS n_dropped,
           CAST((SELECT COUNT(*) FROM documents) - p.n_dropped AS BIGINT)
             AS n_survivors
    FROM per p
    """,
)
def dedup_threshold_survivor_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = D.shingle_rows_pandas(docs, n=3).select(
        "id", "n", F.xxhash64("shingle").alias("shingle")
    )
    jac = D.jaccard_pairs_selfjoin(sh, threshold=_SWEEP_TH[0]).localCheckpoint(
        eager=False
    )  # pair-scale; the bucket histogram + per-doc max both re-read it
    # r9-opt (guide §2.3 — aggregate before you expand): the old sweep
    # BroadcastNestedLoopJoined the pair table against all 5 thresholds
    # (5x pair-scale rows) and ran a COUNT DISTINCT expand on that - 10x
    # the pair mass through one operator pair. Both curve columns are
    # monotone suffix statistics, so one linear pass each suffices:
    #   n_pairs(t)   = #pairs with j >= t  -> bucketize every pair to the
    #     highest threshold it clears (a CASE chain), count per bucket
    #     (<=5 rows), suffix-sum via a tiny theta join;
    #   n_dropped(t) = #distinct doc_b with any pair j >= t -> per-doc_b
    #     MAX jaccard (one pair->doc groupBy), bucketize the doc-scale
    #     max, same suffix trick. Identical integers, no expand.
    n_th = len(_SWEEP_TH)
    bucket = sum(
        F.when(F.col("jaccard") >= F.lit(t), 1).otherwise(0) for t in _SWEEP_TH
    )
    pair_hist = jac.groupBy(bucket.alias("b")).agg(F.count("*").alias("c"))
    doc_max = jac.groupBy("doc_b").agg(F.max("jaccard").alias("mj"))
    mbucket = sum(
        F.when(F.col("mj") >= F.lit(t), 1).otherwise(0) for t in _SWEEP_TH
    )
    doc_hist = doc_max.groupBy(mbucket.alias("b")).agg(F.count("*").alias("c"))
    thi = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(_SWEEP_TH)], "threshold double, i int"
    )
    pairs_curve = (
        F.broadcast(thi)
        .join(pair_hist, pair_hist.b >= thi.i, "left")
        .groupBy("threshold", "i")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_pairs"))
    )
    drop_curve = (
        F.broadcast(thi)
        .join(doc_hist, doc_hist.b >= thi.i, "left")
        .groupBy(F.col("threshold").alias("t2"), F.col("i").alias("i2"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_dropped"))
    )
    per = pairs_curve.join(
        drop_curve, pairs_curve.i == drop_curve.i2
    ).select("threshold", "n_pairs", "n_dropped")
    total = docs.agg(F.count("*").alias("n_docs"))
    return per.crossJoin(F.broadcast(total)).select(
        "threshold",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        (F.col("n_docs") - F.col("n_dropped")).cast("bigint").alias("n_survivors"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph (Newman 2002): do
# high-degree parts co-purchase with other high-degree parts? Computed
# over the directed edge list (each undirected edge counted both ways, so
# the two marginals coincide) from FOUR exact integer aggregates — M,
# sum deg(src), sum deg(src)^2, sum deg(src)*deg(dst) — so the Pearson r
# is a handful of IEEE ops over exact integers, engine-exact like the
# modularity score. Fact-scale work: the basket-array pair build + one
# degree join; everything after is edge-scale sums.
# ---------------------------------------------------------------------------


@query(
    "graph_assortativity",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
    deg AS (SELECT src AS v, COUNT(*) AS d FROM edges GROUP BY src),
    sums AS (
      SELECT COUNT(*) AS m2,
             SUM(ds.d) AS sx,
             SUM(ds.d * ds.d) AS sxx,
             SUM(ds.d * dd.d) AS sxy
      FROM edges e JOIN deg ds ON ds.v = e.src JOIN deg dd ON dd.v = e.dst)
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           CAST(m2 / 2 AS BIGINT) AS n_edges,
           round((CAST(sxy AS DOUBLE) / m2
                  - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2))
                 / (CAST(sxx AS DOUBLE) / m2
                    - (CAST(sx AS DOUBLE) / m2) * (CAST(sx AS DOUBLE) / m2)), 6)
             AS assortativity
    FROM sums
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _copurchase_pairs(spark, sf_dir)
    # r10-opt (guide §2.3/§2.4, VERDICT item 6): the r9 shape checkpointed
    # the DOUBLED edge table and re-exchanged it twice (deg groupBy + the
    # s_v groupBy after the edge-scale deg join). One grouped adjacency
    # (v, nbrs) kept hash-partitioned on v replaces all of it:
    #   deg(v)    = size(nbrs)          — no exchange
    #   m2/sx/sxx = aggregates over adj — degree MOMENTS (r9 identity:
    #               m2 = Σd, sx = Σd², sxx = Σd³), no exchange
    #   sxy       = Σ_v d(v)·s(v), s(v) = Σ_{u∈N(v)} d(u): explode(nbrs)
    #               → broadcast degree join → groupBy(v) rides adj's
    #               HashPartitioning(v) — zero pair-scale exchange.
    # A/B (OPTIMIZATION_r10.md, alternating min-of-N, value identity
    # asserted): sf0.1 min 1.92 vs 1.95 s (wash — the 3.6K-edge residual
    # is the basket pair build + stage floor), sf1 min 2.37 vs 2.74 s
    # (5/8) and 6.31 vs 12.58 s in a hotter window — the win grows with
    # the edge table, the structural point of the rewrite. The node-scale
    # degree side is broadcast while the footer part-key bound is within
    # _BCAST_MAX_NODES and shuffle-joined beyond it.
    par = spark.sparkContext.defaultParallelism
    adj = checkpoint_partitioned(
        pairs.select(F.col("pa").alias("v"), F.col("pb").alias("u"))
        .unionAll(pairs.select(F.col("pb").alias("v"), F.col("pa").alias("u")))
        .repartition(par, F.col("v"))
        .groupBy("v")
        .agg(F.collect_list("u").alias("nbrs"))
    )
    d = F.size("nbrs").cast("long")
    ddec = d.cast("decimal(38,0)")
    moments = adj.agg(
        # 0, not null, on an empty graph (the oracle's COUNT(*))
        F.coalesce(F.sum(d), F.lit(0)).alias("m2"),
        F.sum(d * d).alias("sx"),
        F.sum(ddec * ddec * ddec).alias("sxx"),
        F.count("*").alias("n_nodes"),
    )
    nb = adj.select(F.col("v").alias("u"), d.alias("d_dst"))
    max_p = _key_upper_bound(sf_dir, "lineitem", "l_partkey")
    s_v = (
        adj.select("v", d.alias("d"), F.explode("nbrs").alias("u"))
        .join(_node_side(nb, max_p), "u")
        .groupBy("v", "d")
        .agg(F.sum("d_dst").alias("sdeg"))
    )
    sxy = s_v.agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("sdeg")).alias("sxy")
    )
    mean = F.col("sx").cast("double") / F.col("m2")
    return sxy.crossJoin(F.broadcast(moments)).select(
        "n_nodes",
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("sxy").cast("double") / F.col("m2") - mean * mean)
            / (F.col("sxx").cast("double") / F.col("m2") - mean * mean),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Near-dup cluster composition profile: for every multi-doc cluster of the
# canonical CC dedup, its size and source/language spread — the report a
# corpus owner reads to learn WHERE duplication comes from (same-source
# re-crawls vs cross-source syndication vs translations). Rides the
# proven capped-pair/CC path; the profile join back to documents is
# cluster-table-scale on one side.
# ---------------------------------------------------------------------------


@query(
    "dedup_cluster_profile",
    oracle=f"""
    WITH RECURSIVE {G.shingle_cte(3)},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    dup_pairs AS (
      SELECT doc_a, doc_b FROM cpairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= 0.7),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT doc_a AS id FROM dup_pairs UNION SELECT doc_b FROM dup_pairs)),
    cedges AS (
      SELECT doc_a AS a, doc_b AS b FROM dup_pairs
      UNION SELECT doc_b, doc_a FROM dup_pairs),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN cedges e ON e.a = reach.r),
    comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id)
    SELECT CAST(comp.component AS BIGINT) AS component,
           COUNT(*) AS cluster_size,
           CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
           CAST(MIN(d.n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(d.n_chars) AS BIGINT) AS max_chars
    FROM comp JOIN documents d ON d.doc_id = comp.doc_id
    GROUP BY comp.component
    """,
)
def dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = (
        D.shingle_rows_pandas(docs, n=3)
        .select("id", "n", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint()  # see dedup_ngram_jaccard: UDF would run twice
    )
    pairs = D.jaccard_pairs_selfjoin(sh, threshold=0.7).select("doc_a", "doc_b")
    comps = D.connected_components(pairs)
    return (
        comps.join(docs, comps.id == docs.doc_id)
        .groupBy(F.col("comp").cast("bigint").alias("component"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the co-purchase graph: the common-
# neighbor score's better-calibrated sibling — each shared neighbor
# contributes 1/ln(deg) instead of 1, so hub neighbors (which everyone
# shares) stop dominating the ranking (Adamic & Adar 2003). Same
# scale-safe candidate shape as graph_common_neighbor_linkpred: wedges
# generate from per-node sorted adjacency arrays (ONE exchange on the
# wedge center, never edges x edges), each wedge weighted by its
# center's 1/ln(degree) — the degree is just size(adjacency), free at
# the point the wedge explodes. Scores are rounded to 6dp BEFORE the
# rank so both engines order identical numbers; ties break on the pair.
# ---------------------------------------------------------------------------


@query(
    "graph_adamic_adar_linkpred",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    wedges AS (
      SELECT e1.dst AS na, e2.dst AS nb,
             round(SUM(1.0 / ln(d.d)), 6) AS aa, COUNT(*) AS cn
      FROM edges e1
      JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN deg d ON d.src = e1.src
      GROUP BY 1, 2),
    cand AS (
      SELECT w.na, w.nb, w.aa, w.cn FROM wedges w
      WHERE cn >= 2
        AND NOT EXISTS (SELECT 1 FROM pairs p
                        WHERE p.pa = w.na AND p.pb = w.nb)),
    ranked AS (
      SELECT na, nb, aa, cn,
             ROW_NUMBER() OVER (ORDER BY aa DESC, na ASC, nb ASC) AS rank
      FROM cand)
    SELECT CAST(na AS BIGINT) AS part_a, CAST(nb AS BIGINT) AS part_b,
           aa AS adamic_adar,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # two consumers: adjacency + anti-join
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=False)
    # adjacency at the wedge center; degree = size(nb) — no separate
    # degree table or join, the array already carries it. deg-1 centers
    # generate no wedges AND would make 1/ln(1) divide by zero under
    # ANSI (the weight projects before the explode prunes them), so
    # they are filtered here. The weight is computed once per center.
    adj = GR.sorted_adjacency(GR.doubled(pairs, "pa", "pb")).filter(F.size("nb") >= 2)
    w_center = 1.0 / F.log(F.size("nb").cast("double"))
    wedges = (
        GR.pairs_within(adj.select("nb", w_center.alias("w")), "nb", "na", "nb", "w")
        .groupBy("na", "nb")
        .agg(F.round(F.sum("w"), 6).alias("aa"), F.count("*").alias("cn"))
        .filter(F.col("cn") >= 2)
    )
    cand = wedges.join(
        pairs,
        (F.col("na") == pairs.pa) & (wedges.nb == pairs.pb),
        "left_anti",
    )
    rw = W.orderBy(F.desc("aa"), F.asc("na"), F.asc("nb"))
    top = cand.orderBy(F.desc("aa"), F.asc("na"), F.asc("nb")).limit(20)
    return top.select(
        F.col("na").cast("bigint").alias("part_a"),
        F.col("nb").cast("bigint").alias("part_b"),
        F.col("aa").alias("adamic_adar"),
        F.col("cn").cast("bigint").alias("common_neighbors"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient profile: per-node cc = 2*tri(v) /
# (deg(v)*(deg(v)-1)), reported as an avg-by-degree-bucket curve — the
# standard "does clustering decay with degree" diagnostic (Watts &
# Strogatz 1998). tri(v) counts CLOSED WEDGES CENTERED AT v: the
# adjacency-array wedge explode credits only the center, so each
# triangle contributes exactly one credit to each of its three vertices
# across the three centered wedges — no post-hoc 3-way explode needed.
# The closure test is one equi-join of centered wedges against the
# (pa < pb) edge list. Degree buckets use integer bit-length
# (length(bin(d)) - 1 == floor(log2 d)) so the bucket boundary is exact
# integer arithmetic in both engines — no float log at the edge.
# ---------------------------------------------------------------------------


@query(
    "graph_clustering_coefficient",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL SELECT pb AS src, pa AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    wedges AS (
      SELECT e1.src AS c, e1.dst AS na, e2.dst AS nb
      FROM edges e1
      JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst),
    tri AS (
      SELECT w.c, COUNT(*) AS t
      FROM wedges w JOIN pairs p ON p.pa = w.na AND p.pb = w.nb
      GROUP BY 1),
    cc AS (
      SELECT d.src, d.d, COALESCE(t.t, 0) AS t,
             CASE WHEN d.d >= 2
                  THEN 2.0 * COALESCE(t.t, 0) / (d.d * (d.d - 1.0))
                  ELSE 0.0 END AS local_cc
      FROM deg d LEFT JOIN tri t ON t.c = d.src)
    SELECT CAST(LENGTH(bin(d)) - 1 AS BIGINT) AS degree_bucket,
           COUNT(*) AS n_nodes,
           CAST(SUM(t) AS BIGINT) AS triangle_credits,
           round(AVG(local_cc), 6) AS avg_local_cc
    FROM cc GROUP BY 1
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumers: wedges closure + degree
    pairs = _copurchase_pairs(spark, sf_dir).localCheckpoint(eager=False)
    adj = GR.sorted_adjacency(GR.doubled(pairs, "pa", "pb"))
    wedges = GR.pairs_within(adj.withColumnRenamed("src", "c"), "nb", "na", "nb", "c")
    # NB: wedges.na would resolve to DataFrameNaFunctions, not the column
    tri = (
        wedges.join(
            pairs,
            (F.col("na") == pairs.pa) & (F.col("nb") == pairs.pb),
        )
        .groupBy("c")
        .agg(F.count("*").alias("t"))
    )
    deg = adj.select("src", F.size("nb").alias("d"))
    cc = deg.join(tri, deg.src == tri.c, "left").select(
        "d",
        F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        F.when(
            F.col("d") >= 2,
            2.0
            * F.coalesce(F.col("t"), F.lit(0))
            / (F.col("d") * (F.col("d") - F.lit(1.0))),
        )
        .otherwise(F.lit(0.0))
        .alias("local_cc"),
    )
    return cc.groupBy(
        (F.length(F.bin("d")) - 1).cast("bigint").alias("degree_bucket")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.sum("t").cast("bigint").alias("triangle_credits"),
        F.round(F.avg("local_cc"), 6).alias("avg_local_cc"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) on the bipartite
# customer-supplier graph — the mutual-recursion companion to PageRank:
# authority(s) = Σ hub(c) over buyers, hub(c) = Σ authority(s) over
# suppliers bought from, L1-normalized and rounded to 8 dp after every
# half-step (the PageRank float-parity discipline applied per
# iteration, so both engines iterate on identical values). Natural
# bipartite HITS: no doubled edge table — the pair table IS the
# adjacency. Plan: pairs built once (packed-long distinct) and
# checkpointed; each half-step is one pair-keyed join + node-scale
# aggregate; the normalizing sums are 1-row broadcast aggregates; the
# raw score tables are node-scale localCheckpoints (each has TWO
# consumers — the L1 sum and the division — which would otherwise
# double the lazy DAG per half-step, the measured pagerank failure
# mode). Top-20 is TakeOrderedAndProject. 100 TB: per-iteration data
# motion is node-scale scores against the checkpointed pair table. That
# table is an eager in-memory localCheckpoint at every scale: HITS has
# no columnar spill (PageRank's _PR_SPILL_LI_ROWS rule covers only
# _grouped_adjacency).
# ---------------------------------------------------------------------------

_HITS_ITERS = 3
_HITS_TOPK = 20


def _hits_iter_sql(k: int) -> str:
    return f"""
    a{k}raw AS (
      SELECT p.s, SUM(h.h) AS x FROM pairs p JOIN h{k - 1} h ON h.c = p.c
      GROUP BY p.s),
    a{k} AS (
      SELECT s, round(x / (SELECT SUM(x) FROM a{k}raw), 8) AS a FROM a{k}raw),
    h{k}raw AS (
      SELECT p.c, SUM(a.a) AS x FROM pairs p JOIN a{k} a ON a.s = p.s
      GROUP BY p.c),
    h{k} AS (
      SELECT c, round(x / (SELECT SUM(x) FROM h{k}raw), 8) AS h FROM h{k}raw)"""


@query(
    "graph_hits_authorities",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    cn AS (SELECT DISTINCT c FROM pairs),
    h0 AS (
      SELECT c, round(1.0 / (SELECT COUNT(*) FROM cn), 8) AS h FROM cn),
    {", ".join(_hits_iter_sql(k).strip() for k in range(1, _HITS_ITERS + 1))}
    SELECT 's' || s AS node, a AS authority,
           CAST((SELECT COUNT(*) FROM pairs p WHERE p.s = a{_HITS_ITERS}.s)
                AS BIGINT) AS n_buyers
    FROM a{_HITS_ITERS}
    ORDER BY a DESC, ('s' || s) LIMIT {_HITS_TOPK}
    """,
)
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _graph_pairs(spark, sf_dir).localCheckpoint()
    cn = pairs.select("c_node").distinct()
    n_c = cn.count()  # scalar graph size (one long, same as pagerank's n)
    hubs = cn.select("c_node", F.round(F.lit(1.0) / n_c, 8).alias("h"))
    auths = None
    for _ in range(_HITS_ITERS):
        a_raw = (
            pairs.join(hubs, "c_node")
            .groupBy("s_node")
            .agg(F.sum("h").alias("x"))
            .localCheckpoint()  # consumed twice: L1 sum + division
        )
        a_sum = a_raw.agg(F.sum("x").alias("t"))
        auths = a_raw.crossJoin(F.broadcast(a_sum)).select(
            "s_node", F.round(F.col("x") / F.col("t"), 8).alias("a")
        )
        h_raw = (
            pairs.join(auths, "s_node")
            .groupBy("c_node")
            .agg(F.sum("a").alias("x"))
            .localCheckpoint()
        )
        h_sum = h_raw.agg(F.sum("x").alias("t"))
        hubs = h_raw.crossJoin(F.broadcast(h_sum)).select(
            "c_node", F.round(F.col("x") / F.col("t"), 8).alias("h")
        )
    deg = pairs.groupBy("s_node").agg(F.count("*").alias("n_buyers"))
    return (
        auths.join(deg, "s_node")
        .select(
            _graph_node_str("s_node").alias("node"),
            F.col("a").alias("authority"),
            F.col("n_buyers").cast("bigint").alias("n_buyers"),
        )
        .orderBy(F.desc("authority"), "node")
        .limit(_HITS_TOPK)
    )
