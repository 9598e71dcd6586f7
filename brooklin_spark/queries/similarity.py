"""Similarity-search queries over the embeddings table (oracle-checked).

DuckDB oracle uses list_cosine_similarity on ::DOUBLE[] casts; both engines
round to 6 decimals so sub-ulp fold-order differences can't flip a value.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.io import derived, read_parquet, table
from brooklin_spark.operators import similarity as S
from brooklin_spark.queries import _sqlgen as G
from brooklin_spark.registry import query

# ---------------------------------------------------------------------------
# Brute-force exact top-k: 10 query vectors × full corpus.
# ---------------------------------------------------------------------------


@query(
    "ann_brute_force_topk",
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return S.brute_force_topk(queries, emb, k=5)


# ---------------------------------------------------------------------------
# Embedding near-dup pairs (cosine >= 0.4 — testdata max is ~0.51, so this
# exercises the tail without an empty result).
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs via the block-tiled distributed kernel — no
    driver-side corpus collect (VERDICT r2 #1); similar_pairs remains the
    size-guarded small-side verification kernel."""
    emb = table(spark, sf_dir, "embeddings")
    return S.similar_pairs_blocked(emb, threshold=0.4)


# ---------------------------------------------------------------------------
# Per-label centroid vectors: the vector-aggregation kernel (k-means update
# step / class prototypes). posexplode → (label, dim) partial-avg — the
# shuffle carries (label, dim, partial sums), never whole vectors.
# ---------------------------------------------------------------------------


@query(
    "embedding_label_centroids",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           round(AVG(x), 6) AS centroid,
           COUNT(*) AS n_vectors
    FROM (SELECT label, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding)::DOUBLE AS x
          FROM embeddings)
    WHERE i <= 8
    GROUP BY label, i
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).filter(F.col("dim") < 8)
    return flat.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


# ---------------------------------------------------------------------------
# IVF approximate top-k: 8 fixed centroids, probe the 2 nearest buckets per
# query, exact rerank within candidates. Fully deterministic, so the whole
# approximation (including its misses vs brute force) is oracle-checkable.
# ---------------------------------------------------------------------------

_IVF_C = 8      # centroids = vec_id < 8 (deterministic seed vectors)
_IVF_NPROBE = 2
_IVF_K = 5


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_C}),
    scored AS (
      SELECT e.vec_id, c.cid,
             round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6) AS sim
      FROM embeddings e CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM scored) t WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM scored WHERE vec_id < 10) t WHERE rn <= {_IVF_NPROBE}),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id <> p.query_id),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS sim
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM rescored)
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {_IVF_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _IVF_C)
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(queries, emb, cent, k=_IVF_K, nprobe=_IVF_NPROBE)


# ---------------------------------------------------------------------------
# SRP-LSH approximate top-1 neighbor: 6 deterministic hyperplanes → 64
# buckets; candidates only within a bucket (the scale path).
# ---------------------------------------------------------------------------

_PLANES = 6


def _srp_bits_sql(planes: int) -> str:
    """Per-plane projection sums from unnested (vec_id, i, x) rows."""
    sums = ",\n           ".join(
        f"sum(x * (2 * (ascii(substr(md5('{p}:' || CAST(i AS VARCHAR)), 1, 1)) % 2) - 1)) AS proj{p}"
        for p in range(planes)
    )
    bits = " || ".join(
        f"(CASE WHEN proj{p} >= 0 THEN '1' ELSE '0' END)" for p in range(planes)
    )
    return f"""
    flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS x
      FROM embeddings),
    proj AS (
      SELECT vec_id, {sums}
      FROM flat GROUP BY vec_id),
    bucketed AS (SELECT vec_id, {bits} AS bucket FROM proj)
    """


@query(
    "dedup_embedding_srp_pairs",
    oracle=f"""
    WITH {_srp_bits_sql(_PLANES)},
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             round(list_cosine_similarity(ex.embedding::DOUBLE[], ey.embedding::DOUBLE[]), 6) AS sim
      FROM bucketed x
      JOIN bucketed y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      JOIN embeddings ex ON ex.vec_id = x.vec_id
      JOIN embeddings ey ON ey.vec_id = y.vec_id)
    SELECT vec_a, vec_b, sim FROM pairs WHERE sim >= 0.4
    """,
)
def dedup_embedding_srp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup pairs — the scale path feeding the
    all-pairs verify kernel (similar_pairs) candidates from SRP buckets."""
    emb = table(spark, sf_dir, "embeddings")
    return S.srp_bucket_pairs(emb, planes=_PLANES, threshold=0.4)


def _kmeans_oracle(rounds: int, n_cent: int) -> str:
    """DuckDB twin of kmeans_refine: assign by rounded-6 cosine (cid
    tie-break), recompute rounded-6 per-dim means, repeat."""
    parts = [
        f"""cent0 AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < {n_cent})"""
    ]
    for r in range(rounds):
        parts.append(f"""scored{r} AS (
      SELECT e.vec_id, c.cid,
             round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec), 6) AS sim
      FROM embeddings e CROSS JOIN cent{r} c)""")
        parts.append(f"""assign{r} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM scored{r}) t WHERE rn = 1)""")
        parts.append(f"""comp{r + 1} AS (
      SELECT cid, dim - 1 AS dim, round(AVG(x), 6) AS c FROM (
        SELECT a.cid, generate_subscripts(e.embedding, 1) AS dim,
               unnest(e.embedding)::DOUBLE AS x
        FROM assign{r} a JOIN embeddings e ON e.vec_id = a.vec_id) flat
      GROUP BY cid, dim)""")
        parts.append(f"""cent{r + 1} AS (
      SELECT cid, list(c ORDER BY dim) AS cvec FROM comp{r + 1} GROUP BY cid)""")
    last = rounds
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined},
    counts AS (SELECT cid, COUNT(*) AS n_vectors FROM assign{rounds - 1} GROUP BY cid)
    SELECT comp{last}.cid, CAST(comp{last}.dim AS INTEGER) AS dim,
           comp{last}.c AS centroid, counts.n_vectors
    FROM comp{last} JOIN counts ON counts.cid = comp{last}.cid
    """


_KM_ROUNDS = 2


@query("ivf_kmeans_refine", oracle=_kmeans_oracle(_KM_ROUNDS, _IVF_C))
def ivf_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd rounds refining the IVF seed centroids — the iterative
    index-build step; fully deterministic (rounded sims/means, id
    tie-breaks), so even the iteration trajectory is oracle-checked."""
    emb = table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < _IVF_C)
    return S.kmeans_refine(emb, seeds, rounds=_KM_ROUNDS)


@query(
    "ann_srp_lsh_top1",
    oracle=f"""
    WITH {_srp_bits_sql(_PLANES)},
    pairs AS (
      SELECT x.vec_id AS query_id, y.vec_id AS neighbor_id,
             round(list_cosine_similarity(ex.embedding::DOUBLE[], ey.embedding::DOUBLE[]), 6) AS sim
      FROM bucketed x
      JOIN bucketed y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
      JOIN embeddings ex ON ex.vec_id = x.vec_id
      JOIN embeddings ey ON ey.vec_id = y.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
      FROM pairs)
    SELECT query_id, neighbor_id, sim FROM ranked WHERE rn = 1
    """,
)
def ann_srp_lsh_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return S.srp_ann_top1(emb, planes=_PLANES)


# ---------------------------------------------------------------------------
# Cross-modal linkage: document text metadata joined to embedding labels —
# the docs ⋈ vectors shape every retrieval/training pipeline has (text in
# one table, vectors in another, linked by id). Per label: corpus volume,
# length profile, dominant language. Vector table broadcast at this size;
# at scale both sides bucket by id (operators/bucketing.py).
# ---------------------------------------------------------------------------


@query(
    "docs_embedding_label_profile",
    oracle="""
    WITH joined AS (
      SELECT e.label, d.doc_id, d.n_chars, d.lang
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
    langs AS (
      SELECT label, lang, COUNT(*) AS nl,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY COUNT(*) DESC, lang ASC) AS rk
      FROM joined GROUP BY label, lang)
    SELECT j.label,
           COUNT(*) AS n_docs,
           CAST(SUM(j.n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(j.doc_id) AS BIGINT) AS first_doc,
           MAX(l.lang) AS dominant_lang
    FROM joined j
    JOIN langs l ON l.label = j.label AND l.rk = 1
    GROUP BY j.label
    """,
)
def docs_embedding_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    # corpus x corpus co-keyed join: never force a broadcast of the
    # embedding table — AQE broadcasts at toy sizes, shuffles at scale
    joined = docs.join(emb, "doc_id")
    lw = W.partitionBy("label").orderBy(F.desc("nl"), F.asc("lang"))
    langs = (
        joined.groupBy("label", "lang")
        .agg(F.count("*").alias("nl"))
        .withColumn("rk", F.row_number().over(lw))
        .filter(F.col("rk") == 1)
        .select("label", F.col("lang").alias("dominant_lang"))
    )
    return (
        joined.groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .join(F.broadcast(langs), "label")
        .select(
            "label", "n_docs", "total_chars", "first_doc", "dominant_lang"
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: 64 dims → 4 subspaces × 16 codewords (codebook =
# first 16 vectors, deterministic like the IVF seeds). Per-vector code
# tuple + reconstruction error — the compression step of an IVF-PQ index.
# Fully deterministic (rounded-6 distances, lowest-code tie-break), so the
# approximation itself is oracle-checkable.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_D = 4, 16, 64
_PQ_SUB = _PQ_D // _PQ_M


def _pq_dist_sql(j: int) -> str:
    off = j * _PQ_SUB
    return (
        f"round(list_sum(list_transform(e.embedding[{off + 1}:{off + _PQ_SUB}], "
        f"(x, i) -> (x::DOUBLE - cb.embedding[{off} + i]::DOUBLE) "
        f"* (x::DOUBLE - cb.embedding[{off} + i]::DOUBLE))), 6)"
    )


@query(
    "embedding_pq_codes",
    oracle=f"""
    WITH cb AS (SELECT vec_id AS code, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    dists AS (
      SELECT e.vec_id, cb.code,
             {", ".join(f"{_pq_dist_sql(j)} AS d{j}" for j in range(_PQ_M))}
      FROM embeddings e CROSS JOIN cb),
    best AS (
      SELECT vec_id,
             {", ".join(
                 f"FIRST(code ORDER BY d{j} ASC, code ASC) AS c{j}, MIN(d{j}) AS e{j}"
                 for j in range(_PQ_M))}
      FROM dists GROUP BY vec_id)
    SELECT vec_id,
           {", ".join(f"CAST(c{j} AS INTEGER) AS c{j}" for j in range(_PQ_M))},
           round({" + ".join(f"e{j}" for j in range(_PQ_M))}, 6) AS recon_err
    FROM best
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cb = emb.filter(F.col("vec_id") < _PQ_K)
    return S.pq_encode(emb, cb, m=_PQ_M, k=_PQ_K)


# ---------------------------------------------------------------------------
# Embedding outlier detection: distance of each vector to its label's
# centroid, z-scored within the label — the corrupt-embedding /
# mislabeled-cluster filter a training pipeline runs before ANN indexing.
# Plan: centroids = one (label, dim)-keyed partial-agg shuffle (vectors
# never shuffle whole); distances = centroid map joined broadcast back;
# z-scores = one (label) agg + broadcast join. Everything after the first
# shuffle touches broadcast-small sides only.
# ---------------------------------------------------------------------------


@query(
    "embedding_outlier_zscores",
    oracle="""
    WITH flat AS (
      SELECT label, vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
    cent AS (
      SELECT label, i, AVG(x) AS c FROM flat GROUP BY label, i),
    dist AS (
      SELECT f.label, f.vec_id,
             round(sqrt(SUM((f.x - c.c) * (f.x - c.c))), 6) AS d
      FROM flat f JOIN cent c ON c.label = f.label AND c.i = f.i
      GROUP BY f.label, f.vec_id),
    stats AS (
      SELECT label, AVG(d) AS mu, stddev_pop(d) AS sigma FROM dist GROUP BY label)
    SELECT d.label, d.vec_id, d.d AS dist,
           round((d.d - s.mu) / s.sigma, 6) AS z,
           CAST((d.d - s.mu) / s.sigma > 3.0 AS BOOLEAN) AS outlier
    FROM dist d JOIN stats s ON s.label = d.label
    """,
)
def embedding_outlier_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("label", "vec_id", "i", F.col("xf").cast("double").alias("x"))
    cent = flat.groupBy("label", "i").agg(F.avg("x").alias("c"))
    # two readers (label stats + final projection): checkpoint the
    # per-vector distances — recomputing them repeats the centroid join
    # and the (label, vec_id) aggregation over the exploded corpus.
    # `flat` itself stays UNcheckpointed on purpose: it is a map-only
    # posexplode over the scan (recompute is cheaper than materializing
    # corpus x dim rows).
    dist = (
        flat.join(F.broadcast(cent), ["label", "i"])
        .groupBy("label", "vec_id")
        .agg(
            F.round(F.sqrt(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))), 6).alias("dist")
        )
        .localCheckpoint(eager=False)
    )
    stats = dist.groupBy("label").agg(
        F.avg("dist").alias("mu"), F.stddev_pop("dist").alias("sigma")
    )
    z = (F.col("dist") - F.col("mu")) / F.col("sigma")
    return (
        dist.join(F.broadcast(stats), "label")
        .select(
            "label",
            "vec_id",
            "dist",
            F.round(z, 6).alias("z"),
            (z > 3.0).alias("outlier"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted-index IVF: the build-once / query-many production shape. The
# (vec_id, cid) assignment table — the IVF inverted file — is built on
# first use as a derived artifact of embeddings.parquet (``io.derived``);
# subsequent queries skip the corpus-wide assignment pass entirely and
# only touch probes + candidates. Results are identical to ann_ivf_topk
# (same oracle), which is the point: persisting the index changes cost,
# not answers.
# ---------------------------------------------------------------------------


def _ivf_index(
    spark: SparkSession, sf_dir: str, name: str, where: str = "true"
) -> DataFrame:
    """The persisted (vec_id, cid) assignment of the vectors matching the
    SQL filter ``where``, cached as artifact ``name``."""
    import os

    def build(out: str) -> None:
        emb = table(spark, sf_dir, "embeddings")
        cent = emb.filter(F.col("vec_id") < _IVF_C)
        S.ivf_assign(emb.filter(where), cent).write.mode("overwrite").parquet(out)

    src = os.path.join(sf_dir, "embeddings.parquet")
    return read_parquet(spark, derived(name, [src], build, _IVF_C, where))


from brooklin_spark import registry as _registry


@query("ann_ivf_topk_persisted", oracle=_registry.ORACLES["ann_ivf_topk"])
def ann_ivf_topk_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _IVF_C)
    queries = emb.filter(F.col("vec_id") < 10)
    assign = _ivf_index(spark, sf_dir, "ivf_idx")
    return S.ivf_topk(
        queries, emb, cent, k=_IVF_K, nprobe=_IVF_NPROBE, assign=assign
    )


# ---------------------------------------------------------------------------
# kNN label vote: classify each query vector by the majority label of its
# 5 nearest neighbors (cosine) — the autolabel / label-propagation op a
# training pipeline runs to extend sparse labels. Composes the broadcast
# brute-force top-k (corpus never shuffles) with one tiny vote aggregation
# over k·|queries| rows; ties break to the smallest label for cross-engine
# determinism.
# ---------------------------------------------------------------------------


@query(
    "knn_label_vote",
    oracle="""
    WITH scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
    ranked AS (
      SELECT query_id, true_label, neighbor_label,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored),
    votes AS (
      SELECT query_id, true_label, neighbor_label, COUNT(*) AS n_votes
      FROM ranked WHERE rank <= 5
      GROUP BY 1, 2, 3),
    winner AS (
      SELECT query_id, true_label, neighbor_label AS predicted_label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, neighbor_label ASC) AS rn
      FROM votes)
    SELECT query_id, true_label, predicted_label, CAST(n_votes AS BIGINT) AS n_votes,
           CAST(predicted_label = true_label AS BOOLEAN) AS correct
    FROM winner WHERE rn = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    topk = S.brute_force_topk(queries, emb, k=5)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(
            # per-VECTOR labels: corpus-scaled — no broadcast hint
            labels.withColumnRenamed("vec_id", "neighbor_id"),
            "neighbor_id",
        )
        .groupBy("query_id", F.col("label").alias("neighbor_label"))
        .agg(F.count("*").alias("n_votes"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("neighbor_label")
    )
    winner = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        winner.join(F.broadcast(truth), "query_id")
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
            (F.col("neighbor_label") == F.col("true_label")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) search: raw query vector vs PQ-compressed
# corpus — the query path of an IVF-PQ index. Every stage is deterministic
# (rounded-6 subspace distances, lowest-code assignment tie-break), so the
# ADC approximation itself is oracle-checkable: the SQL twin re-encodes
# the corpus and re-derives the per-query lookup tables with the same
# rounded arithmetic.
# ---------------------------------------------------------------------------


def _pq_qdist_sql(j: int) -> str:
    # same subspace distance as _pq_dist_sql but aliased q (query side)
    off = j * _PQ_SUB
    return (
        f"round(list_sum(list_transform(q.embedding[{off + 1}:{off + _PQ_SUB}], "
        f"(x, i) -> (x::DOUBLE - cb.embedding[{off} + i]::DOUBLE) "
        f"* (x::DOUBLE - cb.embedding[{off} + i]::DOUBLE))), 6)"
    )


@query(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH cb AS (SELECT vec_id AS code, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    cd AS (
      SELECT e.vec_id, cb.code,
             {", ".join(f"{_pq_dist_sql(j)} AS d{j}" for j in range(_PQ_M))}
      FROM embeddings e CROSS JOIN cb),
    codes AS (
      SELECT vec_id,
             {", ".join(f"FIRST(code ORDER BY d{j} ASC, code ASC) AS c{j}" for j in range(_PQ_M))}
      FROM cd GROUP BY vec_id),
    qlut AS (
      SELECT q.vec_id AS query_id, cb.code,
             {", ".join(f"{_pq_qdist_sql(j)} AS d{j}" for j in range(_PQ_M))}
      FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 8),
    adc AS (
      SELECT t0.query_id, c.vec_id AS neighbor_id,
             round({" + ".join(f"t{j}.d{j}" for j in range(_PQ_M))}, 6) AS adc_dist
      FROM codes c
      {" ".join(
          f"JOIN qlut t{j} ON t{j}.code = c.c{j}"
          + (" AND t%d.query_id = t0.query_id" % j if j else "")
          for j in range(_PQ_M))}
      WHERE c.vec_id <> t0.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
      FROM adc)
    SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cb = emb.filter(F.col("vec_id") < _PQ_K)
    return S.pq_adc_topk(queries, emb, cb, m=_PQ_M, k=_PQ_K, topk=5)


# ---------------------------------------------------------------------------
# TRAINED sub-quantizers (r5, VERDICT r4 next-round #8): a real IVF-PQ
# index trains per-subspace k-means codebooks instead of taking the
# first k corpus vectors. operators/similarity.py:pq_train runs the
# Lloyd rounds distributively (fused assign+reduce mapInPandas, m·k·d
# partial-sum shuffle rows — the kmeans_refine shape); the oracle
# replays the SAME rounds as unrolled CTEs (the BPE-train discipline),
# so the trained codebook itself — init, assignment tie-breaks, rounded
# means, dead-cell carryover — is cross-engine checked, not just the
# final top-k. ann_pq_recall_eval then measures recall@5 of first-k vs
# trained against exact L2 truth: trained wins (0.075 -> 0.156 at
# sf0.1), pinned by a test.
# ---------------------------------------------------------------------------

_PQ_TRAIN_ROUNDS = 2
_PQ_NQ = 32  # recall-eval query count (8 is too noisy to rank codebooks)


def _pq_sub_dist(vec_expr: str, j_expr: str = "c.j", cw: str = "c.cw") -> str:
    """Rounded-6 squared L2 between a dynamic subspace slice and a
    per-(code, j) codeword list — the trained-codebook twin of
    _pq_dist_sql (which hard-codes the slice per generated column)."""
    s = _PQ_SUB
    return (
        f"round(list_sum(list_transform("
        f"{vec_expr}[{j_expr}*{s}+1 : {j_expr}*{s}+{s}], "
        f"(x, i) -> (x::DOUBLE - {cw}[i]) * (x::DOUBLE - {cw}[i]))), 6)"
    )


def _pq_train_ctes(rounds: int) -> str:
    """CTE chain jj, cb0 .. cb{rounds}: per-(code, subspace) codeword
    lists after each Lloyd round, mirroring pq_train exactly (first-k
    init, rounded-6 assignment distances with lowest-code tie-break,
    rounded-6 means, dead cells carry the previous codeword)."""
    s = _PQ_SUB
    ctes = [
        f"jj AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS j)",
        f"""cb0 AS (
      SELECT e.vec_id AS code, jj.j,
             list_transform(e.embedding[jj.j*{s}+1 : jj.j*{s}+{s}], x -> x::DOUBLE) AS cw
      FROM embeddings e CROSS JOIN jj WHERE e.vec_id < {_PQ_K})""",
    ]
    for r in range(rounds):
        ctes.append(f"""asg{r} AS (
      SELECT e.vec_id, c.j,
             FIRST(c.code ORDER BY {_pq_sub_dist("e.embedding")} ASC, c.code ASC) AS code
      FROM embeddings e CROSS JOIN cb{r} c GROUP BY e.vec_id, c.j)""")
        ctes.append(f"""mn{r} AS (
      SELECT a.j, a.code, dd.i AS dim,
             round(SUM(e.embedding[a.j*{s} + dd.i]::DOUBLE) / COUNT(*), 6) AS comp
      FROM asg{r} a JOIN embeddings e ON e.vec_id = a.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, {s})) AS i) dd
      GROUP BY 1, 2, 3)""")
        ctes.append(f"""cb{r + 1} AS (
      SELECT code, j, list(comp ORDER BY dim) AS cw FROM mn{r} GROUP BY code, j
      UNION ALL
      SELECT p.code, p.j, p.cw FROM cb{r} p
      WHERE NOT EXISTS (SELECT 1 FROM mn{r} n WHERE n.code = p.code AND n.j = p.j))""")
    return ",\n    ".join(ctes)


def _pq_adc_sql(cb_cte: str, nq: int, out: str) -> str:
    """ADC top-5 CTE chain over a per-(code, j) codebook CTE: encode,
    query LUT (queries are corpus members, so cd covers them), fixed
    j-order sum (matches the kernel's ascending-j accumulation), rank."""
    joins = "\n      ".join(
        f"JOIN {out}_ql t{j} ON t{j}.j = {j} AND t{j}.code = c.c{j}"
        + (f" AND t{j}.query_id = t0.query_id" if j else "")
        for j in range(_PQ_M)
    )
    return f"""{out}_cd AS (
      SELECT e.vec_id, c.code, c.j, {_pq_sub_dist("e.embedding")} AS dd
      FROM embeddings e CROSS JOIN {cb_cte} c),
    {out}_codes AS (
      SELECT vec_id,
             {", ".join(f"FIRST(code ORDER BY dd ASC, code ASC) FILTER (j = {j}) AS c{j}" for j in range(_PQ_M))}
      FROM {out}_cd GROUP BY vec_id),
    {out}_ql AS (
      SELECT vec_id AS query_id, code, j, dd FROM {out}_cd WHERE vec_id < {nq}),
    {out}_adc AS (
      SELECT t0.query_id, c.vec_id AS neighbor_id,
             round({" + ".join(f"t{j}.dd" for j in range(_PQ_M))}, 6) AS adc_dist
      FROM {out}_codes c
      {joins}
      WHERE c.vec_id <> t0.query_id),
    {out} AS (
      SELECT query_id, neighbor_id, adc_dist, rank FROM (
        SELECT query_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
        FROM {out}_adc) t WHERE rank <= 5)"""


@query(
    "ann_pq_adc_trained_topk",
    oracle=f"""
    WITH {_pq_train_ctes(_PQ_TRAIN_ROUNDS)},
    {_pq_adc_sql(f"cb{_PQ_TRAIN_ROUNDS}", 8, "top")}
    SELECT query_id, neighbor_id, adc_dist, rank FROM top
    """,
)
def ann_pq_adc_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cbt = S.pq_train(emb, m=_PQ_M, k=_PQ_K, rounds=_PQ_TRAIN_ROUNDS)
    queries = emb.filter(F.col("vec_id") < 8)
    return S.pq_adc_topk(queries, emb, cbt, m=_PQ_M, k=_PQ_K, topk=5)


@query(
    "ann_pq_recall_eval",
    oracle=f"""
    WITH {_pq_train_ctes(_PQ_TRAIN_ROUNDS)},
    exact AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               round(list_sum(list_transform(e.embedding,
                 (x, i) -> (x::DOUBLE - q.embedding[i]::DOUBLE)
                         * (x::DOUBLE - q.embedding[i]::DOUBLE))), 6) ASC,
               e.vec_id ASC) AS rn
      FROM embeddings q CROSS JOIN embeddings e
      WHERE q.vec_id < {_PQ_NQ} AND e.vec_id <> q.vec_id),
    truth AS (SELECT query_id, neighbor_id FROM exact WHERE rn <= 5),
    {_pq_adc_sql("cb0", _PQ_NQ, "base")},
    {_pq_adc_sql(f"cb{_PQ_TRAIN_ROUNDS}", _PQ_NQ, "trained")}
    SELECT {_PQ_NQ} AS n_queries,
           round((SELECT COUNT(*) FROM truth t
                  JOIN base b ON b.query_id = t.query_id
                             AND b.neighbor_id = t.neighbor_id)
                 * 1.0 / {5 * _PQ_NQ}, 6) AS recall_firstk,
           round((SELECT COUNT(*) FROM truth t
                  JOIN trained x ON x.query_id = t.query_id
                               AND x.neighbor_id = t.neighbor_id)
                 * 1.0 / {5 * _PQ_NQ}, 6) AS recall_trained
    """,
)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _PQ_NQ)
    truth = S.brute_force_topk(queries, emb, k=5, metric="l2").select(
        "query_id", "neighbor_id"
    )
    base_cb = emb.filter(F.col("vec_id") < _PQ_K)
    top_b = S.pq_adc_topk(queries, emb, base_cb, m=_PQ_M, k=_PQ_K, topk=5)
    cbt = S.pq_train(emb, m=_PQ_M, k=_PQ_K, rounds=_PQ_TRAIN_ROUNDS)
    top_t = S.pq_adc_topk(queries, emb, cbt, m=_PQ_M, k=_PQ_K, topk=5)
    n_b = truth.join(top_b, ["query_id", "neighbor_id"]).count()
    n_t = truth.join(top_t, ["query_id", "neighbor_id"]).count()
    denom = 5 * _PQ_NQ
    return spark.createDataFrame(
        [(_PQ_NQ, round(n_b / denom, 6), round(n_t / denom, 6))],
        "n_queries int, recall_firstk double, recall_trained double",
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the combined billion-scale ANN layout — IVF routing restricts
# the scan to the probed lists, PQ/ADC replaces raw vectors with m-byte
# codes inside them (operators/similarity.py:ivfpq_topk). Both index
# kernels (list assignment, PQ encode) are the shuffle-free mapInPandas
# passes used by ann_ivf_topk / ann_pq_adc_topk; the query path is pure
# JVM broadcast-LUT joins. Deterministic throughout, so the DOUBLE
# approximation (IVF misses x PQ distortion) is itself oracle-checked.
# ---------------------------------------------------------------------------


@query(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_C}),
    routed AS (
      SELECT e.vec_id, c.cid,
             round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6) AS sim
      FROM embeddings e CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM routed) t WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM routed WHERE vec_id < 8) t WHERE rn <= {_IVF_NPROBE}),
    cb AS (SELECT vec_id AS code, embedding FROM embeddings WHERE vec_id < {_PQ_K}),
    cd AS (
      SELECT e.vec_id, cb.code,
             {", ".join(f"{_pq_dist_sql(j)} AS d{j}" for j in range(_PQ_M))}
      FROM embeddings e CROSS JOIN cb),
    codes AS (
      SELECT vec_id,
             {", ".join(f"FIRST(code ORDER BY d{j} ASC, code ASC) AS c{j}" for j in range(_PQ_M))}
      FROM cd GROUP BY vec_id),
    qlut AS (
      SELECT q.vec_id AS query_id, cb.code,
             {", ".join(f"{_pq_qdist_sql(j)} AS d{j}" for j in range(_PQ_M))}
      FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 8),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id <> p.query_id),
    adc AS (
      SELECT x.query_id, x.neighbor_id,
             round({" + ".join(f"t{j}.d{j}" for j in range(_PQ_M))}, 6) AS adc_dist
      FROM cand x
      JOIN codes c ON c.vec_id = x.neighbor_id
      {" ".join(
          f"JOIN qlut t{j} ON t{j}.code = c.c{j} AND t{j}.query_id = x.query_id"
          for j in range(_PQ_M))}),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
      FROM adc)
    SELECT query_id, neighbor_id, adc_dist, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cent = emb.filter(F.col("vec_id") < _IVF_C)
    cb = emb.filter(F.col("vec_id") < _PQ_K)
    return S.ivfpq_topk(
        queries, emb, cent, cb, m=_PQ_M, k=_PQ_K, nprobe=_IVF_NPROBE, topk=5
    )


# ---------------------------------------------------------------------------
# Scalar int8 quantization (SQ8): per-dimension [min, max] ranges over the
# corpus, each value mapped to round(255 * (x - lo) / (hi - lo)) - 128 —
# the 4x-compression step vector stores apply before PQ. Ranges come from
# ONE (dim)-keyed partial-agg shuffle (vectors never shuffle whole) and
# broadcast back into a map-only encode; output pins per-vector code
# stats + reconstruction error so the byte mapping itself is
# oracle-checked.
# ---------------------------------------------------------------------------


@query(
    "embedding_sq8_codes",
    oracle="""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
    rng AS (
      SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY i),
    codes AS (
      SELECT f.vec_id, f.i, f.x,
             CAST(round(255.0 * (f.x - r.lo) / (r.hi - r.lo)) AS BIGINT) - 128 AS code,
             r.lo, r.hi
      FROM flat f JOIN rng r ON r.i = f.i),
    recon AS (
      SELECT vec_id, code,
             (CAST(code + 128 AS DOUBLE) / 255.0) * (hi - lo) + lo - x AS err
      FROM codes)
    SELECT vec_id,
           CAST(MIN(code) AS BIGINT) AS min_code,
           CAST(MAX(code) AS BIGINT) AS max_code,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           round(sqrt(SUM(err * err)), 6) AS recon_err
    FROM recon GROUP BY vec_id
    """,
)
def embedding_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    rng = flat.groupBy("i").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    codes = flat.join(F.broadcast(rng), "i").select(
        "vec_id",
        "x",
        "lo",
        "hi",
        (
            F.round(255.0 * (F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")))
            .cast("bigint")
            - 128
        ).alias("code"),
    )
    err = (
        (F.col("code") + 128).cast("double") / 255.0 * (F.col("hi") - F.col("lo"))
        + F.col("lo")
        - F.col("x")
    )
    return codes.select("vec_id", "code", err.alias("err")).groupBy("vec_id").agg(
        F.min("code").cast("bigint").alias("min_code"),
        F.max("code").cast("bigint").alias("max_code"),
        F.sum("code").cast("bigint").alias("code_sum"),
        F.round(F.sqrt(F.sum(F.col("err") * F.col("err"))), 6).alias("recon_err"),
    )


# ---------------------------------------------------------------------------
# Semantic benchmark decontamination: the embedding-space twin of
# dedup_decontamination_flags — a corpus vector is contaminated when any
# benchmark vector (here the first 8, standing in for an eval set's
# embeddings) is within cosine >= tau. The benchmark matrix is closed
# over (broadcast-small by contract); the corpus streams map-only and
# emits a flag + the best-matching benchmark id. Catches paraphrased
# contamination the shingle-based flags miss.
# ---------------------------------------------------------------------------


@query(
    "decontamination_embedding_flags",
    oracle="""
    WITH bench AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT c.vec_id,
             b.vec_id AS bench_id,
             round(list_cosine_similarity(c.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings c CROSS JOIN bench b
      WHERE c.vec_id >= 8),
    best AS (
      SELECT vec_id,
             FIRST(bench_id ORDER BY sim DESC, bench_id ASC) AS nearest_bench,
             MAX(sim) AS best_sim
      FROM scored GROUP BY vec_id)
    SELECT vec_id, CAST(nearest_bench AS BIGINT) AS nearest_bench,
           best_sim,
           CAST(best_sim >= 0.35 AS BOOLEAN) AS contaminated
    FROM best
    """,
)
def decontamination_embedding_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    b_ids, bm = S._collect_matrix(bench, "vec_id", "embedding")

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            sims = np.round(S._batch_matrix(pdf["embedding"]) @ bm.T, 6)
            # ties: highest sim, then lowest bench id — argmax returns the
            # first (lowest-index) maximum and b_ids is sorted ascending
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "nearest_bench": b_ids[best],
                    "best_sim": sims[np.arange(len(ids)), best],
                }
            )

    scored = corpus.select("vec_id", "embedding").mapInPandas(
        op, schema="vec_id bigint, nearest_bench bigint, best_sim double"
    )
    return scored.select(
        "vec_id",
        "nearest_bench",
        "best_sim",
        (F.col("best_sim") >= 0.35).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncation audit: how much L2 energy the first 16 of 64
# dimensions retain, per label — the decision metric for serving truncated
# embeddings (Kusupati et al., MRL). Shape: pure JVM higher-order funcs on
# the array column (NO explode — 64x fewer rows than the posexplode form),
# one groupBy(label). Sequential list_reduce on both engines pins the
# fold order; per-row round-8 before the aggregate keeps AVG exact.
# ---------------------------------------------------------------------------

_MRL_DIMS = 16


@query(
    "embedding_mrl_truncate",
    oracle=f"""
    WITH e AS (
      SELECT label,
             list_reduce(list_prepend(0.0, list_transform(embedding[1:{_MRL_DIMS}],
               x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b) AS ss16,
             list_reduce(list_prepend(0.0, list_transform(embedding,
               x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b) AS ss64
      FROM embeddings),
    r AS (SELECT label, round(ss16 / ss64, 8) AS energy FROM e)
    SELECT label,
           COUNT(*) AS n_vecs,
           round(AVG(energy), 6) AS avg_energy,
           round(MIN(energy), 6) AS min_energy,
           round(MAX(energy), 6) AS max_energy,
           CAST(SUM(CASE WHEN energy < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_energy
    FROM r GROUP BY label
    """,
)
def embedding_mrl_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")

    def sumsq(col):
        return F.aggregate(
            col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )

    energy = F.round(
        sumsq(F.slice("embedding", 1, _MRL_DIMS)) / sumsq(F.col("embedding")), 8
    )
    r = emb.select("label", energy.alias("energy"))
    return r.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("energy"), 6).alias("avg_energy"),
        F.round(F.min("energy"), 6).alias("min_energy"),
        F.round(F.max("energy"), 6).alias("max_energy"),
        F.sum(F.when(F.col("energy") < 0.2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_energy"),
    )


# ---------------------------------------------------------------------------
# ANN recall evaluation: recall@5 of the IVF(nprobe=2) index against the
# exact brute-force neighbors, per query — the index-quality gate a
# vector-search deployment monitors (the LSH twin is dedup_lsh_recall).
# Both sides reuse the production operators; the tiny top-k lists join on
# (query, neighbor) and reduce to one row per query. Self-evaluation at
# 100 TB runs on a SAMPLE of queries — the shape is identical.
# ---------------------------------------------------------------------------


@query(
    "ann_ivf_recall_eval",
    oracle=f"""
    WITH b_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        FROM b_scored) t WHERE rank <= {_IVF_K}),
    cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_C}),
    c_scored AS (
      SELECT e.vec_id, c.cid,
             round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6) AS sim
      FROM embeddings e CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM c_scored) t WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM c_scored WHERE vec_id < 10) t WHERE rn <= {_IVF_NPROBE}),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id <> p.query_id),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS sim
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
        FROM rescored) t WHERE rank <= {_IVF_K})
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           round(COUNT(i.neighbor_id) * 1.0 / {_IVF_K}, 6) AS recall_at_k
    FROM brute b
    LEFT JOIN ivf i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = S.brute_force_topk(queries, emb, k=_IVF_K).select(
        "query_id", "neighbor_id"
    )
    cent = emb.filter(F.col("vec_id") < _IVF_C)
    ivf = S.ivf_topk(queries, emb, cent, k=_IVF_K, nprobe=_IVF_NPROBE).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = brute.join(ivf, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("hit", F.lit(0))) / F.lit(float(_IVF_K)), 6
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# PCA top component by power iteration — the whitening/compression
# companion to the PQ/SQ8 codecs: 3 rounds of v <- normalize(X^T (X v))
# run RELATIONALLY on the exploded (vec_id, i, x) table. Per round: one
# broadcast join on dimension (64-row v), one groupBy(vec_id) for the
# dots, one join back + groupBy(i) for the matvec — the same two-shuffle
# shape per round at any corpus size; the 64-row eigenvector is the only
# checkpointed round state. round-8 pins each round's vector so the
# cross-engine double-sum fold order can't drift; oracle = the same
# rounds unrolled (PageRank pattern). Eigenvalue = ||X^T X v|| of the
# last round.
# ---------------------------------------------------------------------------

_PCA_ROUNDS = 3
_PCA_D = 64


def _pca_round_sql(k: int) -> str:
    return f"""
dot_{k} AS (
  SELECT f.vec_id, SUM(f.x * v.val) AS dot
  FROM flat f JOIN v_{k} v ON v.i = f.i GROUP BY f.vec_id),
w_{k} AS (
  SELECT f.i, SUM(f.x * d.dot) AS w
  FROM flat f JOIN dot_{k} d ON d.vec_id = f.vec_id GROUP BY f.i),
n_{k} AS (SELECT SQRT(SUM(w * w)) AS nrm FROM w_{k}),
v_{k + 1} AS (
  SELECT i, round(w / (SELECT nrm FROM n_{k}), 8) AS val FROM w_{k})"""


@query(
    "embedding_pca_power",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
    v_0 AS (
      SELECT i, 0.125 AS val FROM generate_series(1, {_PCA_D}) AS t(i)),
    {",".join(_pca_round_sql(k) for k in range(_PCA_ROUNDS))}
    SELECT CAST(v.i AS BIGINT) AS i,
           v.val AS loading,
           round((SELECT nrm FROM n_{_PCA_ROUNDS - 1}), 6) AS eigenvalue
    FROM v_{_PCA_ROUNDS} v
    """,
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    flat = (
        emb.select("vec_id", F.posexplode("embedding").alias("i0", "xf"))
        .select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            F.col("xf").cast("double").alias("x"),
        )
        .localCheckpoint()  # read twice per round x 3 rounds
    )
    v = spark.range(1, _PCA_D + 1).select(
        F.col("id").cast("int").alias("i"), F.lit(0.125).alias("val")
    )
    nrm_df = None
    for k in range(_PCA_ROUNDS):
        dot = (
            flat.join(F.broadcast(v), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("x") * F.col("val")).alias("dot"))
        )
        w = (
            flat.join(dot, "vec_id")
            .groupBy("i")
            .agg(F.sum(F.col("x") * F.col("dot")).alias("w"))
        )
        nrm_df = w.agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
        ).localCheckpoint()  # 1-row round state; the final eigenvalue read
        # must not re-execute the round's two shuffles
        v = (
            w.crossJoin(F.broadcast(nrm_df))
            .select("i", F.round(F.col("w") / F.col("nrm"), 8).alias("val"))
            .localCheckpoint()  # 64-row round state
        )
    return v.crossJoin(F.broadcast(nrm_df)).select(
        F.col("i").cast("bigint").alias("i"),
        F.col("val").alias("loading"),
        F.round("nrm", 6).alias("eigenvalue"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup clusters: the embedding-space twin of the shingle-based
# dedup_canonical_clusters — SRP-bucketed near-dup pairs (the 100 TB
# candidate path, 8.4x faster than the oracle's quadratic join at sf1)
# fed into min-label connected components, canonical member = min vec_id.
# This is the end-to-end "semantic dedup" a training pipeline applies
# when paraphrases defeat exact/shingle fingerprints. Oracle: recursive
# CTE over the same SQL-derived pair set.
# ---------------------------------------------------------------------------


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE {_srp_bits_sql(_PLANES)},
    pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM bucketed x
      JOIN bucketed y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      JOIN embeddings ex ON ex.vec_id = x.vec_id
      JOIN embeddings ey ON ey.vec_id = y.vec_id
      WHERE round(list_cosine_similarity(ex.embedding::DOUBLE[], ey.embedding::DOUBLE[]), 6) >= 0.4),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT vec_a AS id FROM pairs UNION SELECT vec_b FROM pairs)),
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r)
    SELECT id AS vec_id, MIN(r) AS cluster,
           CAST(MIN(r) = id AS BOOLEAN) AS keep
    FROM reach GROUP BY id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators import dedup as DD

    emb = table(spark, sf_dir, "embeddings")
    pairs = S.srp_bucket_pairs(emb, planes=_PLANES, threshold=0.4).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    comps = DD.connected_components(pairs)
    return comps.select(
        F.col("id").alias("vec_id"),
        F.col("comp").alias("cluster"),
        (F.col("comp") == F.col("id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: k-means clusters bound the candidate space for semantic dedup
# (Abbas et al. 2023). Distinct from dedup_semantic_clusters (SRP buckets +
# connected components): here the partition comes from centroid assignment
# — the dial is CLUSTER COUNT, grown with the corpus so per-cluster
# quadratic work stays constant — and the output is the per-vector
# keep/drop manifest (lowest-id cluster member at cosine >= threshold
# survives). Centroids are the first k corpus vectors so the whole
# approximation is deterministic and oracle-checkable; the trained
# pq_train/kmeans_refine machinery slots in unchanged at production.
#
# The cluster count is CORPUS-ADAPTIVE in both engines: k = max(8,
# N // _SDD_PER) keeps expected cluster size (and therefore the
# per-cluster pairwise matmul — the task's scratch memory) CONSTANT as
# the corpus grows. A fixed k would put N/k ~ N vectors in every cluster
# and the per-task O((N/k)^2) kernel would OOM exactly like the fixed-B
# cosine tiling this round's sf10 run caught; the adaptive k is the
# SemDeDup paper's own discipline (~100k clusters at LAION scale).
# ---------------------------------------------------------------------------

_SDD_MIN_C = 8
_SDD_PER = 512  # target vectors per cluster
_SDD_TH = 0.4


@query(
    "dedup_semdedup_kmeans",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < (SELECT GREATEST({_SDD_MIN_C}, COUNT(*) // {_SDD_PER}) FROM embeddings)),
    scored AS (
      SELECT e.vec_id, c.cid,
             round(list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]), 6) AS sim
      FROM embeddings e CROSS JOIN cent c),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
        FROM scored) t WHERE rn = 1),
    dup AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= {_SDD_TH})
    SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
    FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
    """,
)
def dedup_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    k = max(_SDD_MIN_C, emb.count() // _SDD_PER)  # one scalar: corpus-adaptive k
    cent = emb.filter(F.col("vec_id") < k)
    return S.semdedup_keep(emb, cent, threshold=_SDD_TH)


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection (Gonzalez 1985 farthest-point
# traversal, the 2-approximation to the k-center objective): pick the
# min-id vector as the seed, then k-1 times pick the vector FARTHEST from
# everything selected so far (= smallest max-cosine to the selected set,
# vec_id tie-break). The diversity-sampling primitive a training pipeline
# uses to build a small corpus that COVERS embedding space (coreset for
# labeling budgets, eval-set seeding, cluster-count probes) — the
# complement of SemDeDup, which removes the redundant end of the same
# geometry.
#
# Scale shape: k-1 passes over the corpus, each a zero-shuffle map (the
# selected set is <= k vectors folded into the projection as literals —
# 64*k multiply-adds per row, JVM-side) followed by a TakeOrdered(1).
# Only k rows ever reach the driver (the same bounded-scalar discipline
# as the corpus-stat queries). O(k * N * dim) total compute, no shuffle,
# no UDF. Oracle = the identical traversal unrolled as k-1 CTE rounds.
#
# Float parity: sims are round(dot, 6) on unit-norm embeddings — the
# same convention every cosine op here uses; argmin-with-id-tie-break is
# engine-exact on the rounded values. min_sim for the seed is NULL (it
# has no prior centers).
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_oracle(k: int) -> str:
    rounds = []
    prev = "c0"
    out = ["SELECT 0 AS rank, vec_id, CAST(NULL AS DOUBLE) AS min_sim FROM c0"]
    for r in range(1, k):
        rounds.append(
            f"""m{r} AS (
      SELECT e.vec_id,
             MAX(round(list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)) AS msim
      FROM embeddings e JOIN {prev} c ON TRUE
      WHERE e.vec_id NOT IN (SELECT vec_id FROM {prev})
      GROUP BY e.vec_id),
    p{r} AS (SELECT vec_id, msim FROM m{r} ORDER BY msim ASC, vec_id ASC LIMIT 1),
    c{r} AS (SELECT * FROM {prev}
             UNION ALL
             SELECT e.vec_id, e.embedding FROM embeddings e JOIN p{r} USING (vec_id))"""
        )
        out.append(f"SELECT {r} AS rank, vec_id, msim AS min_sim FROM p{r}")
        prev = f"c{r}"
    return (
        "WITH c0 AS (SELECT vec_id, embedding FROM embeddings\n"
        "             WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),\n    "
        + ",\n    ".join(rounds)
        + "\n    SELECT CAST(rank AS BIGINT) AS rank, vec_id, min_sim FROM ("
        + " UNION ALL ".join(out)
        + ") ORDER BY rank"
    )


#: past this many selected centers the per-round filter/max expression
#: stops folding centers in as literal arrays (O(k*dim) literals per plan,
#: k-1 growing compilations) and switches to a broadcast numpy matrix
#: inside an Arrow-batched kernel (constant plan size, one matmul per row
#: batch) — the k>=100 production shape
_KC_LITERAL_MAX = 64

#: past this many embedding rows the per-round running-max state
#: (vec_id, embedding, msim) stops riding deserialized localCheckpoint
#: caches (object form ~1 KB/row for a 64-dim vector: tens of millions of
#: rows exhaust one 48 g JVM, the r6 PageRank failure mode) and spills
#: COLUMNAR to an alternating pair of scratch tables instead — same
#: footer-derived, data-not-core-count threshold pattern as
#: _PR_SPILL_LI_ROWS. On a real cluster the threshold is per-executor;
#: here it is one JVM's memory.
_KC_SPILL_EMB_ROWS = 20_000_000


def _kcenter_traverse(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    spill_corpus: str | None = None,
) -> list:
    """Gonzalez farthest-point traversal: k-1 zero-shuffle corpus passes;
    only k rows ever reach the driver (the selected centers ARE the model
    state, same bounded-collect contract as the IVF centroids).

    Contract: embeddings are UNIT-NORM (the data generator guarantees it),
    so round(dot, 6) == round(cosine, 6) and the argmin-with-id-tie-break
    is engine-exact on the rounded values. For non-normalized inputs the
    dot must be divided by the norms first.

    k <= _KC_LITERAL_MAX folds the centers into the plan as literal
    arrays (fastest at small k: pure Catalyst, no Python); larger k rides
    a broadcast (k x dim) numpy matrix in a pandas kernel whose per-row
    cost is one vectorized matmul — plan size stays O(1) in k. Both paths
    run the same traversal and pick identical centers (property-tested);
    the kernel's per-dot float summation is numpy's, which can differ from
    the fold by <=1 ulp BEFORE the round(6) — ties at an exact 5e-7
    boundary are the only divergence surface (measure-zero for real
    embeddings).
    """
    rows = []
    seed = emb.orderBy(F.asc("vec_id")).limit(1).first()
    selected = [(int(seed.vec_id), list(seed.embedding))]
    rows.append((0, int(seed.vec_id), None))

    def _assert_unit(vec_id: int, vec) -> None:
        # enforce the documented unit-norm precondition on every vector
        # that reaches the driver (the k centers) — free, and any corpus
        # violating the contract fails LOUDLY instead of returning cosines
        # that silently aren't cosines
        n = sum(float(v) * float(v) for v in vec)
        if abs(n - 1.0) > 1e-3:
            raise ValueError(
                f"kcenter requires unit-norm embeddings; vec_id={vec_id} "
                f"has squared norm {n:.6f} — normalize before calling"
            )

    _assert_unit(int(seed.vec_id), seed.embedding)

    def dot_to(vec) -> F.Column:
        lit = F.array(*[F.lit(float(v)) for v in vec])
        return F.round(
            F.aggregate(
                F.zip_with(F.col("embedding"), lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    use_literals = k <= _KC_LITERAL_MAX
    # Incremental running-max state for the literal path (r9-opt): round r
    # needs msim(v) = max over ALL selected centers of round(dot, 6), and
    # max is associative, so each round folds in ONLY the newest center —
    # one O(dim) dot per row and a constant-size plan (64 literals) instead
    # of re-evaluating r dots per row off a plan that grows O(r*dim)
    # literals per round (O(k^2) row work and k growing compilations in
    # total). The state rides a LAZY localCheckpoint that the round's pick
    # job materializes (the CC convergence-check pattern): one job per
    # round, reading the previous round's cached state instead of
    # re-scanning parquet. Float-identical to the recompute form: the same
    # dot_to expression produces each rounded dot and max-of-doubles is
    # order-insensitive. The state caches (vec_id, embedding, msim) —
    # corpus-scale, same per-round materialization posture as the PageRank
    # rank checkpoints; past _KC_SPILL_EMB_ROWS (footer-derived) the caller
    # passes spill_corpus and the state spills COLUMNAR to alternating
    # scratch tables instead of the JVM object cache (r10, wired below; no
    # bucket spec — nothing downstream joins on a key, the pick is a
    # global ordered limit).
    state: DataFrame | None = None
    prev_tbl: str | None = None
    if spill_corpus is not None:
        from brooklin_spark.checkpoint import (
            drop_scratch_table,
            gc_dead_scratch,
            scratch_name,
        )

        gc_dead_scratch(spark, "kc_state_a")
        gc_dead_scratch(spark, "kc_state_b")
    for r in range(1, k):
        taken = [i for i, _ in selected]
        if use_literals:
            new_dot = dot_to(selected[-1][1])
            if state is None:
                state = emb.select("vec_id", "embedding", new_dot.alias("msim"))
            else:
                state = state.select(
                    "vec_id",
                    "embedding",
                    F.greatest(F.col("msim"), new_dot).alias("msim"),
                )
            if spill_corpus is not None:
                # columnar spill: write THIS round's state before dropping
                # the previous round's table it reads from (alternating
                # a/b names so reader and writer never collide); the pick
                # below then scans parquet instead of a JVM object cache
                tbl = scratch_name(
                    "kc_state_a" if r % 2 else "kc_state_b", spill_corpus
                )
                drop_scratch_table(spark, tbl)
                state.write.saveAsTable(tbl)
                state = spark.table(tbl)
                if prev_tbl is not None:
                    drop_scratch_table(spark, prev_tbl)
                prev_tbl = tbl
            else:
                state = state.localCheckpoint(eager=False)
            pick = (
                state.filter(~F.col("vec_id").isin(taken))
                .orderBy(F.asc("msim"), F.asc("vec_id"))
                .limit(1)
                .first()
            )
            _assert_unit(int(pick.vec_id), pick.embedding)
            selected.append((int(pick.vec_id), list(pick.embedding)))
            rows.append((r, int(pick.vec_id), float(pick.msim)))
            continue
        else:  # broadcast-matrix kernel (large k)
            import numpy as np
            import pandas as pd

            bc = spark.sparkContext.broadcast(
                np.array([v for _, v in selected], dtype=np.float64)
            )
            btaken = spark.sparkContext.broadcast(set(taken))

            def max_sim(batches):
                C = bc.value
                skip = btaken.value
                for pdf in batches:
                    keep = ~pdf["vec_id"].isin(skip)
                    sub = pdf[keep]
                    if len(sub) == 0:
                        yield pd.DataFrame({"vec_id": [], "msim": []}).astype(
                            {"vec_id": "int64", "msim": "float64"}
                        )
                        continue
                    M = np.stack(sub["embedding"].to_numpy())
                    ms = np.round((M @ C.T).max(axis=1), 6)
                    yield pd.DataFrame(
                        {"vec_id": sub["vec_id"].to_numpy(), "msim": ms}
                    )

            cand = emb.mapInPandas(max_sim, "vec_id bigint, msim double")
        pick = cand.orderBy(F.asc("msim"), F.asc("vec_id")).limit(1).first()
        full = emb.filter(F.col("vec_id") == int(pick.vec_id)).first()
        _assert_unit(int(pick.vec_id), full.embedding)
        selected.append((int(pick.vec_id), list(full.embedding)))
        rows.append((r, int(pick.vec_id), float(pick.msim)))
    if spill_corpus is not None and prev_tbl is not None:
        drop_scratch_table(spark, prev_tbl)
    return rows


@query("embedding_kcenter_coreset", oracle=_kcenter_oracle(_KC_K))
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from brooklin_spark.queries.dedup import _fact_rows

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    spill = _fact_rows(spark, sf_dir, "embeddings") > _KC_SPILL_EMB_ROWS
    rows = _kcenter_traverse(
        spark,
        emb,
        _KC_K,
        spill_corpus=os.path.join(sf_dir, "embeddings.parquet") if spill else None,
    )
    return spark.createDataFrame(
        rows, "rank bigint, vec_id bigint, min_sim double"
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training data prep): for each query
# vector, the top-k highest-cosine corpus vectors with a DIFFERENT label —
# the near-misses that define the decision margin. Deterministic queries
# (vec_id < 8), exact scoring, so the whole mining run is oracle-checkable.
# ---------------------------------------------------------------------------

_HN_Q = 8
_HN_K = 3


@query(
    "ann_hard_negative_mining",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS query_label,
             c.vec_id AS neighbor_id, CAST(c.label AS BIGINT) AS neighbor_label,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {_HN_Q} AND c.vec_id <> q.vec_id AND c.label <> q.label),
    ranked AS (
      SELECT query_id, query_label, neighbor_id, neighbor_label, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      FROM scored)
    SELECT query_id, query_label, neighbor_id, neighbor_label, sim, rank
    FROM ranked WHERE rank <= {_HN_K}
    """,
)
def ann_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _HN_Q)
    return S.hard_negative_topk(queries, emb, k=_HN_K)


# ---------------------------------------------------------------------------
# Matryoshka (MRL) funnel retrieval: stage 1 shortlists top-C neighbors by
# cosine on the FIRST 16 dims only (the cheap prefix an MRL-trained encoder
# makes meaningful), stage 2 reranks the shortlist by exact full-dim cosine.
# The production two-stage ANN pattern for adaptive-dimension embeddings —
# and the approximation (including its misses vs full brute force) is fully
# deterministic, so the funnel itself is oracle-checked. ONE corpus pass:
# the kernel emits prefix AND full scores for its local shortlist, so the
# rerank never rescans or joins the corpus; the global windows rank
# O(C · partitions · queries) rows.
# ---------------------------------------------------------------------------

_MRLF_Q = 8     # queries = vec_id < 8
_MRLF_DIMS = 16
_MRLF_C = 20    # stage-1 shortlist
_MRLF_K = 5     # final top-k


@query(
    "ann_mrl_funnel_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {_MRLF_Q}),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             round(list_cosine_similarity((q.qv[1:{_MRLF_DIMS}])::DOUBLE[],
                                          (c.embedding[1:{_MRLF_DIMS}])::DOUBLE[]), 6) AS psim,
             round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS fsim
      FROM q JOIN embeddings c ON c.vec_id <> q.qid),
    c1 AS (
      SELECT qid, nid, psim, fsim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, nid ASC) AS prk
      FROM scored),
    c2 AS (
      SELECT qid, nid, fsim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fsim DESC, nid ASC) AS rank
      FROM c1 WHERE prk <= {_MRLF_C})
    SELECT qid AS query_id, nid AS neighbor_id, fsim AS sim, rank
    FROM c2 WHERE rank <= {_MRLF_K}
    """,
)
def ann_mrl_funnel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < _MRLF_Q)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in rows], dtype=np.float64)
    order = np.argsort(q_ids)
    q_ids, qm = q_ids[order], qm[order]

    def unit(m):
        n = np.linalg.norm(m, axis=1)
        n[n == 0] = 1.0
        return m / n[:, None]

    qfull = unit(qm)
    qpre = unit(qm[:, :_MRLF_DIMS])

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            mfull = unit(m)
            mpre = unit(m[:, :_MRLF_DIMS])
            ps = np.round(mpre @ qpre.T, 6)
            fs = np.round(mfull @ qfull.T, 6)
            out = {"query_id": [], "neighbor_id": [], "psim": [], "sim": []}
            for j, qid in enumerate(q_ids):
                mask = np.flatnonzero(ids != qid)
                top = mask[np.lexsort((ids[mask], -ps[mask, j]))][:_MRLF_C]
                out["query_id"].extend([qid] * len(top))
                out["neighbor_id"].extend(ids[top].tolist())
                out["psim"].extend(ps[top, j].tolist())
                out["sim"].extend(fs[top, j].tolist())
            yield pd.DataFrame(out)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        op,
        schema="query_id bigint, neighbor_id bigint, psim double, sim double",
    )
    w1 = W.partitionBy("query_id").orderBy(F.desc("psim"), F.asc("neighbor_id"))
    shortlist = scored.withColumn("prk", F.row_number().over(w1)).filter(
        F.col("prk") <= _MRLF_C
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        shortlist.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= _MRLF_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Incremental IVF index refresh — the ANN twin of text_bm25_index_refresh:
# the persisted base inverted file (80% of vectors, vec_id % 5 != 0) is
# read as-is (_ivf_index over the base filter); only the delta batch pays
# the assignment matmul (O(delta), shuffle-free); the probe unions base
# and delta assignments. Per-vector
# assignments are independent given fixed centroids, so the union is
# provably the full index — the oracle IS ann_ivf_topk's from-scratch SQL.
# ---------------------------------------------------------------------------

_IVFR_MOD = 5


@query("ann_ivf_index_refresh", oracle=_registry.ORACLES["ann_ivf_topk"])
def ann_ivf_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _IVF_C)
    delta = emb.filter(F.col("vec_id") % _IVFR_MOD == 0)
    base = _ivf_index(spark, sf_dir, "ivf_base", f"vec_id % {_IVFR_MOD} != 0")
    assign = base.unionByName(S.ivf_assign(delta, cent))
    queries = emb.filter(F.col("vec_id") < 10)
    return S.ivf_topk(
        queries, emb, cent, k=_IVF_K, nprobe=_IVF_NPROBE, assign=assign
    )


# ---------------------------------------------------------------------------
# Pairwise-cosine histogram over a deterministic embedding sample: the
# calibration readout behind every near-dup threshold choice (where does
# the corpus's similarity mass sit relative to the 0.7/0.8 cut?) and the
# sanity check for LSH banding parameters. The sample (vec_id < _HIST_N)
# is broadcast-sized by contract; pairs ride one broadcast nested-loop
# over N(N-1)/2 rows, cosines run through the Arrow matmul kernel, and
# the histogram is a 20-cell groupBy. At 100 TB the sample stays fixed —
# the operator's cost is O(sample²), independent of corpus size.
# ---------------------------------------------------------------------------

_HIST_N = 200  # sample size => 19,900 pairs


@query(
    "embedding_cosine_histogram",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_HIST_N}),
    p AS (
      SELECT round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS sim
      FROM s a JOIN s b ON a.vec_id < b.vec_id),
    binned AS (
      SELECT LEAST(19, GREATEST(0, CAST(floor((sim + 1.0) / 0.1) AS BIGINT)))
               AS bin,
             sim
      FROM p)
    SELECT bin,
           round(bin * 0.1 - 1.0, 1) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(AVG(sim), 6) AS avg_sim
    FROM binned GROUP BY bin
    """,
)
def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    s = emb.filter(F.col("vec_id") < _HIST_N)
    a = s.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = s.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib")).select(
        S.cosine_pairs_kernel(F.col("ea"), F.col("eb")).alias("sim")
    )
    bin_ = F.least(
        F.lit(19),
        F.greatest(F.lit(0), F.floor((F.col("sim") + 1.0) / 0.1)),
    ).cast("bigint")
    return (
        pairs.select(bin_.alias("bin"), "sim")
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("sim"), 6).alias("avg_sim"),
        )
        .select(
            "bin",
            F.round(F.col("bin") * 0.1 - 1.0, 1).alias("bin_lo"),
            "n_pairs",
            "avg_sim",
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka recall curve: recall@K of truncated-dimension cosine search
# (dims 8/16/32) against the full-dimension exact top-K, averaged over a
# probe sample — the dial an MRL deployment reads to pick its funnel
# width (ann_mrl_funnel_topk is the runtime operator; THIS is its offline
# evaluation). One streaming corpus pass scores every (query, candidate)
# at all four widths (the per-batch matmul is one kernel, per-dim slices
# of the same normalized matrix); per-(query, dim) top-K then reduces to
# |dims| rows. At 100 TB the probe set stays a sample (bounded Q x dim
# driver state) and the corpus streams through one mapInPandas, exactly
# like the production ANN evals (ann_ivf_recall_eval / pq_recall_eval).
# ---------------------------------------------------------------------------

_MRC_Q = 16          # probe queries = vec_id < 16
_MRC_K = 10          # recall@K
_MRC_DIMS = [8, 16, 32]


def _mrc_oracle() -> str:
    sims = ",\n             ".join(
        f"round(list_cosine_similarity((q.qv[1:{d}])::DOUBLE[], "
        f"(c.embedding[1:{d}])::DOUBLE[]), 6) AS p{d}"
        for d in _MRC_DIMS
    )
    trunc = "\n      UNION ALL ".join(
        f"""SELECT qid, nid, {d} AS dim FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY p{d} DESC, nid ASC) AS r
        FROM scored) WHERE r <= {_MRC_K}"""
        for d in _MRC_DIMS
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {_MRC_Q}),
    scored AS (
      SELECT q.qid, c.vec_id AS nid,
             round(list_cosine_similarity(q.qv::DOUBLE[], c.embedding::DOUBLE[]), 6) AS fsim,
             {sims}
      FROM q JOIN embeddings c ON c.vec_id <> q.qid),
    fullk AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fsim DESC, nid ASC) AS r
        FROM scored) WHERE r <= {_MRC_K}),
    trunc AS (
      {trunc}),
    rec AS (
      SELECT t.dim, t.qid,
             SUM(CASE WHEN f.nid IS NOT NULL THEN 1 ELSE 0 END) / {_MRC_K}.0
               AS recall
      FROM trunc t LEFT JOIN fullk f ON f.qid = t.qid AND f.nid = t.nid
      GROUP BY 1, 2)
    SELECT CAST(dim AS BIGINT) AS dim,
           COUNT(*) AS n_queries,
           round(AVG(recall), 6) AS avg_recall
    FROM rec GROUP BY dim
    """


@query("embedding_mrl_recall_curve", oracle=_mrc_oracle())
def embedding_mrl_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    emb = table(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id") < _MRC_Q).select("vec_id", "embedding").collect()
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in rows], dtype=np.float64)
    order = np.argsort(q_ids)
    q_ids, qm = q_ids[order], qm[order]

    def unit(m):
        n = np.linalg.norm(m, axis=1)
        n[n == 0] = 1.0
        return m / n[:, None]

    widths = [*_MRC_DIMS, None]  # None = full width
    qn = {d: unit(qm if d is None else qm[:, :d]) for d in widths}

    def op(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            out = {"qid": [], "nid": [], "dim": [], "sim": []}
            for d in widths:
                cn = unit(m if d is None else m[:, :d])
                s = np.round(cn @ qn[d].T, 6)
                for j, qid in enumerate(q_ids):
                    mask = np.flatnonzero(ids != qid)
                    out["qid"].extend([qid] * len(mask))
                    out["nid"].extend(ids[mask].tolist())
                    out["dim"].extend([d or 0] * len(mask))
                    out["sim"].extend(s[mask, j].tolist())
            yield pd.DataFrame(out)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        op, schema="qid bigint, nid bigint, dim int, sim double"
    )
    w = W.partitionBy("qid", "dim").orderBy(F.desc("sim"), F.asc("nid"))
    topk = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _MRC_K)
        .select("qid", "nid", "dim")
        .localCheckpoint(eager=False)  # two consumers: full set + trunc sets
    )
    fullk = topk.filter(F.col("dim") == 0).select(
        "qid", F.col("nid").alias("fnid")
    )
    trunc = topk.filter(F.col("dim") != 0)
    rec = (
        trunc.join(
            fullk,
            (trunc.qid == fullk.qid) & (trunc.nid == fullk.fnid),
            "left",
        )
        .groupBy(trunc.qid, "dim")
        .agg((F.count("fnid") / float(_MRC_K)).alias("recall"))
    )
    return rec.groupBy("dim").agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg("recall"), 6).alias("avg_recall"),
    ).select(F.col("dim").cast("bigint").alias("dim"), "n_queries", "avg_recall")


# ---------------------------------------------------------------------------
# Embedding centroid drift: cosine between each label's early-half and
# late-half centroid (halves by vec_id — ingest order) — the vector-space
# twin of text_idf_drift: a label whose centroid moves is a class whose
# data distribution shifted under the embedding model. One posexplode +
# (label, half, dim) groupBy (fact-scale), then label-scale assembly.
# Centroid components are rounded at 8 BEFORE the cosine, so both engines
# run the dot product on identical doubles (the pre-rounding discipline).
# ---------------------------------------------------------------------------

_CD_DIMS = 16


@query(
    "embedding_centroid_drift",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
    flat AS (
      SELECT label,
             CASE WHEN vec_id < (SELECT n // 2 FROM n) THEN 0 ELSE 1 END AS half,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding)::DOUBLE AS x
      FROM embeddings),
    cent AS (
      SELECT label, half, dim, round(AVG(x), 8) AS c, COUNT(*) AS nv
      FROM flat WHERE dim <= {_CD_DIMS} GROUP BY 1, 2, 3),
    paired AS (
      SELECT e.label, e.dim, e.c AS ce, l.c AS cl,
             e.nv AS n_early, l.nv AS n_late
      FROM cent e JOIN cent l
        ON l.label = e.label AND l.dim = e.dim AND e.half = 0 AND l.half = 1)
    SELECT CAST(label AS BIGINT) AS label,
           round(SUM(ce * cl) / (sqrt(SUM(ce * ce)) * sqrt(SUM(cl * cl))), 6)
             AS centroid_cosine,
           CAST(MIN(n_early) AS BIGINT) AS n_early,
           CAST(MIN(n_late) AS BIGINT) AS n_late
    FROM paired GROUP BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    n_total = emb.count()  # bounded scalar, drives the half literal
    flat = emb.select(
        "label",
        (F.col("vec_id") >= F.lit(n_total // 2)).cast("int").alias("half"),
        F.posexplode("embedding").alias("dim0", "x"),
    ).filter(F.col("dim0") < _CD_DIMS)
    cent = flat.groupBy("label", "half", "dim0").agg(
        F.round(F.avg(F.col("x").cast("double")), 8).alias("c"),
        F.count("*").alias("nv"),
    )
    e = cent.filter(F.col("half") == 0).select(
        F.col("label").alias("le"), F.col("dim0").alias("de"),
        F.col("c").alias("ce"), F.col("nv").alias("n_early"),
    )
    lt = cent.filter(F.col("half") == 1).select(
        F.col("label").alias("ll"), F.col("dim0").alias("dl"),
        F.col("c").alias("cl"), F.col("nv").alias("n_late"),
    )
    paired = e.join(lt, (e.le == lt.ll) & (e.de == lt.dl))
    return paired.groupBy(F.col("le").cast("bigint").alias("label")).agg(
        F.round(
            F.sum(F.col("ce") * F.col("cl"))
            / (
                F.sqrt(F.sum(F.col("ce") * F.col("ce")))
                * F.sqrt(F.sum(F.col("cl") * F.col("cl")))
            ),
            6,
        ).alias("centroid_cosine"),
        F.min("n_early").cast("bigint").alias("n_early"),
        F.min("n_late").cast("bigint").alias("n_late"),
    )


# ---------------------------------------------------------------------------
# Sampled silhouette score per label cluster: the standard "are these
# clusters real" diagnostic (Rousseeuw 1987) for a labeled embedding
# corpus — a(i) = mean distance to own cluster, b(i) = mean distance to
# the nearest other cluster, s = (b-a)/max(a,b). Exact silhouette is
# all-pairs; the evaluated form samples probe points with a
# deterministic modulus (vec_id % 7 — the sample-rate dial) and scans
# the corpus ONCE against the broadcast sample: sample x corpus, never
# corpus x corpus. Per-pair distances round to 6dp before any mean (the
# module's float-parity policy) so both engines aggregate identical
# numbers. 100 TB: sample is bounded (cap the modulus output or switch
# to a fixed-size systematic sample), corpus side streams map-only
# through the broadcast join — no corpus-scale shuffle at all; the only
# exchange is the sample-grain groupBy.
# ---------------------------------------------------------------------------


@query(
    "embedding_silhouette_sampled",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 7 = 0),
    d AS (
      SELECT s.vec_id AS sid, s.label AS slabel, e.label AS olabel,
             round(sqrt(list_sum(list_transform(
               generate_series(1, len(s.embedding)),
               i -> (s.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE)
                    * (s.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE)))), 6)
               AS dist
      FROM s JOIN embeddings e ON e.vec_id <> s.vec_id),
    m AS (
      SELECT sid, slabel, olabel, round(AVG(dist), 6) AS md
      FROM d GROUP BY 1, 2, 3),
    ab AS (
      SELECT sid, slabel,
             MAX(CASE WHEN olabel = slabel THEN md END) AS a,
             MIN(CASE WHEN olabel <> slabel THEN md END) AS b
      FROM m GROUP BY 1, 2)
    SELECT CAST(slabel AS INT) AS label,
           COUNT(*) AS n_sampled,
           round(AVG(a), 6) AS avg_intra,
           round(AVG(b), 6) AS avg_nearest_other,
           round(AVG((b - a) / GREATEST(a, b)), 6) AS avg_silhouette
    FROM ab GROUP BY 1
    """,
)
def embedding_silhouette_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    sample = emb.filter(F.pmod("vec_id", F.lit(7)) == 0).select(
        F.col("vec_id").alias("sid"),
        F.col("embedding").alias("svec"),
        F.col("label").alias("slabel"),
    )
    pairs = emb.join(
        F.broadcast(sample), F.col("vec_id") != F.col("sid")
    )
    sq = F.aggregate(
        F.zip_with(
            "svec",
            "embedding",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    d = pairs.select(
        "sid",
        "slabel",
        F.col("label").alias("olabel"),
        F.round(F.sqrt(sq), 6).alias("dist"),
    )
    m = d.groupBy("sid", "slabel", "olabel").agg(
        F.round(F.avg("dist"), 6).alias("md")
    )
    ab = m.groupBy("sid", "slabel").agg(
        F.max(F.when(F.col("olabel") == F.col("slabel"), F.col("md"))).alias("a"),
        F.min(F.when(F.col("olabel") != F.col("slabel"), F.col("md"))).alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return ab.groupBy(F.col("slabel").cast("int").alias("label")).agg(
        F.count("*").alias("n_sampled"),
        F.round(F.avg("a"), 6).alias("avg_intra"),
        F.round(F.avg("b"), 6).alias("avg_nearest_other"),
        F.round(F.avg(sil), 6).alias("avg_silhouette"),
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998) diverse top-k —
# the reranking step every RAG retrieval stack runs between ANN recall
# and the context window: greedily pick k results maximizing
# λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s). Selection is made cross-engine
# deterministic by running the greedy argmax over 6-dp-ROUNDED scores
# with vec_id tie-break, so both engines compare identical values (the
# repo's float-parity policy applied to a control-flow decision, not
# just an output column). Plan: candidate pool = the distributed
# brute-force top-50 probe (corpus never shuffles), pool×pool sims =
# one 50×50 Arrow-kernel crossJoin; the greedy loop itself touches only
# bounded model state (50 rel values + 1225 pair sims) — the k-center
# coreset precedent. The oracle unrolls the same greedy as k chained
# CTEs (generated below), each picking argmax given the previous set.
# 100 TB: pool size, not corpus size, bounds every post-probe stage.
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_POOL = 50
_MMR_K = 10
_MMR_QID = 0


def _mmr_oracle_sql() -> str:
    lam, om = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    steps = []
    prev = "c1"
    steps.append(
        "c1 AS MATERIALIZED (SELECT 1 AS rank, (SELECT vec_id FROM pool "
        f"ORDER BY round({lam} * rel, 6) DESC, vec_id LIMIT 1) AS vec_id)"
    )
    for i in range(2, _MMR_K + 1):
        red = (
            "(SELECT MAX(ps.sim) FROM psim ps "
            f"WHERE (ps.va = p.vec_id AND ps.vb IN (SELECT vec_id FROM {prev})) "
            f"OR (ps.vb = p.vec_id AND ps.va IN (SELECT vec_id FROM {prev})))"
        )
        steps.append(
            f"c{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL "
            f"SELECT {i} AS rank, (SELECT p.vec_id FROM pool p "
            f"WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev}) "
            f"ORDER BY round({lam} * p.rel - {om} * COALESCE({red}, 0), 6) DESC, "
            "p.vec_id LIMIT 1) AS vec_id)"
        )
        prev = f"c{i}"
    return f"""
    WITH pool AS MATERIALIZED (
      SELECT c.vec_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[],
                                          c.embedding::DOUBLE[]), 6) AS rel
      FROM embeddings q JOIN embeddings c
        ON q.vec_id = {_MMR_QID} AND c.vec_id <> {_MMR_QID}
      ORDER BY rel DESC, c.vec_id LIMIT {_MMR_POOL}),
    psim AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[]), 6) AS sim
      FROM pool a JOIN pool b ON a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id),
    {", ".join(steps)}
    SELECT CAST(s.rank AS BIGINT) AS rank, s.vec_id, p.rel AS relevance
    FROM {prev} s JOIN pool p USING (vec_id)
    """


@query("embedding_mmr_diverse_topk", oracle=_mmr_oracle_sql())
def embedding_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _MMR_QID)
    corpus = emb.filter(F.col("vec_id") != _MMR_QID)
    pool = S.brute_force_topk(q, corpus, k=_MMR_POOL).select("neighbor_id", "sim")
    rel = {r["neighbor_id"]: r["sim"] for r in pool.collect()}  # 50 rows, bounded
    ids = sorted(rel)
    pe = emb.filter(F.col("vec_id").isin(ids)).select("vec_id", "embedding")
    a, b = pe.alias("a"), pe.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            S.cosine_pairs_kernel(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
        )
    )
    psim = {(r["va"], r["vb"]): r["sim"] for r in pairs.collect()}  # 1225, bounded
    lam, om = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    picked: list[int] = []
    cands = set(ids)
    while len(picked) < _MMR_K and cands:
        best = None
        for c in sorted(cands):
            red = max(
                (psim[(min(c, s), max(c, s))] for s in picked), default=0.0
            )
            # rounded BEFORE comparison — the same 6-dp value the oracle
            # orders by, so the argmax decision is engine-independent
            score = float(np.round(lam * rel[c] - om * red, 6))
            if best is None or score > best[0] or (score == best[0] and c < best[1]):
                best = (score, c)
        picked.append(best[1])
        cands.remove(best[1])
    rows = [(i + 1, v, rel[v]) for i, v in enumerate(picked)]
    return spark.createDataFrame(
        rows, "rank BIGINT, vec_id BIGINT, relevance DOUBLE"
    )
