"""Corpus-curation operators a training-data pipeline runs between ingest
and tokenization: deterministic weighted sampling and incremental
new-batch-vs-base dedup (the daily-increment twin of the one-shot dedup
family in queries/dedup.py; reference analog: Brooklin's incremental
flow — a connector delivers a bounded new batch against an existing
destination, datastream-server/.../DatastreamTaskImpl.java checkpoint
semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brooklin_spark.io import derived, read_parquet, table
from brooklin_spark.operators import dedup as D
from brooklin_spark.queries import _sqlgen as G
from brooklin_spark.registry import query

# ---------------------------------------------------------------------------
# Weighted priority sampling: top-K documents by the integer key
# h(doc_id) / weight — the A-ES (Efraimidis-Spirakis) priority-sampling
# shape with the float u^(1/w) key replaced by an exact-integer h/w key
# (h = 52-bit md5 prefix, uniform; w = n_chars), so selection is
# bit-reproducible across engines and re-runs while still biasing
# selection toward heavy documents (key is ~Uniform/w: P(doc in top-K)
# grows with w). Plan shape: one map-side key projection, then
# TakeOrderedAndProject — per-partition heaps + one K-row driver merge,
# NO global sort, no shuffle of the corpus. That is the 100 TB sampler:
# cost is a scan plus K rows per partition.
# ---------------------------------------------------------------------------

_WS_K = 100


@query(
    "sample_weighted_priority",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
             // GREATEST(n_chars, 1) AS priority_key
    FROM documents
    ORDER BY priority_key ASC, doc_id ASC
    LIMIT {_WS_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
    )
    # exact integer division on BOTH engines (Spark `div`, DuckDB `//`):
    # a double divide + cast can round up across the truncation boundary
    # and reorder near-tied keys between engines
    return (
        docs.select("doc_id", "lang", "n_chars", h.alias("h"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr("h div greatest(n_chars, 1L)").alias("priority_key"),
        )
        .orderBy(F.col("priority_key").asc(), F.col("doc_id").asc())
        .limit(_WS_K)
    )


# ---------------------------------------------------------------------------
# Incremental dedup: flag each document of the NEW batch (a deterministic
# 20% id-hash slice standing in for today's increment) against the BASE
# corpus (the other 80%) — exact_dup via content fingerprint, near_dup
# via MinHash-LSH candidates verified at Jaccard >= 0.7. Unlike the
# one-shot dedup family, the LSH join here is PROBE-vs-BASE
# (operators/dedup.py band_rows + lsh_candidates_against): at scale the
# base band table is a precomputed index on disk and the per-day work is
# O(new batch) map-side signatures plus one band-keyed equi-join — the
# whole corpus is never re-shingled per increment.
# ---------------------------------------------------------------------------

_INC_MH, _INC_BANDS, _INC_ROWS = 16, 4, 4
_INC_TH = 0.7
_INC_BUCKETS, _INC_NEW = 5, 0
_INC_SHINGLE_N = 3  # shingle width shared by oracle, kernels, and index key


@query(
    "dedup_incremental_new_vs_base",
    oracle=f"""
    WITH {G.shingle_cte(_INC_SHINGLE_N)},
    split AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {_INC_BUCKETS} = {_INC_NEW} AS is_new
      FROM documents),
    fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
    exactdup AS (
      SELECT DISTINCT nf.doc_id
      FROM fp nf
      JOIN split sn ON sn.doc_id = nf.doc_id AND sn.is_new
      JOIN fp bf ON bf.fp = nf.fp
      JOIN split sb ON sb.doc_id = bf.doc_id AND NOT sb.is_new),
    sig AS ({G.minhash_km_select(_INC_MH)}),
    banded AS ({" UNION ALL ".join(G.band_int_exprs(_INC_BANDS, _INC_ROWS))}),
    cand AS (
      SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS base_id
      FROM banded x
      JOIN split sn ON sn.doc_id = x.doc_id AND sn.is_new
      JOIN banded y ON y.band_id = x.band_id AND y.band_key = x.band_key
      JOIN split sb ON sb.doc_id = y.doc_id AND NOT sb.is_new),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.new_id, c.base_id, count(*) AS common
      FROM cand c
      JOIN sh a ON a.doc_id = c.new_id
      JOIN sh b ON b.doc_id = c.base_id AND b.shingle = a.shingle
      GROUP BY 1, 2),
    neardup AS (
      SELECT DISTINCT co.new_id AS doc_id
      FROM common co
      JOIN sizes sa ON sa.doc_id = co.new_id
      JOIN sizes sb ON sb.doc_id = co.base_id
      WHERE common * 1.0 / (sa.n_sh + sb.n_sh - common) >= {_INC_TH})
    SELECT s.doc_id,
           e.doc_id IS NOT NULL AS exact_dup,
           nd.doc_id IS NOT NULL AS near_dup
    FROM split s
    LEFT JOIN exactdup e ON e.doc_id = s.doc_id
    LEFT JOIN neardup nd ON nd.doc_id = s.doc_id
    WHERE s.is_new
    """,
)
def dedup_incremental_new_vs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _INC_BUCKETS
    )
    split = docs.select("doc_id", "text", (bucket == _INC_NEW).alias("is_new"))

    fp = split.select("doc_id", "is_new", F.md5("text").alias("fp"))
    new_ids = fp.filter("is_new").select("doc_id")
    exact = (
        fp.filter("is_new")
        .join(fp.filter(~F.col("is_new")).select("fp").distinct(), "fp", "left_semi")
        .select("doc_id")
    )

    # signatures map-side over the WHOLE corpus here (the oracle must see
    # the same world); in the production increment flow the base half is
    # the precomputed band index and only `new` runs the kernel
    arr = D.shingle_arrays_pandas(split, n=_INC_SHINGLE_N).localCheckpoint()
    sig = D.minhash_signature_pandas(arr, num_hashes=_INC_MH).localCheckpoint()
    flags = split.select(F.col("doc_id").alias("id"), "is_new")
    banded = D.band_rows(sig, bands=_INC_BANDS, rows_per_band=_INC_ROWS).join(
        flags, "id"
    )
    cand = D.lsh_candidates_against(
        banded.filter("is_new").drop("is_new"),
        banded.filter(~F.col("is_new")).drop("is_new"),
        rows_per_band=_INC_ROWS,
    )
    near = (
        D.jaccard_verify(arr, cand, threshold=_INC_TH)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return (
        new_ids.join(exact.withColumn("e", F.lit(True)), "doc_id", "left")
        .join(near.withColumn("n", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("e", F.lit(False)).alias("exact_dup"),
            F.coalesce("n", F.lit(False)).alias("near_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted-index form of the increment flow — the production shape run
# end-to-end: the BASE corpus is signed ONCE into an on-disk index
# (band rows + shingle arrays + content fingerprints, parquet, a derived
# artifact of documents.parquet like the persisted IVF index) and the
# query touches base documents ONLY through that index. Per-increment
# cost is O(new): two Arrow kernels over the 20% batch, one fp
# semi-join, one band-keyed equi-join against the index, candidate-only
# verify.
# Oracle identical to dedup_incremental_new_vs_base — same answer,
# index-probe plan.
# ---------------------------------------------------------------------------


def _split_docs(docs: DataFrame) -> DataFrame:
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _INC_BUCKETS
    )
    return docs.select("doc_id", "text", (bucket == _INC_NEW).alias("is_new"))


def _base_dedup_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the base-corpus dedup index: bands/, arrays/, fps/."""
    import os

    def build(out: str) -> None:
        base = _split_docs(table(spark, sf_dir, "documents")).filter(
            ~F.col("is_new")
        )
        arr = D.shingle_arrays_pandas(base, n=_INC_SHINGLE_N).localCheckpoint()
        sig = D.minhash_signature_pandas(arr, num_hashes=_INC_MH)
        D.band_rows(sig, bands=_INC_BANDS, rows_per_band=_INC_ROWS).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))
        arr.write.mode("overwrite").parquet(os.path.join(out, "arrays"))
        base.select(
            F.col("doc_id").alias("id"), F.md5("text").alias("fp")
        ).write.mode("overwrite").parquet(os.path.join(out, "fps"))

    src = os.path.join(sf_dir, "documents.parquet")
    return derived(
        "dedup_idx",
        [src],
        build,
        _INC_MH,
        _INC_BANDS,
        _INC_ROWS,
        _INC_BUCKETS,
        _INC_NEW,
        _INC_TH,
        _INC_SHINGLE_N,
    )


from brooklin_spark import registry as _registry


@query(
    "dedup_incremental_persisted_index",
    oracle=_registry.ORACLES["dedup_incremental_new_vs_base"],
)
def dedup_incremental_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    idx = _base_dedup_index(spark, sf_dir)
    base_bands = read_parquet(spark, os.path.join(idx, "bands"))
    base_arr = read_parquet(spark, os.path.join(idx, "arrays"))
    base_fps = read_parquet(spark, os.path.join(idx, "fps"))

    new = _split_docs(table(spark, sf_dir, "documents")).filter("is_new")
    new_ids = new.select("doc_id")
    exact = (
        new.select("doc_id", F.md5("text").alias("fp"))
        .join(base_fps.select("fp").distinct(), "fp", "left_semi")
        .select("doc_id")
    )
    arr = D.shingle_arrays_pandas(new, n=_INC_SHINGLE_N).localCheckpoint()
    sig = D.minhash_signature_pandas(arr, num_hashes=_INC_MH).localCheckpoint()
    cand = D.lsh_candidates_against(
        D.band_rows(sig, bands=_INC_BANDS, rows_per_band=_INC_ROWS),
        base_bands,
        rows_per_band=_INC_ROWS,
    )
    near = (
        D.jaccard_verify(arr.unionByName(base_arr), cand, threshold=_INC_TH)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return (
        new_ids.join(exact.withColumn("e", F.lit(True)), "doc_id", "left")
        .join(near.withColumn("n", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("e", F.lit(False)).alias("exact_dup"),
            F.coalesce("n", F.lit(False)).alias("near_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget corpus selection: rank the corpus by quality (descending,
# doc_id tie-break) and keep the best prefix whose cumulative token count
# fits the training budget — the "train on the best X tokens" selection
# every data-constrained run performs (quality-ranked prefix under a hard
# token budget). The budget here is HALF the corpus tokens so the query is
# SF-invariant; boundary compares in exact integers (2*cum <= total), no
# float threshold.
#
# Plan shape: the quality projection is map-side; the exact GLOBAL ordered
# prefix sum runs through operators/distrank.py global_running_sum (range
# repartition + per-partition ordered cumsum + <=B carry-in offsets) — no
# corpus-scale SinglePartition window even though the cut needs a global
# cumulative; the report is a |sources|-row aggregate. The quality doubles
# are bit-identical across engines (fixed IEEE expression tree — same
# guarantee text_quality_score's hash-match already proves), so the order,
# and therefore the admitted set, is engine-exact.
# ---------------------------------------------------------------------------


@query(
    "corpus_token_budget_select",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
             len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct,
             len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
                 x -> list_contains(['the','and','of','to','in','is','a'], x))) AS stop_hits
      FROM documents),
    scored AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
               + 0.2 * least(5.0 * stop_hits / n_tokens, 1.0) AS quality
      FROM d WHERE n_tokens > 0),
    ranked AS (
      SELECT doc_id, source, n_tokens, quality,
             SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n_tokens) OVER () AS total
      FROM scored)
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           MIN(quality) AS min_quality_admitted
    FROM ranked WHERE 2 * cum <= total
    GROUP BY source
    """,
)
def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions import text as X
    from brooklin_spark.operators.distrank import global_running_sum

    docs = table(spark, sf_dir, "documents")
    n_tok = X.token_count()
    quality = (
        0.5 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (X.distinct_token_count().cast("double") / n_tok)
        + 0.2 * F.least(5.0 * X.stopword_hits(lang="en") / n_tok, F.lit(1.0))
    )
    # materialize the thin scored projection ONCE: repartitionByRange
    # samples its input before shuffling it, so an un-checkpointed scored
    # would evaluate the per-doc tokenizer array expressions TWICE over
    # the full corpus (measured 5.0 -> 88.9 s sf1 -> sf10 before this —
    # the sample pass + the shuffle pass each re-tokenized 500k docs)
    scored = docs.filter(n_tok > 0).select(
        "doc_id",
        "source",
        n_tok.cast("bigint").alias("n_tokens"),
        quality.alias("quality"),
    ).localCheckpoint()
    ranked = global_running_sum(
        scored,
        [F.col("quality").desc(), F.col("doc_id").asc()],
        "n_tokens",
        out="cum",
        total_out="total",
    )
    return (
        ranked.filter(2 * F.col("cum") <= F.col("total"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.min("quality").alias("min_quality_admitted"),
        )
    )


# ---------------------------------------------------------------------------
# Data-mixing epoch plan: temperature-scaled source weights (T = 2, i.e.
# share ∝ sqrt(tokens) — the standard rebalancing rule for multilingual /
# multi-domain pretraining mixes: up-samples small sources, down-samples
# the head) and the per-source epoch count implied by a training budget of
# one corpus-size worth of tokens: epochs = target_share * total / tokens.
#
# Float-parity discipline: token counts stay BIGINT; sqrt is rounded to 6
# and summed as DECIMAL(18,6) (exact accumulation — a cross-source double
# sum would be fold-order sensitive); each reported share/epoch is a fixed
# IEEE expression tree over those exact moments. Plan shape: one fact-scale
# map-side-combined groupBy; everything after runs on |sources| rows with
# the 1-row totals broadcast (the whitelisted scalar crossJoin).
# ---------------------------------------------------------------------------


@query(
    "corpus_mixture_epoch_plan",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS tokens
      FROM documents GROUP BY source),
    s AS (
      SELECT source, tokens,
             CAST(round(sqrt(tokens), 6) AS DECIMAL(18,6)) AS sq
      FROM tok),
    t AS (SELECT SUM(tokens) AS total, SUM(sq) AS sq_total FROM s)
    SELECT s.source, s.tokens,
           CAST(s.tokens AS DOUBLE) / t.total AS raw_share,
           CAST(s.sq AS DOUBLE) / CAST(t.sq_total AS DOUBLE) AS target_share,
           CAST(s.sq AS DOUBLE) / CAST(t.sq_total AS DOUBLE) * t.total / s.tokens AS epochs
    FROM s, t
    """,
)
def corpus_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions import text as X

    docs = table(spark, sf_dir, "documents")
    tok = docs.groupBy("source").agg(
        F.sum(X.token_count()).cast("bigint").alias("tokens")
    )
    # |sources| rows, referenced twice (per-source rows + totals): the
    # checkpoint keeps the fact-scale groupBy to ONE corpus scan
    s = tok.withColumn(
        "sq", F.round(F.sqrt("tokens"), 6).cast("decimal(18,6)")
    ).localCheckpoint()
    t = s.agg(F.sum("tokens").alias("total"), F.sum("sq").alias("sq_total"))
    target = F.col("sq").cast("double") / F.col("sq_total").cast("double")
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "tokens",
        (F.col("tokens").cast("double") / F.col("total")).alias("raw_share"),
        target.alias("target_share"),
        (target * F.col("total") / F.col("tokens")).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score every
# corpus document by how target-domain-like it is under a smoothed unigram
# LM ratio — logw(doc) = sum_t tf(t) * [ln p_tgt(t) - ln p_corpus(t)] —
# the importance-resampling selection rule for "give me web data that
# looks like Wikipedia". Target here = one source slice (src0); the
# production flow feeds any reference corpus through the same shape.
#
# Float parity: the per-term log ratio is the only libm surface — rounded
# to 8 (repo policy) and fixed to DECIMAL(18,8); each doc's logw is then
# an EXACT decimal dot product sum(tf * lr) (fold-order-free), converted
# to double once at output. The LM denominators are scalar doubles built
# from exact integer moments, identical in both engines.
#
# Scale shape (r6 rework, the r5 verdict's lever): NO corpus-scale table
# is ever materialized. Two tokenize passes over documents: pass 1 feeds
# the vocab-keyed term stats (map-side combine collapses each task's
# token stream to its local vocab before the shuffle — output is
# vocab-scale); pass 2 joins the vocab log-ratio map straight onto the
# token stream (term-keyed, vocab-sized build side) and reduces per doc
# (map-side combinable: 40M token rows -> 500k doc groups inside each
# task). The r5 form shuffled + checkpointed the 40M-row (doc, term, tf)
# table between those steps — measured 34.7 s at sf10; this form skips
# it (sum over token occurrences of lr == sum over terms of tf*lr,
# EXACTLY, in decimal). Only driver values: three vocab scalars.
# ---------------------------------------------------------------------------

_DSIR_TGT = "src0"
_DSIR_A = 0.5  # add-alpha smoothing
#: vocab sizes up to this broadcast into the scoring kernel (int64-scaled
#: lr dict, ~50 B/entry -> ~250 MB at the bound); beyond it the join form
#: takes over
_DSIR_BCAST_VOCAB = 5_000_000


@query(
    "corpus_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      FROM documents),
    ts AS (
      SELECT term, COUNT(*) AS c_all,
             SUM(CASE WHEN source = '{_DSIR_TGT}' THEN 1 ELSE 0 END) AS c_tgt
      FROM toks GROUP BY term),
    tot AS (
      SELECT SUM(c_all) AS t_all, SUM(c_tgt) AS t_tgt, COUNT(*) AS v FROM ts),
    lr AS (
      SELECT term,
             CAST(round(ln((c_tgt + {_DSIR_A}) / (t.t_tgt + {_DSIR_A} * t.v))
                        - ln((c_all + {_DSIR_A}) / (t.t_all + {_DSIR_A} * t.v)), 8)
                  AS DECIMAL(18,8)) AS lr
      FROM ts CROSS JOIN tot t),
    tf AS (
      SELECT doc_id, source, term,
             CAST(COUNT(*) AS DECIMAL(10,0)) AS tf
      FROM toks GROUP BY 1, 2, 3)
    SELECT tf.doc_id, tf.source,
           CAST(SUM(tf.tf * lr.lr) AS DOUBLE) AS logw,
           (SUM(tf.tf * lr.lr) > 0) AS selected
    FROM tf JOIN lr USING (term)
    GROUP BY 1, 2
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions import text as X

    docs = table(spark, sf_dir, "documents")
    # pass 1: vocab stats straight off the token stream (map-side combine
    # -> the shuffle carries vocab-scale partials, never the tokens; the
    # token rows carry ONLY (source, term) — doc identity is irrelevant
    # to corpus-level counts). Vocab-scale probe first: if the vocabulary
    # fits the kernel bound, the stats come back to the driver in the
    # SAME single job (no checkpoint barrier, no separate scalar job —
    # measured ~2 s of per-job overhead at sf10), scalars reduce in
    # Python over exact ints.
    toks = docs.select("source", F.explode(X.tokens()).alias("term"))
    ts = toks.groupBy("term").agg(
        F.count("*").alias("c_all"),
        F.sum(
            F.when(F.col("source") == _DSIR_TGT, F.lit(1)).otherwise(F.lit(0))
        ).alias("c_tgt"),
    )

    def lr_col(den_tgt: float, den_all: float):
        # the same IEEE expression tree both forms (and rounds) share
        return (
            F.round(
                F.log((F.col("c_tgt") + _DSIR_A) / F.lit(den_tgt))
                - F.log((F.col("c_all") + _DSIR_A) / F.lit(den_all)),
                8,
            )
            .cast("decimal(18,8)")
            .alias("lr")
        )
    # pass 2 (r7): the vocab->lr map is pushed INTO the scoring kernel —
    # one Arrow-batched corpus pass computes sum(lr over a doc's own
    # tokens) per row, so the corpus token stream is never exploded and
    # never joined (the r6 explode+join form paid one corpus-scale
    # shuffle whenever lr exceeded the broadcast threshold; measured
    # 12.1 s -> target <=2x DuckDB at sf10). Exactness: lr values are
    # DECIMAL(18,8) — the kernel carries them as 1e8-scaled int64 and
    # sums INTEGERS, which is bit-identical to the oracle's decimal
    # SUM(tf*lr); the single int->double conversion at the end uses
    # Decimal.scaleb (correctly rounded, same as Spark/BigDecimal's
    # decimal->double cast). Docs with zero tokens are skipped — the
    # oracle's unnest drops them too. Per-doc work is vocab-dict lookups
    # (no Python object churn beyond the token list); the map itself is
    # a spark broadcast read once per executor.
    # Scale guard: a vocabulary too large to broadcast (rare for word
    # unigrams — even 100 TB of text is ~100M types, but bounded here at
    # _DSIR_BCAST_VOCAB) falls back to the join form, whose shuffle is
    # then the honest cost.
    stats = ts.limit(_DSIR_BCAST_VOCAB + 1).collect()
    if len(stats) <= _DSIR_BCAST_VOCAB:
        import pandas as pd

        t_all = sum(r["c_all"] for r in stats)
        t_tgt = sum(r["c_tgt"] for r in stats)
        v = len(stats)
        den_tgt = float(t_tgt) + _DSIR_A * float(v)
        den_all = float(t_all) + _DSIR_A * float(v)
        # lr itself is computed by the SAME Catalyst expression the join
        # form uses (java.lang.Math.log — a python math.log could differ
        # in the last ulp and flip a round-8 boundary), as one local job
        # over the vocab-sized stats
        lr_rows = (
            spark.createDataFrame(stats, schema=ts.schema)
            .select("term", lr_col(den_tgt, den_all))
            .collect()
        )
        lr_map = {
            r["term"]: int(r["lr"].scaleb(8)) for r in lr_rows
        }  # Decimal(18,8) -> exact 1e8-scaled ints
        blr = spark.sparkContext.broadcast(lr_map)

        def score(batches):
            from decimal import Decimal

            m = blr.value
            for pdf in batches:
                out_id, out_src, out_w, out_sel = [], [], [], []
                for did, src_, txt in zip(
                    pdf["doc_id"], pdf["source"], pdf["text"]
                ):
                    s, n = 0, 0
                    for tok in txt.split(" "):
                        if tok:
                            s += m.get(tok, 0)
                            n += 1
                    if n == 0:
                        continue  # oracle's unnest emits nothing for it
                    out_id.append(did)
                    out_src.append(src_)
                    out_w.append(float(Decimal(s).scaleb(-8)))
                    out_sel.append(s > 0)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(out_id, dtype="int64"),
                        "source": pd.Series(out_src, dtype="object"),
                        "logw": pd.Series(out_w, dtype="float64"),
                        "selected": pd.Series(out_sel, dtype="bool"),
                    }
                )

        return docs.select("doc_id", "source", "text").mapInPandas(
            score, "doc_id bigint, source string, logw double, selected boolean"
        )
    # fallback (vocab beyond the kernel bound): the r6 explode+join form —
    # vocab-scale lr table joins the token stream, AQE broadcasts it when
    # it fits, vocab-keyed shuffle otherwise
    ts_ck = ts.localCheckpoint()
    t_all, t_tgt, v = ts_ck.agg(F.sum("c_all"), F.sum("c_tgt"), F.count("*")).first()
    lr = ts_ck.select(
        "term",
        lr_col(float(t_tgt) + _DSIR_A * float(v), float(t_all) + _DSIR_A * float(v)),
    )
    dtoks = docs.select("doc_id", "source", F.explode(X.tokens()).alias("term"))
    dot = F.sum(F.col("lr"))
    return (
        dtoks.join(lr, "term")
        .groupBy("doc_id", "source")
        .agg(
            dot.cast("double").alias("logw"),
            (dot > 0).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup-aware effective corpus mass: instead of DROPPING duplicates,
# down-weight every doc by 1/|its near-dup cluster| so each cluster
# contributes one doc's worth of sampling mass — the soft-dedup rule used
# when hard deletion is too aggressive (each near-dup cluster is sampled
# once in expectation). Docs outside any cluster are their own singleton
# (weight 1). Reports, per source, raw vs effective docs and tokens: the
# "effective dataset size" number dedup papers quote.
#
# Float discipline: the weight is round(1/k, 9) fixed to DECIMAL(12,9);
# effective docs = SUM(w) and effective tokens = SUM(n_tokens * w) are
# exact decimal accumulations (fold-order-free), cast to double once.
# Scale shape: the proven pair/CC path, one cluster-size groupBy (cluster-
# scaled), one corpus-keyed join back, one per-source reduce.
# ---------------------------------------------------------------------------


@query(
    "dedup_cluster_size_weights",
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
    comps AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id),
    member AS (
      SELECT d.doc_id, d.source,
             CAST(len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
             COALESCE(c.comp, d.doc_id) AS comp
      FROM documents d LEFT JOIN comps c USING (doc_id)),
    csize AS (SELECT comp, COUNT(*) AS k FROM member GROUP BY comp),
    weighted AS (
      SELECT m.doc_id, m.source, m.n_tokens,
             CAST(round(1.0 / s.k, 9) AS DECIMAL(12,9)) AS w
      FROM member m JOIN csize s USING (comp))
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(w) AS DOUBLE) AS effective_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens * w) AS DOUBLE) AS effective_tokens
    FROM weighted GROUP BY source
    """,
)
def dedup_cluster_size_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions import text as X

    docs = table(spark, sf_dir, "documents")
    comps = D.near_dup_components(docs).select(
        F.col("id").alias("doc_id"), F.col("comp")
    )
    member = (
        docs.select(
            "doc_id", "source", X.token_count().cast("bigint").alias("n_tokens")
        )
        .join(comps, "doc_id", "left")
        .withColumn("comp", F.coalesce("comp", "doc_id"))
    )
    csize = member.groupBy("comp").agg(F.count("*").alias("k"))
    weighted = member.join(csize, "comp").withColumn(
        "w", F.round(F.lit(1.0) / F.col("k"), 9).cast("decimal(12,9)")
    )
    return weighted.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("w").cast("double").alias("effective_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.col("n_tokens") * F.col("w")).cast("double").alias("effective_tokens"),
    )


# ---------------------------------------------------------------------------
# Per-source frequency cap (RefinedWeb-style domain capping): no source may
# contribute more than `cap` documents, with the kept set chosen
# DETERMINISTICALLY (smallest Knuth-hash of doc_id first, so re-runs and
# both engines agree). cap is corpus-derived — total/(2·|sources|) — never a
# frozen literal. Scale shape: per-source rank via the distributed
# global_row_number over the total order (source, hv, doc_id) minus a
# broadcast per-source min-rank offset — a naive partitionBy(source) window
# would put one source's full slice (corpus/|sources| rows — TBs at the
# target scale) in ONE task; the range-partitioned rank spreads every source
# across buckets. Two corpus-scale exchanges total (range repartition +
# final groupBy).
# ---------------------------------------------------------------------------

_SRC_CAP_MULT = 2654435761  # Knuth multiplicative hash
# (doc_id * MULT) mod 2^32 computed overflow-safe for ANY int64 doc_id:
# first normalize d = doc_id mod 2^32 to its NONNEGATIVE representative
# with a pmod ((x % m + m) % m) — Spark's % and DuckDB's % both return
# negative remainders for negative doc_id, and on negative operands
# DuckDB's // (floor) diverges from Spark's DIV (trunc), so the split
# below is only engine-identical once d >= 0 (r8 advice). Then split
# d = d_hi*2^16 + d_lo:
#   d*MULT mod 2^32 = (d_lo*MULT + d_hi*(MULT*2^16 mod 2^32)) mod 2^32
# — every intermediate stays < 2^49, so Spark and DuckDB agree exactly even
# past doc_id ~3.47e9 where the naive multiply would overflow int64 (Spark
# wraps silently, DuckDB raises). Value-identical to the naive form.
_SRC_CAP_MULT_HI16 = (_SRC_CAP_MULT * 65536) % 4294967296  # 2041643008
_SRC_CAP_D_SQL = "(doc_id % 4294967296 + 4294967296) % 4294967296"
_SRC_CAP_HV_SQL = (
    f"(({_SRC_CAP_D_SQL}) % 65536 * {_SRC_CAP_MULT} + "
    f"({_SRC_CAP_D_SQL}) // 65536 * {_SRC_CAP_MULT_HI16}) % 4294967296"
)
_SRC_CAP_HV_SPARK_SQL = _SRC_CAP_HV_SQL.replace("//", "DIV")

from brooklin_spark.functions import text as _X  # noqa: E402

_STOP_EN = "[" + ", ".join(f"'{w}'" for w in _X.STOPWORDS["en"]) + "]"


@query(
    "corpus_source_cap",
    oracle=f"""
    WITH h AS (
      SELECT source, doc_id, n_chars,
             {_SRC_CAP_HV_SQL} AS hv
      FROM documents),
    r AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS lrk
      FROM h),
    c AS (
      SELECT greatest(1, COUNT(*) // (2 * COUNT(DISTINCT source))) AS cap
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           MAX(cap) AS cap,
           CAST(SUM(CASE WHEN lrk <= cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN lrk > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN lrk <= cap THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM r CROSS JOIN c GROUP BY source
    """,
)
def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators.distrank import global_row_number

    docs = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(_SRC_CAP_HV_SPARK_SQL).alias("hv"),
    )
    ranked = global_row_number(
        docs, [F.col("source"), F.col("hv"), F.col("doc_id")], out="rk"
    )
    # |sources| rows: per-source rank offset + corpus totals for the cap
    offs = ranked.groupBy("source").agg(
        F.min("rk").alias("mn"), F.count("*").alias("src_docs")
    ).localCheckpoint()
    tot = offs.agg(
        F.greatest(
            F.lit(1),
            F.floor(F.sum("src_docs") / (2 * F.count("*"))),
        ).cast("bigint").alias("cap")
    )
    joined = (
        ranked.join(F.broadcast(offs.select("source", "mn")), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("lrk", F.col("rk") - F.col("mn") + 1)
    )
    kept = F.col("lrk") <= F.col("cap")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.max("cap").alias("cap"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, 0).otherwise(1)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Curriculum buckets: exact global NTILE(4) over (quality DESC, doc_id) —
# stage 1 is the cleanest quarter of the corpus, stage 4 the noisiest; a
# curriculum schedule feeds them in order. Quality reuses
# text_quality_score's composite bit-for-bit; the per-stage average rides an
# integer micro-scaled sum (floor(q·1e6+0.5) of bit-identical doubles) so
# cross-engine equality survives float fold order. The ntile itself is the
# distributed distrank kernel — no single-partition window.
# ---------------------------------------------------------------------------

_CURR_STAGES = 4


@query(
    "corpus_curriculum_buckets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
             len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct,
             len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
                 x -> list_contains({_STOP_EN}, x))) AS stop_hits
      FROM documents),
    q AS (
      SELECT doc_id, n_tokens,
             0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
               + 0.2 * least(5.0 * stop_hits / n_tokens, 1.0) AS quality
      FROM d WHERE n_tokens > 0),
    t AS (
      SELECT doc_id, n_tokens, quality,
             NTILE({_CURR_STAGES}) OVER (ORDER BY quality DESC, doc_id) AS stage
      FROM q)
    SELECT CAST(stage AS BIGINT) AS stage,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(floor(quality * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS quality_micro_sum
    FROM t GROUP BY stage
    """,
)
def corpus_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions import text as X
    from brooklin_spark.operators.distrank import global_ntile

    docs = table(spark, sf_dir, "documents")
    n_tok = X.token_count()
    n_dis = X.distinct_token_count()
    stop = X.stopword_hits(lang="en")
    quality = (
        0.5 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (n_dis.cast("double") / n_tok)
        + 0.2 * F.least(5.0 * stop / n_tok, F.lit(1.0))
    )
    q = docs.filter(n_tok > 0).select(
        "doc_id", n_tok.cast("long").alias("n_tokens"), quality.alias("quality")
    )
    # repartitionByRange SAMPLES its input before shuffling it — without a
    # checkpoint the three quality HOF passes run over the corpus twice
    # (the distrank-caller discipline, cf. analytics.py rfm)
    q = q.localCheckpoint(eager=False)
    tiled = global_ntile(
        q, _CURR_STAGES, [F.desc("quality"), F.asc("doc_id")], out="stage"
    )
    return tiled.groupBy("stage").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.floor(F.col("quality") * 1000000 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("quality_micro_sum"),
    )


# ---------------------------------------------------------------------------
# Cross-source syndication overlap: sources sharing leading-span content
# fingerprints (md5 of the first 4 tokens — the cheap "same article, mirrored
# domain" signal), scored by Jaccard over each pair's fingerprint sets. The
# per-fingerprint source set is BOUNDED by |sources| (a domain-scale
# constant), so collect_set never grows with the corpus and the pair
# expansion is at most C(|sources|, 2) per fingerprint — no corpus-scale
# self-join anywhere; the only fact-scale exchanges are the distinct and the
# fingerprint groupBy.
# ---------------------------------------------------------------------------


@query(
    "curation_source_overlap",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(array_to_string(
               (list_filter(string_split(text, ' '), x -> x <> ''))[1:4], ' ')) AS h
      FROM documents),
    tot AS (SELECT source, COUNT(*) AS t FROM fp GROUP BY source),
    pc AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_fps
      FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT src_a, src_b, shared_fps,
           ta.t AS fps_a, tb.t AS fps_b,
           CAST(shared_fps AS DOUBLE) / (ta.t + tb.t - shared_fps) AS jaccard
    FROM pc
    JOIN tot ta ON ta.source = pc.src_a
    JOIN tot tb ON tb.source = pc.src_b
    """,
)
def curation_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.functions import text as X

    docs = table(spark, sf_dir, "documents")
    # NO pre-distinct: collect_set dedups (source) per fingerprint and
    # countDistinct dedups per source, so the corpus-scale distinct
    # exchange is pure overhead (removed: one less corpus shuffle;
    # value-identical, A/B'd at sf10)
    fp = docs.select(
        "source",
        F.md5(F.array_join(F.slice(X.tokens(), 1, 4), " ")).alias("h"),
    )
    # per-fingerprint source sets: bounded by |sources|, never corpus-scale
    sets = (
        fp.groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (a, i) ->"
                " transform(slice(ss, i + 2, size(ss)),"
                " b -> struct(a AS src_a, b AS src_b))))"
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    pc = pairs.groupBy("src_a", "src_b").agg(
        F.count("*").alias("shared_fps")
    )
    tot = fp.groupBy("source").agg(F.countDistinct("h").alias("t"))
    return (
        pc.join(
            F.broadcast(tot.withColumnRenamed("source", "src_a")
                        .withColumnRenamed("t", "fps_a")),
            "src_a",
        )
        .join(
            F.broadcast(tot.withColumnRenamed("source", "src_b")
                        .withColumnRenamed("t", "fps_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared_fps",
            "fps_a",
            "fps_b",
            (
                F.col("shared_fps").cast("double")
                / (F.col("fps_a") + F.col("fps_b") - F.col("shared_fps"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Apply-side of the source cap (report/apply pair, same convention as
# dedup_canonical_clusters / dedup_apply_keep_canonical): the kept
# documents themselves, ready to feed the next pipeline stage. Same
# grouped distributed rank as corpus_source_cap — the report and the
# apply provably agree because they share the rank construction.
# ---------------------------------------------------------------------------


@query(
    "corpus_source_cap_apply",
    oracle=f"""
    WITH h AS (
      SELECT source, doc_id, n_chars,
             {_SRC_CAP_HV_SQL} AS hv
      FROM documents),
    r AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS lrk
      FROM h),
    c AS (
      SELECT greatest(1, COUNT(*) // (2 * COUNT(DISTINCT source))) AS cap
      FROM documents)
    SELECT doc_id, source, CAST(lrk AS BIGINT) AS keep_rank
    FROM r CROSS JOIN c WHERE lrk <= cap
    """,
)
def corpus_source_cap_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators.distrank import global_row_number

    docs = table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.expr(_SRC_CAP_HV_SPARK_SQL).alias("hv"),
    )
    ranked = global_row_number(
        docs, [F.col("source"), F.col("hv"), F.col("doc_id")], out="rk"
    )
    offs = ranked.groupBy("source").agg(
        F.min("rk").alias("mn"), F.count("*").alias("src_docs")
    ).localCheckpoint()
    tot = offs.agg(
        F.greatest(
            F.lit(1), F.floor(F.sum("src_docs") / (2 * F.count("*")))
        ).cast("bigint").alias("cap")
    )
    return (
        ranked.join(F.broadcast(offs.select("source", "mn")), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("keep_rank", (F.col("rk") - F.col("mn") + 1).cast("bigint"))
        .filter(F.col("keep_rank") <= F.col("cap"))
        .select("doc_id", "source", "keep_rank")
    )


# ---------------------------------------------------------------------------
# Temperature-based multilingual mixture (the mT5/XLM-R alpha-sampling
# rule, public): per-language sampling share p_l proportional to
# (size_l / total)^alpha with alpha < 1, boosting low-resource languages
# without drowning the head. Everything after the one |langs|-row groupBy
# is cell-scale arithmetic. Float discipline: the libm pow() rounds to 8
# decimals BEFORE normalization (JVM vs C libm differ in the last ulp),
# shares round to 6, quotas derive from exact integer floor on the
# rounded share — both engines walk the identical value grid.
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3
_TEMP_BUDGET = 100000  # documents in the sampled mixture


@query(
    "corpus_temperature_mixture",
    oracle=f"""
    WITH cells AS (
      SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
      FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n_chars) AS total_chars FROM cells),
    w AS (
      SELECT lang, n_docs, n_chars,
             round(pow(n_chars * 1.0 / total_chars, {_TEMP_ALPHA}), 8) AS tw,
             round(n_chars * 1.0 / total_chars, 6) AS raw_share
      FROM cells CROSS JOIN tot),
    z AS (SELECT SUM(tw) AS zsum FROM w)
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           raw_share,
           round(tw / zsum, 6) AS temp_share,
           CAST(floor(round(tw / zsum, 6) * {_TEMP_BUDGET}) AS BIGINT)
             AS quota_docs
    FROM w CROSS JOIN z
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = cells.agg(F.sum("n_chars").alias("total_chars"))
    w = cells.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_chars",
        F.round(
            F.pow(F.col("n_chars") / F.col("total_chars"), F.lit(_TEMP_ALPHA)), 8
        ).alias("tw"),
        F.round(F.col("n_chars") / F.col("total_chars"), 6).alias("raw_share"),
    )
    z = w.agg(F.sum("tw").alias("zsum"))
    share = F.round(F.col("tw") / F.col("zsum"), 6)
    return w.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "raw_share",
        share.alias("temp_share"),
        F.floor(share * _TEMP_BUDGET).cast("bigint").alias("quota_docs"),
    )


# ---------------------------------------------------------------------------
# Epoch-repetition plan (Muennighoff et al. "Scaling Data-Constrained LMs",
# public): given a training char budget and per-source corpus sizes, give
# every source an equal share of the budget but cap repetition at 4
# epochs (returns beyond ~4 epochs decay to zero). INTEGER-EXACT: the
# allocation is LEAST(4 * chars_s, budget // n_sources) — no float enters
# until the display-only epochs ratio, so the plan is bit-reproducible.
# |sources|-row arithmetic after one groupBy.
# ---------------------------------------------------------------------------

_EPOCH_CAP = 4


@query(
    "corpus_epoch_plan",
    oracle=f"""
    WITH cells AS (
      SELECT source, SUM(n_chars) AS chars_s FROM documents GROUP BY source),
    tot AS (
      SELECT SUM(chars_s) AS budget, COUNT(*) AS n_sources FROM cells),
    plan AS (
      SELECT source, chars_s,
             budget // n_sources AS fair_share,
             LEAST({_EPOCH_CAP} * chars_s, budget // n_sources) AS alloc_chars,
             {_EPOCH_CAP} * chars_s < budget // n_sources AS capped
      FROM cells CROSS JOIN tot)
    SELECT source,
           CAST(chars_s AS BIGINT) AS chars_s,
           CAST(fair_share AS BIGINT) AS fair_share,
           CAST(alloc_chars AS BIGINT) AS alloc_chars,
           round(alloc_chars * 1.0 / chars_s, 6) AS epochs,
           capped
    FROM plan
    """,
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cells = docs.groupBy("source").agg(F.sum("n_chars").alias("chars_s"))
    tot = cells.agg(
        F.sum("chars_s").alias("budget"), F.count("*").alias("n_sources")
    )
    fair = F.expr("budget DIV n_sources")  # nonneg: DIV == floor here
    return cells.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("chars_s").cast("bigint").alias("chars_s"),
        fair.cast("bigint").alias("fair_share"),
        F.least(F.lit(_EPOCH_CAP) * F.col("chars_s"), fair)
        .cast("bigint")
        .alias("alloc_chars"),
        F.round(
            F.least(F.lit(_EPOCH_CAP) * F.col("chars_s"), fair) / F.col("chars_s"),
            6,
        ).alias("epochs"),
        (F.lit(_EPOCH_CAP) * F.col("chars_s") < fair).alias("capped"),
    )


# ---------------------------------------------------------------------------
# Systematic (every k-th) corpus sample over a HASHED total order: rank
# docs by (knuth_hash(doc_id), doc_id) and keep rank ≡ 1 (mod k) — the
# classic frame-free systematic sample, made order-robust by hashing (a
# raw doc_id stride would inherit any upstream clustering). The rank is
# the distributed exact global ROW_NUMBER (range-partitioned, no
# single-partition window); the hash is the same overflow-safe split
# multiply as the source-cap family.
# ---------------------------------------------------------------------------

_SYS_STRIDE = 50


@query(
    "corpus_systematic_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, source,
             {_SRC_CAP_HV_SQL} AS hv
      FROM documents),
    r AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (ORDER BY hv ASC, doc_id ASC) AS rk
      FROM h)
    SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
    FROM r WHERE (rk - 1) % {_SYS_STRIDE} = 0
    """,
)
def corpus_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators.distrank import global_row_number

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr(_SRC_CAP_HV_SPARK_SQL).alias("hv"),
    )
    ranked = global_row_number(docs, [F.col("hv"), F.col("doc_id")], out="rk")
    return (
        ranked.filter((F.col("rk") - 1) % _SYS_STRIDE == 0)
        .select("doc_id", "lang", "source", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# Shard mixing-quality audit: hash-shard the corpus and measure each
# shard's SOURCE-mix entropy against the corpus-level mix — the check
# that training shards are well-interleaved (a shard dominated by one
# source trains a biased step at that point in the epoch). Shard
# assignment reuses the overflow-safe Knuth hash; the audit is one
# (shard x source) groupBy, then |shards|-row arithmetic. Entropy terms
# round to 8 (libm ln) before the per-shard sum.
# ---------------------------------------------------------------------------

_MIX_SHARDS = 16


@query(
    "corpus_shard_mixing_entropy",
    oracle=f"""
    WITH h AS (
      SELECT source, ({_SRC_CAP_HV_SQL}) % {_MIX_SHARDS} AS shard
      FROM documents),
    cells AS (
      SELECT shard, source, COUNT(*) AS cnt FROM h GROUP BY shard, source),
    tot AS (SELECT shard, SUM(cnt) AS n_docs FROM cells GROUP BY shard),
    terms AS (
      SELECT c.shard, t.n_docs,
             round((c.cnt * 1.0 / t.n_docs)
                   * ln(c.cnt * 1.0 / t.n_docs), 8) AS term
      FROM cells c JOIN tot t USING (shard))
    SELECT shard,
           CAST(MAX(n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           round(-SUM(term), 6) AS mix_entropy
    FROM terms GROUP BY shard
    """,
)
def corpus_shard_mixing_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "source",
        (F.expr(_SRC_CAP_HV_SPARK_SQL) % _MIX_SHARDS).alias("shard"),
    )
    cells = docs.groupBy("shard", "source").agg(F.count("*").alias("cnt"))
    tot = cells.groupBy("shard").agg(F.sum("cnt").alias("n_docs"))
    p = F.col("cnt") / F.col("n_docs")
    terms = cells.join(F.broadcast(tot), "shard").select(
        "shard", "n_docs", F.round(p * F.log(p), 8).alias("term")
    )
    return terms.groupBy("shard").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_sources"),
        F.round(-F.sum("term"), 6).alias("mix_entropy"),
    )


# ---------------------------------------------------------------------------
# Stratified train/val/test split: per-language proportional 80/10/10 by
# the deterministic doc-id hash — the plain stratified sibling of the
# cluster-keyed dedup_leakage_safe_split (use THAT when near-dups must
# not straddle splits; use THIS when strata proportions are the
# contract). Map-side bucket assignment + one (lang, split) groupBy;
# fractions from exact integer counts.
# ---------------------------------------------------------------------------


@query(
    "corpus_stratified_split",
    oracle=f"""
    WITH h AS (
      SELECT lang, ({_SRC_CAP_HV_SQL}) % 10 AS b FROM documents),
    tagged AS (
      SELECT lang, CASE WHEN b <= 7 THEN 'train'
                        WHEN b = 8 THEN 'val'
                        ELSE 'test' END AS split
      FROM h),
    cells AS (
      SELECT lang, split, COUNT(*) AS n_docs FROM tagged GROUP BY 1, 2),
    tot AS (SELECT lang, SUM(n_docs) AS lang_docs FROM cells GROUP BY lang)
    SELECT c.lang, c.split, CAST(c.n_docs AS BIGINT) AS n_docs,
           round(c.n_docs * 1.0 / t.lang_docs, 6) AS frac
    FROM cells c JOIN tot t USING (lang)
    """,
)
def corpus_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "lang", (F.expr(_SRC_CAP_HV_SPARK_SQL) % 10).alias("b")
    )
    tagged = docs.select(
        "lang",
        F.when(F.col("b") <= 7, "train")
        .when(F.col("b") == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    cells = tagged.groupBy("lang", "split").agg(F.count("*").alias("n_docs"))
    tot = cells.groupBy("lang").agg(F.sum("n_docs").alias("lang_docs"))
    return cells.join(F.broadcast(tot), "lang").select(
        "lang",
        "split",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("n_docs") / F.col("lang_docs"), 6).alias("frac"),
    )
