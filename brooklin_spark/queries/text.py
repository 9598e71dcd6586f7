"""Text-analysis queries over the documents corpus (oracle-checked).

Column builders live in brooklin_spark/functions/text.py — all JVM-side
expressions; ratios come from integer sums so every value is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from brooklin_spark.functions import text as X
from brooklin_spark.io import derived, read_parquet, table
from brooklin_spark.operators.distrank import global_row_number
from brooklin_spark.queries import _sqlgen as G
from brooklin_spark.registry import query

_TOK = "list_filter(string_split(text, ' '), x -> x <> '')"
_STOP = {lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]" for lang, ws in X.STOPWORDS.items()}


# ---------------------------------------------------------------------------
# Corpus quality profile per language: token/char/stopword/punct stats from
# integer sums (exact), one scan + one small groupBy.
# ---------------------------------------------------------------------------


@query(
    "text_quality_by_lang",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             len({_TOK}) AS n_tokens,
             CAST(list_sum(list_transform({_TOK}, x -> length(x))) AS BIGINT) AS tok_chars,
             len(list_filter({_TOK}, x -> list_contains({_STOP['en']}, x))) AS stop_hits,
             length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS punct_chars,
             length(text) AS n_chars
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(tok_chars) AS DOUBLE) / SUM(n_tokens) AS avg_word_len,
           CAST(SUM(stop_hits) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio,
           CAST(SUM(punct_chars) AS DOUBLE) / SUM(n_chars) AS punct_ratio
    FROM d GROUP BY lang
    """,
)
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        X.token_count().cast("long").alias("n_tokens"),
        X.token_chars().cast("long").alias("tok_chars"),
        X.stopword_hits(lang="en").cast("long").alias("stop_hits"),
        X.punct_chars().cast("long").alias("punct_chars"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
        (F.sum("tok_chars").cast("double") / F.sum("n_tokens")).alias("avg_word_len"),
        (F.sum("stop_hits").cast("double") / F.sum("n_tokens")).alias("stopword_ratio"),
        (F.sum("punct_chars").cast("double") / F.sum("n_chars")).alias("punct_ratio"),
    )


# ---------------------------------------------------------------------------
# Per-document quality score: bounded composite of length, lexical diversity
# and stopword density (the usual pretraining-corpus heuristics).
# ---------------------------------------------------------------------------


@query(
    "text_quality_score",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             len({_TOK}) AS n_tokens,
             len(list_distinct({_TOK})) AS n_distinct,
             len(list_filter({_TOK}, x -> list_contains({_STOP['en']}, x))) AS stop_hits
      FROM documents)
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
           0.5 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             + 0.2 * least(5.0 * stop_hits / n_tokens, 1.0) AS quality
    FROM d WHERE n_tokens > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_tok = X.token_count()
    n_dis = X.distinct_token_count()
    stop = X.stopword_hits(lang="en")
    ttr = n_dis.cast("double") / n_tok
    quality = (
        0.5 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * ttr
        + 0.2 * F.least(5.0 * stop / n_tok, F.lit(1.0))
    )
    return docs.filter(n_tok > 0).select(
        "doc_id",
        "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        ttr.alias("ttr"),
        quality.alias("quality"),
    )


# ---------------------------------------------------------------------------
# Language ID by stopword vote (n-gram heuristic), scored against the lang
# label: confusion counts per (actual, predicted).
# ---------------------------------------------------------------------------


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             len(list_filter({_TOK}, x -> list_contains({_STOP['en']}, x))) AS en,
             len(list_filter({_TOK}, x -> list_contains({_STOP['de']}, x))) AS de,
             len(list_filter({_TOK}, x -> list_contains({_STOP['fr']}, x))) AS fr,
             len(list_filter({_TOK}, x -> list_contains({_STOP['es']}, x))) AS es
      FROM documents)
    SELECT lang AS actual_lang,
           CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                WHEN de >= fr AND de >= es THEN 'de'
                WHEN fr >= es THEN 'fr'
                ELSE 'es' END AS predicted_lang,
           COUNT(*) AS n_docs
    FROM scored GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("actual_lang"),
            X.predicted_lang().alias("predicted_lang"),
        )
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Tokenizer pre-pass counts (BPE-ish regex segmentation) per source.
# ---------------------------------------------------------------------------


@query(
    "text_token_counts",
    oracle="""
    WITH d AS (
      SELECT source, len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_bpe
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_bpe) AS DOUBLE) / COUNT(*) AS avg_bpe_tokens,
           CAST(MIN(n_bpe) AS BIGINT) AS min_bpe_tokens,
           CAST(MAX(n_bpe) AS BIGINT) AS max_bpe_tokens
    FROM d GROUP BY source
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("source", X.bpe_ish_token_count().cast("long").alias("n_bpe"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        (F.sum("n_bpe").cast("double") / F.count("*")).alias("avg_bpe_tokens"),
        F.min("n_bpe").cast("bigint").alias("min_bpe_tokens"),
        F.max("n_bpe").cast("bigint").alias("max_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Bag-of-words fingerprint dedup view: docs sharing a sorted-distinct-token
# fingerprint are permutations/duplications of the same vocabulary.
# ---------------------------------------------------------------------------


@query(
    "text_fingerprint_groups",
    oracle=f"""
    WITH fp AS (
      SELECT source,
             md5(array_to_string(list_sort(list_distinct({_TOK})), ' ')) AS fp
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT fp) AS n_fingerprints,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_bag_dups
    FROM fp GROUP BY source
    """,
)
def text_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    fp = docs.select("source", X.fingerprint().alias("fp"))
    return fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_fingerprints"),
        (F.count("*") - F.countDistinct("fp")).cast("bigint").alias("n_bag_dups"),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary top-k (heavy hitters): explode tokens, count, top 20 —
# partial aggregation bounds the shuffle by |vocab|, TakeOrdered by k.
# ---------------------------------------------------------------------------


@query(
    "text_vocab_topk",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOK}) AS token FROM documents)
    SELECT token, COUNT(*) AS freq
    FROM toks GROUP BY token
    ORDER BY freq DESC, token ASC LIMIT 20
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens()).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Deterministic hash-based corpus sampling: reproducible bernoulli per doc
# (md5 mod) with per-language rates — the "sample 10% of English, 50% of
# the tail" training-mix op. Deterministic ⇒ identical sample on re-runs
# and across engines (no Math.random in the DAG).
# ---------------------------------------------------------------------------


@query(
    "sample_documents_deterministic",
    oracle="""
    WITH sampled AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS bucket
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM sampled
    WHERE bucket < (CASE WHEN lang = 'en' THEN 100 ELSE 500 END)
    GROUP BY lang
    """,
)
def sample_documents_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000
    )
    rate = F.when(F.col("lang") == "en", 100).otherwise(500)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint (Rabin-Karp / Horner over token hashes,
# B=31 mod 2^31-1): ORDER-SENSITIVE — permutations of the same vocabulary
# get different prints (the complement of the bag-of-words fingerprint
# above). Both engines fold left with identical integer arithmetic.
# ---------------------------------------------------------------------------

_RH_B, _RH_M = 31, 2147483647


@query(
    "text_rolling_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT source,
             list_reduce(
               list_prepend(0, list_transform({_TOK},
                 t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
               (acc, x) -> (acc * {_RH_B} + x) % {_RH_M}) AS print
      FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT print) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT print) AS BIGINT) AS n_dup_docs
    FROM fp GROUP BY source
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok_hash = F.transform(
        X.tokens(),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    rolling = F.aggregate(
        tok_hash,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * _RH_B + x) % _RH_M,
    )
    fp = docs.select("source", rolling.alias("print"))
    return fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("print").alias("n_unique"),
        (F.count("*") - F.count_distinct("print")).cast("bigint").alias("n_dup_docs"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document: the sparse-vector text kernel (feature
# extraction for retrieval / near-dup weighting). Shape: one explode +
# groupBy(doc, term) shuffle; document frequency rides a window over the
# SAME term-keyed data; N is a broadcast scalar. tfidf rounded to 8 (libm
# ln fold policy, queries/__init__ float parity notes); rank ties break on
# the term string so the top-k is engine-deterministic.
# ---------------------------------------------------------------------------


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS term
      FROM documents WHERE doc_id < 500),
    lens AS (SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY doc_id),
    tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY doc_id, term),
    n AS (SELECT COUNT(*) AS n_docs FROM lens),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round((tf.cnt * 1.0 / lens.doc_len)
                   * ln(n.n_docs * 1.0 / COUNT(*) OVER (PARTITION BY tf.term)), 8)
               AS tfidf
      FROM tf JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)
               AS rank
      FROM scored)
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = docs.select("doc_id", F.explode(X.tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    lens = toks.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    n_docs = lens.count()  # broadcast scalar (corpus subset is fixed)
    df_w = W.partitionBy("term")
    scored = (
        # per-DOC lengths: corpus-scaled — no broadcast hint
        tf.join(lens, "doc_id")
        .withColumn("df", F.count("*").over(df_w))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt") / F.col("doc_len"))
                * F.log(F.lit(float(n_docs)) / F.col("df")),
                8,
            ).alias("tfidf"),
        )
    )
    rank_w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Unigram log-probability scoring: rank documents by how "typical" their
# tokens are under the corpus's own unigram distribution — the statistical
# cousin of the heuristic quality score (low scorers are boilerplate/noise
# candidates in a training-data pipeline). Shape: one token groupBy builds
# the unigram table; docs re-join it on token (broadcast at this vocab
# size, shuffle join at web scale) and average log p per doc. round-8 for
# the libm ln; integer token counts keep everything else exact.
# ---------------------------------------------------------------------------


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS term
      FROM documents WHERE doc_id < 1000),
    uni AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
    tot AS (SELECT SUM(cnt) AS total FROM uni)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           round(AVG(ln(u.cnt * 1.0 / tot.total)), 8) AS avg_logprob
    FROM toks t JOIN uni u ON u.term = t.term CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    toks = docs.select("doc_id", F.explode(X.tokens()).alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    total = uni.agg(F.sum("cnt")).first()[0]  # broadcast scalar
    return (
        # unigram table is vocab-scaled (sublinear but unbounded) — no
        # hint: AQE broadcasts locally, term-keyed shuffle at web scale
        toks.join(uni, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / F.lit(float(total)))), 8).alias(
                "avg_logprob"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Exact-size stratified sample: exactly K documents per language, chosen by
# deterministic hash order (md5 of the id) — the fixed-budget companion to
# the rate-based sampler above (an eval-set builder wants "500 docs per
# language", not "roughly 10%"). One rank window per stratum; the hash
# order makes the pick reproducible across runs AND engines.
# ---------------------------------------------------------------------------

_STRATUM_K = 40


@query(
    "sample_stratified_exact",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM ranked WHERE rk <= {_STRATUM_K}
    GROUP BY lang
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _STRATUM_K)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Mixture rebalancing: downsample every source to the SMALLEST source's
# size (equal-share mixture), picking survivors by deterministic hash
# order — the data-dependent-budget companion to the fixed-K stratified
# sampler (a training mix wants controlled source proportions, not
# whatever the crawl produced). The per-source budget is a broadcast
# scalar; survivors come from one rank window per source.
# ---------------------------------------------------------------------------


@query(
    "sample_mixture_rebalance",
    oracle="""
    WITH per_source AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    budget AS (SELECT MIN(n) AS k FROM per_source),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
      FROM documents)
    SELECT r.source,
           COUNT(*) AS n_kept,
           CAST(SUM(r.doc_id) AS BIGINT) AS id_checksum
    FROM ranked r CROSS JOIN budget b
    WHERE r.rk <= b.k
    GROUP BY r.source
    """,
)
def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    k = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n"))
        .first()[0]
    )  # broadcast scalar: the equal-share budget
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= k)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus health report: the per-source dashboard row a data curator reads
# before training — volume, exact-duplicate rate, token budget, dominant
# language. One scan feeding two grouped aggregates (fingerprint dup
# stats ride the md5 groupBy; everything else is per-source sums), then a
# broadcast join of the two small summaries.
# ---------------------------------------------------------------------------


@query(
    "corpus_health_report",
    oracle="""
    WITH fp AS (
      SELECT source, md5(text) AS f, COUNT(*) AS n
      FROM documents GROUP BY source, md5(text)),
    dup AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant
      FROM fp GROUP BY source),
    tok AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
               AS total_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY source),
    langs AS (
      SELECT source, lang, COUNT(*) AS nl,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang ASC) AS rk
      FROM documents GROUP BY source, lang)
    SELECT d.source, d.n_docs, d.n_redundant,
           round(d.n_redundant * 1.0 / d.n_docs, 6) AS dup_rate,
           t.total_tokens, t.total_chars,
           l.lang AS dominant_lang
    FROM dup d
    JOIN tok t ON t.source = d.source
    JOIN langs l ON l.source = d.source AND l.rk = 1
    """,
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    fp = docs.groupBy("source", F.md5("text").alias("f")).agg(
        F.count("*").alias("n")
    )
    dup = fp.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        (F.sum("n") - F.count("*")).cast("bigint").alias("n_redundant"),
    )
    tok = docs.groupBy("source").agg(
        F.sum(X.token_count()).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    lw = W.partitionBy("source").orderBy(F.desc("nl"), F.asc("lang"))
    langs = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("nl"))
        .withColumn("rk", F.row_number().over(lw))
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("dominant_lang"))
    )
    return (
        dup.join(F.broadcast(tok), "source")
        .join(F.broadcast(langs), "source")
        .select(
            "source",
            "n_docs",
            "n_redundant",
            F.round(F.col("n_redundant") / F.col("n_docs"), 6).alias("dup_rate"),
            "total_tokens",
            "total_chars",
            "dominant_lang",
        )
    )


# ---------------------------------------------------------------------------
# Repetition detection: the Gopher-style repeated-n-gram filters (Rae et al.
# 2021 §A1.1 — "fraction of characters in the most common 2-gram" family).
# Degenerate machine-generated or boilerplate docs repeat; natural text has
# flat n-gram histograms. All JVM-side: explode bigrams -> (doc, bigram)
# count -> per-doc max/sum. Two shuffles, both keyed and combinable
# map-side; at 100 TB the (doc, bigram) agg is the standard explode shape
# the tf-idf query already uses.
# ---------------------------------------------------------------------------


@query(
    "text_repetition_flags",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS t FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(t[1:len(t)-1], (x, i) -> x || ' ' || t[i+1]))
               AS bigram
      FROM toks WHERE len(t) >= 2),
    per AS (
      SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY doc_id, bigram),
    agg AS (
      SELECT doc_id, MAX(c) AS top_bigram, CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM per GROUP BY doc_id),
    d AS (
      SELECT a.doc_id, a.n_bigrams,
             CAST(a.top_bigram AS DOUBLE) / a.n_bigrams AS top_bigram_frac,
             1.0 - CAST(len(list_distinct(t.t)) AS DOUBLE) / len(t.t) AS dup_word_frac
      FROM agg a JOIN toks t ON t.doc_id = a.doc_id)
    SELECT doc_id, n_bigrams,
           round(top_bigram_frac, 6) AS top_bigram_frac,
           round(dup_word_frac, 6) AS dup_word_frac,
           CAST(top_bigram_frac > 0.10 OR dup_word_frac > 0.69 AS BOOLEAN)
             AS repetitive
    FROM d
    """,
)
def text_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram histogram stats are DOC-LOCAL, so the whole query is
    one shuffle-free Arrow kernel: each batch counts its docs' bigrams in
    Python dicts and emits the four stats directly. The first shape here
    (explode → (doc,bigram) groupBy → (doc) groupBy → join) shuffled the
    33M-row bigram table twice at sf1 and ran 2.7× DuckDB; this runs at a
    map pass. Rounding boundary safety: top/n and 1-distinct/len with
    n<2^7·k can never land exactly on a half-ulp of the 1e-6 grid
    (2·10^6 = 2^7·5^6·... needs a denominator divisible by 128), so
    Python round == SQL round here."""
    import pandas as _pd

    docs = table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism

    def op(batches):
        for pdf in batches:
            out = {
                "doc_id": [],
                "n_bigrams": [],
                "top_bigram_frac": [],
                "dup_word_frac": [],
                "repetitive": [],
            }
            for doc_id, txt in zip(pdf["doc_id"], pdf["text"]):
                toks = [w for w in (txt or "").split(" ") if w]
                m = len(toks)
                if m < 2:
                    continue
                counts: dict = {}
                prev = toks[0]
                for t in toks[1:]:
                    key = (prev, t)
                    counts[key] = counts.get(key, 0) + 1
                    prev = t
                n_bi = m - 1
                top_frac = max(counts.values()) / n_bi
                dup = 1.0 - len(set(toks)) / m
                out["doc_id"].append(doc_id)
                out["n_bigrams"].append(n_bi)
                out["top_bigram_frac"].append(round(top_frac, 6))
                out["dup_word_frac"].append(round(dup, 6))
                out["repetitive"].append(top_frac > 0.10 or dup > 0.69)
            yield _pd.DataFrame(out)

    return docs.repartition(n_parts).mapInPandas(
        op,
        schema=(
            "doc_id bigint, n_bigrams bigint, top_bigram_frac double, "
            "dup_word_frac double, repetitive boolean"
        ),
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk): assign documents to fixed-capacity
# context windows — the GPT-style pretraining batch-prep step. Docs are
# concatenated per source in doc_id order; a doc belongs to the window its
# FIRST token lands in (floor(start_offset / C)). Per-shard running sum =
# one partitioned window; at 100 TB the partition key becomes
# (source, shard) — packing is inherently sequential only WITHIN a shard,
# which is how production packers run (one task per input shard).
# ---------------------------------------------------------------------------

_PACK_C = 256  # context window capacity in whitespace tokens


@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id, len({_TOK}) AS n_tok FROM documents),
    placed AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS start_off
      FROM toks)
    SELECT source,
           CAST(start_off // {_PACK_C} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM placed
    GROUP BY source, CAST(start_off // {_PACK_C} AS BIGINT)
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("source", "doc_id", X.token_count().cast("long").alias("n_tok"))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = toks.withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    seq = F.floor(F.col("start_off") / _PACK_C).cast("bigint")
    return (
        placed.groupBy("source", seq.alias("seq_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine near-dup pairs: the term-space twin of the embedding
# similarity path — finds reworded duplicates whose token MULTISETS differ
# (Jaccard misses weight, embeddings need a model; tf-idf cosine needs
# neither). Shapes: df rides a count window on the term-keyed exchange the
# self-join reuses (the jaccard-cap trick); per-doc norms are one (doc)
# agg joined back; pair dot-products aggregate on the pair key. At 100 TB
# the hot-term cap (same MAX_POSTING trade) bounds the worst posting list.
# ---------------------------------------------------------------------------

_TFIDF_THRESHOLD = 0.88
_TFIDF_MAX_DF = 1024


@query(
    "text_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    w AS (
      SELECT doc_id, term,
             tf * ln((SELECT COUNT(*) FROM documents) * 1.0
                     / COUNT(*) OVER (PARTITION BY term)) AS w,
             COUNT(*) OVER (PARTITION BY term) AS df
      FROM tf),
    capped AS (SELECT doc_id, term, w FROM w WHERE df <= {_TFIDF_MAX_DF}),
    nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nn FROM capped GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
      FROM capped a JOIN capped b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(dot / (x.nn * y.nn), 6) AS cosine
    FROM dots
    JOIN nrm x ON x.doc_id = doc_a
    JOIN nrm y ON y.doc_id = doc_b
    WHERE round(dot / (x.nn * y.nn), 6) >= {_TFIDF_THRESHOLD}
    """,
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar model state (like the IVF probes)
    tf = (
        docs.select("doc_id", F.explode(X.tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    wdf = tf.withColumn("df", F.count("*").over(W.partitionBy("term")))
    # three readers (norms + both self-join sides): checkpoint the
    # df-capped weighted postings once — without it the whole
    # scan+explode+tf+df subtree executes three times (~14 exchanges)
    capped = (
        wdf.filter(F.col("df") <= _TFIDF_MAX_DF)
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    nrm = capped.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nn"))
    a, b = capped.alias("a"), capped.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    x = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    y = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        # per-doc norm tables: corpus-scaled — no broadcast hints
        dots.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
        .filter(F.round(cos, 6) >= _TFIDF_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Document chunking with overlap: the retrieval/RAG corpus-prep op — each
# doc splits into token windows of size _CHUNK_W advancing by _CHUNK_S
# (trailing partial window kept, so every token lands in >=1 chunk). All
# JVM-side: one sequence() over chunk starts + explode + slice, no UDF;
# at 100 TB this is a map-only pass whose output is the chunk table a
# vector indexer consumes.
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_S = 16, 8


@query(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS t, len({_TOK}) AS n FROM documents),
    starts AS (
      SELECT doc_id, t, n, unnest(range(0,
               greatest(1, CAST(ceil((n - {_CHUNK_W}) * 1.0 / {_CHUNK_S}) AS BIGINT) + 1)
             )) * {_CHUNK_S} AS start
      FROM toks WHERE n > 0)
    SELECT doc_id,
           CAST(start / {_CHUNK_S} AS BIGINT) AS chunk_idx,
           start,
           least(n - start, {_CHUNK_W}) AS n_tokens,
           array_to_string(t[start + 1 : least(start + {_CHUNK_W}, n)], ' ') AS chunk_text
    FROM starts WHERE start < n
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens().alias("t")).withColumn(
        "n", F.size("t")
    ).filter(F.col("n") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("n") - _CHUNK_W) / F.lit(float(_CHUNK_S))).cast("bigint")
        + 1,
    )
    starts = (
        toks.select(
            "doc_id",
            "t",
            "n",
            F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1)).alias("ci"),
        )
        .withColumn("start", F.col("ci") * _CHUNK_S)
        .filter(F.col("start") < F.col("n"))
    )
    return starts.select(
        "doc_id",
        (F.col("start") / _CHUNK_S).cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start"),
        F.least(F.col("n") - F.col("start"), F.lit(_CHUNK_W)).cast("bigint").alias("n_tokens"),
        F.concat_ws(
            " ",
            F.slice(F.col("t"), F.col("start") + 1, F.lit(_CHUNK_W)),
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# PII detection + redaction — the compliance scrub every training-data
# pipeline runs before tokenization. The synthetic corpus carries no real
# PII, so both engines first inject deterministic doc_id-derived PII-shaped
# strings (email / phone / IPv4) into a fraction of docs, then detect with
# regex counts and redact with global regexp_replace — detection and
# replacement are the real operators under test. Patterns stay inside the
# Java-regex ∩ RE2 common subset (no lookaround / backrefs) so Spark and
# DuckDB match identically; at 100 TB this is one projection-only map
# stage, no shuffle.
# ---------------------------------------------------------------------------

_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\+1-555-[0-9]{4}"
_PII_IP = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "text_pii_redaction",
    oracle=f"""
    WITH injected AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 5 = 0
                THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                THEN ' host 10.' || (doc_id % 256) || '.' || ((doc_id // 7) % 256) || '.' || ((doc_id // 13) % 256) ELSE '' END
             AS t
      FROM documents),
    flagged AS (
      SELECT doc_id, source, t,
             len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
             len(regexp_extract_all(t, '{_PII_IP}')) AS n_ips
      FROM injected)
    SELECT doc_id, source,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           CAST(n_ips AS BIGINT) AS n_ips,
           CAST(n_emails + n_phones + n_ips > 0 AS BOOLEAN) AS has_pii,
           regexp_replace(regexp_replace(regexp_replace(t,
               '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_IP}', '[IP]', 'g') AS redacted
    FROM flagged
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" host 10."),
                (did % 256).cast("string"),
                F.lit("."),
                (F.expr("doc_id div 7") % 256).cast("string"),
                F.lit("."),
                (F.expr("doc_id div 13") % 256).cast("string"),
            ),
        ).otherwise(""),
    )
    injected = d.select("doc_id", "source", t.alias("t"))
    # redact FIRST (the only 3 regex passes), then derive the counts by
    # counting the literal replacement tokens — Java's backtracking regex
    # is ~4x RE2 on these patterns, so 6 regex passes (3 count + 3
    # replace) benched 8.6x DuckDB at sf1; literal replace is codegen'd
    # string search. Counts are identical: 'g'-replacement is 1:1 with
    # matches and the corpus (lowercase word salad + injections) can never
    # contain a bracket token of its own.
    red = injected.withColumn(
        "redacted",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), _PII_EMAIL, "[EMAIL]"),
                _PII_PHONE,
                "[PHONE]",
            ),
            _PII_IP,
            "[IP]",
        ),
    )

    def _tok_count(token: str):
        return (
            (F.length("redacted") - F.length(F.replace(F.col("redacted"), F.lit(token))))
            / len(token)
        ).cast("bigint")

    counted = red.select(
        "doc_id",
        "source",
        "redacted",
        _tok_count("[EMAIL]").alias("n_emails"),
        _tok_count("[PHONE]").alias("n_phones"),
        _tok_count("[IP]").alias("n_ips"),
    )
    return counted.select(
        "doc_id",
        "source",
        "n_emails",
        "n_phones",
        "n_ips",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0).alias("has_pii"),
        "redacted",
    )


# ---------------------------------------------------------------------------
# Corpus filter pipeline — the C4/Gopher-style keep/drop decision with
# reason codes (first failing rule wins), composed from the heuristics the
# individual queries establish: length floor, duplicate-word repetition,
# stopword floor, composite quality floor. A real pretraining pipeline
# materializes exactly this (doc_id, kept, reject_reason) table to drive
# the downstream tokenizer and to audit per-rule kill rates. One scan, one
# projection, no shuffle — at 100 TB this is a map-only stage.
# ---------------------------------------------------------------------------


@query(
    "corpus_filter_pipeline",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, source,
             len({_TOK}) AS n_tokens,
             len(list_distinct({_TOK})) AS n_distinct,
             len(list_filter({_TOK}, x -> list_contains({_STOP['en']}, x))) AS stop_hits
      FROM documents),
    r AS (
      SELECT doc_id, lang, source, n_tokens,
             1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_word_frac,
             CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
             0.5 * least(n_tokens / 100.0, 1.0)
               + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
               + 0.2 * least(5.0 * stop_hits / n_tokens, 1.0) AS quality
      FROM d WHERE n_tokens > 0)
    SELECT doc_id, lang, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(dup_word_frac, 6) AS dup_word_frac,
           round(quality, 6) AS quality,
           CASE WHEN n_tokens < 20 THEN 'too_short'
                WHEN dup_word_frac > 0.68 THEN 'repetitive'
                WHEN stop_ratio < 0.01 THEN 'no_stopwords'
                WHEN quality < 0.42 THEN 'low_quality'
                ELSE 'kept' END AS verdict,
           CAST(n_tokens >= 20 AND dup_word_frac <= 0.68
                AND stop_ratio >= 0.01 AND quality >= 0.42 AS BOOLEAN) AS kept
    FROM r
    """,
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_tok = X.token_count()
    n_dis = X.distinct_token_count()
    stop = X.stopword_hits(lang="en")
    dup = 1.0 - n_dis.cast("double") / n_tok
    stop_ratio = stop.cast("double") / n_tok
    quality = (
        0.5 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (n_dis.cast("double") / n_tok)
        + 0.2 * F.least(5.0 * stop / n_tok, F.lit(1.0))
    )
    base = docs.filter(n_tok > 0).select(
        "doc_id",
        "lang",
        "source",
        n_tok.cast("bigint").alias("n_tokens"),
        dup.alias("dup_raw"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality_raw"),
    )
    verdict = (
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("dup_raw") > 0.68, "repetitive")
        .when(F.col("stop_ratio") < 0.01, "no_stopwords")
        .when(F.col("quality_raw") < 0.42, "low_quality")
        .otherwise("kept")
    )
    return base.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.round("dup_raw", 6).alias("dup_word_frac"),
        F.round("quality_raw", 6).alias("quality"),
        verdict.alias("verdict"),
        (
            (F.col("n_tokens") >= 20)
            & (F.col("dup_raw") <= 0.68)
            & (F.col("stop_ratio") >= 0.01)
            & (F.col("quality_raw") >= 0.42)
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Token-balanced output sharding — the manifest-build step before a corpus
# is written out as N training shards. Docs are ranked by token count
# (desc, doc_id tie-break) and dealt round-robin across shards: the
# classic LPT-style deal that bounds shard skew without sequential bin
# packing. The global rank runs over (doc_id, n_tokens) PAIRS only —
# 16 bytes/row after pruning, metadata scale even at 100 TB of text; the
# manifest (not the text) is what shuffles. The rank itself is the
# DISTRIBUTED exact decomposition (operators/distrank.py): range
# repartition + per-partition local rank + carry-in offsets — the naive
# `row_number().over(W.orderBy(...))` would sort all N_docs rows in one
# task (r3 verdict scale-killer #2).
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@query(
    "corpus_shard_manifest",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({_TOK}) AS n_tokens FROM documents),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rk
      FROM d),
    assigned AS (
      SELECT doc_id, n_tokens, (rk - 1) % {_N_SHARDS} AS shard FROM ranked)
    SELECT CAST(shard AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM assigned GROUP BY shard
    """,
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", X.token_count().alias("n_tokens"))
    ranked = global_row_number(
        d, [F.desc("n_tokens"), F.asc("doc_id")], out="rk"
    )
    assigned = ranked.withColumn("shard", (F.col("rk") - 1) % _N_SHARDS)
    return assigned.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


# ---------------------------------------------------------------------------
# Sequence-length bucketing — the padding-waste profile that drives batch
# shaping for training/inference: docs grouped into 64-token buckets;
# per-bucket doc count, token sum, and the padding overhead if every doc
# in the bucket were padded to the bucket's max length. One scan + one
# small groupBy; at 100 TB the bucket histogram is the input to the batch
# scheduler, not the data path itself.
# ---------------------------------------------------------------------------


@query(
    "length_bucket_stats",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len({_TOK}) AS n_tokens FROM documents),
    b AS (
      SELECT doc_id, n_tokens, CAST(CEIL(n_tokens / 64.0) AS BIGINT) AS bucket
      FROM d WHERE n_tokens > 0)
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_tokens,
           round(1.0 - CAST(SUM(n_tokens) AS DOUBLE) / (COUNT(*) * MAX(n_tokens)), 6)
             AS padding_frac
    FROM b GROUP BY bucket
    """,
)
def length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select("doc_id", X.token_count().alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    b = d.withColumn("bucket", F.ceil(F.col("n_tokens") / 64.0).cast("bigint"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        (F.count("*") * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("bigint")
        .alias("padding_tokens"),
        F.round(
            1.0 - F.sum("n_tokens").cast("double") / (F.count("*") * F.max("n_tokens")),
            6,
        ).alias("padding_frac"),
    )


# ---------------------------------------------------------------------------
# Token-id encoding — the tokenizer-encode step between filtering and
# packing: build a 256-term vocabulary (global count desc, token asc),
# map every token to its id (OOV -> 256 = vocab size), report per-doc OOV
# rate plus a position-weighted checksum that pins the EXACT id sequence
# (sum of (pos+1)*id), not just the multiset. Plan: explode -> one
# token-keyed count shuffle (map-side combinable) -> tiny vocab broadcast
# back -> per-doc aggregate. At 100 TB the vocab is a real tokenizer's
# table; the encode pass itself stays a broadcast-join map stage.
# ---------------------------------------------------------------------------

_VOCAB_N = 256


@query(
    "text_token_ids",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
      FROM (SELECT doc_id, {_TOK} AS t FROM documents)),
    counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    ranked AS (
      SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) - 1 AS id
      FROM counts),
    vocab AS (SELECT tok, id FROM ranked WHERE id < {_VOCAB_N}),
    ids AS (
      SELECT t.doc_id, t.pos, COALESCE(v.id, {_VOCAB_N}) AS id
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN id = {_VOCAB_N} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(SUM(CASE WHEN id = {_VOCAB_N} THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate,
           CAST(SUM(pos * id) AS BIGINT) AS ids_checksum
    FROM ids GROUP BY doc_id
    """,
)
def text_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(X.tokens()).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # top-K vocab via distributed TakeOrdered (each partition keeps K,
    # driver merges) — NOT a global sort of the whole |vocab| aggregate;
    # the id-assigning window then runs over <= _VOCAB_N rows by
    # construction (bounded-constant input, whitelisted in PLAN_AUDIT)
    w = W.orderBy(F.desc("c"), F.asc("tok"))
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_N)
        .withColumn("id", F.row_number().over(w) - 1)
        .select(F.col("tok").alias("vtok"), "id")
    )
    ids = toks.join(F.broadcast(vocab), F.col("vtok") == toks.tok, "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(_VOCAB_N)).alias("id")
    )
    oov = (F.col("id") == _VOCAB_N).cast("int")
    return ids.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov).cast("double") / F.count("*"), 6).alias("oov_rate"),
        F.sum(F.col("pos") * F.col("id")).cast("bigint").alias("ids_checksum"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — the final assignment step before
# shards are written: md5-hash-mod on doc_id (seeded, content-independent)
# puts ~80/10/10 in train/val/test with zero coordination; per-(split,
# lang) counts audit the stratification. Map-only + tiny groupBy.
# ---------------------------------------------------------------------------


@query(
    "sample_train_val_test",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE
               WHEN ascii(substr(md5('split:' || doc_id), 1, 1)) % 10 < 8 THEN 'train'
               WHEN ascii(substr(md5('split:' || doc_id), 1, 1)) % 10 = 8 THEN 'val'
               ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM assigned GROUP BY 1, 2
    """,
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.ascii(F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 1))
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split")).groupBy(
        "split", "lang"
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline in ONE Catalyst DAG — the flagship
# composition: quality-filter (corpus_filter_pipeline rules) -> exact
# near-dup removal (min-doc_id per md5 fingerprint via ONE window, no
# join-back) -> greedy context packing (pack_sequences' running-sum
# deal). Three shuffles total (fingerprint window, per-source pack
# window, final group), every stage pipelined by the optimizer — the
# argument for declaring the whole pipeline instead of materializing
# between stages. Output grain: packed sequence.
# ---------------------------------------------------------------------------


@query(
    "corpus_e2e_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             len({_TOK}) AS n_tokens,
             len(list_distinct({_TOK})) AS n_distinct,
             len(list_filter({_TOK}, x -> list_contains({_STOP['en']}, x))) AS stop_hits
      FROM documents),
    kept AS (
      SELECT doc_id, source, text, n_tokens FROM scored
      WHERE n_tokens >= 20
        AND 1.0 - CAST(n_distinct AS DOUBLE) / n_tokens <= 0.68
        AND CAST(stop_hits AS DOUBLE) / n_tokens >= 0.01
        AND 0.5 * least(n_tokens / 100.0, 1.0)
            + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
            + 0.2 * least(5.0 * stop_hits / n_tokens, 1.0) >= 0.42),
    deduped AS (
      SELECT doc_id, source, n_tokens FROM kept
      QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
    placed AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
      FROM deduped)
    SELECT source,
           CAST(start_off // 256 AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM placed
    GROUP BY source, CAST(start_off // 256 AS BIGINT)
    """,
)
def corpus_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_tok = X.token_count()
    n_dis = X.distinct_token_count()
    stop = X.stopword_hits(lang="en")
    quality = (
        0.5 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (n_dis.cast("double") / n_tok)
        + 0.2 * F.least(5.0 * stop / n_tok, F.lit(1.0))
    )
    kept = docs.filter(
        (n_tok >= 20)
        & (1.0 - n_dis.cast("double") / n_tok <= 0.68)
        & (stop.cast("double") / n_tok >= 0.01)
        & (quality >= 0.42)
    ).select("doc_id", "source", "text", n_tok.cast("bigint").alias("n_tokens"))
    wfp = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tokens")
    )
    wpk = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = deduped.withColumn(
        "start_off", F.sum("n_tokens").over(wpk) - F.col("n_tokens")
    )
    seq = F.floor(F.col("start_off") / 256).cast("bigint")
    return placed.groupBy("source", seq.alias("seq_id")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval: score every document against a fixed bag of query
# terms (Robertson/Sparck Jones BM25, k1=1.2 b=0.75) and return the top 20.
# Shape: term-filtered tf (the IN-list prunes map-side before any shuffle),
# 3-row df table broadcast back, per-doc lengths join on doc_id, global
# top-k via sort+limit (TakeOrderedAndProject — no single-partition window
# over the corpus). n_docs/avgdl are two driver scalars from one tiny agg.
# The search-engine shape a corpus store serves next to its analytics.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, score, n_terms) for every doc matching any _BM25_TERMS —
    the scoring core shared by text_bm25_search and the RRF fusion.

    ARRAY-NATIVE, ONE JOB, zero corpus-scale exchange:

    - candidate docs come from a cheap substring prefilter (a strict
      SUPERSET of token matches — 'sparkle' passes contains but fails the
      exact token filter), so only ~0.01% of docs pay tokenize+filter;
      per candidate we keep (doc_id, dl, qt) where qt = the query-term
      tokens (len<=3 in practice).
    - the corpus scalars (n_docs, avgdl) and the per-term dfs are NOT
      driver .first() roundtrips: both are 1-row aggregates attached by
      broadcast crossJoin (the repo's whitelisted scalar pattern), so the
      whole retrieval is a single DAG — the corpus size-only scan stage
      and the candidate stage have no dependency edge and the scheduler
      overlaps them across the executor cores, where the .first() form
      serialized three jobs back-to-back (measured at sf10: 3.3 s -> this
      form; the r4 explode form was 3.8 s standalone and 67 s inside the
      RRF fusion, whose join re-exchanged the 40M-row token checkpoint
      three times — here no corpus-scale exchange exists to re-run).
    - IEEE parity: idf = log(1 + (n_docs - df + .5)/(df + .5)) is the
      same JVM log/division tree the join form used (scalar columns
      instead of literals — same doubles), per-doc term sum in fixed
      term order; parity at round-8 as before."""
    toks = X.tokens()
    # corpus scalars (dl > 0 keeps explode-parity: token-less docs never
    # entered lens); 1 row, broadcast onto the candidates
    stats = (
        docs.select(F.size(toks).alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    anyterm = F.col("text").contains(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        anyterm = anyterm | F.col("text").contains(t)
    per_doc = (
        docs.filter(anyterm)
        .select(
            "doc_id",
            F.size(toks).alias("dl"),
            F.filter(toks, lambda x: x.isin(*_BM25_TERMS)).alias("qt"),
        )
        .filter(F.size("qt") > 0)
        .localCheckpoint()  # few-thousand thin rows; read 2x below
    )
    dfs = per_doc.agg(
        *[
            F.sum(F.array_contains("qt", t).cast("long"))
            .cast("double")
            .alias(f"df{i}")
            for i, t in enumerate(_BM25_TERMS)
        ]
    )
    scored = per_doc.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfs))

    def term_score(i: int, term: str):
        # single-arg lambda: a two-param lambda would receive (elem, idx)
        tf = F.size(F.filter(F.col("qt"), lambda x: x == F.lit(term)))
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        denom = tf + _BM25_K1 * (
            1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        return F.when(tf > 0, idf * tf * (_BM25_K1 + 1) / denom).otherwise(F.lit(0.0))

    score = term_score(0, _BM25_TERMS[0])
    for i in range(1, len(_BM25_TERMS)):
        score = score + term_score(i, _BM25_TERMS[i])  # fixed term-order tree
    n_terms = sum(F.array_contains("qt", t).cast("long") for t in _BM25_TERMS)
    return scored.select("doc_id", score.alias("score"), n_terms.alias("n_terms"))


@query(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({_BM25_IN}) GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             SUM(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * lens.dl / s.avgdl))
             ) AS score,
             COUNT(*) AS n_terms
      FROM tf
      JOIN df USING (term)
      JOIN lens USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id),
    ranked AS (
      SELECT doc_id, score, n_terms,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored)
    SELECT doc_id, round(score, 8) AS score, CAST(n_terms AS BIGINT) AS n_terms,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return _bm25_top20(_bm25_scored(docs))


def _bm25_top20(scored: DataFrame) -> DataFrame:
    """(doc_id, score, n_terms, rank) of the 20 best-scored docs. The
    global top-20 rides TakeOrderedAndProject; the 20-row rank window is
    free."""
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    rw = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        F.round("score", 8).alias("score"),
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Two-stage retrieve-rerank: BM25 recalls top-50 candidates cheaply, then
# a FULL-vocabulary tf-idf cosine rescores only those 50 — the classic
# retrieval funnel (cheap recall stage feeding an expensive precision
# stage; at production scale stage 2 is a cross-encoder — the funnel
# shape and the candidate-restricted cost are what this pins). Scale: the
# expensive per-doc work (all-terms tf-idf norms) runs ONLY on candidate
# docs via a 50-row broadcast semi-join; the corpus-wide stages are the
# same vocab-keyed aggregates BM25 already pays. One tokenize pass
# (checkpointed) feeds both stages.
# ---------------------------------------------------------------------------

_RR_CANDIDATES = 50
_RR_K = 10


@query(
    "text_retrieve_rerank",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({_BM25_IN}) GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             SUM(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * lens.dl / s.avgdl))
             ) AS score
      FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats s
      GROUP BY tf.doc_id),
    cand AS (
      SELECT doc_id, score FROM (
        SELECT doc_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        FROM scored) t WHERE rank <= {_RR_CANDIDATES}),
    dfa AS (
      SELECT term, COUNT(DISTINCT doc_id) AS dfa FROM toks GROUP BY term),
    widf AS (
      SELECT term, ln(CAST(s.n_docs AS DOUBLE) / dfa) AS idf
      FROM dfa CROSS JOIN stats s),
    tfa AS (
      SELECT t.doc_id, t.term, COUNT(*) AS tf FROM toks t
      WHERE t.doc_id IN (SELECT doc_id FROM cand)
      GROUP BY t.doc_id, t.term),
    dnorm AS (
      SELECT a.doc_id, sqrt(SUM(a.tf * w.idf * a.tf * w.idf)) AS dn
      FROM tfa a JOIN widf w USING (term) GROUP BY a.doc_id),
    qnorm AS (
      SELECT sqrt(SUM(idf * idf)) AS qn FROM widf
      WHERE term IN ({_BM25_IN})),
    num AS (
      SELECT a.doc_id, SUM(a.tf * w.idf * w.idf) AS num
      FROM tfa a JOIN widf w USING (term)
      WHERE a.term IN ({_BM25_IN})
      GROUP BY a.doc_id),
    rerank AS (
      SELECT c.doc_id,
             round(c.score, 8) AS bm25_score,
             round(COALESCE(n.num, 0.0) / (d.dn * q.qn), 8) AS rerank_score
      FROM cand c
      JOIN dnorm d USING (doc_id)
      LEFT JOIN num n USING (doc_id)
      CROSS JOIN qnorm q)
    SELECT doc_id, bm25_score, rerank_score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rerank_score DESC, doc_id ASC) AS rank
      FROM rerank) t WHERE rank <= {_RR_K}
    """,
)
def text_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # r9-opt measured NEGATIVE, reverted: rewriting this around one
    # (doc_id, term) aggregate (lens/df/widf/tfa all derived from it, no
    # raw-token checkpoint) looked strictly better on paper — one corpus
    # pass instead of four — but measured +28% at sf0.1 back-to-back
    # (1.41 -> 1.81 s best-of-4): the checkpointed exploded token table is
    # RAM-resident here and its four consumers are all partial-aggregated
    # map-side, so the rewrite's extra corpus-scale (doc_id, term)
    # EXCHANGE + aggregate materialization cost more than the re-reads it
    # saved. At 100 TB the aggregate form wins on materialized bytes;
    # when this query graduates to that scale, revisit — the rewrite is
    # in git history (3b939ef).
    toks = docs.select(
        "doc_id", F.explode(X.tokens()).alias("term")
    ).localCheckpoint()
    lens = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs, avgdl = lens.agg(F.count("*"), F.avg("dl")).first()
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.lit(float(avgdl))
    )
    scored = (
        tf.join(df, "term")
        .join(lens, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom).alias("score"))
    )
    # stage-1 recall: 50 rows via TakeOrdered; checkpoint so the three
    # stage-2 readers (semi-join prune, numerator join, final join) reuse
    # ONE evaluation of the BM25 subtree
    cand = (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_RR_CANDIDATES)
        .localCheckpoint()
    )
    # full-vocab idf over the corpus (vocab-keyed aggregate, no hints)
    widf = (
        toks.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("dfa"))
        .select("term", F.log(F.lit(float(n_docs)) / F.col("dfa")).alias("idf"))
    )
    # expensive stage runs ONLY on candidates: 50-row broadcast semi-join
    tfa = (
        toks.join(F.broadcast(cand.select("doc_id")), "doc_id", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()  # two readers: doc norms + query-term numerator
    )
    wtf = F.col("tf") * F.col("idf")
    dnorm = (
        tfa.join(widf, "term")
        .groupBy("doc_id")
        .agg(F.sqrt(F.sum(wtf * wtf)).alias("dn"))
    )
    qn = float(
        widf.filter(F.col("term").isin(*_BM25_TERMS))
        .agg(F.sqrt(F.sum(F.col("idf") * F.col("idf"))))
        .first()[0]
    )
    num = (
        tfa.filter(F.col("term").isin(*_BM25_TERMS))
        .join(widf, "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf") * F.col("idf")).alias("num"))
    )
    rerank = (
        cand.join(dnorm, "doc_id")
        .join(num, "doc_id", "left")
        .select(
            "doc_id",
            F.round("score", 8).alias("bm25_score"),
            F.round(
                F.coalesce(F.col("num"), F.lit(0.0)) / (F.col("dn") * F.lit(qn)), 8
            ).alias("rerank_score"),
        )
    )
    rw = W.orderBy(F.desc("rerank_score"), F.asc("doc_id"))
    return (
        rerank.orderBy(F.desc("rerank_score"), F.asc("doc_id"))
        .limit(_RR_K)
        .withColumn("rank", F.row_number().over(rw).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al. 2016): learn the first 6 byte-pair
# merges from the corpus, frequency-weighted — the tokenizer-TRAINING step
# upstream of text_token_ids' encode. The engine works on the word-count
# model table (vocab-sized, NOT corpus-sized — the corpus is touched once
# to build it), exactly how production BPE trainers scale. Per round: one
# posexplode + pair aggregate (one shuffle over vocab), argmax to the
# driver (model state, like the k-means centroids), then the merge applied
# RELATIONALLY — greedy left-to-right non-overlap via run-parity windows
# (a maximal run of eligible positions merges at every 2nd offset), no
# Python in the loop. localCheckpoint per round bounds the 6-round DAG.
# Oracle: the same 6 rounds unrolled as generated SQL (PageRank pattern).
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _bpe_round_sql(k: int) -> str:
    return f"""
pairs_{k} AS (
  SELECT f.s AS l, f.s1 AS r, SUM(f.cnt) AS cnt
  FROM (
    SELECT wid, cnt, i, s, LEAD(s) OVER (PARTITION BY wid ORDER BY i) AS s1
    FROM (SELECT wid, cnt, generate_subscripts(syms,1) AS i, unnest(syms) AS s
          FROM words_{k})
  ) f WHERE f.s1 IS NOT NULL
  GROUP BY 1, 2),
best_{k} AS (
  SELECT l, r, cnt FROM pairs_{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
words_{k + 1} AS (
  WITH flat AS (
    SELECT wid, cnt, generate_subscripts(syms,1) AS i, unnest(syms) AS s
    FROM words_{k}),
  nxt AS (
    SELECT wid, cnt, i, s, LEAD(s) OVER (PARTITION BY wid ORDER BY i) AS s1 FROM flat),
  elig AS (
    SELECT *, (s = (SELECT l FROM best_{k}) AND s1 = (SELECT r FROM best_{k})) AS e FROM nxt),
  runs AS (
    SELECT *, CASE WHEN e THEN i - ROW_NUMBER() OVER (PARTITION BY wid, e ORDER BY i) END AS run_id
    FROM elig),
  marked AS (
    SELECT *, CASE WHEN e THEN (ROW_NUMBER() OVER (PARTITION BY wid, run_id ORDER BY i) - 1) % 2 = 0
              ELSE FALSE END AS do_merge
    FROM runs),
  consumed AS (
    SELECT *, COALESCE(LAG(do_merge) OVER (PARTITION BY wid ORDER BY i), FALSE) AS eaten
    FROM marked)
  SELECT wid, cnt,
         list(CASE WHEN do_merge THEN s || s1 ELSE s END ORDER BY i) AS syms
  FROM consumed WHERE NOT eaten GROUP BY wid, cnt)"""


@query(
    "text_bpe_train",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOK}) AS w FROM documents),
    words_0 AS (
      SELECT w AS wid, COUNT(*) AS cnt,
             list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
      FROM toks GROUP BY w),
    {",".join(_bpe_round_sql(k) for k in range(_BPE_ROUNDS))}
    SELECT * FROM (
      {" UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS round, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, CAST(cnt AS BIGINT) AS pair_count FROM best_{k}"
        for k in range(_BPE_ROUNDS)
      )}
    ) ORDER BY round
    """,
)
def _bpe_train_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_bpe_train(spark, sf_dir)


def _bpe_fit(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[tuple]]:
    """Run the BPE rounds; return (final word-symbol table, merge list)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens()).alias("w"))
    # the vocab-sized model table. NOTE: a partitioning-preserving
    # checkpoint (brooklin_spark/checkpoint.py) CAN make every round
    # exchange-free on this table, but measured SLOWER at sf0.1 AND sf1
    # (3.5/5.2 s vs 2.7/4.9 s): the table is vocab-bounded at any corpus
    # size, so the per-round exchange is negligible while AQE's
    # coalescing of those tiny shuffles is not — the opposite trade from
    # the fact-scaled PageRank edge table, where the trick wins 2x.
    words = (
        toks.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w").alias("wid"), "cnt", F.split("w", "(?!$)").alias("syms")
        )
        .localCheckpoint()
    )
    merges: list[tuple] = []
    for k in range(_BPE_ROUNDS):
        flat = words.select("wid", "cnt", F.posexplode("syms").alias("i", "s"))
        wwin = W.partitionBy("wid").orderBy("i")
        nxt = flat.withColumn("s1", F.lead("s").over(wwin))
        pairs = (
            nxt.filter(F.col("s1").isNotNull())
            .groupBy("s", "s1")
            .agg(F.sum("cnt").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), F.asc("s"), F.asc("s1")).first()
        if best is None:
            # vocabulary exhausted: no adjacent pairs remain (e.g. every
            # word already collapsed to one symbol) — a real BPE trainer
            # terminates early here instead of crashing
            break
        left, right, cnt = best["s"], best["s1"], int(best["cnt"])
        merges.append((k + 1, left, right, left + right, cnt))
        words = bpe_apply_merge(words, left, right).localCheckpoint()
    return words, merges


def bpe_apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Apply ONE BPE merge (left,right)->left||right to every symbol
    array, greedy left-to-right non-overlapping — relationally: eligible
    positions (s_i=left, s_{i+1}=right) merge at even offsets within each
    maximal run (run parity), the merged-away right symbol is dropped via
    a lag flag. words: (wid, cnt, syms array<string>)."""
    flat = words.select("wid", "cnt", F.posexplode("syms").alias("i", "s"))
    wwin = W.partitionBy("wid").orderBy("i")
    nxt = flat.withColumn("s1", F.lead("s").over(wwin))
    elig = nxt.withColumn("e", (F.col("s") == left) & (F.col("s1") == right))
    ewin = W.partitionBy("wid", "e").orderBy("i")
    runs = elig.withColumn(
        "run_id", F.when(F.col("e"), F.col("i") - F.row_number().over(ewin))
    )
    rwin = W.partitionBy("wid", "run_id").orderBy("i")
    marked = runs.withColumn(
        "do_merge",
        F.when(F.col("e"), (F.row_number().over(rwin) - 1) % 2 == 0).otherwise(
            F.lit(False)
        ),
    )
    consumed = marked.withColumn(
        "eaten", F.coalesce(F.lag("do_merge").over(wwin), F.lit(False))
    )
    sym = F.when(F.col("do_merge"), F.concat("s", "s1")).otherwise(F.col("s"))
    return (
        consumed.filter(~F.col("eaten"))
        .groupBy("wid", "cnt")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), sym.alias("sym")))
            ).alias("z")
        )
        .select("wid", "cnt", F.transform("z", lambda x: x["sym"]).alias("syms"))
    )


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _bpe_fit(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "round bigint, left_sym string, right_sym string, merged string, pair_count bigint",
    )


# ---------------------------------------------------------------------------
# Subword vocabulary after the learned merges: corpus frequency and word
# coverage per surviving symbol — the encode-side audit of the trainer
# above (what the token-id table would look like if cut at this merge
# count). One posexplode + one aggregate over the vocab-sized final word
# table; corpus counts ride the word counts, so the corpus is still only
# touched once. Oracle: the trainer's unrolled SQL continued one step to
# aggregate words_6.
# ---------------------------------------------------------------------------


@query(
    "text_bpe_vocab_stats",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOK}) AS w FROM documents),
    words_0 AS (
      SELECT w AS wid, COUNT(*) AS cnt,
             list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
      FROM toks GROUP BY w),
    {",".join(_bpe_round_sql(k) for k in range(_BPE_ROUNDS))}
    SELECT s.sym,
           CAST(SUM(s.cnt) AS BIGINT) AS total_count,
           CAST(COUNT(DISTINCT s.wid) AS BIGINT) AS n_words,
           CAST(length(s.sym) AS BIGINT) AS sym_len
    FROM (SELECT wid, cnt, unnest(syms) AS sym FROM words_{_BPE_ROUNDS}) s
    GROUP BY s.sym
    """,
)
def text_bpe_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, _ = _bpe_fit(spark, sf_dir)
    flat = words.select("wid", "cnt", F.explode("syms").alias("sym"))
    return flat.groupBy("sym").agg(
        F.sum("cnt").cast("bigint").alias("total_count"),
        F.countDistinct("wid").cast("bigint").alias("n_words"),
        F.length(F.first("sym")).cast("bigint").alias("sym_len"),
    )


# ---------------------------------------------------------------------------
# BPE ENCODE audit: apply the learned merges to the whole corpus and
# report per-source tokenizer-quality metrics — fertility (subwords per
# word) and chars per subword, the two numbers a tokenizer team watches
# when cutting a vocab. No second merge machinery: after training, the
# word table (wid -> syms) IS the encoding of every distinct word, so
# encode = one corpus scan joined to the vocab-bounded word table on the
# term (broadcast/term-keyed at web scale), then two aggregates. Oracle:
# the trainer's unrolled SQL continued through the same join.
# ---------------------------------------------------------------------------


@query(
    "text_bpe_encode_stats",
    oracle=f"""
    WITH dtoks AS (
      SELECT doc_id, source, unnest({_TOK}) AS w FROM documents),
    toks AS (SELECT w FROM dtoks),
    words_0 AS (
      SELECT w AS wid, COUNT(*) AS cnt,
             list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
      FROM toks GROUP BY w),
    {",".join(_bpe_round_sql(k) for k in range(_BPE_ROUNDS))},
    sub AS (SELECT wid, len(syms) AS n_sub FROM words_{_BPE_ROUNDS}),
    enc AS (
      SELECT t.doc_id, t.source, length(t.w) AS n_chr, s.n_sub
      FROM dtoks t JOIN sub s ON t.w = s.wid)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_tokens,
           CAST(SUM(n_sub) AS BIGINT) AS total_subwords,
           round(CAST(SUM(n_sub) AS DOUBLE) / COUNT(*), 6) AS fertility,
           round(CAST(SUM(n_chr) AS DOUBLE) / SUM(n_sub), 6) AS chars_per_subword
    FROM enc GROUP BY source
    """,
)
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, _ = _bpe_fit(spark, sf_dir)
    sub = words.select("wid", F.size("syms").alias("n_sub"))
    docs = table(spark, sf_dir, "documents")
    dtoks = docs.select("doc_id", "source", F.explode(X.tokens()).alias("w"))
    enc = dtoks.join(sub, dtoks.w == sub.wid).select(
        "doc_id", "source", F.length("w").alias("n_chr"), "n_sub"
    )
    return enc.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("total_tokens"),
        F.sum("n_sub").cast("bigint").alias("total_subwords"),
        F.round(F.sum("n_sub").cast("double") / F.count("*"), 6).alias("fertility"),
        F.round(F.sum("n_chr").cast("double") / F.sum("n_sub"), 6).alias(
            "chars_per_subword"
        ),
    )


# ---------------------------------------------------------------------------
# Interpolated bigram log-probability scoring: rank documents by the mean
# log of lambda*p(w2|w1) + (1-lambda)*p(w2) over their adjacent token
# pairs — the LM-quality upgrade over text_unigram_logprob (catches
# shuffled/unnatural word ORDER that unigram stats cannot). Shapes: the
# bigram stream comes from ONE posexplode + per-doc lead window (the BPE
# pair shape over raw tokens); the bigram/unigram count tables are
# corpus-vocab-sized and broadcast back onto the pair stream (term-keyed
# shuffle joins at web scale). round-8 on the libm ln, doc filter keeps
# the bench-cost bounded.
# ---------------------------------------------------------------------------

_BIGRAM_LAMBDA = 0.75


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts({_TOK}, 1) AS i, unnest({_TOK}) AS w
      FROM documents WHERE doc_id < 1000),
    pairs AS (
      SELECT doc_id, w AS w1,
             LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM toks),
    bg AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs WHERE w2 IS NOT NULL GROUP BY 1, 2),
    uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
    tot AS (SELECT SUM(c1) AS n FROM uni)
    SELECT p.doc_id,
           COUNT(*) AS n_bigrams,
           round(AVG(ln({_BIGRAM_LAMBDA} * (bg.c2 * 1.0 / u1.c1)
                        + {1 - _BIGRAM_LAMBDA} * (u2.c1 * 1.0 / tot.n))), 8)
             AS avg_logprob
    FROM pairs p
    JOIN bg ON bg.w1 = p.w1 AND bg.w2 = p.w2
    JOIN uni u1 ON u1.w = p.w1
    JOIN uni u2 ON u2.w = p.w2
    CROSS JOIN tot
    WHERE p.w2 IS NOT NULL
    GROUP BY p.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    toks = docs.select(
        "doc_id", F.posexplode(X.tokens()).alias("i", "w")
    ).localCheckpoint()  # pair stream + unigram counts read it twice
    w = W.partitionBy("doc_id").orderBy("i")
    pairs = toks.withColumn("w2", F.lead("w").over(w)).filter(
        F.col("w2").isNotNull()
    ).select("doc_id", F.col("w").alias("w1"), "w2")
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c1"))
    total = uni.agg(F.sum("c1")).first()[0]  # scalar
    lam = _BIGRAM_LAMBDA
    p = (
        # bigram/unigram count tables are (bi)gram-vocab-scaled — no
        # hints: AQE broadcasts locally, term-keyed shuffles at scale
        pairs.join(bg, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c_w1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c_w2"), "w2")
    )
    score = F.log(
        lam * (F.col("c2") / F.col("c_w1"))
        + (1 - lam) * (F.col("c_w2") / F.lit(float(total)))
    )
    return p.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(score), 8).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# PMI collocation mining: corpus-level top word pairs by pointwise mutual
# information with a minimum-count floor — the word2vec-phrases step that
# decides which bigrams become single tokens before training. Same pair
# stream as the bigram LM; counts broadcast back; global top-20 rides
# TakeOrderedAndProject. PMI = ln(N * c(w1,w2) / (c(w1) * c(w2))) over
# pair-position totals.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 30


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts({_TOK}, 1) AS i, unnest({_TOK}) AS w
      FROM documents),
    pairs AS (
      SELECT doc_id, w AS w1,
             LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM toks),
    bg AS (
      SELECT w1, w2, COUNT(*) AS n FROM pairs WHERE w2 IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT SUM(n) AS np FROM bg),
    m1 AS (SELECT w1 AS w, SUM(n) AS c FROM bg GROUP BY w1),
    m2 AS (SELECT w2 AS w, SUM(n) AS c FROM bg GROUP BY w2),
    scored AS (
      SELECT bg.w1, bg.w2, bg.n,
             ln(tot.np * bg.n * 1.0 / (m1.c * m2.c)) AS pmi
      FROM bg
      JOIN m1 ON m1.w = bg.w1
      JOIN m2 ON m2.w = bg.w2
      CROSS JOIN tot
      WHERE bg.n >= {_PMI_MIN_COUNT}),
    ranked AS (
      SELECT w1, w2, n, pmi,
             ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
      FROM scored)
    SELECT w1, w2, CAST(n AS BIGINT) AS n, round(pmi, 8) AS pmi,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(X.tokens()).alias("i", "w"))
    w = W.partitionBy("doc_id").orderBy("i")
    pairs = (
        toks.withColumn("w2", F.lead("w").over(w))
        .filter(F.col("w2").isNotNull())
        .select(F.col("w").alias("w1"), "w2")
    )
    bg = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n")).localCheckpoint()
    np_total = bg.agg(F.sum("n")).first()[0]  # scalar pair-position count
    m1 = bg.groupBy("w1").agg(F.sum("n").alias("c1"))
    m2 = bg.groupBy("w2").agg(F.sum("n").alias("c2"))
    scored = (
        bg.filter(F.col("n") >= _PMI_MIN_COUNT)
        # marginal tables are vocab-scaled — no broadcast hints
        .join(m1, "w1")
        .join(m2, "w2")
        .select(
            "w1",
            "w2",
            "n",
            F.log(
                F.lit(float(np_total)) * F.col("n") / (F.col("c1") * F.col("c2"))
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(20)
    rw = W.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.select(
        "w1",
        "w2",
        F.col("n").cast("bigint").alias("n"),
        F.round("pmi", 8).alias("pmi"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate-span coverage (the Lee et al. 2022
# "Deduplicating Training Data" measure, cross-document form): a span is
# the md5 of 8 consecutive tokens; a span duplicated across >= 2 distinct
# docs marks its 8 token positions as duplicated, and per-doc coverage is
# the UNION length of those fixed-width intervals (consecutive-position
# merge: each dup position contributes min(8, gap-to-next), the last
# contributes 8). Scale shape: explode to (doc, pos, hash) rows, one
# hash-keyed groupBy for the cross-doc dup set, a hash-keyed semi-join
# back, then a PER-DOC window (hash-partitioned on doc_id, rows bounded
# by doc length) — no global window, no driver work, every shuffle keyed.
# ---------------------------------------------------------------------------

_SPAN_W = 8


@query(
    "text_dup_span_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOK} AS w FROM documents),
    spans AS (
      SELECT doc_id, source, i AS pos,
             md5(array_to_string(array_slice(w, i, i + {_SPAN_W - 1}), ' ')) AS h
      FROM tok, UNNEST(generate_series(1, len(w) - {_SPAN_W - 1})) AS t(i)
      WHERE len(w) >= {_SPAN_W}),
    dup AS (
      SELECT h FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    dspans AS (
      SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (h)),
    gaps AS (
      SELECT doc_id, pos,
             LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM dspans),
    cov AS (
      SELECT doc_id,
             SUM(LEAST({_SPAN_W}, COALESCE(nxt - pos, {_SPAN_W}))) AS covered
      FROM gaps GROUP BY doc_id),
    toks AS (SELECT doc_id, source, len(w) AS n_tok FROM tok)
    SELECT t.source,
           COUNT(*) AS n_docs,
           COUNT(c.doc_id) AS n_docs_with_dup_span,
           CAST(COALESCE(SUM(c.covered), 0) AS BIGINT) AS covered_tokens,
           CAST(SUM(t.n_tok) AS BIGINT) AS total_tokens,
           round(CAST(COALESCE(SUM(c.covered), 0) AS DOUBLE)
                 / nullif(CAST(SUM(t.n_tok) AS DOUBLE), 0), 8) AS dup_ratio
    FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id
    GROUP BY t.source
    """,
)
def text_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators.dedup import span_rows_pandas

    docs = table(spark, sf_dir, "documents")
    # ONE Arrow kernel pass (operators/dedup.py span_rows_pandas — the
    # JVM HOF composition was 16.4 s vs ~4 s at sf1), consumed ONCE:
    # the cross-doc dup flag is min(id)!=max(id) over a window keyed on
    # the span hash instead of a groupBy + semi-join back, so the kernel
    # output is never re-executed (no exchange reuse across pandas
    # subtrees) and never checkpointed. Two keyed shuffles total
    # (h, then doc); per-h work is bounded by the span's posting list.
    spans = span_rows_pandas(docs, n=_SPAN_W)
    wh = W.partitionBy("h")
    dspans = (
        spans.withColumn("mn", F.min("id").over(wh))
        .withColumn("mx", F.max("id").over(wh))
        .filter(F.col("mn") != F.col("mx"))
        .select("id", "pos")
    )
    win = W.partitionBy("id").orderBy("pos")
    cov = (
        dspans.withColumn("nxt", F.lead("pos").over(win))
        .groupBy("id")
        .agg(
            F.sum(
                F.least(
                    F.lit(_SPAN_W),
                    F.coalesce(F.col("nxt") - F.col("pos"), F.lit(_SPAN_W)),
                )
            ).alias("covered")
        )
        .withColumnRenamed("id", "doc_id")
    )
    per_doc = docs.select("doc_id", "source", X.token_count().alias("n_tok"))
    covered_sum = F.coalesce(F.sum("covered"), F.lit(0))
    return (
        per_doc.join(cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("covered").alias("n_docs_with_dup_span"),
            covered_sum.cast("bigint").alias("covered_tokens"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(
                covered_sum.cast("double")
                / F.nullif(F.sum("n_tok").cast("double"), F.lit(0.0)),
                8,
            ).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Feature hashing (hashing-TF, Weinberger et al.): terms map straight to
# D=64 buckets via md5 — NO vocabulary table, NO term-id join, which is
# the whole point at 100 TB: the only shuffle is the (source, bucket)
# aggregate over at most |sources|*D partial rows per task (map-side
# combine collapses the exploded terms immediately). n_terms tracks
# bucket collision load.
# ---------------------------------------------------------------------------

_HTF_D = 64


@query(
    "text_hashing_tf",
    oracle=f"""
    WITH terms AS (
      SELECT source, UNNEST({_TOK}) AS term FROM documents)
    SELECT source,
           CAST(('0x' || substr(md5(term), 1, 8))::BIGINT % {_HTF_D} AS BIGINT)
             AS bucket,
           COUNT(*) AS tf,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
    FROM terms GROUP BY 1, 2
    """,
)
def text_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    terms = docs.select("source", F.explode(X.tokens()).alias("term"))
    # hash AFTER the (source, term) pre-aggregate: md5 runs once per
    # DISTINCT term per source (vocab scale) instead of once per token
    # occurrence (corpus scale) — 3.1 s -> 1.7 s at sf1; the
    # extra term-keyed shuffle is map-side-combined to vocab size. The
    # bucket aggregate then needs no count_distinct (each input row IS
    # one distinct term).
    per_term = terms.groupBy("source", "term").agg(F.count("*").alias("n"))
    bucket = (
        F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint") % _HTF_D
    )
    return per_term.groupBy("source", bucket.alias("bucket")).agg(
        F.sum("n").alias("tf"),
        F.count("*").cast("bigint").alias("n_terms"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009): the
# sparse BM25 list and a dense cosine list over the SAME corpus are fused
# as rrf = sum over lists of 1/(60 + rank) — the standard hybrid-search
# combiner (lexical recall + semantic recall, no score calibration
# needed). Sparse side reuses the _bm25_scored core; dense side is the
# brute_force_topk operator (query vector = embedding 0 — stands in for
# the encoded query text; production swaps in the encoder output). A doc
# missing from a list contributes 0, ranks are reported with 0 = "not in
# that list's top-L".
#
# Float parity: ranks are engine-exact integers (both underlying
# orderings already hash-match: BM25 score is a fixed IEEE tree, cosine
# is rounded to 6 with id tie-break), and the fused score is one
# division+addition tree over those integers — deterministic in IEEE.
# Scale: both lists are top-L (TakeOrdered / per-batch local top-k) — the
# fusion join touches <= 2L rows regardless of corpus size.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_L = 50  # per-list depth
_RRF_OUT = 10


@query(
    "text_hybrid_rrf_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    lens AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({_BM25_IN}) GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    bscored AS (
      SELECT tf.doc_id,
             SUM(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * lens.dl / s.avgdl))
             ) AS score
      FROM tf
      JOIN df USING (term)
      JOIN lens USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id),
    sparse AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        FROM bscored) t WHERE rank <= {_RRF_L}),
    dscored AS (
      SELECT c.vec_id AS doc_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings q JOIN embeddings c ON q.vec_id = 0 AND c.vec_id <> 0),
    dense AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id ASC) AS rank
        FROM dscored) t WHERE rank <= {_RRF_L}),
    fused AS (
      SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
             COALESCE(s.rank, 0) AS bm25_rank,
             COALESCE(d.rank, 0) AS dense_rank,
             COALESCE(1.0 / ({_RRF_K} + s.rank), 0)
               + COALESCE(1.0 / ({_RRF_K} + d.rank), 0) AS rrf_score
      FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id)
    SELECT doc_id, CAST(bm25_rank AS BIGINT) AS bm25_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rank
    FROM fused
    QUALIFY rank <= {_RRF_OUT}
    """,
)
def text_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators import similarity as S

    from concurrent.futures import ThreadPoolExecutor

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")

    def sparse_leg():
        btop = (
            _bm25_scored(docs).orderBy(F.desc("score"), F.asc("doc_id")).limit(_RRF_L)
        )
        return btop.select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("rank"),
        ).localCheckpoint()  # <= L rows: the fusion must never re-run a leg

    def dense_leg():
        return (
            S.brute_force_topk(emb.filter(F.col("vec_id") == 0), emb, k=_RRF_L)
            .select(
                F.col("neighbor_id").alias("doc_id"),
                F.col("rank").cast("int").alias("rank"),
            )
            .localCheckpoint()  # <= L rows
        )

    # the two retrieval legs are independent job DAGs over different
    # tables — submit both and let the scheduler interleave their stages
    # across the executor cores (wall = max(legs), not sum)
    with ThreadPoolExecutor(2) as pool:
        fs, fd = pool.submit(sparse_leg), pool.submit(dense_leg)
        sparse, dense = fs.result(), fd.result()
    return _rrf_fuse(sparse, dense)


def _rrf_fuse(sparse: DataFrame, dense: DataFrame) -> DataFrame:
    """Fuse two <=L-row (doc_id, rank) lists by reciprocal-rank score."""
    s, d = sparse.alias("s"), dense.alias("d")
    fused = s.join(d, F.col("s.doc_id") == F.col("d.doc_id"), "full_outer").select(
        F.coalesce(F.col("s.doc_id"), F.col("d.doc_id")).alias("doc_id"),
        F.coalesce(F.col("s.rank"), F.lit(0)).cast("bigint").alias("bm25_rank"),
        F.coalesce(F.col("d.rank"), F.lit(0)).cast("bigint").alias("dense_rank"),
        (
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("s.rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("d.rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    # <= 2L fused rows: the global rank window is constant-sized
    rw = W.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rank") <= _RRF_OUT)
    )


# ---------------------------------------------------------------------------
# Persisted BM25 inverted index: the build-once / query-many production
# shape (same pattern as ann_ivf_topk_persisted — persisting the index
# changes COST, not ANSWERS, so both variants share one oracle). The
# index is the classic inverted file: per-(term, doc) postings carrying
# (tf, dl), range-partitioned and sorted by term so a probe's
# term-IN-list prunes parquet files and row groups via min/max stats —
# a 3-term query reads a vocabulary-local slice of the index, never the
# corpus. Stats ride a 1-row side file as EXACT integers (n_docs, sum_dl),
# not a pre-divided avg: stats of several indexes (a base and its delta,
# or one per ingest epoch) then add without float error, and the probe's
# one division reproduces the full-corpus AVG(dl) bit-for-bit. At 100 TB
# the index build is the one corpus-scale job (the same tokenize+groupBy
# the per-query form pays EVERY time), amortized across every query
# after. A derived artifact of documents.parquet (``io.derived``).
# ---------------------------------------------------------------------------


def _bm25_postings(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) postings of every token of ``docs``."""
    toks = docs.select("doc_id", F.explode(X.tokens()).alias("term"))
    lens = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return tf.join(lens, "doc_id").select("term", "doc_id", "tf", "dl")


def _bm25_stats(postings: DataFrame) -> DataFrame:
    """The exact integer stats row (n_docs, sum_dl) of ``postings``."""
    return postings.select("doc_id", "dl").distinct().agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )


def _bm25_index(
    spark: SparkSession, sf_dir: str, name: str, where: str = "true"
) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) of the persisted index over the documents
    matching the SQL filter ``where``, cached as artifact ``name``."""
    import os

    def build(out: str) -> None:
        # checkpoint BEFORE repartitionByRange: the range partitioner
        # SAMPLES its input first, so an un-materialized join pipeline
        # would tokenize the corpus twice (the r5 token-budget lesson —
        # measured 253 s -> ~60 s for this build at sf10)
        flat = _bm25_postings(
            table(spark, sf_dir, "documents").filter(where)
        ).localCheckpoint()
        (
            flat.repartitionByRange(32, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .parquet(os.path.join(out, "postings"))
        )
        _bm25_stats(flat).write.mode("overwrite").parquet(
            os.path.join(out, "stats")
        )

    src = os.path.join(sf_dir, "documents.parquet")
    idx = derived(name, [src], build, where)
    return (
        read_parquet(spark, os.path.join(idx, "postings")),
        read_parquet(spark, os.path.join(idx, "stats")),
    )


def _bm25_scored_from_index(postings: DataFrame, stats: DataFrame) -> DataFrame:
    """Probe-side twin of _bm25_scored: same (doc_id, score, n_terms)
    contract and the same IEEE expression tree, candidates coming from a
    term-pruned postings scan instead of a corpus pass. ``stats`` rows
    (n_docs, sum_dl) are summed, so the stats of several indexes merge
    exactly; avgdl = sum_dl / n_docs."""
    post = postings.filter(F.col("term").isin(*_BM25_TERMS))
    corpus = stats.agg(
        F.sum("n_docs").cast("double").alias("n_docs"),
        (F.sum("sum_dl").cast("double") / F.sum("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    dft = post.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = post.join(F.broadcast(dft), "term").crossJoin(F.broadcast(corpus))
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    return scored.groupBy("doc_id").agg(
        F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom).alias("score"),
        F.count("*").alias("n_terms"),
    )


from brooklin_spark import registry as _registry  # noqa: E402


@query("text_bm25_search_persisted", oracle=_registry.ORACLES["text_bm25_search"])
def text_bm25_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    index = _bm25_index(spark, sf_dir, "bm25_idx")
    return _bm25_top20(_bm25_scored_from_index(*index))


@query(
    "text_hybrid_rrf_search_persisted",
    oracle=_registry.ORACLES["text_hybrid_rrf_search"],
)
def text_hybrid_rrf_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from brooklin_spark.operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")

    def sparse_leg():
        btop = (
            _bm25_scored_from_index(*_bm25_index(spark, sf_dir, "bm25_idx"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(_RRF_L)
        )
        return btop.select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
            .alias("rank"),
        ).localCheckpoint()

    def dense_leg():
        return (
            S.brute_force_topk(emb.filter(F.col("vec_id") == 0), emb, k=_RRF_L)
            .select(
                F.col("neighbor_id").alias("doc_id"),
                F.col("rank").cast("int").alias("rank"),
            )
            .localCheckpoint()
        )

    with ThreadPoolExecutor(2) as pool:
        fs, fd = pool.submit(sparse_leg), pool.submit(dense_leg)
        sparse, dense = fs.result(), fd.result()
    return _rrf_fuse(sparse, dense)


# ---------------------------------------------------------------------------
# N-gram novelty profile: per document, the share of its distinct trigram
# shingles appearing for the FIRST time in doc_id order — the corpus-
# diversity/memorization metric curation pipelines track as data grows
# (a falling novelty curve means new data is re-treading old n-grams).
# Shape: the proven shingle kernel, one groupBy(shingle) min(doc_id)
# (corpus-scale shuffle with map-side combine), one join back on shingle,
# one per-doc reduce — no self-join, no pair table, linear in corpus size.
# ---------------------------------------------------------------------------


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH {{shingles}},
    first AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
    per AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM sh JOIN first f USING (shingle)
      GROUP BY sh.doc_id)
    SELECT doc_id, n_shingles, n_novel,
           round(CAST(n_novel AS DOUBLE) / n_shingles, 8) AS novelty_ratio
    FROM per
    """.format(shingles=G.shingle_cte(3).strip().lstrip()),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    # r9-opt: aggregate instead of join-back (guide §2.3). n_novel(doc) is
    # just a COUNT over groupBy(shingle).min(doc_id) regrouped by that min —
    # the old shape joined the corpus-scale shingle rows back against the
    # first-occurrence table (SMJ) and re-aggregated the joined corpus by
    # doc_id: two extra corpus-scale operators buying nothing. The shingle
    # rows come from ONE mapInPandas kernel pass (interpreted array HOFs
    # lose ~3x to the Arrow kernel) carrying the per-doc set size n on
    # every row; the checkpoint makes both consumers read that single pass.
    # groupBy("id") rides the kernel's hash(id) repartition — no exchange.
    # b2b sf0.1: 1.76 -> 1.09 s; value-identical (incl. n_novel=0 docs).
    sh = D.shingle_rows_pandas(docs, n=3).localCheckpoint(eager=False)
    counts = sh.groupBy("id").agg(F.first("n").cast("bigint").alias("n_shingles"))
    first = sh.groupBy("shingle").agg(F.min("id").alias("first_doc"))
    novel = first.groupBy("first_doc").agg(F.count("*").alias("n_novel"))
    return (
        counts.join(novel, counts.id == novel.first_doc, "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty_ratio",
            F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 8),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language: subwords-per-word and chars-per-subword
# from exact integer sums — the standard tokenizer-evaluation report a
# pretraining pipeline runs before committing to a vocabulary (high fertility
# on a language means the tokenizer fragments it and the model pays more
# sequence positions per sentence). One scan, one |langs|-row groupBy with
# map-side partial aggregation; every ratio is a double of two exact bigint
# sums, so cross-engine equality is exact.
# ---------------------------------------------------------------------------


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             len({_TOK}) AS words,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS subwords,
             length(text) AS chars
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS total_words,
           CAST(SUM(subwords) AS BIGINT) AS total_subwords,
           CAST(SUM(subwords) AS DOUBLE) / SUM(words) AS fertility,
           CAST(SUM(chars) AS DOUBLE) / SUM(subwords) AS chars_per_subword
    FROM d GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE-pass Arrow kernel (r9, retires the last 2.1x sf10 row): the JVM
    # route paid 4 regex passes over every corpus byte (collapse+delete
    # per counter); the kernel classifies bytes once per batch and emits
    # only |langs|-scale PARTIAL sums (map-side combine in Python), so
    # the JVM-side groupBy aggregates a few rows per batch. 8.7 -> ~2 s
    # at sf10; integer sums unchanged, so every ratio stays engine-exact.
    from brooklin_spark.operators.textstats import fertility_partials_pandas

    docs = table(spark, sf_dir, "documents")
    part = fertility_partials_pandas(docs)
    return part.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("total_words"),
        F.sum("subwords").cast("bigint").alias("total_subwords"),
        (F.sum("subwords").cast("double") / F.sum("words")).alias("fertility"),
        (F.sum("chars").cast("double") / F.sum("subwords")).alias(
            "chars_per_subword"
        ),
    )


# ---------------------------------------------------------------------------
# Wilson-lower-bound source ranking: rank sources by the fraction of their
# documents passing the quality gate, scored with the Wilson score interval's
# lower bound at z=1.96 so a source with 3/3 passing does NOT outrank one
# with 180/200 (small samples get pulled toward 0.5). The confidence-aware
# twin of a naive pass-rate ranking — the shape a curation pipeline uses to
# decide which domains to crawl deeper. One scan + |sources|-row groupBy;
# the pass flag reuses text_quality_score's composite exactly, and the
# Wilson arithmetic is written in the same operation order in both engines
# (sqrt is IEEE-correctly-rounded, so the doubles match bit-for-bit).
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96
_WILSON_QUALITY_GATE = 0.45


@query(
    "quality_wilson_source_ranking",
    oracle=f"""
    WITH d AS (
      SELECT source,
             len({_TOK}) AS n_tokens,
             len(list_distinct({_TOK})) AS n_distinct,
             len(list_filter({_TOK}, x -> list_contains({_STOP['en']}, x))) AS stop_hits
      FROM documents),
    scored AS (
      SELECT source,
             CASE WHEN 0.5 * least(n_tokens / 100.0, 1.0)
                     + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
                     + 0.2 * least(5.0 * stop_hits / n_tokens, 1.0)
                     >= {_WILSON_QUALITY_GATE} THEN 1 ELSE 0 END AS pass
      FROM d WHERE n_tokens > 0),
    agg AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(pass) AS BIGINT) AS n_pass,
             CAST(SUM(pass) AS DOUBLE) / COUNT(*) AS p
      FROM scored GROUP BY source)
    SELECT source, n_docs, n_pass, p AS pass_rate,
           round((p + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n_docs)
                  - {_WILSON_Z} * sqrt((p * (1.0 - p)
                      + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n_docs)) / n_docs))
                 / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n_docs), 6) AS wilson_lb
    FROM agg
    """,
)
def quality_wilson_source_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_tok = X.token_count()
    n_dis = X.distinct_token_count()
    stop = X.stopword_hits(lang="en")
    quality = (
        0.5 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (n_dis.cast("double") / n_tok)
        + 0.2 * F.least(5.0 * stop / n_tok, F.lit(1.0))
    )
    scored = docs.filter(n_tok > 0).select(
        "source",
        F.when(quality >= _WILSON_QUALITY_GATE, 1).otherwise(0).alias("pass"),
    )
    agg = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("pass").cast("bigint").alias("n_pass"),
        (F.sum("pass").cast("double") / F.count("*")).alias("p"),
    )
    z = _WILSON_Z
    n = F.col("n_docs")
    p = F.col("p")
    wilson = (
        p + z * z / (2.0 * n)
        - z * F.sqrt((p * (1.0 - p) + z * z / (4.0 * n)) / n)
    ) / (1.0 + z * z / n)
    return agg.select(
        "source",
        "n_docs",
        "n_pass",
        p.alias("pass_rate"),
        F.round(wilson, 6).alias("wilson_lb"),
    )


# ---------------------------------------------------------------------------
# Incremental BM25 index refresh — the index-lifecycle shape production
# retrieval runs daily: the PERSISTED base index (80% of the corpus,
# doc_id % 5 != 0) is read as-is, only the 20% delta batch tokenizes, and
# the probe unions base postings with delta postings under EXACTLY merged
# stats (see the persisted-index comment). Work per refresh is O(delta),
# never O(corpus); the answer provably equals a from-scratch build — the
# oracle IS the full-corpus BM25. The base is _bm25_index over the base
# filter, cached under its own artifact name.
# ---------------------------------------------------------------------------

_BMIR_MOD = 5  # delta = doc_id % 5 == 0 (~20% of the corpus)


@query("text_bm25_index_refresh", oracle=_registry.ORACLES["text_bm25_search"])
def text_bm25_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    base_post, base_stats = _bm25_index(
        spark, sf_dir, "bm25_base", f"doc_id % {_BMIR_MOD} != 0"
    )

    # O(delta): only the new batch tokenizes on a refresh
    delta = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _BMIR_MOD == 0
    )
    toks = delta.select("doc_id", F.explode(X.tokens()).alias("term"))
    lens = toks.groupBy("doc_id").agg(F.count("*").alias("dl")).localCheckpoint()
    tf = toks.filter(F.col("term").isin(*_BM25_TERMS)).groupBy(
        "doc_id", "term"
    ).agg(F.count("*").alias("tf"))
    delta_post = tf.join(lens, "doc_id").select("term", "doc_id", "tf", "dl")
    delta_stats = lens.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    scored = _bm25_scored_from_index(
        base_post.unionByName(delta_post), base_stats.unionByName(delta_stats)
    )
    return _bm25_top20(scored)


# ---------------------------------------------------------------------------
# Positional phrase search: exact phrase matching ("table hash" as adjacent
# tokens) via POSITIONAL postings — the retrieval feature a tf-only index
# (BM25) cannot answer. Plan shape: the corpus tokenizes once with
# positions, the two phrase terms filter BEFORE any join (the postings of
# two terms, not the corpus), and adjacency is an equi-join on
# (doc_id, pos + 1) — keyed, never positional-window. Per-doc occurrence
# counts rank the hits; ties break on doc_id.
# ---------------------------------------------------------------------------

_PHRASE = ("table", "hash")


@query(
    "text_phrase_search_positional",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_hits
      FROM tok, UNNEST(generate_series(1, len(w) - 1)) t(i)
      WHERE w[i] = '{_PHRASE[0]}' AND w[i + 1] = '{_PHRASE[1]}'
      GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, n_hits,
             ROW_NUMBER() OVER (ORDER BY n_hits DESC, doc_id ASC) AS rank
      FROM hits)
    SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def text_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(X.tokens()).alias("pos", "term")
    ).filter(F.col("term").isin(*_PHRASE))
    a = pos.filter(F.col("term") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = pos.filter(F.col("term") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pa")
    )
    hits = a.join(b, ["doc_id", "pa"]).groupBy("doc_id").agg(
        F.count("*").alias("n_hits")
    )
    top = hits.orderBy(F.desc("n_hits"), F.asc("doc_id")).limit(20)
    rw = W.orderBy(F.desc("n_hits"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the top-K vocabulary
# terms — the standard corpus-health probe (a natural-language corpus sits
# near slope -1; templated/synthetic spam flattens it, boilerplate steepens
# it). Scale: term frequencies are a vocab-keyed groupBy (sublinear in
# corpus bytes), the top-K is TakeOrderedAndProject (per-partition heaps +
# one K-row driver merge, no global sort), and the OLS folds K rows into
# five scalar sums. Per-term ln() rounds to 8 decimals BEFORE the sums so
# both engines fold the identical value grid (fold-order noise ~1e-12 <<
# the final round-6 grid).
# ---------------------------------------------------------------------------

_ZIPF_K = 1000


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY term),
    topk AS (
      SELECT term, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
      FROM tf
      ORDER BY freq DESC, term ASC LIMIT {_ZIPF_K}),
    pts AS (
      SELECT round(ln(rank), 8) AS x, round(ln(freq), 8) AS y FROM topk),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts)
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(X.tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    topk = tf.orderBy(F.desc("freq"), F.asc("term")).limit(_ZIPF_K)
    rw = W.orderBy(F.desc("freq"), F.asc("term"))
    pts = topk.select(
        F.round(F.log(F.row_number().over(rw).cast("double")), 8).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 8).alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Heaps-law curve: cumulative vocabulary size vs cumulative token count
# across ten corpus-order slices (deciles of the doc_id order). The
# classic way needs a sequential scan (vocab after each prefix); the
# distributed form observes that a term enters the vocabulary exactly at
# its FIRST-occurrence document, so: decile(doc) via the distributed
# global rank (no single-partition window), first_decile(term) = min
# decile over its postings (one vocab-keyed groupBy), and the cumulative
# curve is a running sum over TEN rows (bounded window, whitelisted).
# One corpus scan + one vocab groupBy at any corpus size.
# ---------------------------------------------------------------------------


@query(
    "text_heaps_law_curve",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, {_TOK} AS toks,
             ROW_NUMBER() OVER (ORDER BY doc_id ASC) AS rn,
             COUNT(*) OVER () AS total
      FROM documents),
    bucketed AS (
      SELECT doc_id, toks, ((rn - 1) * 10 // total) + 1 AS decile FROM ranked),
    doc_tokens AS (
      SELECT decile, SUM(len(toks)) AS toks_in_decile
      FROM bucketed GROUP BY decile),
    firstocc AS (
      SELECT term, MIN(decile) AS first_decile
      FROM (SELECT decile, unnest(toks) AS term FROM bucketed)
      GROUP BY term),
    new_vocab AS (
      SELECT first_decile AS decile, COUNT(*) AS new_terms
      FROM firstocc GROUP BY first_decile)
    SELECT d.decile,
           CAST(SUM(d.toks_in_decile)
                OVER (ORDER BY d.decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens,
           CAST(SUM(COALESCE(v.new_terms, 0))
                OVER (ORDER BY d.decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_vocab
    FROM doc_tokens d LEFT JOIN new_vocab v ON v.decile = d.decile
    ORDER BY d.decile
    """,
)
def text_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brooklin_spark.operators.distrank import global_row_number

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens().alias("toks")
    )
    ranked = global_row_number(
        docs, [F.col("doc_id").asc()], out="rn", total_out="total"
    )
    bucketed = ranked.select(
        "toks",
        (((F.col("rn") - 1) * 10 / F.col("total")).cast("bigint") + 1).alias(
            "decile"
        ),
    ).localCheckpoint()  # feeds BOTH aggregates below; rank must not re-derive
    doc_tokens = bucketed.groupBy("decile").agg(
        F.sum(F.size("toks")).alias("toks_in_decile")
    )
    firstocc = (
        bucketed.select("decile", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("new_terms"))
    )
    # ten-row cumulative window (bounded metadata — plan-audit whitelist)
    joined = doc_tokens.join(firstocc, "decile", "left").select(
        "decile",
        "toks_in_decile",
        F.coalesce("new_terms", F.lit(0)).alias("new_terms"),
    )
    cw = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        joined.select(
            "decile",
            F.sum("toks_in_decile").over(cw).cast("bigint").alias("cum_tokens"),
            F.sum("new_terms").over(cw).cast("bigint").alias("cum_vocab"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Lexical-diversity profile per source: type-token ratio and hapax ratio —
# the cheap dials that catch template farms (low TTR) and OCR noise (high
# hapax share) before any model-based scoring. Per-(source, term) counts
# are one vocab-keyed groupBy; everything downstream is |sources| rows.
# Ratios come from exact integer sums, divided once and rounded.
# ---------------------------------------------------------------------------


@query(
    "text_ttr_per_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOK}) AS term FROM documents),
    st AS (
      SELECT source, term, COUNT(*) AS cnt FROM tok GROUP BY source, term)
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(COUNT(*) * 1.0 / SUM(cnt), 6) AS ttr,
           round(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS hapax_ratio
    FROM st GROUP BY source
    """,
)
def text_ttr_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(X.tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("cnt"))
    )
    return st.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.round(F.count("*") / F.sum("cnt"), 6).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)) / F.count("*"), 6
        ).alias("hapax_ratio"),
    )


# ---------------------------------------------------------------------------
# Sentence segmentation stats: per-source sentence counts / lengths from a
# regex sentence split ([.!?]+ boundaries) — the pre-tokenization profile
# a curation pipeline reads to catch boilerplate (many short sentences)
# and run-on extraction noise (few giant ones). Pure Catalyst: split +
# explode + two-level aggregate; one corpus scan, token-free.
# ---------------------------------------------------------------------------


@query(
    "text_sentence_stats",
    oracle="""
    WITH sent AS (
      SELECT source, trim(s) AS s
      FROM documents, unnest(regexp_split_to_array(text, '[.!?]+')) AS t(s)
      WHERE trim(s) <> ''),
    sized AS (
      SELECT source, s,
             length(list_filter(string_split(s, ' '), x -> x <> '')) AS n_words,
             length(s) AS n_chars
      FROM sent)
    SELECT source,
           COUNT(*) AS n_sentences,
           round(AVG(CAST(n_words AS DOUBLE)), 6) AS avg_words,
           CAST(MAX(n_words) AS BIGINT) AS max_words,
           round(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
    FROM sized GROUP BY source
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sent = (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), r"[.!?]+")).alias("raw"),
        )
        .select("source", F.trim(F.col("raw")).alias("s"))
        .filter(F.col("s") != "")
    )
    sized = sent.select(
        "source",
        F.size(F.filter(F.split(F.col("s"), " "), lambda x: x != "")).alias(
            "n_words"
        ),
        F.length("s").alias("n_chars"),
    )
    return sized.groupBy("source").agg(
        F.count("*").alias("n_sentences"),
        F.round(F.avg(F.col("n_words").cast("double")), 6).alias("avg_words"),
        F.max("n_words").cast("bigint").alias("max_words"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# IDF drift between corpus halves: vocabulary whose document frequency
# shifts most between the first and second half of the corpus (by doc_id —
# the ingest-order proxy) — the cheap lexical-drift monitor a continuously
# ingested corpus runs next to the distributional PSI check
# (drift_psi_report). Fact-scale work is one distinct-(doc, token) pass;
# everything after is vocabulary-scale. Smoothed idf = ln((N+1)/(df+1));
# both engines divide/ln identical integers, so the doubles are
# bit-equal before rounding.
# ---------------------------------------------------------------------------

_IDF_MIN_DF = 5


@query(
    "text_idf_drift",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    toks AS (
      SELECT DISTINCT doc_id, unnest({_TOK}) AS token,
             CASE WHEN doc_id < (SELECT n // 2 FROM n) THEN 0 ELSE 1 END AS half
      FROM documents),
    df AS (
      SELECT token,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS df_early,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS df_late
      FROM toks GROUP BY token
      HAVING df_early >= {_IDF_MIN_DF} AND df_late >= {_IDF_MIN_DF}),
    scored AS (
      SELECT token, df_early, df_late,
             ln(((SELECT n // 2 FROM n) + 1.0) / (df_early + 1.0))
               - ln(((SELECT n - n // 2 FROM n) + 1.0) / (df_late + 1.0))
               AS delta
      FROM df),
    ranked AS (
      SELECT token, df_early, df_late, delta,
             ROW_NUMBER() OVER (ORDER BY abs(delta) DESC, token ASC) AS rank
      FROM scored)
    SELECT token, CAST(df_early AS BIGINT) AS df_early,
           CAST(df_late AS BIGINT) AS df_late,
           round(delta, 6) AS idf_delta,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def text_idf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_total = docs.count()  # bounded: one scalar, drives literal halves
    n_early, n_late = n_total // 2, n_total - n_total // 2
    toks = (
        docs.select(
            "doc_id",
            (F.col("doc_id") >= F.lit(n_total // 2)).cast("int").alias("half"),
            F.explode(X.tokens()).alias("token"),
        )
        .distinct()
    )
    df = (
        toks.groupBy("token")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("df_early"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("df_late"),
        )
        .filter(
            (F.col("df_early") >= _IDF_MIN_DF) & (F.col("df_late") >= _IDF_MIN_DF)
        )
    )
    delta = F.log((n_early + 1.0) / (F.col("df_early") + 1.0)) - F.log(
        (n_late + 1.0) / (F.col("df_late") + 1.0)
    )
    scored = df.select("token", "df_early", "df_late", delta.alias("delta"))
    rw = W.orderBy(F.abs(F.col("delta")).desc(), F.asc("token"))
    top = scored.orderBy(F.abs(F.col("delta")).desc(), F.asc("token")).limit(20)
    return top.select(
        "token",
        F.col("df_early").cast("bigint").alias("df_early"),
        F.col("df_late").cast("bigint").alias("df_late"),
        F.round("delta", 6).alias("idf_delta"),
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Bigram conditional entropy rate per source: H(w2 | w1) =
# -sum p(w1,w2) ln p(w2|w1) over each source's bigram table — the
# information-theoretic redundancy screen (templated/boilerplate sources
# score low; organic prose scores high), complementing the count-based
# repetition flags. Fact-scale work is one bigram explode + a
# (source, w1, w2) groupBy; the entropy terms are exact integer ratios
# rounded at 12 before the vocabulary-scale sum (the markov-chain
# rounding discipline).
# ---------------------------------------------------------------------------


@query(
    "text_ngram_entropy_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOK} AS ts FROM documents),
    big AS (
      SELECT source, ts[i] AS w1, ts[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)),
    c12 AS (
      SELECT source, w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2, 3),
    c1 AS (
      SELECT source, w1, SUM(c) AS c1 FROM c12 GROUP BY 1, 2),
    n AS (SELECT source, SUM(c) AS n FROM c12 GROUP BY source),
    terms AS (
      SELECT c12.source,
             round((CAST(c12.c AS DOUBLE) / n.n)
                   * ln(CAST(c12.c AS DOUBLE) / c1.c1), 12) AS t
      FROM c12
      JOIN c1 ON c1.source = c12.source AND c1.w1 = c12.w1
      JOIN n ON n.source = c12.source)
    SELECT source,
           round(-SUM(t), 6) AS entropy_rate,
           COUNT(*) AS n_bigram_types
    FROM terms GROUP BY source
    """,
)
def text_ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ts = X.tokens()
    big = docs.select(
        "source",
        F.explode(
            F.expr(
                # greatest(…, 0): a 0/1-token doc must yield an empty
                # bigram array, not a negative slice length (ANSI errors).
                # zip_with over two SHIFTED SLICES (r9-opt): the old
                # transform's element_at({t}, i + 2) re-evaluated the
                # filter(split(text)) expression PER ELEMENT inside the
                # interpreted lambda — O(tokens^2) work per document; the
                # zip form evaluates the token array a constant number of
                # times per ROW and pairs (t_i, t_i+1) in one linear pass.
                # Identical bigram structs, identical empty-doc behavior.
                "zip_with(slice({t}, 1, greatest(size({t}) - 1, 0)), "
                "slice({t}, 2, greatest(size({t}) - 1, 0)), "
                "(a, b) -> struct(a AS w1, b AS w2))".format(
                    t="filter(split(text, ' '), x -> x != '')"
                )
            )
        ).alias("bg"),
    ).select("source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c12 = big.groupBy("source", "w1", "w2").agg(F.count("*").alias("c"))
    # w1 totals + source totals ride the same (source, w1[, w2]) exchange
    # via windows — no second corpus pass
    c1w = F.sum("c").over(W.partitionBy("source", "w1"))
    nw = F.sum("c").over(W.partitionBy("source"))
    terms = c12.select(
        "source",
        F.round(
            (F.col("c").cast("double") / nw) * F.log(F.col("c").cast("double") / c1w),
            12,
        ).alias("t"),
    )
    return terms.groupBy("source").agg(
        F.round(-F.sum("t"), 6).alias("entropy_rate"),
        F.count("*").alias("n_bigram_types"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): candidate phrases are the
# maximal stopword-free token runs (boundary set = the union of the
# engine's per-language stopword lists — the multilingual corpus makes a
# single boundary set the deterministic choice), capped at 4 words;
# word score = degree/frequency over candidate phrases (degree = summed
# length of every phrase containing the word); phrase score = sum of
# its word scores. Plan shape: the phrase segmentation is ONE
# doc-partitioned running-sum window riding the token explode (phrase id
# = stopwords-seen-so-far — the gaps-and-islands trick, no self-join),
# then two vocab/phrase-scale aggregates. 100 TB: every shuffle is keyed
# by doc or word; the phrase table is corpus-scale but column-narrow,
# and the top-k is a TakeOrderedAndProject, never a global sort.
# ---------------------------------------------------------------------------

_RAKE_STOP = sorted({w for ws in X.STOPWORDS.values() for w in ws})
_RAKE_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in _RAKE_STOP) + ")"


@query(
    "text_keyword_rake",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, generate_subscripts({_TOK}, 1) AS pos,
             unnest({_TOK}) AS w
      FROM documents),
    mark AS (
      SELECT doc_id, pos, w,
             CASE WHEN w IN {_RAKE_STOP_SQL} THEN 1 ELSE 0 END AS st,
             SUM(CASE WHEN w IN {_RAKE_STOP_SQL} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM tok),
    words AS (SELECT doc_id, pid, pos, w FROM mark WHERE st = 0),
    phr AS (
      SELECT doc_id, pid, COUNT(*) AS n_words,
             string_agg(w, ' ' ORDER BY pos) AS phrase
      FROM words GROUP BY 1, 2
      HAVING COUNT(*) BETWEEN 1 AND 4),
    pw AS (
      SELECT p.phrase, p.n_words, p.doc_id, p.pid, w.w
      FROM phr p JOIN words w
        ON w.doc_id = p.doc_id AND w.pid = p.pid),
    ws AS (
      SELECT w, SUM(n_words) AS deg, COUNT(*) AS freq
      FROM pw GROUP BY 1),
    occ AS (
      SELECT pw.doc_id, pw.pid, pw.phrase, pw.n_words,
             SUM(ws.deg * 1.0 / ws.freq) AS s
      FROM pw JOIN ws ON ws.w = pw.w
      GROUP BY 1, 2, 3, 4),
    dp AS (
      SELECT phrase, CAST(MAX(n_words) AS BIGINT) AS n_words,
             COUNT(*) AS n_occurrences, round(AVG(s), 6) AS score
      FROM occ GROUP BY 1),
    ranked AS (
      SELECT phrase, n_words, n_occurrences, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, phrase ASC) AS rank
      FROM dp)
    SELECT phrase, n_words, n_occurrences, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 20
    """,
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(X.tokens()).alias("pos", "w")
    )
    is_stop = F.col("w").isin(*_RAKE_STOP)
    wp = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    mark = tok.select(
        "doc_id",
        "pos",
        "w",
        is_stop.cast("int").alias("st"),
        F.sum(is_stop.cast("int")).over(wp).alias("pid"),
    )
    words = mark.filter(F.col("st") == 0).drop("st")
    # ordered within-phrase concat: collect (pos, w) structs, sort, join —
    # rides the SAME doc_id exchange the window created
    phr = (
        words.groupBy("doc_id", "pid")
        .agg(
            F.count("*").alias("n_words"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
        )
        .filter(F.col("n_words").between(1, 4))
        .localCheckpoint(eager=False)  # consumers: word stats + occ scores
    )
    pw = phr.join(words, ["doc_id", "pid"]).select(
        "phrase", "n_words", "doc_id", "pid", "w"
    )
    ws_tbl = pw.groupBy("w").agg(
        F.sum("n_words").alias("deg"), F.count("*").alias("freq")
    )
    occ = (
        pw.join(ws_tbl, "w")
        .groupBy("doc_id", "pid", "phrase", "n_words")
        .agg(F.sum(F.col("deg") * 1.0 / F.col("freq")).alias("s"))
    )
    dp = occ.groupBy("phrase").agg(
        F.max("n_words").cast("bigint").alias("n_words"),
        F.count("*").alias("n_occurrences"),
        F.round(F.avg("s"), 6).alias("score"),
    )
    rw = W.orderBy(F.desc("score"), F.asc("phrase"))
    top = dp.orderBy(F.desc("score"), F.asc("phrase")).limit(20)
    return top.select(
        "phrase",
        "n_words",
        "n_occurrences",
        "score",
        F.row_number().over(rw).cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995; the
# smoothing every n-gram LM toolkit ships as its default) for the
# corpus's top bigrams: P_kn(w2|w1) = max(c(w1,w2)-D, 0)/c(w1·)
#   + (D · N1+(w1,·)/c(w1·)) · N1+(·,w2)/|bigram types|.
# All five inputs are INTEGER count statistics of the bigram-type table
# (continuation counts are row counts of bg grouped by one side), so the
# per-row probability is a single deterministic arithmetic expression —
# exact float parity with the oracle without tolerance. Complements
# text_bigram_logprob (interpolated-MLE): KN is the discount/continuation
# form. Plan: bigrams come straight off the token ARRAY (slice+transform,
# no per-doc window), one corpus-scale groupBy to bg, then every derived
# stat rides vocab-scale aggregates of bg; top-40 is
# TakeOrderedAndProject. 100 TB: the only fact-scale exchange is the
# (w1,w2) groupBy; everything downstream is bigram-type-vocab-scale.
# ---------------------------------------------------------------------------

_KN_D = 0.75
_KN_TOPK = 40


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS ts FROM documents),
    big AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)),
    bg AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c2) AS cw1, COUNT(*) AS n_fw FROM bg GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS n_bw FROM bg GROUP BY w2),
    t AS (SELECT COUNT(*) AS n_types FROM bg)
    SELECT bg.w1, bg.w2, CAST(bg.c2 AS BIGINT) AS c2,
           round(GREATEST(bg.c2 - {_KN_D}, 0) / c1.cw1
                 + ({_KN_D} * c1.n_fw / c1.cw1)
                   * (cont.n_bw * 1.0 / t.n_types), 8) AS p_kn
    FROM bg JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN t
    ORDER BY c2 DESC, w1, w2 LIMIT {_KN_TOPK}
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    big = docs.select(
        F.explode(
            F.expr(
                # zip_with over shifted slices — see text_ngram_entropy_rate:
                # the transform/element_at form was O(tokens^2) per doc
                "zip_with(slice({t}, 1, greatest(size({t}) - 1, 0)), "
                "slice({t}, 2, greatest(size({t}) - 1, 0)), "
                "(a, b) -> struct(a AS w1, b AS w2))".format(
                    t="filter(split(text, ' '), x -> x != '')"
                )
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bg = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # left-context totals + follower counts ride bg's (w1, w2) exchange
    # via a w1 window; continuation counts need one more vocab-scale
    # shuffle on w2 — both are bigram-TYPE-scale, not corpus-scale
    cw1 = F.sum("c2").over(W.partitionBy("w1"))
    n_fw = F.count("*").over(W.partitionBy("w1"))
    n_bw = F.count("*").over(W.partitionBy("w2"))
    # |bigram types| as a broadcast 1-row aggregate (NOT an empty-partition
    # window, which would funnel the whole type table through one task);
    # AQE's exchange reuse serves both branches from bg's one shuffle
    types = bg.agg(F.count("*").cast("bigint").alias("n_types"))
    scored = bg.crossJoin(F.broadcast(types)).select(
        "w1",
        "w2",
        F.col("c2").cast("bigint").alias("c2"),
        F.round(
            F.greatest(F.col("c2") - _KN_D, F.lit(0.0)) / cw1
            + (_KN_D * n_fw / cw1) * (n_bw.cast("double") / F.col("n_types")),
            8,
        ).alias("p_kn"),
    )
    return scored.orderBy(F.desc("c2"), "w1", "w2").limit(_KN_TOPK)


# ---------------------------------------------------------------------------
# Term burstiness (Church & Gale 1995): collection frequency over
# document frequency per term — cf/df > 1 marks topical "bursty" terms
# that pile into few documents, vs function words spread evenly; the
# signal term-weighting and stopword-induction pipelines read. Exact:
# cf, df are integers; burstiness and idf are single formulas of (cf,
# df, N). Plan: ONE (term, doc) pre-aggregate (absorbs within-doc
# repeats map-side) then a term-grain aggregate — df is a COUNT, never
# a count-distinct over raw positions; N broadcasts as a 1-row
# aggregate. Top-30 rides TakeOrderedAndProject.
# 100 TB: two keyed exchanges, both shrinking (positions → doc-term →
# term).
# ---------------------------------------------------------------------------

_BURST_TOPK = 30


@query(
    "text_term_burstiness",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS w FROM documents),
    dt AS (SELECT w, doc_id, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    term AS (
      SELECT w, SUM(c) AS cf, COUNT(*) AS df FROM dt GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT w AS term, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
           round(cf * 1.0 / df, 6) AS burstiness,
           round(ln(n.n_docs * 1.0 / df), 8) AS idf
    FROM term CROSS JOIN n
    ORDER BY cf DESC, term LIMIT {_BURST_TOPK}
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(X.tokens()).alias("w"))
    dt = tok.groupBy("w", "doc_id").agg(F.count("*").alias("c"))
    term = dt.groupBy("w").agg(
        F.sum("c").alias("cf"), F.count("*").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        term.crossJoin(F.broadcast(n))
        .select(
            F.col("w").alias("term"),
            F.col("cf").cast("bigint").alias("cf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(F.col("cf") / F.col("df"), 6).alias("burstiness"),
            F.round(F.log(F.col("n_docs") / F.col("df")), 8).alias("idf"),
        )
        .orderBy(F.desc("cf"), "term")
        .limit(_BURST_TOPK)
    )
