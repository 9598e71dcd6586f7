"""Document deduplication operators: n-gram Jaccard, MinHash+LSH, SimHash
and near-duplicate clusters.

The reference has no record-level dedup (SURVEY.md §2.7 — at-least-once
only); these are the north-star LLM-pipeline operators, built Spark-first:

- shingling and signatures are Arrow-batched pandas kernels, map-side and
  shuffle-free (Spark's array higher-order functions are interpreted per
  element); every signature hash is md5, identical across engines, so the
  DuckDB oracles rebuild the same signatures in SQL;
- exact Jaccard is one posting-capped self-join on the hashed shingle
  rows; ``near_dup_pairs`` and ``near_dup_components`` are the one build
  of the near-duplicate pair set and of its clusters that queries share;
- MinHash signatures use Kirsch-Mitzenmacher double hashing (one md5 per
  shingle), and ``band_rows`` turns them into per-band equi-join keys —
  the 100 TB path: candidates per band bucket, verify only candidates;
- SimHash signatures are 32-bit BIGINTs of per-digit md5 parity votes;
  ``simhash_band_rows`` bands them by shift+mask, and hamming verification
  is ``bit_count(xor)`` inline in the band join (Manku pigeonhole: with
  ``max_distance < bands`` the banded candidate set is exact).

Scale notes: the only all-pairs product here is candidate verification;
at 100 TB you keep band rows small (tune bands × rows_per_band to the
target jaccard threshold) so each band bucket stays tiny, and the
verify join is candidates ⋈ shingles (semi-join pushdown), never a full
cross join.
"""

from __future__ import annotations

import functools
import hashlib
import operator as pyop

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shingle_arrays_pandas(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document DISTINCT word n-gram shingle array via an Arrow-batched
    pandas UDF: (id, *extra_cols, shingles). ``extra_cols`` ride through
    untouched so downstream per-doc projections (e.g. the video near-dup
    boilerplate hashes keyed on lang) need no join back to the corpus.

    Shingles keep first-occurrence order and docs shorter than n tokens get
    an empty array — the same sets shingle_rows_pandas emits as rows. ~3x
    faster at sf0.1 than the equivalent Spark array higher-order-function
    expression, which is interpreted per element (HOFs are NOT codegen'd),
    while this is one vectorized Python call per Arrow batch. Map-side and
    partition-preserving: no shuffle, work is O(tokens) per row.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            toks = [w for w in (txt or "").split(" ") if w]
            m = len(toks)
            if m < n:
                out.append([])
                continue
            out.append(
                list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(m - n + 1)))
            )
        return pd.Series(out)

    # explicit partition count: the Python kernel's cost is CPU per token,
    # not bytes, and AQE's byte-based coalescing would shrink a bare
    # repartition() to a handful of tasks (measured 6-8 on local[32] —
    # 4-5x the runtime). A numbered repartition is exempt from coalescing,
    # so the UDF keeps full-cluster parallelism; on a real cluster
    # defaultParallelism scales with executors.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        _sh(F.col(text_col)).alias("shingles"),
    )


def shingle_rows_pandas(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Exploded distinct word n-gram shingles via ONE mapInPandas kernel:
    (id, n, shingle) rows with the per-doc set size carried on every row.

    The shingle_arrays_pandas + size() + explode() composition evaluates
    the pandas UDF TWICE per consumer (the optimizer routes the dual
    shingles reference into two ArrowEvalPython nodes — observed in the
    executed sf1 plan), and a self-join consumer doubles that again.
    Emitting the exploded rows directly from the kernel makes one Python
    pass per consumption, and the explode never materializes the array
    column in the JVM at all. Same distinctness/order semantics.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism

    def op(batches):
        for pdf in batches:
            ids: list = []
            ns: list = []
            shs: list = []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [w for w in (txt or "").split(" ") if w]
                m = len(toks)
                if m < n:
                    continue
                sh = list(
                    dict.fromkeys(" ".join(toks[i : i + n]) for i in range(m - n + 1))
                )
                ids.extend([doc_id] * len(sh))
                ns.extend([len(sh)] * len(sh))
                shs.extend(sh)
            yield pd.DataFrame({"id": ids, "n": ns, "shingle": shs})

    return df.repartition(n_parts, F.col(id_col)).mapInPandas(
        op, schema="id bigint, n int, shingle string"
    )


def hashed_shingle_rows(docs: DataFrame) -> DataFrame:
    """(id, n, shingle) rows of the documents' distinct word 3-gram
    shingles, each shingle keyed by xxhash64 (codegen, 8-byte shuffle keys
    instead of 3-word strings; a 64-bit collision inside one doc pair is
    the accepted ~1e-10 risk, standard for shingle tables at scale). Lazy:
    the caller picks the materialization."""
    return shingle_rows_pandas(docs, n=3).select(
        "id", "n", F.xxhash64("shingle").alias("shingle")
    )


#: default posting-list cap: a shingle shared by more docs than this is
#: treated as stopword-like and dropped from pair generation (precision
#: trade documented in capped_postings). 1024² pair expansions per
#: shingle is the worst case a single task ever sees.
MAX_POSTING = 1024


def capped_postings(shingles: DataFrame, max_posting: int = MAX_POSTING) -> DataFrame:
    """Drop the rows of every shingle shared by more than ``max_posting``
    docs. The cap is a COUNT WINDOW over the shingle-keyed exchange the
    pair self-join consumes, so the posting count costs no extra pass
    over the shingle rows (measured ~1s faster than a separate
    count+anti-join at sf0.1).

    The cap is what keeps the self-join skew-safe: a stopword-like
    shingle at web scale otherwise expands one task quadratically.
    Dropping those postings is the standard precision trade — a pair
    sharing ONLY ultra-common shingles is not a near-duplicate; every pair
    sharing any discriminative shingle is unaffected."""
    from pyspark.sql import Window as W

    return (
        shingles.withColumn(
            "c", F.count("*").over(W.partitionBy("shingle"))
        )
        .filter(F.col("c") <= max_posting)
        .drop("c")
    )


def shingle_overlaps(
    shingles: DataFrame, max_posting: int = MAX_POSTING
) -> DataFrame:
    """(doc_a, doc_b, na, nb, common) for every doc pair sharing >= 1
    capped shingle, doc_a < doc_b: the two set sizes and the overlap that
    every set-similarity measure (Jaccard, containment) is a ratio of.
    ``shingles`` is (id, n, shingle) with the per-doc set size carried on
    every row, so one self-join and one groupBy produce them all."""
    capped = capped_postings(shingles, max_posting)
    a = capped.alias("a")
    b = capped.alias("b")
    return (
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


def jaccard_pairs_selfjoin(
    shingles: DataFrame, threshold: float, max_posting: int = MAX_POSTING
) -> DataFrame:
    """Exact Jaccard for every doc pair sharing >=1 shingle, in one
    self-join pass: ``shingles`` is (id, n, shingle) with the per-doc set
    size CARRIED on every shingle row, so the pair groupBy aggregates
    (id_a, id_b, na, nb) together and the two size-lookup joins of the
    classic shape disappear entirely — plan: capped_postings →
    self-join on shingle → one groupBy → filter. Carrying n costs 8
    bytes/row in the shuffle; each removed join was a full shuffle or a
    broadcast barrier.

    Spark never reuses an exchange across pandas-UDF subtrees, so over an
    un-checkpointed shingler each join side runs the kernel once (the
    executed plan of dedup_ngram_jaccard at sf0.01 holds 2 Python map
    nodes and 0 ReusedExchange). near_dup_pairs checkpoints the shingle
    rows first so the kernel runs once.
    Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    """
    common = shingle_overlaps(shingles, max_posting)
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return common.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def near_dup_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every document pair at Jaccard >=
    ``threshold`` over 3-gram shingles. The hashed shingle rows are
    checkpointed so the pandas shingler runs once for both join sides."""
    return jaccard_pairs_selfjoin(hashed_shingle_rows(docs).localCheckpoint(), threshold)


def near_dup_components(docs: DataFrame) -> DataFrame:
    """(id, comp) near-duplicate clusters: connected components of the
    Jaccard >= 0.7 pairs, comp = the cluster's min doc id. Documents in no
    pair have no row."""
    return connected_components(near_dup_pairs(docs, 0.7).select("doc_a", "doc_b"))


def jaccard_verify(
    arrays: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-row array intersection.

    candidates(id_a, id_b) ⋈ arrays ⋈ arrays, then
    |A∩B| / (|A|+|B|-|A∩B|) computed JVM-side per pair — no explode, no
    per-pair aggregation. This is the scale-path verify kernel: work is
    O(candidates), each row touching only its two shingle sets.
    """
    a = arrays.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = arrays.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.size("sh_a") + F.size("sh_b") - common)
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature_pandas(
    arrays: DataFrame, num_hashes: int = 16, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """MinHash signature computed map-side from per-doc shingle arrays via
    an Arrow-batched pandas UDF — Kirsch-Mitzenmacher double hashing: one
    md5 per shingle → two big-endian 32-bit ints a,b; h_k = (a + k·b) mod
    2^32. The DuckDB oracles rebuild the same signature as a groupBy of
    min() aggregates (``_sqlgen.minhash_km_select``).

    Zero shuffles: the signature exists before any exchange (the oracle's
    groupBy shuffle has no Spark counterpart), and the per-batch numpy min
    is vectorized instead of per-row aggregate buffers. At scale the only
    shuffled data downstream is (id, 16 ints).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _mh(shingles: pd.Series) -> pd.Series:
        ks = np.arange(num_hashes, dtype=np.uint64)
        out = []
        for s_arr in shingles:
            if len(s_arr) == 0:
                out.append([0] * num_hashes)
                continue
            dig = np.frombuffer(
                b"".join(hashlib.md5(s.encode()).digest()[:8] for s in s_arr),
                dtype=">u4",
            ).reshape(len(s_arr), 2)
            h1 = dig[:, 0].astype(np.uint64)
            h2 = dig[:, 1].astype(np.uint64)
            hk = (h1[:, None] + ks[None, :] * h2[:, None]) & 0xFFFFFFFF
            out.append(hk.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    extras = [F.col(c) for c in extra_cols]
    sig = arrays.select("id", *extras, _mh(F.col("shingles")).alias("mh"))
    return sig.select(
        "id", *extras, *[F.col("mh")[k].alias(f"h{k}") for k in range(num_hashes)]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int,
    rows_per_band: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature and emit candidate pairs sharing any band bucket.

    The band key is the raw tuple of its ``rows_per_band`` hash ints —
    pairs come from a per-(band_id, k0..k{r-1}) multi-column equi-self-join
    (all codegen; a hashed band key like md5(concat) selects the SAME
    candidate set — equal key iff equal tuple — while paying per-row
    hashing, so the tuple join is strictly better; the DuckDB oracle keeps
    md5 band keys and matches because the candidate sets coincide). The
    shuffle is keyed on the band tuple; minhash uniformity spreads
    DISTINCT documents, but a giant exact/near-dup cluster (the 100k-copy
    boilerplate page every web crawl carries) shares whole signatures and
    lands in ONE bucket — quadratic pairs. ``max_bucket`` is the posting
    cap for that case: buckets larger than it are dropped (members stay
    discoverable through their other bands unless those are equally hot;
    the standard LSH recall trade). The cap is enforced as a map-side-
    combined bucket count reduced to the (normally EMPTY) over-cap hot
    set, anti-joined back: the banded table itself never shuffles for the
    cap — a count WINDOW here would force Exchange+Sort of every band row
    even when the cap never binds (measured 1.3-1.6x on the sf0.1 bench,
    where AQE broadcasts the candidate join and the window's exchange was
    the only shuffle). The hot set is bounded by total_rows/cap; no
    broadcast hint — AQE broadcasts it when it is as tiny as it almost
    always is. Returns distinct (id_a, id_b), id_a < id_b.
    """
    banded = band_rows(signatures, bands, rows_per_band)
    if max_bucket is not None:
        keys = ["band_id"] + [f"k{r}" for r in range(rows_per_band)]
        hot = (
            banded.groupBy(*keys)
            .agg(F.count("*").alias("__c"))
            .filter(F.col("__c") > max_bucket)
            .drop("__c")
        )
        banded = banded.join(hot, keys, "left_anti")
    x = banded.alias("x")
    y = banded.alias("y")
    key_eq = functools.reduce(
        pyop.and_,
        [F.col(f"x.k{r}") == F.col(f"y.k{r}") for r in range(rows_per_band)],
        F.col("x.band_id") == F.col("y.band_id"),
    )
    return (
        x.join(y, key_eq & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Connected components over near-duplicate pairs -> (id, component)
    where component = min id reachable (the canonical doc of the cluster).

    Min-label propagation: each iteration joins current labels across the
    (symmetrized) edge list and takes the min neighbor label; converges in
    O(cluster diameter) iterations — near-dup clusters are shallow (dup
    pairs chain through shared content), so a handful of rounds suffice.
    Each round is two shuffles (join + groupBy); labels are checkpointed
    per round to keep lineage flat. The loop runs until no label changes,
    so a deep cluster costs rounds, never a wrong answer.

    Convergence check (r9-opt): labels can only DECREASE
    (new = least(old, min neighbor)), so the loop terminates, and SUM(comp)
    strictly decreases iff ANY label changed — an exact-decimal scalar
    aggregate replaces the old per-round labels-x-labels equality join,
    and evaluating it on the round's lazy localCheckpoint makes ONE job
    both materialize the new labels and test convergence (was: a
    checkpoint job + a join-count job per round — 2 jobs and one
    node-scale join more, every round).
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint(eager=False)
    )
    # decimal(38,0): exact for any sum of <= 2^63-scale ids over any
    # realistic node count — float would break the equality test
    _sig = F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
    prev_sig = labels.agg(_sig).first()[0]
    while True:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint(eager=False)
        )
        sig = new_labels.agg(_sig).first()[0]  # materializes the checkpoint
        labels = new_labels
        if sig == prev_sig:
            return labels
        prev_sig = sig


def simhash_signature_int_pandas(arrays: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash BIGINT signature computed map-side from per-doc shingle
    arrays via an Arrow-batched pandas UDF: bit b (MSB-first) is set iff
    the majority of the doc's shingles votes odd on md5 hex digit b. The
    DuckDB oracles rebuild the same signature as a ``bits``-column groupBy
    (``_sqlgen.simhash_base_int`` / ``simhash_sum_cols_int`` /
    ``simhash_sig_int_expr``).

    Collapses shingle-explode + md5/conv parse + the ``bits``-column
    groupBy into ONE zero-shuffle vectorized pass (measured 3.3s → 0.5s at
    sf0.1 against the Spark groupBy form of the oracle's shape). The
    nibble-parity extraction is numpy over the raw digest bytes: hex digit
    2i is the high nibble of byte i, 2i+1 the low nibble; digit parity =
    nibble LSB.
    """
    if bits != 32:
        raise ValueError("pandas simhash kernel packs 32-bit signatures")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _sim(shingles: pd.Series) -> pd.Series:
        out = np.empty(len(shingles), dtype=np.int64)
        weights = (1 << np.arange(31, -1, -1)).astype(np.int64)
        for i, s_arr in enumerate(shingles):
            if len(s_arr) == 0:
                out[i] = 0
                continue
            dig = np.frombuffer(
                b"".join(hashlib.md5(s.encode()).digest() for s in s_arr),
                dtype=np.uint8,
            ).reshape(len(s_arr), 16)
            nib = np.empty((len(s_arr), 32), dtype=np.uint8)
            nib[:, 0::2] = dig >> 4
            nib[:, 1::2] = dig & 15
            votes = (nib & 1).astype(np.int32).sum(axis=0) * 2 - len(s_arr)
            out[i] = int(((votes >= 0) * weights).sum())
        return pd.Series(out)

    return arrays.select("id", _sim(F.col("shingles")).alias("sig"))


def simhash_band_rows(signatures: DataFrame, bits: int, bands: int) -> DataFrame:
    """Explode a BIGINT simhash signature table into band rows (id, sig,
    band_id, band_key): band j is the j-th ``bits // bands``-bit slice,
    MSB-first, by shift+mask. The signature rides along so a band join can
    verify hamming inline. Map-side only."""
    width = bits // bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(
            F.lit(j).alias("band_id"),
            F.shiftright(F.col("sig"), (bands - 1 - j) * width)
            .bitwiseAND(F.lit(mask))
            .alias("band_key"),
        )
        for j in range(bands)
    ]
    return signatures.select(
        "id", "sig", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", "sig", "b.band_id", "b.band_key")


def simhash_pairs_onepass(
    signatures: DataFrame,
    bits: int,
    bands: int,
    max_distance: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """EXACT hamming-<=d pairs over BIGINT signatures in ONE join pass:
    the signature rides along with its band rows, so hamming verification
    (bit_count(xor)) happens inline in the band equi-join — no re-join
    against the signature table, no checkpoint needed (single consumer).
    Manku pigeonhole exactness: d < bands ⇒ a qualifying pair agrees on a
    full band, so the banded candidate set misses no pair.

    Scale: the shuffle key is (band_id, band_key); carrying the 8-byte sig
    per band row is 4×8 bytes/doc — negligible against re-shuffling the
    signature table twice for the verify joins it replaces. Bucket size is
    corpus/2^(bits/bands) in expectation, so bits/bands must be sized to
    log2(corpus) at scale; ``max_bucket`` drops buckets above the cap
    (map-side-combined bucket count -> over-cap hot set -> anti-join, the
    same shape as lsh_candidate_pairs: the band rows never shuffle for
    the cap and there is no per-row sort), trading recall inside over-cap
    buckets for a hard per-bucket pair bound, same discipline as the
    LSH/posting caps.
    """
    if max_distance >= bands:
        raise ValueError("exactness requires max_distance < bands")
    banded = simhash_band_rows(signatures, bits, bands)
    if max_bucket is not None:
        hot = (
            banded.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("__c"))
            .filter(F.col("__c") > max_bucket)
            .drop("__c")
        )
        banded = banded.join(hot, ["band_id", "band_key"], "left_anti")
    x = banded.alias("x")
    y = banded.alias("y")
    dist = F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig"))).cast("int")
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("doc_a"),
            F.col("y.id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
        .distinct()
    )


def band_rows(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a minhash signature table into band rows (id, band_id,
    k0..k{r-1}) — the shared banding step of lsh_candidate_pairs, exposed
    for probe-vs-base joins (incremental dedup: band the NEW batch and the
    BASE corpus separately, then equi-join on the band tuple instead of a
    self-join). Map-side only; the shuffle happens at whatever join
    consumes the band rows, keyed on the band tuple."""
    band_cols = []
    for j in range(bands):
        rows = [
            F.col(f"h{j * rows_per_band + r}").alias(f"k{r}")
            for r in range(rows_per_band)
        ]
        band_cols.append(F.struct(F.lit(j).alias("band_id"), *rows))
    return signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("b")
    ).select("id", "b.*")


def lsh_candidates_against(
    probe_banded: DataFrame, base_banded: DataFrame, rows_per_band: int
) -> DataFrame:
    """Distinct candidate pairs (id_a from probe, id_b from base) sharing
    any band bucket — the bipartite form of lsh_candidate_pairs. Both
    inputs come from band_rows(); the join is a plain equi-join on
    (band_id, k0..k{r-1}), so at scale it shuffles band tuples, never
    signatures or documents, and the probe side is typically the small
    daily increment (broadcastable when it fits)."""
    x = probe_banded.alias("x")
    y = base_banded.alias("y")
    key_eq = functools.reduce(
        pyop.and_,
        [F.col(f"x.k{r}") == F.col(f"y.k{r}") for r in range(rows_per_band)],
        F.col("x.band_id") == F.col("y.band_id"),
    )
    return (
        x.join(y, key_eq)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def span_rows_pandas(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """Exploded positional n-token spans via ONE mapInPandas kernel:
    (id, n_tok, pos, h) rows — pos is the 1-based token position, h the
    md5 hex of the space-joined span, n_tok the doc's token count
    carried on every row (so consumers never re-scan the text).

    Exists because the JVM composition (transform over sequence + slice
    + array_join + md5 + explode) is interpreted PER ELEMENT — measured
    16.4 s at sf1 vs 2.4 s for this kernel; same r1 lesson as the
    shingle kernels above. Map-side, partition-preserving, no shuffle.
    """
    import hashlib as _hl

    n_parts = df.sparkSession.sparkContext.defaultParallelism

    def op(batches):
        for pdf in batches:
            ids: list = []
            nt: list = []
            ps: list = []
            hs: list = []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [w for w in (txt or "").split(" ") if w]
                m = len(toks)
                if m < n:
                    continue
                for i in range(m - n + 1):
                    hs.append(
                        _hl.md5(" ".join(toks[i : i + n]).encode()).hexdigest()
                    )
                ids.extend([doc_id] * (m - n + 1))
                nt.extend([m] * (m - n + 1))
                ps.extend(range(1, m - n + 2))
            yield pd.DataFrame({"id": ids, "n_tok": nt, "pos": ps, "h": hs})

    return df.repartition(n_parts, F.col(id_col)).mapInPandas(
        op, schema="id bigint, n_tok int, pos int, h string"
    )
