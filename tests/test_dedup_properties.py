"""Property tests for the dedup scale hardening (VERDICT r1 #9):

- the enforced posting-list cap: with the cap above the corpus's max
  posting size results are IDENTICAL to uncapped; with a tiny cap the
  result is a SUBSET (hot shingles only ever remove pairs, never corrupt
  surviving ones).
- min-label propagation connected components == union-find on a graph
  with a deep chain, a clique and a random sparse graph.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from brooklin_spark.io import table
from brooklin_spark.operators import dedup as D


def _sh(spark, sf):
    docs = table(spark, sf, "documents")
    return (
        D.shingle_arrays_pandas(docs, n=3)
        .select("id", F.size("shingles").alias("n"), F.explode("shingles").alias("s"))
        .select("id", "n", F.xxhash64("s").alias("shingle"))
        .localCheckpoint()
    )


def test_posting_cap_identity_and_subset(spark, sf_smoke):
    sh = _sh(spark, sf_smoke)
    uncapped = set(
        (r.doc_a, r.doc_b) for r in D.jaccard_pairs_selfjoin(sh, 0.7, max_posting=1 << 30).collect()
    )
    default = set(
        (r.doc_a, r.doc_b) for r in D.jaccard_pairs_selfjoin(sh, 0.7).collect()
    )
    assert default == uncapped, "default cap must not drop pairs on this corpus"
    assert len(default) > 0
    tiny = set(
        (r.doc_a, r.doc_b) for r in D.jaccard_pairs_selfjoin(sh, 0.7, max_posting=2).collect()
    )
    assert tiny <= uncapped, "capping may only REMOVE pairs"


def _labels(df):
    return {r.id: r.comp for r in df.collect()}


def _union_find_labels(edges):
    """{node: min node of its component}, by plain-Python union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    """Min-label propagation runs until no label changes, so a deep
    component gets the same labels as union-find: a 30-node chain
    (diameter 29, more rounds than any fixed small budget), a 6-clique and
    a random sparse graph."""
    rng = random.Random(7)
    edges = set()
    chain = list(range(30))
    edges |= {(a, b) for a, b in zip(chain, chain[1:])}
    clique = [100 + i for i in range(6)]
    edges |= {(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]}
    for _ in range(40):
        a = 200 + rng.randrange(50)
        b = 200 + rng.randrange(50)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "doc_a bigint, doc_b bigint")
    assert _labels(D.connected_components(df)) == _union_find_labels(edges)


def test_blocked_pairs_match_guarded_kernel(spark, sf_smoke):
    """similar_pairs_blocked (distributed tiles) emits exactly the pairs
    the guarded small-side kernel emits — exactness across the tiling is
    its contract."""
    from brooklin_spark.io import table
    from brooklin_spark.operators import similarity as S

    emb = table(spark, sf_smoke, "embeddings")
    a = {
        (r.vec_a, r.vec_b): r.sim
        for r in S.similar_pairs(emb, threshold=0.2).collect()
    }
    for nb in (1, 3, 8):  # degenerate single tile, odd, default
        b = {
            (r.vec_a, r.vec_b): r.sim
            for r in S.similar_pairs_blocked(emb, threshold=0.2, n_blocks=nb).collect()
        }
        assert a == b and len(a) > 0, f"n_blocks={nb}"


def test_lsh_band_bucket_cap_drops_giant_cluster(spark):
    """r5 hot-bucket discipline: a giant cluster of IDENTICAL signatures
    lands in one band bucket per band; with max_bucket set below the
    cluster size the bucket is dropped (zero candidates from it) while
    normal-size clusters are untouched. Candidate count per bucket is
    thereby hard-bounded by max_bucket*(max_bucket-1)/2."""
    big, small = 40, 4
    rows = [(i, 7, 7, 7, 7) for i in range(big)]  # one giant bucket
    rows += [(100 + i, 9, 9, 9, 9) for i in range(small)]
    sig = spark.createDataFrame(
        rows, "id bigint, h0 bigint, h1 bigint, h2 bigint, h3 bigint"
    )
    uncapped = D.lsh_candidate_pairs(sig, bands=1, rows_per_band=4)
    assert uncapped.count() == big * (big - 1) // 2 + small * (small - 1) // 2
    capped = D.lsh_candidate_pairs(sig, bands=1, rows_per_band=4, max_bucket=16)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(a, b) for a in range(100, 104) for b in range(100, 104) if a < b}


def test_simhash_bucket_cap_drops_giant_cluster(spark):
    big, small = 40, 4
    rows = [(i, 0x12345678) for i in range(big)]
    rows += [(100 + i, 0x0F0F0F0F) for i in range(small)]
    sig = spark.createDataFrame(rows, "id bigint, sig bigint")
    capped = D.simhash_pairs_onepass(
        sig, bits=32, bands=4, max_distance=3, max_bucket=16
    )
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(a, b) for a in range(100, 104) for b in range(100, 104) if a < b}


def test_kernel_extra_cols_passthrough(spark, sf_smoke):
    """The extra_cols passthrough (video near-dup's lang ride-along) must
    not change the shingle/signature values, and must carry the column
    through both kernels untouched."""
    docs = table(spark, sf_smoke, "documents").select("doc_id", "lang", "text")
    plain = D.minhash_signature_pandas(
        D.shingle_arrays_pandas(docs), num_hashes=3
    )
    carried = D.minhash_signature_pandas(
        D.shingle_arrays_pandas(docs, extra_cols=("lang",)),
        num_hashes=3,
        extra_cols=("lang",),
    )
    base = {r.id: (r.h0, r.h1, r.h2) for r in plain.collect()}
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    got = carried.collect()
    assert len(got) == len(base)
    for r in got:
        assert (r.h0, r.h1, r.h2) == base[r.id]
        assert r.lang == langs[r.id]
