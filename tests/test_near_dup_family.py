"""Every query built on the shared near-duplicate builders of
`operators/dedup.py`, against its DuckDB oracle at sf0.001.

The builders are `hashed_shingle_rows`, `capped_postings`,
`near_dup_pairs`, `near_dup_components`, `connected_components`,
`band_rows` (MinHash) and `simhash_band_rows` (SimHash). A change to any
of them reaches every query listed here, so the whole family runs, not a
sample. The queries on the near-duplicate pair set and its clusters also
run on a corpus with no documents: no pairs, no clusters, no division by
zero.
"""

from __future__ import annotations

import pytest

from brooklin_spark import registry
from tests.corpora import derived_corpus, empty
from tests.oracle import compare, duck_connection

registry.load_all()

#: queries on near_dup_pairs or near_dup_components
PAIR_SET = [
    "dedup_lsh_recall",
    "dedup_graph_triangles",
    "dedup_pair_similarity_histogram",
    "dedup_canonical_clusters",
    "dedup_leakage_safe_split",
    "dedup_apply_keep_canonical",
    "dedup_keep_best_quality",
    "dedup_cluster_profile",
    "dedup_cluster_size_weights",
]

#: the rest of the family: hashed shingle rows without the shared pair
#: build, MinHash/SimHash banding, and connected components over
#: embedding-similarity pairs
FAMILY = PAIR_SET + [
    "dedup_ngram_jaccard",
    "dedup_containment_pairs",
    "dedup_prefix_filter_jaccard",
    "dedup_threshold_survivor_curve",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental_new_vs_base",
    "dedup_incremental_persisted_index",
    "dedup_semantic_clusters",
    "streaming_dedup_minhash_ingest",
    "streaming_dedup_simhash_ingest",
]


def _check_on(spark, sf_dir, name):
    con = duck_connection(sf_dir)
    try:
        df = registry.QUERIES[name](spark, sf_dir)
        compare(df, con, registry.ORACLES[name], name=name)
    finally:
        con.close()


@pytest.fixture(scope="module")
def sf_no_docs(tmp_path_factory, sf_smoke):
    """sf0.001 with an empty documents table."""
    return derived_corpus(
        tmp_path_factory.mktemp("sf_no_docs"), sf_smoke, {"documents": empty}
    )


@pytest.mark.parametrize("name", FAMILY)
def test_near_dup_query_matches_oracle(spark, sf_smoke, name):
    _check_on(spark, sf_smoke, name)


@pytest.mark.parametrize("name", PAIR_SET)
def test_near_dup_query_on_empty_corpus_matches_oracle(spark, sf_no_docs, name):
    _check_on(spark, sf_no_docs, name)
