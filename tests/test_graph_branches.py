"""Every graph and basket query, and every data-derived branch of the
bipartite graph queries, against its DuckDB oracle.

PageRank, kcore and assortativity each run one algorithm; the thresholds
left in `queries/dedup.py` only pick storage (`_PR_SPILL_LI_ROWS`), the
kcore peel (`_KCORE_GROUPED_LI_ROWS`), the node-side join strategy
(`_BCAST_MAX_NODES`) or the packed-long build (footer key bounds via
`_key_upper_bound`). Each case forces one of them with `monkeypatch`, so
nothing leaks into later tests, and checks the result at sf0.01 where the
defaults would never take that branch.

Every `graph_*`/`basket_*` query (they share the builders in
`operators/graph.py`) also runs on two derived sf0.001 corpora. The
empty corpus pins the degenerate graph: no edges, no nodes, no division
by zero. The duplicated corpus writes every lineitem row twice, which
pins the support rule: a pair's support is the number of DISTINCT
orders that hold it, so a doubled line must not double it.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

import brooklin_spark.queries.dedup as dd
from brooklin_spark import registry
from tests.corpora import derived_corpus, empty
from tests.oracle import compare, duck_connection

registry.load_all()

PR = "graph_pagerank_influence"
KCORE = "graph_kcore_bounded"
ASSORT = "graph_assortativity"

#: the queries built on the graph builders and the co-purchase graph
FAMILY = sorted(n for n in registry.QUERIES if n.startswith(("graph_", "basket_")))

#: (case id, query, {dedup global: forced value})
_CASES = [
    *[("default", q, {}) for q in [*FAMILY, "dedup_graph_triangles"]],
    ("bound0", PR, {"_BCAST_MAX_NODES": 0}),
    ("bound0", KCORE, {"_BCAST_MAX_NODES": 0}),
    ("bound0", ASSORT, {"_BCAST_MAX_NODES": 0}),
    ("grouped", KCORE, {"_KCORE_GROUPED_LI_ROWS": 0}),
    ("grouped-bound0", KCORE, {"_KCORE_GROUPED_LI_ROWS": 0, "_BCAST_MAX_NODES": 0}),
    ("spill", PR, {"_PR_SPILL_LI_ROWS": 0}),
    ("nokeybound", PR, {"_key_upper_bound": lambda *_: None}),
    ("nokeybound", KCORE, {"_key_upper_bound": lambda *_: None}),
    ("nokeybound", ASSORT, {"_key_upper_bound": lambda *_: None}),
]


@pytest.fixture(scope="module")
def duck(sf_correct):
    con = duck_connection(sf_correct)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name,forced", [(q, f) for _, q, f in _CASES], ids=[f"{q}-{c}" for c, q, _ in _CASES]
)
def test_graph_branch_matches_oracle(spark, sf_correct, duck, monkeypatch, name, forced):
    for attr, value in forced.items():
        monkeypatch.setattr(dd, attr, value)
    df = registry.QUERIES[name](spark, sf_correct)
    compare(df, duck, registry.ORACLES[name], name=name)


@pytest.fixture(scope="module")
def sf_empty(tmp_path_factory, sf_smoke):
    """sf0.001 with no orders and no lineitem: a graph with no edges."""
    return derived_corpus(
        tmp_path_factory.mktemp("sf_empty"),
        sf_smoke,
        {"orders": empty, "lineitem": empty},
    )


@pytest.fixture(scope="module")
def sf_dup_lines(tmp_path_factory, sf_smoke):
    """sf0.001 with every lineitem row written twice."""
    return derived_corpus(
        tmp_path_factory.mktemp("sf_dup_lines"),
        sf_smoke,
        {"lineitem": lambda t: pa.concat_tables([t, t])},
    )


def _check_on(spark, sf_dir, name):
    con = duck_connection(sf_dir)
    try:
        df = registry.QUERIES[name](spark, sf_dir)
        compare(df, con, registry.ORACLES[name], name=name)
    finally:
        con.close()


@pytest.mark.parametrize("name", FAMILY)
def test_graph_query_on_empty_corpus_matches_oracle(spark, sf_empty, name):
    _check_on(spark, sf_empty, name)


@pytest.mark.parametrize("name", FAMILY)
def test_graph_query_on_duplicated_lines_matches_oracle(spark, sf_dup_lines, name):
    _check_on(spark, sf_dup_lines, name)
