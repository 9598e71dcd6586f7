"""Every data-derived branch of the bipartite graph queries against its
DuckDB oracle.

PageRank, kcore and assortativity each run one algorithm; the thresholds
left in `queries/dedup.py` only pick storage (`_PR_SPILL_LI_ROWS`), the
kcore peel (`_KCORE_GROUPED_LI_ROWS`), the node-side join strategy
(`_BCAST_MAX_NODES`) or the packed-long build (footer key bounds via
`_key_upper_bound`). Each case forces one of them with `monkeypatch`, so
nothing leaks into later tests, and checks the result at sf0.01 where the
defaults would never take that branch. The empty corpus pins the
degenerate graph: no edges, no nodes, no division by zero.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

import brooklin_spark.queries.dedup as dd
from brooklin_spark import registry
from tests.oracle import compare, duck_connection

registry.load_all()

PR = "graph_pagerank_influence"
KCORE = "graph_kcore_bounded"
ASSORT = "graph_assortativity"

#: (case id, query, {dedup global: forced value})
_CASES = [
    ("default", PR, {}),
    ("default", KCORE, {}),
    ("default", ASSORT, {}),
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
    out = tmp_path_factory.mktemp("sf_empty")
    for name in ("orders", "lineitem"):
        t = pq.read_table(os.path.join(sf_smoke, f"{name}.parquet"))
        pq.write_table(t.slice(0, 0), str(out / f"{name}.parquet"))
    return str(out)


@pytest.mark.parametrize("name", [PR, KCORE, ASSORT])
def test_graph_query_on_empty_corpus_matches_oracle(spark, sf_empty, name):
    con = duck_connection(sf_empty)
    try:
        df = registry.QUERIES[name](spark, sf_empty)
        compare(df, con, registry.ORACLES[name], name=name)
    finally:
        con.close()
