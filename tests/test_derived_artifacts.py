"""Derived artifacts (``io.derived``) and the streaming ingest harness
(``queries.streaming.ingest``).

A persisted index, a stream split or a fixture file set is keyed by its
source's ``io.file_stamp``: a source rewritten in place must be served a
fresh build, never the artifact of its old contents. The ingest harness
removes its work dir and the memo entries that named it, and the bounded
streaming drain removes its checkpoint dir.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq
import pytest

from brooklin_spark import io, registry
from tests.corpora import derived_corpus
from tests.oracle import compare, duck_connection

registry.load_all()


def test_derived_builds_once_per_source_stamp(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = tmp_path / "src.txt"
    src.write_text("one")
    builds = []

    def build(out):
        builds.append(out)
        with open(os.path.join(out, "data"), "w") as f:
            f.write(src.read_text())

    a = io.derived("t", [str(src)], build, 1)
    assert a == io.derived("t", [str(src)], build, 1)
    assert len(builds) == 1
    assert os.path.exists(os.path.join(a, "_SUCCESS"))
    assert os.path.basename(a).startswith("bspark_t_")
    # a new param or a rewritten source is a new artifact
    assert io.derived("t", [str(src)], build, 2) != a
    src.write_text("two, longer")
    b = io.derived("t", [str(src)], build, 1)
    assert b != a and open(os.path.join(b, "data")).read() == "two, longer"
    assert len(builds) == 3

    def broken(out):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        io.derived("u", [str(src)], broken)
    # a failed build leaves neither a served path nor its build dir
    assert not glob.glob(str(tmp_path / "bspark_u_*"))


@pytest.mark.parametrize(
    "name, source",
    [
        ("source_avro_ocf_evolved", "orders"),
        ("source_avro_ocf_orders", "orders"),
        ("text_bm25_search_persisted", "documents"),
        ("ann_ivf_topk_persisted", "embeddings"),
        ("dedup_incremental_persisted_index", "documents"),
        ("streaming_dedup_minhash_ingest", "documents"),
    ],
)
def test_rewritten_source_rebuilds_its_artifact(
    spark, sf_smoke, tmp_path, monkeypatch, name, source
):
    """Run the reader, rewrite its source table in place with half its
    rows, run it again: both runs equal the oracle on the data as it is."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    sf = derived_corpus(corpus, sf_smoke, {})
    q, oracle = registry.QUERIES[name], registry.ORACLES[name]
    compare(q(spark, sf), duck_connection(sf), oracle, name)

    path = os.path.join(sf, f"{source}.parquet")
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)
    compare(q(spark, sf), duck_connection(sf), oracle, f"{name} (rewritten)")


_INGESTS = [
    "streaming_dedup_minhash_ingest",
    "streaming_dedup_simhash_ingest",
    "streaming_dedup_semantic_ingest",
    "streaming_bm25_index_ingest",
    "streaming_count_min_ingest",
]


def test_ingest_forgets_the_stores_it_deletes(spark, sf_smoke):
    """Each ingest reads its stores through the memoized reader, then
    deletes them: no memo entry may outlive its path."""
    before = set(io._SCHEMAS)
    for _ in range(2):
        for name in _INGESTS:
            registry.QUERIES[name](spark, sf_smoke).collect()
    added = set(io._SCHEMAS) - before
    assert not [p for p in added if not os.path.exists(p)]


def test_run_to_completion_removes_its_checkpoint(spark, sf_smoke):
    def ckpts():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "bk-stream-*")))

    before = ckpts()
    rows = registry.QUERIES["streaming_windowed_counts"](spark, sf_smoke).collect()
    assert rows
    assert ckpts() <= before
