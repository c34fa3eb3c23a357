"""The session artifact store (stackai_vector_db_spark/artifacts.py): every
cached artifact follows its source tables, and releasing entries frees
exactly the blocks their builds persisted."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from tests.conftest import SF_DIR
from stackai_vector_db_spark import queries as Q
from stackai_vector_db_spark.catalog import load_table
from stackai_vector_db_spark.plans import pq_index


def _halve(path: str) -> set[int]:
    """Rewrite a fixture table to every other row, with an mtime strictly
    later than the original's; returns the surviving first-column ids."""
    before = os.stat(path).st_mtime_ns
    tbl = pq.read_table(path)
    tbl = tbl.take(list(range(0, tbl.num_rows, 2)))
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    later = before + 5 * 10**9
    os.utime(path, ns=(later, later))
    return set(tbl.column(0).to_pylist())


def test_artifacts_follow_rewritten_fixture(spark, tmp_path):
    """A fixture rewritten in a live session must invalidate every
    artifact built over it — stale layouts would keep ranking vectors that
    no longer exist."""
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf, copy_function=shutil.copy)
    for f in os.listdir(sf):
        os.chmod(os.path.join(sf, f), 0o644)
    n_ord = load_table(spark, sf, "orders").count()
    assert Q._lsh_bucketed(spark, sf).count() == 500
    assert Q._e2e_embdocs(spark, sf).count() == 500
    assert len(Q._ivf_centroid_rows(spark, sf)) > 0
    assert pq_index.corpus_key(spark, sf) == 500 * 1_000_000_000 + n_ord

    vec_ids = _halve(os.path.join(sf, "embeddings.parquet"))
    _halve(os.path.join(sf, "documents.parquet"))
    assert len(vec_ids) == 250

    assert load_table(spark, sf, "embeddings").count() == 250
    assert Q._lsh_bucketed(spark, sf).count() == 250
    assert Q._e2e_embdocs(spark, sf).count() == 250
    assert pq_index.corpus_key(spark, sf) == 250 * 1_000_000_000 + n_ord
    emb = pq.read_table(os.path.join(sf, "embeddings.parquet")).to_pydict()
    vecs = np.array(emb["embedding"], dtype=np.float64)
    labels = np.array(emb["label"])
    rows = Q._ivf_centroid_rows(spark, sf)
    assert sorted(r["cluster_id"] for r in rows) == sorted(set(labels.tolist()))
    for r in rows:
        want = vecs[labels == r["cluster_id"]].mean(axis=0)
        assert np.allclose(r["centroid"], want, atol=1e-6)
    hits = Q.REGISTRY["q_ann_lsh_topk"].fn(spark, sf).collect()
    assert hits and {r["vec_id"] for r in hits} <= vec_ids
    assert {r["qid"] for r in hits} <= vec_ids


def test_clear_releases_persisted_blocks(spark):
    """clear() unpersists what the builds persisted (and nothing else), so
    the context's persistent-RDD count returns to its pre-build value; a
    trailing slash on the fixture dir names the same entry."""
    from stackai_vector_db_spark import artifacts

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def build_all() -> None:
        Q._lsh_bucketed(spark, SF_DIR)
        Q._ivf_pq_coded(spark, SF_DIR)
        Q._e2e_embdocs(spark, SF_DIR)

    # A first pass materializes any lazy cache another caller holds over
    # the same plans, so the count below measures the store's own blocks.
    build_all()
    artifacts.clear()
    before = n_persistent()
    build_all()
    assert n_persistent() > before
    assert Q._e2e_embdocs(spark, SF_DIR + "/") is Q._e2e_embdocs(spark, SF_DIR)
    artifacts.clear()
    assert n_persistent() == before
