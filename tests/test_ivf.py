"""IVF layout tests — mirrors the reference's approximation contract
(`app/indexes/ivf.py`, README.md:322-330: IVF trades exactness for speed;
recall tested against the linear baseline, exact when every cluster is
probed)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from stackai_vector_db_spark.catalog import load_table
from stackai_vector_db_spark.operators.ivf import (
    assign_clusters,
    ivf_search,
    kmeans_centroids,
    label_mean_centroids,
    write_ivf_layout,
)
from stackai_vector_db_spark.operators.knn import brute_force_topk

K = 10
NQ = 5


def _queries(emb):
    return emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


@pytest.fixture(scope="module")
def fixtures(spark):
    emb = load_table(spark, SF_DIR, "embeddings").persist()
    cents = label_mean_centroids(emb).persist()
    assigned = emb.join(
        assign_clusters(emb, cents).select("vec_id", "cluster_id"), "vec_id"
    ).persist()
    exact = {
        (r.qid, r.vec_id)
        for r in brute_force_topk(_queries(emb), emb, K).collect()
    }
    return emb, cents, assigned, exact


def test_full_probe_is_exact(spark, fixtures):
    """nprobe == n_clusters ⇒ identical to the linear baseline
    (reference: probing every inverted list degenerates to linear scan)."""
    emb, cents, assigned, exact = fixtures
    n_clusters = cents.count()
    approx = {
        (r.qid, r.vec_id)
        for r in ivf_search(_queries(emb), assigned, cents, K, nprobe=n_clusters).collect()
    }
    assert approx == exact


def test_recall_rises_with_nprobe(spark, fixtures):
    """Recall is monotone in nprobe and clears a floor at nprobe=5/10 —
    the reference's accuracy-vs-speed dial (ivf.py:214-224). The synthetic
    64-dim clusters overlap, so absolute recall at tiny nprobe is low; the
    contract is the monotone curve, not a fixed point."""
    emb, cents, assigned, exact = fixtures
    recalls = []
    for nprobe in (2, 5, 8):
        approx = {
            (r.qid, r.vec_id)
            for r in ivf_search(_queries(emb), assigned, cents, K, nprobe=nprobe).collect()
        }
        recalls.append(len(approx & exact) / len(exact))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[1] >= 0.6, f"recall@nprobe=5 {recalls[1]:.2f} below floor"


def test_probe_cost_scales_with_nprobe(spark, fixtures):
    """The candidate set (rows scanned) must shrink with fewer probes —
    the IVF cost model O(P·M + k), reference ivf.py:17."""
    emb, cents, assigned, _ = fixtures
    q = _queries(emb)
    from stackai_vector_db_spark.operators.ivf import probe_clusters

    sizes = {}
    for nprobe in (1, 5, 10):
        probes = probe_clusters(q, cents, nprobe)
        sizes[nprobe] = assigned.join(probes, "cluster_id").count()
    assert sizes[1] < sizes[5] < sizes[10]


def test_kmeans_centroids_shape(spark, fixtures):
    emb, *_ = fixtures
    cents = kmeans_centroids(emb, n_clusters=4)
    rows = cents.collect()
    assert len(rows) == 4
    assert all(len(r.centroid) == 64 for r in rows)


def test_partitioned_layout_prunes(spark, tmp_path, fixtures):
    """write_ivf_layout produces cluster_id=N directories and a probe filter
    scans only those — the declarative form of inverted lists."""
    emb, cents, _, _ = fixtures
    path = str(tmp_path / "ivf")
    write_ivf_layout(emb, cents, path)
    layout = spark.read.parquet(path)
    pruned = layout.filter(F.col("cluster_id") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # Partition filter must appear as a pushed partition predicate, and the
    # pruned scan must read a strict subset of rows.
    assert "cluster_id" in plan
    assert 0 < pruned.count() < layout.count()
    import os

    assert any(d.startswith("cluster_id=") for d in os.listdir(path))


def test_knn_join_full_probe_matches_brute_force(spark):
    """knn_join with nprobe = C is exact: same (qid, vec_id, dist) set as
    the broadcast brute-force plan, while keeping the query side
    distributed."""
    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.operators.ivf import (
        knn_join,
        label_mean_centroids,
    )
    from stackai_vector_db_spark.operators.knn import brute_force_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = label_mean_centroids(emb)
    n_clusters = cents.count()
    assigned = emb.select("vec_id", "embedding", F.col("label").alias("cluster_id"))
    q = emb.limit(6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    graph = knn_join(q, assigned, cents, k=4, nprobe=n_clusters)
    brute = brute_force_topk(q, emb, 4)
    a = {(r["qid"], r["vec_id"], r["dist"]) for r in graph.collect()}
    b = {(r["qid"], r["vec_id"], r["dist"]) for r in brute.collect()}
    assert a == b


def test_knn_join_salting_invariant(spark):
    """Splitting hot clusters into salted sub-blocks changes the physical
    task shape only: per-block local top-k still covers the global top-k,
    so results are identical to the unsalted join."""
    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.operators.ivf import (
        knn_join,
        label_mean_centroids,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = label_mean_centroids(emb)
    assigned = emb.select("vec_id", "embedding", F.col("label").alias("cluster_id"))
    q = emb.limit(20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    plain = knn_join(q, assigned, cents, k=3, nprobe=2, exclude_self=True)
    salted = knn_join(q, assigned, cents, k=3, nprobe=2, exclude_self=True, n_salts=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_probe_arrow_matches_declarative(spark):
    """probe_clusters_arrow must pick exactly the clusters the declarative
    window probe picks — same distances (round 6), same cluster_id
    tie-break — for both metrics and nprobe values."""
    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.operators.ivf import (
        label_mean_centroids,
        probe_clusters,
        probe_clusters_arrow,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = label_mean_centroids(emb)
    q = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    for metric in ("euclidean", "cosine"):
        for nprobe in (1, 2):
            a = {
                (r["qid"], r["cluster_id"])
                for r in probe_clusters(q, cents, nprobe, metric).collect()
            }
            b = {
                (r["qid"], r["cluster_id"])
                for r in probe_clusters_arrow(q, cents, nprobe, metric)
                .select("qid", "cluster_id")
                .collect()
            }
            assert a == b, (metric, nprobe)


def test_kmeans_artifact_is_lloyd_fixpoint(spark):
    """The committed kmeans-centroid artifact (artifacts/pq/*/kmeans_centroids)
    is what both the Spark q_kmeans_build query and its DuckDB oracle read.
    Validate it SEMANTICALLY, not by retraining: each stored centroid must
    equal the mean of the vectors assigned to it — the Lloyd fixpoint
    condition, which any converged k-means on this corpus satisfies and
    any corrupted/stale/wrong-corpus artifact does not. (A retrain-and-
    compare would couple the test to MLlib's kmeans|| init and
    treeAggregate order, which vary with input partitioning across hosts;
    the fixpoint check is partition- and machine-independent. Measured
    deviation of the committed artifacts: ~1e-17 at all three SFs.)"""
    import numpy as np

    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.operators.ivf import assign_clusters
    from stackai_vector_db_spark.plans import pq_index

    sf_dir = "/root/testdata/sf0.001"
    key = pq_index.corpus_key(spark, sf_dir)
    art = pq_index.load_table_artifact(spark, key, "kmeans", "centroids")
    assert art is not None, "kmeans artifact missing — rebuild and commit"
    rows = art.collect()
    assert len(rows) == 10 and all(len(r["centroid"]) == 64 for r in rows)

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = assign_clusters(emb, art).select("vec_id", "cluster_id")
    means = (
        emb.join(assigned, "vec_id")
        .select("cluster_id", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(F.avg("val").alias("m"))
    ).collect()
    mm: dict = {}
    for r in means:
        mm.setdefault(r["cluster_id"], {})[r["pos"]] = r["m"]
    for r in rows:
        c = np.array(r["centroid"])
        got = np.array([mm[r["cluster_id"]][i] for i in range(len(c))])
        assert np.allclose(got, c, atol=1e-9), (
            f"cluster {r['cluster_id']} is not a Lloyd fixpoint "
            f"(max dev {np.abs(got - c).max():.3e})"
        )


def test_kmeans_artifact_carries_train_metadata(spark, tmp_path, monkeypatch):
    """Two pins for the measured-rounds contract (r7 brief #4): (a) every
    committed kmeans artifact carries a ``_meta.json`` with the integer
    iteration count of the training that produced it — the audit's rounds
    column reads this instead of a static "≤50 maxIter" placeholder; (b)
    a FRESH build (empty artifact root) writes the same metadata, so the
    contract survives artifact regeneration."""
    from stackai_vector_db_spark import artifacts, queries as Q
    from stackai_vector_db_spark.plans import pq_index

    sf_dir = "/root/testdata/sf0.001"
    key = pq_index.corpus_key(spark, sf_dir)
    meta = pq_index.load_artifact_meta(key, "kmeans", "centroids")
    assert meta is not None, "committed kmeans artifact has no _meta.json"
    assert isinstance(meta.get("train_iters"), int) and 1 <= meta["train_iters"] <= 50

    monkeypatch.setattr(pq_index, "ARTIFACT_ROOT", str(tmp_path))
    artifacts.clear("kmeans_cents")
    try:
        cents = Q._kmeans_artifact_centroids(spark, sf_dir)
        assert cents.count() == 10
        fresh = pq_index.load_artifact_meta(key, "kmeans", "centroids")
        assert fresh is not None and isinstance(fresh.get("train_iters"), int)
    finally:
        # drop the tmp-root build from the session store so later tests
        # re-serve the committed artifact, not this one
        artifacts.clear("kmeans_cents")


def test_knn_join_query_chunk_boundary(spark):
    """The block kernel chunks its query loop (1024-row slices) so a
    skew-concentrated group can't materialize an unbounded distance
    matrix. Fixture groups are far smaller than one chunk, so this test
    forces >2 chunks through a single cluster (all 2,500 queries probe
    the one populated cluster) and checks the result equals brute force —
    guarding the qi = chunk_offset + row index arithmetic at boundaries."""
    from pyspark.sql import functions as F

    from stackai_vector_db_spark.operators.ivf import knn_join
    from stackai_vector_db_spark.operators.knn import brute_force_topk
    from tools.scale_probe import synth_vectors

    vecs = synth_vectors(spark, 2_500, 8, 4, mode="uniform").drop("label")
    assigned = vecs.select("vec_id", "embedding", F.lit(0).alias("cluster_id"))
    cents = spark.createDataFrame(
        [(0, [0.0] * 8)], "cluster_id int, centroid array<double>"
    )
    q = vecs.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    graph = knn_join(q, assigned, cents, k=3, nprobe=1, exclude_self=True)
    rows = graph.collect()
    assert len(rows) == 2_500 * 3
    brute = brute_force_topk(q, vecs, k=4)  # k+1: strip self, keep 3
    want = {
        (r["qid"], r["vec_id"], r["dist"])
        for r in brute.collect()
        if r["qid"] != r["vec_id"]
    }
    got = {(r["qid"], r["vec_id"], r["dist"]) for r in rows}
    assert got <= want and len(got) == len(rows)


def test_probe_pairs_local_matches_declarative(spark):
    """probe_pairs_local (the r11 driver-side serving probe) must pick
    exactly the pairs the declarative window probe picks — same rounded
    distances, same cluster_id tie-break — for both metrics and nprobe
    values, using ALL corpus vectors as queries for breadth."""
    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.operators.ivf import (
        label_mean_centroids,
        probe_clusters,
        probe_pairs_local,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = label_mean_centroids(emb)
    cent_rows = cents.collect()
    q = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    qrows = q.collect()
    for metric in ("euclidean", "cosine"):
        for nprobe in (1, 2):
            a = {
                (r["qid"], r["cluster_id"])
                for r in probe_clusters(q, cents, nprobe, metric).collect()
            }
            b = set(probe_pairs_local(qrows, cent_rows, nprobe, metric))
            assert a == b, (metric, nprobe)


def test_probe_pairs_local_empty_centroids_returns_no_pairs():
    """An empty/corrupted centroid table must yield no pairs, not a numpy
    broadcasting error (r11 advisor)."""
    from stackai_vector_db_spark.operators.ivf import probe_pairs_local

    assert probe_pairs_local([(0, [1.0, 2.0])], [], nprobe=2) == []
    assert probe_pairs_local([], [], nprobe=2) == []


def test_local_probe_budget_falls_back_to_declarative(spark, monkeypatch):
    """ivf_search with centroid_rows but a query set past the driver-side
    probe budget (MAX_LOCAL_PROBE_PAIRS) must fall back to the distributed
    probe — same results, no Q·C driver loop (r11 verdict "What's wrong
    #3")."""
    from stackai_vector_db_spark import operators
    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.operators import ivf as ivf_ops

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_ops.label_mean_centroids(emb)
    cent_rows = cents.collect()
    assigned = emb.select(
        "vec_id", "embedding", F.col("label").alias("cluster_id")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = sorted(
        map(
            tuple,
            ivf_ops.ivf_search(
                q, assigned, cents, k=5, nprobe=2, centroid_rows=cent_rows
            ).collect(),
        )
    )
    # Budget 0 ⇒ every centroid_rows call exceeds it ⇒ declarative path.
    monkeypatch.setattr(ivf_ops, "MAX_LOCAL_PROBE_PAIRS", 0)
    called = []
    orig = ivf_ops.local_probes_df
    monkeypatch.setattr(
        ivf_ops, "local_probes_df",
        lambda *a, **k: (called.append(1), orig(*a, **k))[1],
    )
    got = sorted(
        map(
            tuple,
            ivf_ops.ivf_search(
                q, assigned, cents, k=5, nprobe=2, centroid_rows=cent_rows
            ).collect(),
        )
    )
    assert not called  # guard actually took the declarative branch
    assert got == want
    _ = operators  # imported for namespace symmetry with other tests


def test_local_query_side_mirrors_source_exactly(spark):
    """_local_query_side (r12 — the ivf scoring join's LocalRelation build
    side) must reproduce the collected query rows bit-exactly with the
    source dtypes, plan as a LocalTableScan (no second scan of the query
    relation), and refuse any shape whose literal form cannot be exact."""
    from stackai_vector_db_spark.operators.ivf import _local_query_side

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    qrows = q.collect()
    local = _local_query_side(q, qrows, "qid", "qvec")
    assert local is not None
    assert dict(local.dtypes) == dict(q.dtypes)  # array<float> preserved
    assert "LocalTableScan" in local._jdf.queryExecution().executedPlan().toString()
    want = sorted((r[0], list(r[1])) for r in qrows)
    got = sorted((r[0], list(r[1])) for r in local.collect())
    assert got == want  # bit-exact float32 round-trip

    # array<double> source: repr round-trips doubles exactly too.
    qd = q.select("qid", F.col("qvec").cast("array<double>").alias("qvec"))
    qd_rows = qd.collect()
    local_d = _local_query_side(qd, qd_rows, "qid", "qvec")
    assert local_d is not None
    assert dict(local_d.dtypes)["qvec"] == "array<double>"
    assert sorted((r[0], list(r[1])) for r in local_d.collect()) == sorted(
        (r[0], list(r[1])) for r in qd_rows
    )

    # Refusals: non-finite component; unsupported vector dtype; empty set.
    import math

    bad = [(0, [1.0, math.inf])]
    assert _local_query_side(qd, bad, "qid", "qvec") is None
    qs = q.select("qid", F.col("qvec").cast("array<string>").alias("qvec"))
    assert _local_query_side(qs, qrows, "qid", "qvec") is None
    assert _local_query_side(q, [], "qid", "qvec") is None
