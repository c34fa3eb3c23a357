"""Partitioning-invariance for the rows-only queries.

The DuckDB oracle value-checks 65 of 70 queries; the 5 rows-only ones
(trained codebooks / sketches / fake media) only get a row-count check
from the driver. Their determinism claim — same results regardless of
cluster layout — is therefore tested here directly: run each at two
different shuffle-partition settings WITH freshly rebuilt artifacts and
require identical sorted rows. This is the classic Spark failure mode
(ties broken by partition order, init sampled per-partition), and the
reason every ranking in the engine rounds before ordering and breaks
ties on id.

``q_kmeans_build`` is the documented exception: MLlib's k-means|| init
samples per-partition, so centroid CONTENTS legitimately vary with
layout (SURVEY.md §7.3 — never hash centroid values); its stable
contract is the output shape (cluster count), which is what the driver's
rows-only check records.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from stackai_vector_db_spark import artifacts, queries as Q

STRICT = [
    "q_pq_adc_topk",
    "q_ivf_pq_topk",
    "q_ivf_pq_residual_topk",
    "q_approx_distinct",
    "q_multimodal_features",
]


def _fresh_rows(spark, name: str, n_shuffle: int):
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    # Force artifact rebuild so train/encode determinism is exercised too,
    # not just the cached result.
    artifacts.clear()
    df = Q.REGISTRY[name].fn(spark, SF_DIR)
    rows = sorted(tuple(r) for r in df.collect())
    return df.columns, rows


@pytest.mark.parametrize("name", STRICT)
def test_rows_only_queries_partitioning_invariant(spark, name):
    try:
        cols_a, rows_a = _fresh_rows(spark, name, 4)
        cols_b, rows_b = _fresh_rows(spark, name, 17)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert cols_a == cols_b
    assert rows_a == rows_b and len(rows_a) > 0


def test_kmeans_build_shape_stable(spark):
    try:
        _, rows_a = _fresh_rows(spark, "q_kmeans_build", 4)
        _, rows_b = _fresh_rows(spark, "q_kmeans_build", 17)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert len(rows_a) == len(rows_b) > 0


def test_approx_distinct_within_hll_error_bound(spark):
    """The raw HLL estimate's accuracy contract, pinned: per group the
    HyperLogLog++ estimate (rsd=0.01) sits within 5× the requested
    relative error of the exact distinct count. Since r9 the registry
    query emits only the boundedness VERDICT (so the DuckDB oracle can
    hash-check it); this test keeps the raw estimate itself under
    contract — the production 100 TB form drops the exact side and
    ships the estimate."""
    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.queries import APPROX_DISTINCT_RSD

    raw = load_table(spark, SF_DIR, "events").groupBy("event_type").agg(
        F.approx_count_distinct(
            "user_id", rsd=APPROX_DISTINCT_RSD
        ).alias("n_users_approx")
    )
    approx = {r["event_type"]: r["n_users_approx"] for r in raw.collect()}
    # and the registry's verdict shape must agree: every group in bound
    verdicts = Q.REGISTRY["q_approx_distinct"].fn(spark, SF_DIR).collect()
    assert verdicts and all(r["within_bound"] for r in verdicts)
    e = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys() and len(exact) > 0
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, approx[k], n)


def test_approx_distinct_raw_form_has_no_exact_expand(spark):
    """SPARK_GRAFT_APPROX_RAW=1 runs the production shape: HLL-only, so
    the physical plan must contain no exact-distinct machinery (the
    Expand node Spark plans for count(DISTINCT ...) alongside another
    aggregate) — the scalable form the registry entry exists to
    demonstrate stays executable, not just documented (r9 advisor)."""
    import os

    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.queries import APPROX_DISTINCT_RSD

    os.environ["SPARK_GRAFT_APPROX_RAW"] = "1"
    try:
        raw = Q.REGISTRY["q_approx_distinct"].fn(spark, SF_DIR)
        plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "approx_count_distinct" in plan.lower(), plan[:2000]
        assert "Expand" not in plan, plan[:2000]
        got = {r["event_type"]: r["approx_users"] for r in raw.collect()}
    finally:
        del os.environ["SPARK_GRAFT_APPROX_RAW"]
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct(
                "user_id", rsd=APPROX_DISTINCT_RSD
            ).alias("n")
        )
        .collect()
    }
    assert got == want  # same sketch, same estimate — deterministic
