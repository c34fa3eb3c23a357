"""Per-query cost breakdown for the headline bench (optimization round).

For each HEADLINE query, mirrors bench.py's methodology (same session, same
artifact pre-build, same warm-up) but splits the timed call into:

- ``build_s``: time to run ``qd.fn(spark, sf_dir)`` — Python plan
  construction + any eager driver-side work (collects of query vectors,
  centroid reads, ``.rdd.getNumPartitions()`` gates ...)
- ``exec_s``: time for the final ``.count()`` action
- ``jobs``: Spark jobs launched across the whole call (statusTracker delta)

Usage: python tools/profile_bench.py [sf_dir] [n_iter]
Writes JSON to stdout (one line) and a readable table to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

from bench import HEADLINE, artifact_builders  # noqa: E402
from stackai_vector_db_spark.queries import REGISTRY  # noqa: E402
from stackai_vector_db_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_iter = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="profile_bench")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    warm = spark.range(64).selectExpr("id", "cast(id as double) v")
    warm.mapInPandas(lambda it: it, schema="id long, v double").count()

    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf) and os.path.realpath(warm_sf) != os.path.realpath(sf_dir):
        for name in HEADLINE:
            qd = REGISTRY.get(name)
            if qd is not None:
                try:
                    qd.fn(spark, warm_sf).count()
                except Exception:
                    pass

    t0 = time.perf_counter()
    split: dict[str, str] = {}
    for _, build in artifact_builders(spark, sf_dir, split):
        build()
    print(f"artifact build {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    out: dict[str, dict] = {}
    for name in HEADLINE:
        qd = REGISTRY.get(name)
        if qd is None:
            continue
        q_sf = split["d"] if name == "q_corpus_pipeline" else sf_dir
        builds, execs, jobsl = [], [], []
        for _ in range(n_iter):
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = qd.fn(spark, q_sf)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            assert n >= 0
            spark.sparkContext.setJobDescription(None)
            jids = tracker.getJobIdsForGroup(None) or []
            j1 = len(jids)
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            jobsl.append(j1 - j0)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        out[name] = {
            "build_s": round(med(builds), 3),
            "exec_s": round(med(execs), 3),
            "total_s": round(med(builds) + med(execs), 3),
            "build_min_s": round(min(builds), 3),
            "exec_min_s": round(min(execs), 3),
            "jobs": med(jobsl),
        }
        r = out[name]
        print(
            f"{name:24s} build {r['build_s']:6.3f}s exec {r['exec_s']:6.3f}s "
            f"jobs {r['jobs']}",
            file=sys.stderr,
        )
    total = round(sum(r["total_s"] for r in out.values()), 3)
    print(f"TOTAL {total}s", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "total_s": total, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
