"""Dump .explain('formatted') for headline queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <outdir> <suffix> [query ...]
Defaults to the bench HEADLINE set when no queries are given.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

from bench import HEADLINE, artifact_builders  # noqa: E402
from stackai_vector_db_spark.queries import REGISTRY  # noqa: E402
from stackai_vector_db_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    split: dict[str, str] = {}
    for _, build in artifact_builders(spark, sf_dir, split):
        build()

    for name in names:
        qd = REGISTRY.get(name)
        if qd is None:
            continue
        q_sf = split["d"] if name == "q_corpus_pipeline" else sf_dir
        df = qd.fn(spark, q_sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
