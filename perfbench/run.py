"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Runs one workload in this process, at ``local[<nproc>]``, against the
package in the checkout that holds this directory. Inputs are generated
from ``--seed``; every output is checked. Prints one detail line (host
signature and the workload's own metrics) and, last, one JSON line
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
``end_to_end`` list of BENCHMARK.json (``--trace 0``) or its ``per_layer``
list (``--trace 1``, which also writes the span file under
``.perfbench/spans/``). Exits non-zero, printing no result, when the
package is missing or a run cannot complete.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"  # local[N] driver heap: the whole engine, sized for a 15 GB host
WORKLOADS = ("analytics", "store_search", "store_churn", "stream_dedup")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="input scale factor (default: the workload's own)")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Pin the settings the package reads from the environment before it
    is imported: parallelism, heap, scratch and artifact directories, and
    the import path of Spark's Python workers. Temporary files of Python
    and the JVM go under ``work`` too."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_PQ_ARTIFACTS"] = os.path.join(work, "pq")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # A heap fixed at its maximum from the start (-Xms), so that resident
    # memory does not follow the collector's resizing decisions.
    java_opts = f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --conf "
        + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}")
        + " pyspark-shell"
    )
    os.environ["ORACLE_STRICT"] = "1"  # tools/check_oracle.py's exact compare


# The per-layer metrics each workload measures, by name prefix. A traced
# run that lacks one of its own layers is an error (a renamed span must not
# read as a perfect score); the layers of other workloads read 0.
LAYERS = {
    "analytics": ("session.", "queries.", "spark.q_", "spark.sweep.", "streaming.",
                  "spark.epoch.", "trace."),
    "store_search": ("session.", "store.search_", "store.ingest_chunks.",
                     "store.build_index.", "store.manifest_entries",
                     "store.live_tombstones", "store.files", "store.bytes",
                     "spark.search_", "trace."),
    "store_churn": ("session.", "store.", "spark.search_", "spark.write.", "trace."),
    "stream_dedup": ("session.", "streaming.", "spark.epoch.", "trace."),
}


def _final_metrics(run, spec: dict, trace: bool) -> dict:
    if trace:
        own = [m["name"] for m in spec["per_layer"]
               if m["name"].startswith(LAYERS[run.workload])]
        missing = [n for n in own if n not in run.layers]
        if missing:
            raise RuntimeError(f"{run.workload} did not measure its layers {missing}")
        return {
            m["name"]: {"value": run.layers.get(m["name"], 0), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    values = {"setup_s": run.setup_s,
              **{k: v["value"] for k, v in run.detail.items()}}
    return {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec["end_to_end"]
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
        raise


def main(argv=None) -> int:
    args = _parse(argv)
    missing = [
        p for p in ("stackai_vector_db_spark", "bench.py", "tools", "BENCHMARK.json")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a full checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    sys.path.insert(0, ROOT)

    from perfbench.common import Run, host_signature

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, work, T0)
    try:
        if args.workload == "analytics":
            from perfbench.analytics import run_analytics as body
        elif args.workload == "stream_dedup":
            from perfbench.stream import run_stream_dedup as body
        else:
            from perfbench import store

            body = getattr(store, f"run_{args.workload}")
        body(run, args.sf)
        run.metric("peak_rss_mb", run.peak_rss_mb(), "MB")
        run.metric("failed_ratio", run.failed / max(run.attempted, 1), "ratio",
                   run.attempted)
        host = host_signature(run.spark, ROOT)
        if run.tracer.enabled:
            run.layers["trace.tracer_s"] = run.tracer.overhead_s
            run.layers["trace.op_s"] = run.detail["op_s"]["value"]
            spans_dir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            run.tracer.dump(
                os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
            )
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not run.wrong,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": _final_metrics(run, spec, bool(args.trace)),
    }
    detail = {"workload": args.workload, "seed": args.seed, "host": host,
              "setup_s": run.setup_s, "wrong": run.wrong[:20],
              "failures": run.failures[:20], "metrics": run.detail}
    if args.trace:
        detail["layers"] = run.layers
        detail["coverage"] = run.tracer.coverage()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
