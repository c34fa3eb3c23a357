"""``analytics``: the 17 headline queries of bench.py over seeded tables,
with the streaming dedup-at-ingest of perfbench/stream.py beside them.

Setup generates the tables, runs bench's artifact pre-build (each builder
timed), one untimed warm-up sweep that collects every result, and the
stream's cold epoch. The DuckDB oracles run on one thread while the
builders and the warm-up sweep run, and must finish before the timed phase
starts. The timed phase runs whole rounds until ``--seconds`` have passed;
a round is a sweep over the 17 queries in a seeded order, one op being
plan build (``REGISTRY[q].fn``) plus ``.count()``, then one stream epoch
(the next input file sent and drained). Afterwards every warm-up result is
compared with its oracle using the strict compare of tools/check_oracle.py,
every timed count with the verified row count, and the stream's pairs with
the batch dedup of the same docs.
One known defect is allowed for: q_corpus_pipeline's ``avg_score`` can
differ from its oracle in the last rounded digit (summation order decides
which way a value on a rounding boundary goes); such a result fails that
query's ops instead of making the run incorrect.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import datagen
from perfbench.common import Run, timing
from perfbench.stream import DedupFeed
from perfbench.trace import SPARK_KEYS

DEFAULT_SF = 0.01


def _builders(spark, sf_dir: str, split: dict):
    """bench.py's artifact pre-build, in its order and under its names."""
    from bench import _split_docs_dir
    from stackai_vector_db_spark import queries as Q

    return [
        ("pq", lambda: Q._pq_artifacts(spark, sf_dir)),
        ("lsh_bucketed", lambda: Q._lsh_bucketed(spark, sf_dir)),
        ("ivf_pq", lambda: Q._ivf_pq_coded(spark, sf_dir)),
        ("shingles", lambda: Q._shingle_base(spark, sf_dir)),
        ("lsh_banded", lambda: Q._lsh_banded(spark, sf_dir)),
        ("e2e_embdocs", lambda: Q._e2e_embdocs(spark, sf_dir)),
        ("docs_split", lambda: split.update(d=_split_docs_dir(spark, sf_dir))),
    ]


def _oracle_rows(sf_dir: str, queries: list[str]) -> dict[str, tuple]:
    """(columns, rows) of each query's DuckDB oracle over ``sf_dir``, on
    one DuckDB thread."""
    import duckdb

    from stackai_vector_db_spark.catalog import TABLES
    from stackai_vector_db_spark.queries import REGISTRY

    con = duckdb.connect(config={"threads": 1})
    try:
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for q in queries:
            res = con.execute(REGISTRY[q].oracle)
            out[q] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


ROUND_UNIT = 1e-6  # the oracles round floats to 6 decimals
# (query, column) cells whose last rounded digit may differ: known defect
LAST_DIGIT_DEFECT = {"q_corpus_pipeline": {"avg_score"}}


def last_digit_only(got: tuple, want: tuple, columns: set[str]) -> bool:
    """True when two (columns, rows) results have the same columns and rows
    and differ only in float cells of ``columns``, each by at most one unit
    of the 6th decimal."""
    (gc, gr), (wc, wr) = got, want
    if sorted(gc) != sorted(wc) or len(gr) != len(wr):
        return False
    names = sorted(gc)
    order_g = [gc.index(c) for c in names]
    order_w = [wc.index(c) for c in names]

    def key(row):
        return tuple(
            round(v, 4) if isinstance(v, float) and math.isfinite(v) else str(v)
            for v in row
        )

    rows_g = sorted((tuple(r[i] for i in order_g) for r in gr), key=key)
    rows_w = sorted((tuple(r[i] for i in order_w) for r in wr), key=key)
    for a, b in zip(rows_g, rows_w):
        for name, x, y in zip(names, a, b):
            if name in columns and isinstance(x, float) and isinstance(y, float):
                if not abs(x - y) <= 1.5 * ROUND_UNIT:
                    return False
            elif x != y:
                return False
    return True


def run_analytics(run: Run, sf: float | None) -> None:
    sf_dir = os.path.join(run.work, f"analytics-{os.getpid()}")
    datagen.write_tables(sf_dir, run.seed, sf or DEFAULT_SF)
    split_out = os.path.join(run.root, "artifacts", f"bench_split_{os.path.basename(sf_dir)}")
    spark = run.session()
    try:
        _run(run, spark, sf_dir, sf)
    finally:
        shutil.rmtree(split_out, ignore_errors=True)


def _run(run: Run, spark, sf_dir: str, sf: float | None) -> None:
    from bench import HEADLINE

    tr = run.tracer
    split: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = None
        for name, build in _builders(spark, sf_dir, split):
            t = time.perf_counter()
            with tr.span(f"queries.{name}.build"):
                build()
            run.layers[f"queries.{name}.build_s"] = time.perf_counter() - t
            if oracle is None:  # the PQ oracles read the artifacts pq persisted
                oracle = pool.submit(_oracle_rows, sf_dir, HEADLINE)
        warm = _warm_up(spark, HEADLINE, split, sf_dir)
        feed = DedupFeed(run, spark, sf)
        feed.warm_up()
        expected = oracle.result()
    run.setup_done()
    _timed_rounds(run, spark, sf_dir, split, warm, expected, feed)
    feed.finish()


def _q_dir(q: str, split: dict, sf_dir: str) -> str:
    # as bench.py does: the raw documents scan reads the split twin
    return split.get("d", sf_dir) if q == "q_corpus_pipeline" else sf_dir


def _warm_up(spark, queries, split, sf_dir) -> dict[str, tuple]:
    from stackai_vector_db_spark.queries import REGISTRY

    warm = {}
    for q in queries:
        df = REGISTRY[q].fn(spark, _q_dir(q, split, sf_dir))
        warm[q] = (df.columns, [tuple(r) for r in df.collect()])
    return warm


def _timed_rounds(run: Run, spark, sf_dir, split, warm, expected, feed) -> None:
    from bench import HEADLINE
    from tools.check_oracle import norm_rows
    from stackai_vector_db_spark.queries import REGISTRY

    tr = run.tracer
    # per query: (plan s, action s, op span, count matched)
    lat: dict[str, list[tuple[float, float, object, bool]]] = {q: [] for q in HEADLINE}
    rounds, sweep_spark, epochs_ok = [], [], 0
    start = time.perf_counter()
    while True:
        t_round, spans = time.perf_counter(), []
        for q in run.rng.permutation(HEADLINE):
            run.attempted += 1
            t = time.perf_counter()
            try:
                with tr.span("query", q=q) as op:
                    with tr.span("plan"):
                        df = REGISTRY[q].fn(spark, _q_dir(q, split, sf_dir))
                    tp = time.perf_counter()
                    with tr.span("exec"):
                        n = df.count()
                    te = time.perf_counter()  # before the status-store read
            except Exception as exc:  # a failed op is counted, the loop goes on
                run.fail(f"{q}: {exc!r}", wrong=False)
                continue
            good = n == len(warm[q][1])
            lat[q].append((tp - t, te - tp, op, good))
            spans.append(op)
            if not good:
                run.fail(f"{q}: count {n} != verified {len(warm[q][1])}", wrong=True)
        if tr.enabled:
            sweep_spark.append({k: sum(tr.op_total(s, k) for s in spans) for k in SPARK_KEYS})
        epochs_ok += feed.epoch() is not None
        rounds.append(time.perf_counter() - t_round)
        if time.perf_counter() - start >= run.seconds or not feed.has_next():
            break
    wall = time.perf_counter() - start

    bad = set()  # queries whose result failed its check: ops failed
    for q in HEADLINE:
        if norm_rows(*warm[q]) != norm_rows(*expected[q]):
            bad.add(q)
            last = last_digit_only(warm[q], expected[q], LAST_DIGIT_DEFECT.get(q, set()))
            run.fail(
                f"{q}: result differs from its DuckDB oracle"
                + (" in the last rounded digit (known defect)" if last else ""),
                wrong=not last, ops=sum(x[3] for x in lat[q]),  # count misses already failed
            )

    ok = [p + e for q in HEADLINE if q not in bad for p, e, _, good in lat[q] if good]
    run.detail["op_s"] = timing(rounds)
    run.detail["query_s"] = timing(ok)
    run.metric("throughput_per_s", (len(ok) + epochs_ok) / wall, "1/s", len(ok) + epochs_ok)
    for q in HEADLINE:
        if lat[q]:
            run.layers[f"queries.{q}.plan_s"] = statistics.median(x[0] for x in lat[q])
            run.layers[f"spark.{q}.exec_s"] = statistics.median(x[1] for x in lat[q])
            if tr.enabled:
                run.layers[f"spark.{q}.jobs"] = statistics.median(
                    tr.op_total(x[2], "jobs") for x in lat[q]
                )
    for k in SPARK_KEYS if sweep_spark else ():
        run.layers[f"spark.sweep.{k}"] = statistics.median(s[k] for s in sweep_spark)
