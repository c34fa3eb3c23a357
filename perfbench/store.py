"""``store_search`` and ``store_churn``: the chunk store's serving lifecycle
on ``plans.store.VectorStore``.

Setup creates libraries 1 and 2 in one store, ingests seeded word-salad
chunks for both in one ``ingest_chunks`` call (fake-embedded at ingest),
builds each library's index with defaults in creation order, and reads the
stored embeddings back with pyarrow. ``store_churn`` also sets up a second,
read-mostly store whose one library the package indexes with IVF, for its
text searches. ``StoreModel`` tracks what a store must answer; every
search is checked against it: each hit is searchable in the queried
library, distances ascend and match numpy to 1e-4. Two known defects of
the store are failed ops (listed in workloads.json): an empty answer for a
library that has searchable chunks (building one library's index drops
the other's), and a hit on a chunk deleted or updated since its library's
build once a compaction has folded the tombstone that hid it. Any other
wrong hit makes the run incorrect.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import Run, dir_usage, timing
from perfbench.trace import SPARK_KEYS

DIM = 16
K = 10
LIBRARIES = (1, 2)
DIST_TOL = 1e-4
DEFAULT_SF = 0.1  # --sf scales the chunk counts below by sf / DEFAULT_SF
CHUNKS_PER_LIB = {"store_search": 10_000, "store_churn": 150}
# store_churn's text searches go to a store of one library whose dimension
# is above select_algorithm's 50, so the default build is IVF.
IVF_DIM = 64
IVF_LIBRARY = 3
IVF_CHUNKS = 300
INGEST_BATCH = 20  # more than a tenth of a churned library: crosses needs_rebuild
MIN_SEARCHES = 10  # store_search: enough that both libraries are searched
WRITE_KINDS = ("update_chunk", "delete_chunk", "ingest_chunks")


class StoreModel:
    """The benchmark's model of the store: live chunks, and per library the
    chunks its last index build made searchable.

    A build makes the library's live chunks searchable with the
    embeddings they had then; an update or delete removes the chunk from
    every searchable set (its tombstone hides the indexed row) until the
    next build; an ingest is searchable only after the next build. A
    compaction folds the tombstones into the chunk table, and the store
    then no longer hides those indexed rows (a known defect): the model
    records them as ``unmasked`` until their library is rebuilt.
    """

    def __init__(self):
        self.live: dict[int, tuple[int, str]] = {}  # id -> (library, text)
        self.emb: dict[int, np.ndarray] = {}  # id -> embedding of the live row
        self.searchable: dict[int, dict[int, np.ndarray]] = {}
        self.deleted: set[int] = set()
        self.hidden: dict[int, int] = {}  # id -> library whose index row it hides
        self.unmasked: set[int] = set()

    def ingest(self, rows: list[tuple[int, int, str]]) -> None:
        for cid, lib, text in rows:
            self.live[cid] = (lib, text)
            self.emb.pop(cid, None)
            self.deleted.discard(cid)

    def update(self, cid: int, text: str) -> None:
        self.live[cid] = (self.live[cid][0], text)
        self.emb.pop(cid, None)
        self._hide(cid)

    def delete(self, cid: int) -> None:
        del self.live[cid]
        self.emb.pop(cid, None)
        self.deleted.add(cid)
        self._hide(cid)

    def _hide(self, cid: int) -> None:
        for lib, ids in self.searchable.items():
            if ids.pop(cid, None) is not None:
                self.hidden[cid] = lib

    def compact(self) -> None:
        self.unmasked |= set(self.hidden)

    def set_embeddings(self, embs: dict[int, np.ndarray]) -> None:
        for cid, e in embs.items():
            if cid in self.live:
                self.emb[cid] = e

    def build(self, lib: int) -> None:
        for cid in [c for c, lb in self.hidden.items() if lb == lib]:
            del self.hidden[cid]
            self.unmasked.discard(cid)
        self.searchable[lib] = {
            cid: self.emb[cid] for cid, (lb, _) in self.live.items() if lb == lib
        }

    def ids(self, lib: int) -> list[int]:
        return sorted(c for c, (lb, _) in self.live.items() if lb == lib)

    def check_search(self, lib: int, q: np.ndarray, hits: list[tuple[int, float]]):
        """Check ``hits`` in rank order.

        (status, recall): status is "ok", "empty" (no answer although the
        library has searchable chunks), "unmasked" (a hit on a chunk whose
        tombstone a compaction folded away) or a description of a wrong
        hit.
        Recall counts a hit as exact when its distance is within the
        tolerance of the exact k-th distance, so ties cannot lower it."""
        cand = self.searchable.get(lib, {})
        if not hits:
            return ("empty" if cand else "ok"), None
        dists = [d for _, d in hits]
        if dists != sorted(dists):
            return f"lib {lib}: dist not ascending {dists}", None
        for cid, d in hits:
            if cid in self.unmasked:
                return "unmasked", None
            if cid not in cand:
                why = "deleted" if cid in self.deleted else "not searchable"
                return f"lib {lib}: hit {cid} is {why}", None
            want = float(np.linalg.norm(q.astype(np.float64) - cand[cid]))
            if abs(want - d) > DIST_TOL:
                return f"lib {lib}: hit {cid} dist {d} != {want}", None
        exact = np.sort(
            np.linalg.norm(np.stack(list(cand.values())).astype(np.float64) - q, axis=1)
        )[: K]
        kth = exact[-1] + DIST_TOL
        return "ok", sum(d <= kth for d in dists) / min(K, len(exact))


def _chunk_rows(rng, lib: int, start: int, n: int) -> list[tuple[int, int, str]]:
    return [(start + i, lib, t) for i, t in enumerate(datagen.word_salad(rng, n, 5, 40))]


def _to_df(spark, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["chunk_id", "library_id", "text"])
    pdf["document_id"] = pdf["chunk_id"] // 10
    pdf["start_index"] = 0
    return spark.createDataFrame(
        pdf[["chunk_id", "document_id", "library_id", "text", "start_index"]],
        "chunk_id long, document_id long, library_id long, text string, start_index int",
    ).selectExpr("*", "CAST(NULL AS int) AS end_index",
                 "CAST(NULL AS array<float>) AS embedding")


def _meta(root: str) -> tuple[dict, dict]:
    """The store's version pointer and current chunks manifest; a compacted
    version has no manifest file and is one data directory."""
    with open(os.path.join(root, "_meta", "CURRENT")) as f:
        cur = json.load(f)
    mp = os.path.join(root, "_meta", f"chunks_v{cur['chunks']}.json")
    if not os.path.exists(mp):
        return cur, {"data": [[f"chunks/v{cur['chunks']}", cur["chunks"]]], "deletes": []}
    with open(mp) as f:
        return cur, json.load(f)


def store_gauges(root: str) -> dict[str, int]:
    """Manifest entries, delete files newer than the index, and the files
    and bytes under the store root."""
    cur, man = _meta(root)
    since = cur.get("index_chunks", cur["chunks"])
    files, size = dir_usage(root)
    return {
        "manifest_entries": len(man["data"]) + len(man["deletes"]),
        "live_tombstones": sum(seq > since for _, seq in man["deletes"]),
        "files": files,
        "bytes": size,
    }


def _new_segment_embeddings(root: str) -> dict[int, np.ndarray]:
    """Embeddings of the newest data segment, read with pyarrow."""
    _, man = _meta(root)
    seg = max(man["data"], key=lambda e: e[1])[0]
    t = pq.read_table(seg, columns=["chunk_id", "embedding"])
    return dict(zip(t.column("chunk_id").to_pylist(),
                    (np.asarray(e, dtype=np.float32) for e in t.column("embedding").to_pylist())))


class _Store:
    """One ``VectorStore`` and the model of what it must answer."""

    def __init__(self, spark, root: str, dim: int, libraries: tuple[int, ...]):
        from stackai_vector_db_spark.plans.store import VectorStore

        self.root, self.dim, self.libraries = root, dim, libraries
        self.store = VectorStore(spark, root, dim=dim)
        self.model = StoreModel()


class _Lifecycle:
    """The churned store (and, for store_churn, the IVF store), their models
    and the span/metric bookkeeping around calls."""

    def __init__(self, run: Run, spark, n_per_lib: int):
        self.run, self.spark, self.tr = run, spark, run.tracer
        self.next_id = 0
        self.calls: dict[str, list[float]] = {}  # layer timings
        self.op_spark: dict[str, list[dict]] = {}  # per-op Spark totals
        self.gauges: list[dict] = []
        self.recall: list[float] = []
        self.search_lat: dict[str, list[float]] = {"search_vector": [], "search_text": []}
        self.text_checks: list[tuple] = []
        self.timed_from = 0.0  # perf_counter at the end of setup
        self.main = self.new_store("store", DIM, LIBRARIES, n_per_lib)
        self.ivf: _Store | None = None

    def new_store(self, name: str, dim: int, libraries, n_per_lib: int) -> _Store:
        """Create the libraries, ingest their chunks in one call and build
        each library's index with defaults, in creation order."""
        st = _Store(self.spark, os.path.join(self.run.work, name), dim, libraries)
        for lib in libraries:
            st.store.create_library(lib, f"library-{lib}")
        rows = []
        for lib in libraries:
            rows += _chunk_rows(self.run.rng, lib, self.next_id, n_per_lib)
            self.next_id += n_per_lib
        self._ingest(st, rows)
        for lib in libraries:
            self._timed("build_index", lambda: st.store.build_index(lib))
            st.model.build(lib)
        return st

    def start_timed(self) -> None:
        """Layer timings from here on cover the timed phase only."""
        self.calls.clear()
        self.timed_from = time.perf_counter()

    def _timed(self, layer: str, fn):
        t = time.perf_counter()
        with self.tr.span(layer):
            out = fn()
        self.calls.setdefault(layer, []).append(time.perf_counter() - t)
        return out

    def _ingest(self, st: _Store, rows) -> None:
        self._timed("ingest_chunks", lambda: st.store.ingest_chunks(_to_df(self.spark, rows)))
        st.model.ingest(rows)
        st.model.set_embeddings(_new_segment_embeddings(st.root))

    def _gauge(self, span) -> None:
        g = store_gauges(self.main.root)
        self.gauges.append(g)
        if span is not None:
            span.attrs.update(g)

    def _record_spark(self, kind: str, span) -> None:
        if span is not None:
            self.op_spark.setdefault(kind, []).append(
                {k: self.tr.op_total(span, k) for k in SPARK_KEYS}
            )

    def search(self, kind: str, st: _Store | None = None) -> None:
        """One search on a uniformly chosen library of ``st`` (default the
        churned store), checked against its model (text searches are
        checked after the timed phase)."""
        st = st or self.main
        run, rng = self.run, self.run.rng
        lib = int(rng.choice(st.libraries))
        ids = st.model.ids(lib)
        cid = ids[int(rng.integers(0, len(ids)))]
        if kind == "search_vector":
            base = st.model.emb[cid]
            arg = (base + rng.normal(0, 0.02, st.dim)).astype(np.float32)
            call = lambda: st.store.search_vector(lib, arg.tolist(), k=K)  # noqa: E731
        else:
            words = st.model.live[cid][1].split()
            keep = [w for w in words if rng.random() >= 0.2] or words[:1]
            arg = " ".join(keep)
            call = lambda: st.store.search_text(lib, arg, k=K)  # noqa: E731
        run.attempted += 1
        t = time.perf_counter()
        try:
            with self.tr.span(kind, library=lib) as op:
                with self.tr.span("plan"):
                    df = call()
                tp = time.perf_counter()
                with self.tr.span("exec"):
                    rows = df.select("chunk_id", "dist", "rank").collect()
                te = time.perf_counter()  # before the status-store read
        except Exception as exc:  # a failed op is counted, the loop goes on
            run.fail(f"{kind} lib {lib}: {exc!r}", wrong=False)
            return
        hits = [(r.chunk_id, r.dist) for r in sorted(rows, key=lambda r: r.rank)]
        if st is self.main:
            self._gauge(op)
        self._record_spark(kind, op)
        if kind == "search_text":
            self.text_checks.append((st, lib, arg, hits, tp - t, te - tp))
            return
        self._judge(kind, st, lib, arg, hits, tp - t, te - tp)

    def _judge(self, kind, st, lib, q, hits, plan_s, exec_s) -> None:
        # layer times cover every search that returned; the op latency only
        # the ones whose answer passed
        self.calls.setdefault(f"{kind}.plan_s", []).append(plan_s)
        self.calls.setdefault(f"{kind}.exec_s", []).append(exec_s)
        status, recall = st.model.check_search(lib, np.asarray(q, dtype=np.float32), hits)
        if status in ("empty", "unmasked"):  # the known defects: failed, not wrong
            self.run.fail(f"{kind} lib {lib}: {status}", wrong=False)
        elif status != "ok":
            self.run.fail(f"{kind} {status}", wrong=True)
        else:
            self.search_lat[kind].append(plan_s + exec_s)
            if recall is not None and kind == "search_vector":
                self.recall.append(recall)

    def judge_text_searches(self) -> None:
        """Embed the text queries with the package's fake embedding (one
        batch job per store) and check the text searches against the
        model."""
        from pyspark.sql import functions as F

        from stackai_vector_db_spark.functions.vector import fake_embedding

        for st in {id(c[0]): c[0] for c in self.text_checks}.values():
            checks = [c for c in self.text_checks if c[0] is st]
            vecs = {
                r.i: np.asarray(r.v, dtype=np.float32)
                for r in self.spark.createDataFrame(
                    [(i, c[2]) for i, c in enumerate(checks)], "i int, t string"
                ).select("i", fake_embedding(F.col("t"), st.dim).cast("array<float>")
                         .alias("v")).collect()
            }
            for i, (_, lib, _, hits, plan_s, exec_s) in enumerate(checks):
                self._judge("search_text", st, lib, vecs[i], hits, plan_s, exec_s)

    def write(self, kind: str) -> float | None:
        """One write on a uniformly chosen library of the churned store;
        returns its latency."""
        run, rng, st = self.run, self.run.rng, self.main
        lib = int(rng.choice(st.libraries))
        ids = st.model.ids(lib)
        cid = ids[int(rng.integers(0, len(ids)))]
        run.attempted += 1
        t = time.perf_counter()
        try:
            with self.tr.span("write", kind=kind, library=lib) as op:
                if kind == "update_chunk":
                    text = " ".join(datagen.word_salad(rng, 1, 5, 40))
                    self._timed(kind, lambda: st.store.update_chunk_text(cid, text))
                elif kind == "delete_chunk":
                    self._timed(kind, lambda: st.store.delete_chunk(cid))
                else:
                    rows = _chunk_rows(rng, lib, self.next_id, INGEST_BATCH)
                    self.next_id += INGEST_BATCH
                    self._timed(kind, lambda: st.store.ingest_chunks(_to_df(self.spark, rows)))
                lat = time.perf_counter() - t  # before the status-store read
        except Exception as exc:  # a failed op is counted, the loop goes on
            run.fail(f"{kind} lib {lib}: {exc!r}", wrong=False)
            return None
        if kind == "update_chunk":
            st.model.update(cid, text)
        elif kind == "delete_chunk":
            st.model.delete(cid)
        else:
            st.model.ingest(rows)
        if kind != "delete_chunk":
            st.model.set_embeddings(_new_segment_embeddings(st.root))
        self._gauge(op)
        self._record_spark("write", op)
        return lat

    def maintain(self) -> float:
        """The fixed policy: compact, then rebuild each library whose
        ``needs_rebuild`` is true. Returns the wall time spent."""
        st = self.main
        t = time.perf_counter()
        with self.tr.span("maintenance"):
            self._timed("compact_chunks", st.store.compact_chunks)
            st.model.compact()
            for lib in st.libraries:
                if self._timed("needs_rebuild", lambda: st.store.needs_rebuild(lib)):
                    self._timed("build_index", lambda: st.store.build_index(lib))
                    st.model.build(lib)
        return time.perf_counter() - t

    def check_final(self) -> None:
        """The churned store's current chunks equal the model: every
        acknowledged write is readable and no deleted id is."""
        st = self.main
        rows = st.store.read_chunks().select("chunk_id", "library_id", "text").collect()
        got = {r.chunk_id: (r.library_id, r.text) for r in rows}
        if len(got) != len(rows):
            self.run.wrong.append("final store: duplicate chunk ids")
        if got != st.model.live:
            missing = sorted(set(st.model.live) - set(got))[:5]
            extra = sorted(set(got) - set(st.model.live))[:5]
            changed = sorted(c for c in set(got) & set(st.model.live)
                             if got[c] != st.model.live[c])[:5]
            self.run.wrong.append(
                f"final store differs from model: missing {missing} extra {extra} "
                f"changed {changed}"
            )

    def report(self) -> None:
        run = self.run
        for kind, lat in self.search_lat.items():
            if lat:
                run.detail[f"{kind}_s"] = timing(lat)
        if self.recall:
            run.metric("search_recall_at_10", statistics.fmean(self.recall), "ratio",
                       len(self.recall))
        for layer, vals in self.calls.items():
            name = layer if "." in layer else f"{layer}.s"
            run.layers[f"store.{name}"] = statistics.median(vals)
        if self.tr.enabled:  # job counts, from the spans the ops left
            for name in ("ingest_chunks", "build_index", "update_chunk", "delete_chunk",
                         *self.search_lat):
                jobs = [self.tr.op_total(s, "jobs") if s.parent is None
                        else s.attrs.get("jobs", 0)
                        for s in self.tr.spans
                        if s.name == name and s.start >= self.timed_from]
                if jobs:
                    run.layers[f"store.{name}.jobs"] = statistics.median(jobs)
        for kind, rows in self.op_spark.items():
            for k in SPARK_KEYS:
                run.layers[f"spark.{kind}.{k}"] = statistics.median(r[k] for r in rows)
        if self.gauges:
            for k in ("manifest_entries", "live_tombstones"):
                run.layers[f"store.{k}"] = max(g[k] for g in self.gauges)
            run.layers["store.files"] = self.gauges[-1]["files"]
            run.layers["store.bytes"] = self.gauges[-1]["bytes"]


def _scaled(n: int, sf: float | None) -> int:
    return max(int(n * (sf or DEFAULT_SF) / DEFAULT_SF), 50)


def run_store_search(run: Run, sf: float | None) -> None:
    """Searches alternate search_vector and search_text on a uniformly
    chosen library, until ``--seconds`` have passed and at least
    ``MIN_SEARCHES`` have run. Layer timings include the setup's ingest
    and builds."""
    spark = run.session()
    life = _Lifecycle(run, spark, _scaled(CHUNKS_PER_LIB["store_search"], sf))
    run.setup_done()
    start, n = time.perf_counter(), 0
    while n < MIN_SEARCHES or time.perf_counter() - start < run.seconds:
        life.search(("search_vector", "search_text")[n % 2])
        n += 1
    wall = time.perf_counter() - start
    life.judge_text_searches()
    lat = life.search_lat["search_vector"] + life.search_lat["search_text"]
    run.detail["op_s"] = timing(lat)
    run.metric("throughput_per_s", n / wall, "1/s", n)
    life.report()


def run_store_churn(run: Run, sf: float | None) -> None:
    """Whole churn cycles until ``--seconds`` have passed. A cycle is
    three writes on the churned store (update_chunk_text, delete_chunk and
    a 20-chunk ingest_chunks, in that order, each on a uniformly chosen
    library), each followed by one search_vector on a uniformly chosen
    library; one search_text on the IVF store; maintenance (compaction,
    then needs_rebuild and build_index per library); and one more
    search_vector on the maintained store. The op is the cycle."""
    spark = run.session()
    life = _Lifecycle(run, spark, _scaled(CHUNKS_PER_LIB["store_churn"], sf))
    life.ivf = life.new_store("ivf", IVF_DIM, (IVF_LIBRARY,), _scaled(IVF_CHUNKS, sf))
    run.setup_done()
    life.start_timed()
    writes, cycles, maint, n_ops = [], [], [], 0
    start = time.perf_counter()
    while True:
        t = time.perf_counter()
        for kind in WRITE_KINDS:
            lat = life.write(kind)
            if lat is not None:
                writes.append(lat)
            life.search("search_vector")
        life.search("search_text", life.ivf)
        maint.append(life.maintain())
        life.search("search_vector")
        n_ops += 2 * len(WRITE_KINDS) + 2
        cycles.append(time.perf_counter() - t)
        if time.perf_counter() - start >= run.seconds:
            break
    wall = time.perf_counter() - start
    life.judge_text_searches()
    life.check_final()
    run.detail["op_s"] = timing(cycles)
    run.metric("throughput_per_s", n_ops / wall, "1/s", n_ops)
    run.detail["write_s"] = timing(writes)
    run.detail["maintenance_s"] = timing(maint)
    g = store_gauges(life.main.root)
    live_bytes = sum(len(t.encode()) + 4 * DIM for _, t in life.main.model.live.values())
    run.metric("space_amp", g["bytes"] / live_bytes, "ratio")
    life.report()
