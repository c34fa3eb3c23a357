"""Streaming dedup-at-ingest over a growing input directory, as
``streaming.dedup.dedup_ingest_stream`` is meant to be re-invoked with a
checkpoint. ``DedupFeed`` is the stream; the ``analytics`` workload runs one
epoch of it in every round, and ``stream_dedup`` runs it alone.

Inputs are seeded documents plus near-duplicate copies (every tenth doc
with `` extra`` appended, placed soon after it), cut into files. Setup drains the
first file (the cold epoch). Each timed op writes the next file and drains
it (one epoch, ``max_files_per_trigger=1``); the client waits for the drain
before sending the next file. Afterwards the pairs table must equal
``operators.dedup.minhash_lsh_pairs`` over every doc sent.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import Run, dir_usage, timing
from perfbench.trace import SPARK_KEYS

DEFAULT_SF = 0.02  # --sf scales the sizes below by sf / DEFAULT_SF
DOCS = 1_000  # sf0.02's documents row count
DOCS_PER_FILE = 50


def corpus_files(rng: np.random.Generator, n_docs: int, per_file: int) -> list[pa.Table]:
    """Documents in a seeded order plus near-duplicate copies, as
    ``(doc_id, text)`` tables of ``per_file`` rows (the last may be
    shorter). Every tenth doc gets a copy with `` extra`` appended, placed
    up to a file's length after it, so that every prefix of the files holds
    pairs, some within one epoch and some across two."""
    docs = datagen.documents(rng, n_docs).select(["doc_id", "text"])
    order = rng.permutation(n_docs)
    ids = docs.column("doc_id").to_numpy()[order]
    texts = [docs.column("text")[int(i)].as_py() for i in order]
    dup = np.flatnonzero(ids % 10 == 0)
    all_ids = np.concatenate([ids, ids[dup] + 1_000_000])
    all_texts = texts + [texts[i] + " extra" for i in dup]
    pos = np.concatenate([np.arange(n_docs), dup + rng.uniform(1, per_file, len(dup))])
    at = np.argsort(pos, kind="stable")
    table = pa.table({"doc_id": all_ids[at], "text": [all_texts[i] for i in at]})
    return [table.slice(i, per_file) for i in range(0, table.num_rows, per_file)]


def _listener(epochs: list[float], cond: threading.Condition):
    from pyspark.sql.streaming import StreamingQueryListener

    class EpochListener(StreamingQueryListener):
        """Collects each epoch's trigger time from the progress events."""

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with cond:
                epochs.append(p.durationMs.get("triggerExecution", 0) / 1e3)
                cond.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return EpochListener()


class DedupFeed:
    """One dedup stream: its input files, directories, epoch listener and
    the timings of the drains run so far."""

    def __init__(self, run: Run, spark, sf: float | None):
        scale = (sf or DEFAULT_SF) / DEFAULT_SF
        self.run, self.spark, self.tr = run, spark, run.tracer
        self.files = corpus_files(run.rng, max(int(DOCS * scale), 100),
                                  max(int(DOCS_PER_FILE * scale), 25))
        base = os.path.join(run.work, "stream")
        self.docs_dir, self.index_dir, self.pairs_dir, self.ckpt = (
            os.path.join(base, d) for d in ("docs", "index", "pairs", "checkpoint")
        )
        os.makedirs(self.docs_dir)
        self.epochs: list[float] = []  # trigger seconds, in epoch order
        self.cond = threading.Condition()
        self.listener = _listener(self.epochs, self.cond)
        spark.streams.addListener(self.listener)
        self.sent = 0
        self.drains: list[float] = []
        self.spark_rows: list[dict] = []
        self.docs = 0  # docs drained by timed ops, counted from the input

    def _drain(self) -> None:
        from stackai_vector_db_spark.streaming.dedup import dedup_ingest_stream

        pq.write_table(self.files[self.sent],
                       os.path.join(self.docs_dir, f"part-{self.sent:05d}.parquet"))
        self.sent += 1
        dedup_ingest_stream(self.spark, self.docs_dir, self.index_dir, self.pairs_dir,
                            max_files_per_trigger=1, checkpoint_dir=self.ckpt)

    def _await_progress(self) -> None:  # progress events arrive asynchronously
        with self.cond:
            self.cond.wait_for(lambda: len(self.epochs) >= self.sent, timeout=10)

    def warm_up(self) -> None:
        """Drain the first file: the cold epoch, untimed."""
        with self.tr.span("streaming.warmup"):
            self._drain()
        self._await_progress()

    def has_next(self) -> bool:
        return self.sent < len(self.files)

    def epoch(self) -> float | None:
        """Send the next file and drain it; returns the drain's latency."""
        run, n = self.run, self.files[self.sent].num_rows
        run.attempted += 1
        t = time.perf_counter()
        try:
            with self.tr.span("epoch", file=self.sent) as op:
                self._drain()
                lat = time.perf_counter() - t  # before the status-store read
        except Exception as exc:  # a failed op is counted, the loop goes on
            run.fail(f"drain of file {self.sent - 1}: {exc!r}", wrong=False)
            return None
        self.drains.append(lat)
        self.docs += n
        self._await_progress()
        if op is not None:  # the stream's jobs, attached to the op span
            self.spark_rows.append({k: op.attrs.get(k, 0) for k in SPARK_KEYS})
        return lat

    def finish(self) -> None:
        """Check the pairs against the batch dedup of every doc sent and
        record the stream's detail and layer metrics."""
        from stackai_vector_db_spark.operators.dedup import minhash_lsh_pairs
        from stackai_vector_db_spark.streaming.dedup import read_pairs

        run, spark = self.run, self.spark
        spark.streams.removeListener(self.listener)
        sent_docs = spark.createDataFrame(pa.concat_tables(self.files[: self.sent]).to_pandas())
        cols = ("id_a", "id_b", "jaccard")
        want = {tuple(r) for r in minhash_lsh_pairs(sent_docs).select(*cols).collect()}
        got = {tuple(r) for r in read_pairs(spark, self.pairs_dir).select(*cols).collect()}
        if got != want:
            run.wrong.append(
                f"pairs differ from batch dedup: {len(got - want)} extra, "
                f"{len(want - got)} missing"
            )
        if not want:
            run.wrong.append("no near-duplicate pairs in the input")

        timed = self.epochs[1:]
        wall = sum(self.drains)
        run.detail["drain_s"] = timing(self.drains)
        run.metric("docs_per_s", self.docs / wall if wall else 0.0, "1/s", self.docs)
        if timed:
            run.detail["epoch_s"] = timing(timed)
            run.layers["streaming.epoch_s"] = statistics.median(timed)
        run.layers["streaming.epochs"] = len(self.epochs)
        if self.drains:
            run.layers["streaming.drain_s"] = statistics.median(self.drains)
        run.layers["streaming.state_files"], run.layers["streaming.state_bytes"] = (
            dir_usage(self.index_dir)
        )
        for k in SPARK_KEYS if self.spark_rows else ():
            run.layers[f"spark.epoch.{k}"] = statistics.median(r[k] for r in self.spark_rows)


def run_stream_dedup(run: Run, sf: float | None) -> None:
    """Epochs until ``--seconds`` have passed or the input runs out."""
    spark = run.session()
    feed = DedupFeed(run, spark, sf)
    feed.warm_up()
    run.setup_done()
    start = time.perf_counter()
    while time.perf_counter() - start < run.seconds and feed.has_next():
        feed.epoch()
    feed.finish()
    run.detail["op_s"] = run.detail["drain_s"]
    run.metric("throughput_per_s", run.detail["docs_per_s"]["value"], "1/s", feed.docs)
