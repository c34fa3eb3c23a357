"""Streaming/batch parity tests (SURVEY.md §5.2: streaming is validated by
parity with batch results, since the reference has no streaming to diff)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from stackai_vector_db_spark.catalog import load_table
from stackai_vector_db_spark.streaming.events import (
    dedup_within_watermark,
    read_events_stream,
    run_finite,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_events_stream_reuses_one_source_dir(spark, monkeypatch, tmp_path):
    """The stream source's symlink dir is one per fixture: repeated calls
    must not leave a new temp dir behind each time."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    read_events_stream(spark, SF_DIR)
    read_events_stream(spark, SF_DIR + "/")
    dirs = [d for d in os.listdir(tmp_path) if d.startswith("events_stream_")]
    assert len(dirs) == 1


def test_tumbling_stream_matches_batch(spark):
    batch = tumbling_agg(load_table(spark, SF_DIR, "events"))
    stream = run_finite(
        tumbling_agg(read_events_stream(spark, SF_DIR)), "t_tumbling", "complete"
    )
    cols = ["win_start_ms", "event_type", "n", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_sliding_stream_matches_batch(spark):
    batch = sliding_agg(load_table(spark, SF_DIR, "events"))
    stream = run_finite(
        sliding_agg(read_events_stream(spark, SF_DIR)), "t_sliding", "complete"
    )
    cols = ["win_start_ms", "event_type", "n", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_session_stream_matches_batch(spark):
    batch = session_agg(load_table(spark, SF_DIR, "events"))
    stream = run_finite(
        session_agg(read_events_stream(spark, SF_DIR)), "t_session", "complete"
    )
    cols = ["user_id", "sess_start_ms", "n", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_dedup_within_watermark(spark):
    stream = run_finite(
        dedup_within_watermark(read_events_stream(spark, SF_DIR)).select("event_id"),
        "t_dedup",
        "append",
    )
    n_distinct = (
        load_table(spark, SF_DIR, "events").select("event_id").distinct().count()
    )
    got = stream.count()
    assert got == n_distinct


def test_stateful_running_totals_matches_batch(spark):
    """applyInPandasWithState per-user totals: after draining the finite
    stream, the latest emitted state per user must equal the batch
    aggregate (custom-stateful-operator parity)."""
    from stackai_vector_db_spark.streaming.stateful import running_user_totals

    stream = run_finite(
        running_user_totals(read_events_stream(spark, SF_DIR)),
        "t_stateful",
        "update",
    )
    # update mode re-emits a key per micro-batch; availableNow on one file
    # yields one batch, but be robust: keep the max-n (latest) row per user.
    latest = (
        stream.groupBy("user_id")
        .agg(F.max(F.struct("n", "sum_value")).alias("m"))
        .select("user_id", F.col("m.n").alias("n"), F.col("m.sum_value").alias("sum_value"))
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    cols = ["user_id", "n", "sum_value"]
    assert _rows(latest, cols) == _rows(batch, cols)


def _files_stream(spark, tmp, batches, transform_fn):
    """Write one parquet file per batch and stream them one-per-trigger so
    state (watermark, dedup) must carry across micro-batches. File mtimes
    are spaced to fix processing order."""
    import os
    import time as _time

    schema = "event_id long, ts timestamp, user_id long, value double"
    for i, rows in enumerate(batches):
        path = f"{tmp}/in/b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        stamp = _time.time() - (len(batches) - i) * 10
        for root, _dirs, files in os.walk(path):
            for fn in files:
                os.utime(os.path.join(root, fn), (stamp, stamp))
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/in/*")
    )
    return transform_fn(src)


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Append-mode windowed agg: the watermark advances between
    micro-batches; a row for an already-finalized window arriving after
    that must be dropped — the real late-data contract (not observable in
    single-batch runs)."""
    import datetime as dt
    import pyspark.sql.functions as SF

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    # The effective filtering watermark lags the reported one by a batch
    # (it is committed state from N-1), so the late row arrives two batches
    # after the watermark-advancing row.
    b0 = [(1, t(0), 1, 1.0), (2, t(5), 1, 1.0)]               # window 10:00
    b1 = [(3, dt.datetime(2024, 1, 1, 11, 59), 1, 1.0)]       # advances WM to 11:49
    b2 = [(5, dt.datetime(2024, 1, 1, 12, 5), 1, 1.0)]        # WM takes effect
    b3 = [(4, t(7), 1, 1.0)]                                  # late for 10:00 → drop

    agg = _files_stream(
        spark, str(tmp_path), [b0, b1, b2, b3],
        lambda src: (
            src.withWatermark("ts", "10 minutes")
            .groupBy(SF.window("ts", "10 minutes").alias("w"))
            .agg(SF.count(SF.lit(1)).alias("n"))
            .select(SF.unix_millis("w.start").alias("w_ms"), "n")
        ),
    )
    out = run_finite(agg, "t_late", "append")
    win_10_00 = dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp() * 1000
    counts = {r.w_ms: r.n for r in out.collect()}
    # the finalized 10:00 window holds only the 2 on-time rows; the late
    # event_id=4 (10:07, behind the watermark by then) was dropped
    assert counts.get(int(win_10_00)) == 2


def test_dedup_state_survives_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must suppress a duplicate event_id
    arriving in a LATER micro-batch (state carried in the state store)."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    batch_a = [(1, t(0), 1, 1.0), (2, t(1), 1, 1.0)]
    batch_b = [(1, t(2), 1, 1.0), (3, t(3), 1, 1.0)]  # id 1 is a dup

    dedup = _files_stream(
        spark, str(tmp_path), [batch_a, batch_b],
        lambda src: src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        ),
    )
    out = run_finite(dedup.select("event_id"), "t_dedup2", "append")
    assert sorted(r.event_id for r in out.collect()) == [1, 2, 3]


def test_incremental_index_stream(spark):
    """Streaming J3: file-arrival vectors assigned to static centroids must
    reproduce the batch assignment exactly (reference ivf.py:168-196)."""
    from stackai_vector_db_spark.operators.ivf import assign_clusters, label_mean_centroids
    from stackai_vector_db_spark.streaming.events import incremental_index_stream

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = label_mean_centroids(emb)

    tmp = tempfile.mkdtemp(prefix="ivf_stream_")
    in_dir, out_dir = f"{tmp}/in", f"{tmp}/out"
    try:
        # Simulate incremental arrival: the vector table split across files.
        emb.repartition(4).write.parquet(in_dir)
        incremental_index_stream(spark, in_dir, cents, out_dir)

        got = spark.read.parquet(out_dir).select("vec_id", "cluster_id")
        want = assign_clusters(emb, cents).select("vec_id", "cluster_id")
        assert _rows(got, ["vec_id", "cluster_id"]) == _rows(
            want, ["vec_id", "cluster_id"]
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_index_two_waves_exactly_once(spark, tmp_path):
    """Batch-twin parity across RESTARTS: vectors arriving in two waves,
    each drained by a separate availableNow run sharing a checkpoint, must
    together equal the one-shot batch assignment — each vec_id appended
    exactly once (the offset log skips wave-1 files on the second run)."""
    from stackai_vector_db_spark.operators.ivf import (
        assign_clusters,
        label_mean_centroids,
    )
    from stackai_vector_db_spark.streaming.events import incremental_index_stream

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = label_mean_centroids(emb)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    wave1 = emb.filter(F.col("vec_id") % 2 == 0)
    wave2 = emb.filter(F.col("vec_id") % 2 == 1)
    wave1.coalesce(2).write.mode("append").parquet(in_dir)
    incremental_index_stream(spark, in_dir, cents, out_dir, checkpoint_dir=ckpt)
    wave2.coalesce(2).write.mode("append").parquet(in_dir)
    incremental_index_stream(spark, in_dir, cents, out_dir, checkpoint_dir=ckpt)

    got = spark.read.parquet(out_dir).select("vec_id", "cluster_id")
    want = assign_clusters(emb, cents).select("vec_id", "cluster_id")
    assert _rows(got, ["vec_id", "cluster_id"]) == _rows(
        want, ["vec_id", "cluster_id"]
    )
    # exactly-once: no vec_id written twice across the two runs
    assert got.count() == got.select("vec_id").distinct().count()


def test_dedup_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming dedup-at-ingest is exact: three micro-batches deduped
    against the accumulating index must together find exactly the pairs the
    one-shot batch self-join finds over the whole corpus — each pair
    emitted once, by the batch that completes it."""
    from stackai_vector_db_spark.operators.dedup import minhash_lsh_pairs
    from stackai_vector_db_spark.streaming.dedup import dedup_ingest_stream

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    corpus = d.unionByName(copies).persist()
    n = corpus.count()

    docs_dir = str(tmp_path / "docs")
    # three disjoint slices, one parquet file each → 3 micro-batches under
    # maxFilesPerTrigger=1 (copies land in a different batch than originals)
    third = 1000000 // 2
    slices = [
        corpus.filter(F.col("doc_id") < 300),
        corpus.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < third)),
        corpus.filter(F.col("doc_id") >= third),
    ]
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(docs_dir)

    dedup_ingest_stream(
        spark,
        docs_dir,
        str(tmp_path / "index"),
        str(tmp_path / "pairs"),
        max_files_per_trigger=1,
    )
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(corpus).collect()
    }
    assert got == want and len(want) > 0
    # the accumulated index covers every doc exactly once
    assert spark.read.parquet(str(tmp_path / "index/base")).count() <= n


def test_curation_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming curation-at-ingest (quality -> PII scrub -> dedup vs the
    accumulating index) equals the one-shot batch twin: same curated doc
    set, same reject reasons, across two arrival-ordered micro-batches."""
    from stackai_vector_db_spark.functions.text import quality_score
    from stackai_vector_db_spark.operators.curation import pii_scrub
    from stackai_vector_db_spark.operators.dedup import minhash_lsh_pairs
    from stackai_vector_db_spark.streaming.curation import curation_ingest_stream

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    # planted near-dups with ids ABOVE every original (arrival-ordered)
    copies = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    corpus = d.unionByName(copies).persist()

    docs_dir = str(tmp_path / "in")
    for s in (
        corpus.filter(F.col("doc_id") < 1000000),   # originals first
        corpus.filter(F.col("doc_id") >= 1000000),  # copies second
    ):
        s.coalesce(1).write.mode("append").parquet(docs_dir)

    curation_ingest_stream(
        spark,
        docs_dir,
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        max_files_per_trigger=1,
    )
    got_docs = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out/docs")).collect()
    }
    got_rejects = {
        (r.doc_id, r.reason)
        for r in spark.read.parquet(str(tmp_path / "out/rejects")).collect()
    }

    # batch twin: quality filter -> scrub -> one-shot pairs -> drop id_b
    scored = corpus.withColumn("score", F.round(quality_score(F.col("text")), 6))
    low = {r.doc_id for r in scored.filter(F.col("score") < 0.5).collect()}
    kept = pii_scrub(scored.filter(F.col("score") >= 0.5))
    dedup_in = kept.select("doc_id", F.col("clean_text").alias("text"))
    victims = {
        r.id_b for r in minhash_lsh_pairs(dedup_in).select("id_b").collect()
    }
    want_docs = {
        r.doc_id for r in dedup_in.collect() if r.doc_id not in victims
    }
    assert got_docs == want_docs and len(victims) > 0
    assert got_rejects == (
        {(i, "low_quality") for i in low}
        | {(i, "near_duplicate") for i in victims}
    )


def test_curation_stream_out_of_order_ids_newcomer_loses(spark, tmp_path):
    """First-arrival-wins must hold on ids, not id ORDER: a later batch's
    near-dup with a SMALLER id than the stored original is still the one
    rejected (pairs are canonicalized id_a<id_b, so naive drop-id_b would
    keep the newcomer and admit both copies)."""
    from stackai_vector_db_spark.streaming.curation import curation_ingest_stream

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    originals = d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 40)).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    # newcomers duplicate the originals but carry SMALLER ids
    newcomers = originals.select(
        (F.col("doc_id") - 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    docs_dir = str(tmp_path / "in")
    originals.coalesce(1).write.mode("append").parquet(docs_dir)
    newcomers.coalesce(1).write.mode("append").parquet(docs_dir)

    curation_ingest_stream(
        spark,
        docs_dir,
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        max_files_per_trigger=1,
    )
    docs_out = spark.read.parquet(str(tmp_path / "out/docs"))
    rejects = spark.read.parquet(str(tmp_path / "out/rejects"))
    dup_rejected = {
        r.doc_id for r in rejects.filter(F.col("reason") == "near_duplicate").collect()
    }
    kept_ids = {r.doc_id for r in docs_out.collect()}
    # every stored original that passed quality stays; its small-id
    # newcomer is the rejected side
    assert dup_rejected and all(i < 1000 for i in dup_rejected)
    assert not any(i < 1000 and i + 1000 in kept_ids for i in kept_ids)


def test_curation_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the whole input (no
    checkpoint -> every epoch re-runs) must leave outputs byte-identical —
    the epoch-partitioned dynamic overwrite rewrites, never duplicates,
    and a replayed batch must not self-reject against its own shingles."""
    from stackai_vector_db_spark.streaming.curation import curation_ingest_stream

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") < 60)
    docs_dir = str(tmp_path / "in")
    corpus.filter(F.col("doc_id") < 30).coalesce(1).write.mode("append").parquet(docs_dir)
    corpus.filter(F.col("doc_id") >= 30).coalesce(1).write.mode("append").parquet(docs_dir)

    args = (spark, docs_dir, str(tmp_path / "index"), str(tmp_path / "out"))
    curation_ingest_stream(*args, max_files_per_trigger=1)
    first_docs = {
        tuple(r) for r in spark.read.parquet(str(tmp_path / "out/docs")).collect()
    }
    first_rejects = {
        tuple(r) for r in spark.read.parquet(str(tmp_path / "out/rejects")).collect()
    }
    assert first_docs
    # full replay: same inputs, fresh stream, same epoch numbering
    curation_ingest_stream(*args, max_files_per_trigger=1)
    assert {
        tuple(r) for r in spark.read.parquet(str(tmp_path / "out/docs")).collect()
    } == first_docs
    assert {
        tuple(r) for r in spark.read.parquet(str(tmp_path / "out/rejects")).collect()
    } == first_rejects


def test_curation_stream_checkpointed_invocations(spark, tmp_path):
    """Two separate checkpointed invocations over a growing input dir
    must behave like one run: the second invocation drains only the new
    file with a HIGHER batch_id, so its epoch write never clobbers the
    first wave's index/output partitions."""
    from stackai_vector_db_spark.streaming.curation import curation_ingest_stream

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    wave1 = d.filter(F.col("doc_id") < 25)
    wave2 = d.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        "doc_id", F.concat(F.col("text"), F.lit(" x")).alias("text")
    )
    docs_dir = str(tmp_path / "in")
    args = (spark, docs_dir, str(tmp_path / "index"), str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    wave1.coalesce(1).write.mode("append").parquet(docs_dir)
    curation_ingest_stream(*args, checkpoint_dir=ckpt)
    first = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out/docs")).collect()
    }
    wave2.coalesce(1).write.mode("append").parquet(docs_dir)
    curation_ingest_stream(*args, checkpoint_dir=ckpt)
    both = spark.read.parquet(str(tmp_path / "out/docs"))
    ids = {r.doc_id for r in both.collect()}
    # wave-1 output survives the second invocation (distinct epochs)...
    assert first and first <= ids
    # ...wave 2 actually arrived, and nothing was processed twice
    assert ids - first and both.count() == both.select("doc_id").distinct().count()
    # and the index holds both epochs
    bids = {
        r.batch_id
        for r in spark.read.parquet(str(tmp_path / "index/base"))
        .select("batch_id").distinct().collect()
    }
    assert len(bids) == 2


def test_epoch_state_readers_handle_legacy_and_empty(spark, tmp_path):
    """_read_or_empty treats pre-epoch (no batch_id) rows as epoch -1 —
    never silently dropped — and read_pairs survives a missing pairs dir."""
    from stackai_vector_db_spark.streaming.dedup import (
        _BASE_SCHEMA,
        _read_or_empty,
        read_pairs,
    )

    legacy = str(tmp_path / "base")
    spark.createDataFrame(
        [(1, [11, 22])], "doc_id long, shingle_set array<bigint>"
    ).write.parquet(legacy)  # pre-epoch layout: no batch_id anywhere
    got = _read_or_empty(spark, legacy, _BASE_SCHEMA, before=0)
    assert [r.doc_id for r in got.collect()] == [1]  # epoch -1 < 0: kept
    assert "batch_id" not in got.columns

    assert read_pairs(spark, str(tmp_path / "nope")).count() == 0


def test_curation_stream_rejects_reingested_doc_id(spark, tmp_path):
    """A doc_id re-arriving in a later batch is a re-ingest of its stored
    self: it must land in the dead-letter table as duplicate_doc_id, not
    re-enter the corpus (round-4 advisor finding — the id_a != id_b pair
    filter alone would re-admit it and double-count its shingles)."""
    from stackai_vector_db_spark.functions.text import quality_score
    from stackai_vector_db_spark.streaming.curation import curation_ingest_stream

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    good = d.withColumn("s", quality_score(F.col("text"))).filter(
        F.col("s") >= 0.5
    ).drop("s").limit(20).persist()
    assert good.count() == 20

    docs_dir = str(tmp_path / "in")
    good.coalesce(1).write.mode("append").parquet(docs_dir)   # wave 1
    good.coalesce(1).write.mode("append").parquet(docs_dir)   # wave 2: re-ingest

    curation_ingest_stream(
        spark,
        docs_dir,
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        max_files_per_trigger=1,
    )
    docs = spark.read.parquet(str(tmp_path / "out/docs"))
    # corpus stays unique on doc_id
    assert docs.count() == docs.select("doc_id").distinct().count()
    rejects = spark.read.parquet(str(tmp_path / "out/rejects"))
    dup_ids = {
        r.doc_id
        for r in rejects.filter(F.col("reason") == "duplicate_doc_id").collect()
    }
    assert dup_ids == {r.doc_id for r in good.collect()}
    # index stays unique on doc_id too
    base = spark.read.parquet(str(tmp_path / "index/base"))
    assert base.count() == base.select("doc_id").distinct().count()
    good.unpersist()


def test_curation_stream_crash_mid_epoch_replays_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Kill the stream MID-EPOCH — after the epoch's rejects partition is
    written but before its docs/index writes — then restart from the
    checkpoint. The replayed epoch must dynamic-overwrite the half-written
    partitions, leaving exactly the same outputs as a never-crashed run
    (the snapshot-atomicity contract the reference enforces with an RW
    lock, index_service.py:270-283, re-expressed as epoch-idempotent
    writes + checkpointed offsets)."""
    import stackai_vector_db_spark.streaming.curation as cur
    from stackai_vector_db_spark.functions.text import quality_score

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    good = d.withColumn("s", quality_score(F.col("text"))).filter(
        F.col("s") >= 0.5
    ).drop("s").persist()
    wave1 = good.filter(F.col("doc_id") % 2 == 0)
    wave2 = good.filter(F.col("doc_id") % 2 == 1)

    def run(tag, docs_dir, crash):
        out = str(tmp_path / tag / "out")
        idx = str(tmp_path / tag / "index")
        ckpt = str(tmp_path / tag / "ckpt")
        real = cur._overwrite_epoch

        def failing(df, bid, path):
            if bid == 1 and path.endswith("/docs"):
                raise RuntimeError("injected crash mid-epoch 1")
            real(df, bid, path)

        if crash:
            monkeypatch.setattr(cur, "_overwrite_epoch", failing)
            try:
                cur.curation_ingest_stream(
                    spark, docs_dir, idx, out,
                    max_files_per_trigger=1, checkpoint_dir=ckpt,
                )
                raise AssertionError("stream should have crashed mid-epoch 1")
            except Exception as e:  # noqa: BLE001 — StreamingQueryException wraps it
                assert "injected crash" in str(e)
            finally:
                monkeypatch.setattr(cur, "_overwrite_epoch", real)
            # partial epoch on disk: the epoch-1 docs write never landed
            docs_bids = {
                r.batch_id
                for r in spark.read.parquet(out + "/docs")
                .select("batch_id").distinct().collect()
            }
            assert docs_bids == {0}
        # (re)start from the checkpoint — replays the uncommitted epoch
        cur.curation_ingest_stream(
            spark, docs_dir, idx, out,
            max_files_per_trigger=1, checkpoint_dir=ckpt,
        )
        docs = _rows(spark.read.parquet(out + "/docs"), ["doc_id"])
        rejects = _rows(
            spark.read.parquet(out + "/rejects"), ["doc_id", "reason"]
        )
        return docs, rejects

    in_a = str(tmp_path / "a" / "in")
    in_b = str(tmp_path / "b" / "in")
    for dd in (in_a, in_b):
        wave1.coalesce(1).write.mode("append").parquet(dd)
        wave2.coalesce(1).write.mode("append").parquet(dd)

    crashed = run("a", in_a, crash=True)
    clean = run("b", in_b, crash=False)
    assert crashed == clean
    # exactly-once: no doc appears twice in either output
    assert len(crashed[0]) == len(set(crashed[0]))
    good.unpersist()


def test_epoch_state_reader_mixed_layout_keeps_legacy_rows(spark, tmp_path):
    """Round-4 advisor finding: once the first epoch write lands in a
    pre-epoch dir, Spark partition discovery over the mixed layout ignores
    the unpartitioned root files — the accumulated legacy index silently
    vanished. The reader must union root files (epoch -1) with the epoch
    partitions."""
    from stackai_vector_db_spark.streaming.dedup import (
        _BASE_SCHEMA,
        _overwrite_epoch,
        _read_or_empty,
    )

    base = str(tmp_path / "base")
    spark.createDataFrame(
        [(1, [11, 22])], "doc_id long, shingle_set array<bigint>"
    ).write.parquet(base)  # pre-epoch layout: no batch_id anywhere
    _overwrite_epoch(
        spark.createDataFrame(
            [(2, [33, 44])], "doc_id long, shingle_set array<bigint>"
        ),
        0,
        base,
    )  # first epoch write into the SAME dir → mixed layout

    # before=1 sees both: legacy row as epoch -1, epoch-0 row as 0 < 1
    got = {r.doc_id for r in _read_or_empty(spark, base, _BASE_SCHEMA, before=1).collect()}
    assert got == {1, 2}
    # before=0 sees only the legacy row (epoch 0 is not earlier than 0)
    got0 = {r.doc_id for r in _read_or_empty(spark, base, _BASE_SCHEMA, before=0).collect()}
    assert got0 == {1}
    # unfiltered read sees everything
    assert {r.doc_id for r in _read_or_empty(spark, base, _BASE_SCHEMA).collect()} == {1, 2}


def test_dedup_stream_crash_mid_epoch_replays_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Mirror of the curation crash-replay test for the dedup-at-ingest
    gate: kill the stream after epoch 1's PAIRS partition is written but
    before its index (base/banded) writes — the worst half-state, since a
    non-idempotent replay would double-emit every epoch-1 pair — then
    restart from the checkpoint and assert outputs equal a never-crashed
    run. Same reference contract: snapshot atomicity
    (index_service.py:270-283) as epoch-idempotent writes."""
    import stackai_vector_db_spark.streaming.dedup as sd

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    wave1 = d
    wave2 = copies  # near-dups of wave1 → epoch-1 pairs exist

    def run(tag, docs_dir, crash):
        idx = str(tmp_path / tag / "index")
        pairs = str(tmp_path / tag / "pairs")
        ckpt = str(tmp_path / tag / "ckpt")
        real = sd._overwrite_epoch

        def failing(df, bid, path):
            if bid == 1 and path.endswith("/base"):
                raise RuntimeError("injected crash mid-epoch 1")
            real(df, bid, path)

        if crash:
            monkeypatch.setattr(sd, "_overwrite_epoch", failing)
            try:
                sd.dedup_ingest_stream(
                    spark, docs_dir, idx, pairs,
                    max_files_per_trigger=1, checkpoint_dir=ckpt,
                )
                raise AssertionError("stream should have crashed mid-epoch 1")
            except Exception as e:  # noqa: BLE001 — StreamingQueryException wraps it
                assert "injected crash" in str(e)
            finally:
                monkeypatch.setattr(sd, "_overwrite_epoch", real)
            # half state: epoch-1 pairs landed, epoch-1 index did not
            pair_bids = {
                r.batch_id
                for r in spark.read.parquet(pairs)
                .select("batch_id").distinct().collect()
            }
            assert 1 in pair_bids
            base_bids = {
                r.batch_id
                for r in spark.read.parquet(idx + "/base")
                .select("batch_id").distinct().collect()
            }
            assert base_bids == {0}
        sd.dedup_ingest_stream(
            spark, docs_dir, idx, pairs,
            max_files_per_trigger=1, checkpoint_dir=ckpt,
        )
        got_pairs = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in spark.read.parquet(pairs).collect()
        )
        n_base = spark.read.parquet(idx + "/base").count()
        return got_pairs, n_base

    in_a = str(tmp_path / "a" / "in")
    in_b = str(tmp_path / "b" / "in")
    for dd in (in_a, in_b):
        wave1.coalesce(1).write.mode("append").parquet(dd)
        wave2.coalesce(1).write.mode("append").parquet(dd)

    crashed = run("a", in_a, crash=True)
    clean = run("b", in_b, crash=False)
    assert crashed == clean
    assert len(crashed[0]) > 0
    # exactly-once: each (id_a, id_b) pair appears once
    keys = [(a, b) for a, b, _ in crashed[0]]
    assert len(keys) == len(set(keys))


def test_curation_stream_intra_batch_doc_id_collision(spark, tmp_path):
    """The same doc_id arriving twice WITHIN one micro-batch (two files,
    availableNow drains both at once) must admit exactly one copy; the
    other dead-letters as duplicate_doc_id. The stored-index gate can't
    see this case — neither copy is stored yet — so the within-batch
    winner rule (min clean_text, deterministic across replays) guards it."""
    from stackai_vector_db_spark.functions.text import quality_score
    from stackai_vector_db_spark.streaming.curation import curation_ingest_stream

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    good = d.withColumn("s", quality_score(F.col("text"))).filter(
        F.col("s") >= 0.5
    ).drop("s").limit(10).persist()
    n = good.count()
    assert n == 10

    docs_dir = str(tmp_path / "in")
    good.coalesce(1).write.mode("append").parquet(docs_dir)
    # same ids again, different (lexicographically larger) text — loses
    good.select(
        "doc_id", F.concat(F.lit("zzz "), F.col("text")).alias("text")
    ).coalesce(1).write.mode("append").parquet(docs_dir)

    # NO max_files_per_trigger: both files land in ONE batch
    curation_ingest_stream(
        spark,
        docs_dir,
        str(tmp_path / "index"),
        str(tmp_path / "out"),
    )
    docs = spark.read.parquet(str(tmp_path / "out/docs"))
    assert docs.count() == docs.select("doc_id").distinct().count() == n
    # the min-text originals won, not the zzz copies
    assert docs.filter(F.col("text").startswith("zzz")).count() == 0
    rejects = spark.read.parquet(str(tmp_path / "out/rejects"))
    dup = rejects.filter(F.col("reason") == "duplicate_doc_id")
    assert dup.count() == n
    base = spark.read.parquet(str(tmp_path / "index/base"))
    assert base.count() == base.select("doc_id").distinct().count() == n
    good.unpersist()
