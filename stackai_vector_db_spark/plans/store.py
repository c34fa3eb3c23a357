"""Versioned vector store: the reference's service lifecycle on Parquet.

Maps the reference's in-memory machinery to immutable-table conventions
(SURVEY.md §3.1-3.3, §4.1):

- ``IndexSnapshot`` + atomic swap (``index_service.py:34-52``, ``270-283``)
  → versioned directory per build (``chunks/vN``, ``index/vN``) plus an
  atomically-replaced pointer file. Readers resolve the pointer once and
  then only touch immutable files — the snapshot-isolation the reference
  gets from RWLocks falls out of storage immutability, zero locking.
- per-library RWLock (``utils/rwlock.py``) → single-writer job discipline;
  readers never block.
- tombstone deletes (``base.py:196-206``) → anti-join compaction into the
  next version (no positional coupling: ids are columns).
- dirty counters + rebuild threshold (``index_service.py:88-97``,
  ``163-196``) → a ``{library_id: n}`` map inside the pointer file, bumped
  or reset by the same atomic swap as the version it describes.
- lazy embedding backfill (``index_service.py:436-500``) → fake-embed rows
  with empty embeddings at build time.
- IVF inverted lists (``ivf.py:54-130``) → KMeans centroids +
  ``partitionBy("cluster_id")`` layout; probe filters prune directories.

The store is the serving-side composition of the operators in
``operators/``; every step is a plain DataFrame job that would run
unchanged on a multi-node cluster. Every table is read through a declared
schema (the ``*_SCHEMA`` constants), so opening a segment, tombstone or
control table plans without a schema-inference job.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from stackai_vector_db_spark.functions.vector import fake_embedding
from stackai_vector_db_spark.operators.ivf import (
    assign_clusters,
    kmeans_centroids,
    local_centroids_df,
    probe_clusters,
)
from stackai_vector_db_spark.operators.knn import brute_force_topk, local_queries_df

from stackai_vector_db_spark.plans.metadata import (
    CHUNK_METADATA_BOUNDS,
    CHUNK_METADATA_DDL,
    CHUNK_METADATA_FIELDS,
    DOCUMENT_METADATA_DDL,
    DOCUMENT_METADATA_FIELDS,
    LIBRARY_METADATA_DDL,
    LIBRARY_METADATA_FIELDS,
    DOCUMENT_METADATA_BOUNDS,
    LIBRARY_METADATA_BOUNDS,
    chunk_metadata_valid,
    coerce_metadata,
    metadata_lit,
    null_metadata,
)

_CHUNK_TYPES = [
    ("chunk_id", "long"),
    ("document_id", "long"),
    ("library_id", "long"),
    ("text", "string"),
    ("embedding", "array<float>"),
    ("start_index", "int"),
    ("end_index", "int"),
    ("similarity_threshold", "float"),
    # ChunkMetadata (reference entities.py:39-54) as a typed nested struct
    ("metadata", CHUNK_METADATA_DDL),
]
CHUNK_SCHEMA = ", ".join(f"{n} {t}" for n, t in _CHUNK_TYPES)
_CHUNK_COLS = [c for c, _ in _CHUNK_TYPES]
INDEX_SCHEMA = CHUNK_SCHEMA + ", cluster_id int"
CENTROID_SCHEMA = "cluster_id int, centroid array<double>"
TOMBSTONE_SCHEMA = "chunk_id long"
LIBRARY_SCHEMA = (
    "library_id long, name string, description string, "
    f"metadata {LIBRARY_METADATA_DDL}"
)
DOCUMENT_SCHEMA = (
    f"document_id long, library_id long, title string, metadata {DOCUMENT_METADATA_DDL}"
)


def _typed_chunks(df: DataFrame) -> DataFrame:
    """Chunk rows cast to ``CHUNK_SCHEMA`` on write: the declared-schema
    reads cannot narrow a double column (e.g. ``from_json_lines`` input)."""
    return df.select(*(F.col(c).cast(t).alias(c) for c, t in _CHUNK_TYPES))


DEFAULT_DIM = 16
REBUILD_THRESHOLD = 0.1  # reference config.py:58
MAX_KNN_RESULTS = 1000  # reference config.py:49, schemas/search.py:22-27
MAX_QUERY_TEXT_LEN = 10_000  # reference schemas/search.py:15-19
MAX_QUERY_EMBED_VALUE = 1e6  # reference schemas/search.py:61-68
MAX_SIMILARITY_THRESHOLD = 10.0  # reference schemas/chunk.py:43-54


def _validate_k(k: int) -> None:
    """Reference k bounds (schemas/search.py:22-27: 1 ≤ k ≤ 1000, a 422
    validation error, not a silent clamp)."""
    if not 1 <= k <= MAX_KNN_RESULTS:
        raise ValueError(f"k must be in [1, {MAX_KNN_RESULTS}], got {k}")


def _validate_query_text(text: str) -> str:
    """Reference text bounds (schemas/search.py:15-33: 1..10000 chars,
    whitespace-only rejected, stripped before use)."""
    if not text.strip():
        raise ValueError("search text cannot be empty or whitespace only")
    if len(text) > MAX_QUERY_TEXT_LEN:
        raise ValueError(f"search text longer than {MAX_QUERY_TEXT_LEN} chars")
    return text.strip()


class VectorStore:
    """Chunks and index carry independent versions behind one pointer file:
    ``{"chunks": N, "index": M, "dirty": {"<library_id>": n}}`` —
    ingest/delete bump ``chunks``, builds bump ``index``. Any reader holding
    (N, M) sees a stable snapshot, and the dirty counts that go with it."""

    def __init__(self, spark: SparkSession, root: str, dim: int = DEFAULT_DIM):
        self.spark = spark
        self.root = root
        self.dim = dim
        # (index path, collected centroid rows) of the current index version
        self._cent_rows: tuple = (None, None)
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)

    def _local(self, rows: list[tuple], schema: str) -> DataFrame:
        """Local Python rows as a LocalRelation (a list plans as a ``LogicalRDD``)."""
        return self.spark.createDataFrame(pd.DataFrame.from_records(rows), schema)

    # ---- version pointer (snapshot swap) ---------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_meta", "CURRENT")

    def versions(self) -> dict:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"chunks": 0, "index": 0}

    def _swap_pointer(
        self, bump: dict | None = None, reset: int | None = None, **updates
    ) -> None:
        """Atomic pointer swap (write-temp + os.replace) — the
        IndexSnapshot version bump of index_service.py:270-283. ``bump`` /
        ``reset`` change per-library dirty counts in the same swap."""
        payload = {**self.versions(), **updates}
        dirty = Counter(payload.get("dirty", {}))
        dirty.update({str(lib): n for lib, n in (bump or {}).items()})
        if reset is not None:
            dirty.pop(str(reset), None)
        payload["dirty"] = dict(dirty)
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_meta"))
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._pointer_path())

    def _chunks_path(self, version: int) -> str:
        return os.path.join(self.root, "chunks", f"v{version}")

    def _chunks_manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "_meta", f"chunks_v{version}.json")

    def _chunks_sources(self, version: int) -> dict | None:
        """A chunks version is either a MANIFEST — ``{"data": [[dir, seq]…],
        "deletes": [[file, seq]…]}`` of immutable segments (append-only
        ingest / merge-on-read delete) — or a plain rewritten dir
        (compaction). A delete file tombstones a chunk_id in data segments
        with a LOWER seq only, so re-ingesting a previously deleted id
        behaves like delete-then-create (Iceberg-style sequence rule).
        Manifest wins if both exist."""
        mp = self._chunks_manifest_path(version)
        if os.path.exists(mp):
            with open(mp) as f:
                m = json.load(f)
            if isinstance(m, list):  # early manifest format: data dirs only
                m = {"data": [[p, i] for i, p in enumerate(m)], "deletes": []}
            return m
        p = self._chunks_path(version)
        return {"data": [[p, version]], "deletes": []} if os.path.exists(p) else None

    def _index_path(self, version: int) -> str:
        return os.path.join(self.root, "index", f"v{version}")

    # ---- ingest (trace §3.3) ---------------------------------------------

    def ingest_chunks(self, rows: DataFrame, compute_embedding: bool = True) -> int:
        """Validate (P7), default end_index (F6), optionally eager-embed
        (F3), write the next chunks version, bump dirty counters."""
        if "similarity_threshold" not in rows.columns:
            rows = rows.withColumn(
                "similarity_threshold", F.lit(None).cast("float")
            )
        if "metadata" not in rows.columns:
            rows = rows.withColumn(
                "metadata", null_metadata(CHUNK_METADATA_FIELDS)
            )
        else:
            rows = rows.withColumn(
                "metadata",
                coerce_metadata(F.col("metadata"), CHUNK_METADATA_FIELDS),
            )
        validated = (
            rows.filter(F.length(F.trim(F.col("text"))) > 0)
            # reference schemas/chunk.py:43-54: similarity_threshold must
            # sit in [0, 10]; out-of-range rows are rejected (the batch
            # analog of the Pydantic 422), null passes through.
            .filter(
                F.col("similarity_threshold").isNull()
                | (
                    (F.col("similarity_threshold") >= 0)
                    & (F.col("similarity_threshold") <= MAX_SIMILARITY_THRESHOLD)
                )
            )
            # reference schemas/chunk.py:14-54: ChunkMetadataSchema field
            # bounds (chunk_type/section/language/model lengths,
            # page_number, confidence, embedding_dim, threshold).
            .filter(chunk_metadata_valid(F.col("metadata")))
            .withColumn(
                "end_index",
                F.coalesce(
                    F.col("end_index"),
                    F.col("start_index") + F.length(F.trim(F.col("text"))),
                ).cast("int"),
            )
            .withColumn(
                "embedding",
                F.coalesce(F.col("embedding"), F.array().cast("array<float>")),
            )
        )
        if compute_embedding:
            validated = validated.withColumn(
                "embedding",
                F.when(F.size("embedding") > 0, F.col("embedding")).otherwise(
                    fake_embedding(F.col("text"), self.dim).cast("array<float>")
                ),
            )
        # Append-only ingest: the batch is written as ONE new immutable
        # segment and the next version's manifest = previous sources + the
        # segment. Nothing existing is rewritten — at 100 TB a small batch
        # costs O(batch), not O(corpus) (the old full-rewrite path cost a
        # corpus copy per ingest). Segments carry library_id as a data
        # column (no partitionBy); compact_chunks() folds them into the
        # partition-pruned layout.
        v = self.versions()["chunks"]
        seg = os.path.join(self.root, "chunks", f"seg_{v + 1}")
        _typed_chunks(validated).write.mode("overwrite").parquet(seg)
        prev = self._chunks_sources(v) or {"data": [], "deletes": []}
        self._write_manifest(
            v + 1,
            prev["data"] + [[seg, v + 1]],
            prev["deletes"],
        )
        # dirty increment from the written segment (not a re-run of its plan)
        per_lib = self._read(seg, CHUNK_SCHEMA).groupBy("library_id").count()
        self._swap_pointer(chunks=v + 1, bump=dict(per_lib.collect()))
        return v + 1

    def _write_manifest(self, version: int, data: list, deletes: list) -> None:
        with open(self._chunks_manifest_path(version), "w") as f:
            json.dump({"data": data, "deletes": deletes}, f)

    def _read(self, path: str, schema) -> DataFrame:
        """Declared-schema read: no schema-inference job, and a column a
        file predates reads back as typed nulls (additive evolution)."""
        return self.spark.read.schema(schema).parquet(path)

    def _tombstone(self, chunk_ids: DataFrame, new_version: int) -> None:
        """Merge-on-read delete: write the matched ids as one small delete
        file and advance the manifest — O(matched), never a corpus rewrite.
        Readers anti-join tombstones onto lower-seq segments only."""
        prev = self._chunks_sources(new_version - 1) or {"data": [], "deletes": []}
        path = os.path.join(self.root, "chunks", f"del_{new_version}")
        chunk_ids.select(F.col("chunk_id").cast("long")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        self._write_manifest(
            new_version, prev["data"], prev["deletes"] + [[path, new_version]]
        )

    def read_chunks(self, version: int | None = None) -> DataFrame | None:
        v = self.versions()["chunks"] if version is None else version
        sources = self._chunks_sources(v)
        if sources is None:
            return None
        # select: a partitioned dir puts library_id last
        parts = [
            self._read(p, CHUNK_SCHEMA)
            .select(*_CHUNK_COLS)
            .withColumn("__seq", F.lit(seq))
            for p, seq in sources["data"]
        ]
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if sources["deletes"]:
            dels = None
            for p, seq in sources["deletes"]:
                d = self._read(p, TOMBSTONE_SCHEMA).select(
                    F.col("chunk_id").alias("__del_id"),
                    F.lit(seq).alias("__del_seq"),
                )
                dels = d if dels is None else dels.unionByName(d)
            out = out.join(
                F.broadcast(dels),
                (F.col("chunk_id") == F.col("__del_id"))
                & (F.col("__del_seq") > F.col("__seq")),
                "left_anti",
            )
        return out.drop("__seq")

    def get_chunk(self, chunk_id: int):
        """Point lookup (reference GET /chunks/{id},
        chunk_service.py get_chunk): the chunk row, or a clean
        ChunkNotFoundError equivalent. The predicate pushes down to the
        parquet scan — at scale this reads the one row group holding the
        id, not the corpus."""
        cur = self.read_chunks()
        rows = (
            [] if cur is None
            else cur.filter(F.col("chunk_id") == chunk_id).limit(1).collect()
        )
        if not rows:
            raise ValueError(f"chunk {chunk_id} not found")
        return rows[0]

    def list_chunks(
        self,
        library_id: int | None = None,
        document_id: int | None = None,
    ) -> DataFrame | None:
        """Scoped chunk listing (reference GET /documents/{id}/chunks and
        /libraries/{id}/chunks, chunk_repository.py list_by_*): plain
        pushed-down filters over the current snapshot."""
        cur = self.read_chunks()
        if cur is None:
            return None
        if library_id is not None:
            cur = cur.filter(F.col("library_id") == library_id)
        if document_id is not None:
            cur = cur.filter(F.col("document_id") == document_id)
        return cur

    def count_chunks(self, library_id: int | None = None) -> int:
        """Chunk count (reference chunk_service.py count_chunks) — a
        metadata-only aggregate over the snapshot."""
        df = self.list_chunks(library_id=library_id)
        return 0 if df is None else df.count()

    def compact_chunks(self) -> int:
        """Fold the manifest's segments into one partition-pruned rewrite —
        the maintenance job that bounds small-file count and restores
        partitionBy(library_id) pruning after a run of appends. Readers
        pinned to older versions are untouched (segments are immutable)."""
        cur = self.read_chunks()
        if cur is None:
            raise ValueError("empty store")
        v = self.versions()["chunks"]
        cur.write.mode("overwrite").partitionBy("library_id").parquet(
            self._chunks_path(v + 1)
        )
        self._swap_pointer(chunks=v + 1)
        return v + 1

    def update_chunk_text(self, chunk_id: int, new_text: str) -> int:
        """Text-only update; see :meth:`update_chunk`."""
        return self.update_chunk(chunk_id, text=new_text, compute_embedding=True)

    def update_chunk(
        self,
        chunk_id: int,
        text: str | None = None,
        embedding: list[float] | None = None,
        start_index: int | None = None,
        end_index: int | None = None,
        metadata: dict | None = None,
        compute_embedding: bool = False,
    ) -> int:
        """Copy-on-write partial update — the reference's ChunkUpdate PATCH
        (``schemas/chunk.py:150-180``, ``entities.py:259-294``: updates
        return new immutable instances): rewrite the row with the given
        fields into the next chunks version; readers pinned to the old
        version are untouched. Marks the library dirty
        (``chunk_service.py:117-120``). Validators mirror the schema:
        non-blank text, start/end >= 0 and end >= start, embedding dim
        matched to the store, metadata per the closed-schema bounds."""
        if text is not None and not text.strip():
            raise ValueError("chunk text must be non-empty")
        if start_index is not None and start_index < 0:
            raise ValueError("start_index must be >= 0")
        if end_index is not None:
            if end_index < 0:
                raise ValueError("end_index must be >= 0")
            if start_index is not None and end_index < start_index:
                raise ValueError("end_index must be >= start_index")
        if embedding is not None and len(embedding) != self.dim:
            raise ValueError(
                f"embedding dim {len(embedding)} != store dim {self.dim}"
            )
        old, bump = self._match_chunk(chunk_id)
        # Merge-on-read update = tombstone(old) + one-row segment(new):
        # O(1 row) written, never a corpus rewrite. The new segment's seq
        # equals the tombstone's, so only the OLD row is masked.
        updated = old
        if text is not None:
            updated = updated.withColumn("text", F.lit(text))
        if embedding is not None:
            updated = updated.withColumn(
                "embedding",
                F.lit([float(x) for x in embedding]).cast("array<float>"),
            )
        elif compute_embedding and text is not None:
            updated = updated.withColumn(
                "embedding",
                fake_embedding(F.lit(text), self.dim).cast("array<float>"),
            )
        if start_index is not None:
            updated = updated.withColumn("start_index", F.lit(start_index).cast("int"))
        if end_index is not None:
            updated = updated.withColumn("end_index", F.lit(end_index).cast("int"))
        if metadata is not None:
            updated = updated.withColumn(
                "metadata",
                metadata_lit(
                    CHUNK_METADATA_FIELDS, metadata, CHUNK_METADATA_BOUNDS
                ),
            )
        v = self._tombstone_id(chunk_id)
        seg = os.path.join(self.root, "chunks", f"seg_{v}")
        _typed_chunks(updated).coalesce(1).write.mode("overwrite").parquet(seg)
        m = self._chunks_sources(v)
        self._write_manifest(v, m["data"] + [[seg, v]], m["deletes"])
        self._swap_pointer(chunks=v, bump=bump)
        return v

    def delete_chunk(self, chunk_id: int) -> int:
        """Single-chunk delete — the reference's DELETE /chunks/{id}
        (``api/v1/routers/chunks.py:62-77`` → ``chunk_service.py:166-175``:
        existence check first, then delete, then mark the library index
        dirty). Merge-on-read: one tombstone row written, no segment
        rewrite; readers pinned to the old version are untouched."""
        _, bump = self._match_chunk(chunk_id)
        v = self._tombstone_id(chunk_id)
        self._swap_pointer(chunks=v, bump=bump)
        return v

    def _match_chunk(self, chunk_id: int) -> tuple[DataFrame, Counter]:
        """The current rows of ``chunk_id`` and their per-library count:
        one collect is both the existence check and the dirty increment."""
        cur = self.read_chunks()
        if cur is None:
            raise ValueError(f"chunk {chunk_id} not found")
        old = cur.filter(F.col("chunk_id") == chunk_id)
        bump = Counter(r.library_id for r in old.select("library_id").collect())
        if not bump:
            raise ValueError(f"chunk {chunk_id} not found")
        return old, bump

    def _tombstone_id(self, chunk_id: int) -> int:
        """Tombstone one literal id into the next chunks version (no store
        scan); returns that version."""
        v = self.versions()["chunks"] + 1
        self._tombstone(self._local([(chunk_id,)], TOMBSTONE_SCHEMA), v)
        return v

    # ---- cascade delete (J4, trace library_service.py:67-77) -------------

    def delete_documents(self, doc_ids: DataFrame) -> int:
        """Cascade delete, merge-on-read: resolve the affected chunk ids
        (left-semi on document_id) into one tombstone file — O(matched)
        written; compaction reclaims the space later."""
        cur = self.read_chunks()
        if cur is None:
            raise ValueError("empty store")
        matched = cur.join(
            doc_ids.select(F.col("document_id")), "document_id", "left_semi"
        ).select("chunk_id")
        v = self.versions()["chunks"] + 1
        self._tombstone(matched, v)
        self._swap_pointer(chunks=v)
        return v

    # ---- dirty counters (A7) ---------------------------------------------

    def dirty_count(self, library_id: int) -> int:
        return self.versions().get("dirty", {}).get(str(library_id), 0)

    def needs_rebuild(self, library_id: int) -> bool:
        """dirty_count / total >= 0.1 (index_service.py:88-97)."""
        cur = self.read_chunks()
        total = (
            cur.filter(F.col("library_id") == library_id).count()
            if cur is not None
            else 0
        )
        return self.dirty_count(library_id) / max(total, 1) >= REBUILD_THRESHOLD

    # ---- index build (trace §3.2) ----------------------------------------

    @staticmethod
    def select_algorithm(n: int, dim: int) -> str:
        """Auto index selection (reference ``app/indexes/manager.py:39-63``):
        linear for <1,000 vectors; IVF for ≥10,000 vectors or >50 dims.
        The reference's middle tier (kdtree: dim ≤ 20 and n < 50k) is
        intentionally folded into linear — SURVEY.md §4.1 drops the KD-tree
        (sequential pointer-chasing is an anti-pattern on Spark); its exact
        contract is covered by the linear scan, its pruning contract by the
        IVF partition layout."""
        if n >= 10_000 or dim > 50:
            return "ivf"
        return "linear"

    def build_index(
        self,
        library_id: int,
        n_clusters: int = 8,
        algorithm: str | None = None,
    ) -> int:
        """Backfill embeddings, KMeans centroids, cluster-partitioned write,
        pointer swap, dirty reset — the full build trace as one batch job.
        ``algorithm`` None → auto-selected from (n, dim); "linear" writes a
        single-cluster layout (every probe scans everything — exact)."""
        cur = self.read_chunks()
        if cur is None:
            raise ValueError("empty store")
        lib = cur.filter(F.col("library_id") == library_id).withColumn(
            "embedding",
            F.when(F.size("embedding") > 0, F.col("embedding")).otherwise(
                fake_embedding(F.col("text"), self.dim).cast("array<float>")
            ),
        )
        vectors = lib.select(F.col("chunk_id").alias("vec_id"), "embedding")
        n = vectors.count()
        if n == 0:
            raise ValueError(f"library {library_id} is empty")  # EmptyLibraryError
        if algorithm is None:
            algorithm = self.select_algorithm(n, self.dim)
        if algorithm not in ("linear", "ivf"):
            # reference manager.py:17-36: the index factory rejects unknown
            # algorithm names instead of silently picking one.
            raise ValueError(f"unknown index algorithm: {algorithm!r}")
        if n < 2:
            # MLlib KMeans requires k >= 2; a 0/1-vector library is exactly
            # the linear layout anyway.
            algorithm = "linear"
        if algorithm == "linear":
            # Degenerate one-cluster layout: centroid = origin, all vectors
            # in cluster 0 (probe filter passes everything → exact scan).
            cents = local_centroids_df(self.spark, [(0, [0.0] * self.dim)])
            assigned = vectors.select("vec_id", F.lit(0).alias("cluster_id"))
        else:
            # k must not exceed the vector count (MLlib contract; the
            # reference sizes C ≈ √(n/2) with the same effect for tiny n).
            cents = kmeans_centroids(
                vectors, n_clusters=max(2, min(n_clusters, n))
            )
            assigned = assign_clusters(vectors, cents)
        new_v = self.versions()["index"] + 1
        (
            lib.join(
                assigned.select(F.col("vec_id").alias("chunk_id"), "cluster_id"),
                "chunk_id",
            )
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(self._index_path(new_v))
        )
        cents.write.mode("overwrite").parquet(
            os.path.join(self._index_path(new_v), "_centroids")
        )
        # Record which chunks version the index reflects: query-time
        # tombstone-skip applies only deletes NEWER than this (older ones
        # were already excluded by the merge-on-read build scan).
        self._swap_pointer(
            index=new_v, algorithm=algorithm, index_chunks=self.versions()["chunks"],
            reset=library_id,
        )
        return new_v

    def read_index(self, version: int | None = None) -> tuple[DataFrame, DataFrame]:
        v = self.versions()["index"] if version is None else version
        path = self._index_path(v)
        if v < 1 or not os.path.exists(path):
            # reference base.py IndexNotBuiltError: querying before build is
            # a clean domain error, not a storage-layer stack trace.
            raise ValueError(f"index not built (version {v})")
        chunks = self._read(path, INDEX_SCHEMA)
        cents = self._read(os.path.join(path, "_centroids"), CENTROID_SCHEMA)
        return chunks, cents

    def _centroid_rows(self, version: int | None = None):
        """The current index version's centroid table, collected once —
        index OPEN work (the in-memory coarse quantizer), shared by every
        subsequent search instead of re-collected per query. Versions are
        immutable (pointer-swap writes), so the path is a safe cache key.
        Only the current version is kept; a pinned ``version`` re-collects."""
        v = self.versions()["index"] if version is None else version
        path = self._index_path(v)
        cached_path, rows = self._cent_rows
        if cached_path != path:
            rows = self.read_index(v)[1].collect()
            if version is None:
                self._cent_rows = (path, rows)
        return rows

    # ---- search (trace §3.1) ---------------------------------------------

    def search_text(
        self,
        library_id: int,
        text: str,
        k: int = 10,
        nprobe: int = 2,
        version: int | None = None,
    ) -> DataFrame:
        """Embed query text (F3), probe clusters (O5), top-k within probed
        partitions (J2+A1), hydrate chunk payload (J1). Passing ``version``
        pins a snapshot (reads are stable while a new build runs)."""
        _validate_k(k)
        text = _validate_query_text(text)
        self._check_library_exists(library_id)
        # Parameterized one-row relation instead of createDataFrame: the
        # latter plans as a pickled-rows ExistingRDD whose every broadcast
        # runs a Python-worker job (r11 optimization — same fix as the
        # bench serving paths; see operators/knn.local_queries_df).
        q = self.spark.sql(
            "SELECT CAST(0 AS long) AS qid, :t AS qtext", args={"t": text}
        ).select(
            "qid",
            fake_embedding(F.col("qtext"), self.dim).cast("array<float>").alias("qvec"),
        )
        idx, cents = self.read_index(version)
        idx = idx.filter(F.col("library_id") == library_id)
        probes = probe_clusters(q, cents, nprobe)
        cand = self._skip_tombstones(
            idx.join(
                F.broadcast(probes.select("cluster_id").distinct()), "cluster_id"
            )
        )
        hits = brute_force_topk(
            q, cand, k, id_col="chunk_id", vec_col="embedding"
        ).withColumnRenamed("vec_id", "chunk_id")
        return self._hydrate_and_threshold(hits, idx)

    def _check_library_exists(self, library_id: int) -> None:
        """Reference LibraryNotFoundError (search_service.py: a query names
        a library; unknown ids 404). Checked against the control table when
        one exists — stores driven purely through ingest_chunks (no library
        CRUD) skip it, since chunk rows are then the only library record.
        The search itself additionally scopes the index scan to the
        library's rows, so a wrong id can never return another library's
        hits (the filter pushes down to the parquet scan)."""
        libs = self.list_libraries()
        if libs is not None and libs.filter(
            F.col("library_id") == library_id
        ).isEmpty():
            raise ValueError(f"library {library_id} not found")

    def _live_tombstones(self) -> DataFrame | None:
        """Chunk ids deleted SINCE the current index was built — the
        reference's query-time tombstone skip (``linear.py:53-54``,
        ``ivf.py:57-59``: removed vectors stay in the structure until
        rebuild but are skipped during scans). Tombstone files are tiny →
        broadcast anti-join, no index rewrite."""
        vs = self.versions()
        since = vs.get("index_chunks", vs["chunks"])
        m = self._chunks_sources(vs["chunks"])
        if not m:
            return None
        paths = [p for p, seq in m["deletes"] if seq > since]
        if not paths:
            return None
        out = None
        for p in paths:
            d = self._read(p, TOMBSTONE_SCHEMA)
            out = d if out is None else out.unionByName(d)
        return out

    def _skip_tombstones(self, cand: DataFrame) -> DataFrame:
        dead = self._live_tombstones()
        if dead is None:
            return cand
        return cand.join(F.broadcast(dead), "chunk_id", "left_anti")

    def _hydrate_and_threshold(self, hits: DataFrame, idx: DataFrame) -> DataFrame:
        """J1 hydration + P6 per-chunk similarity_threshold post-filter
        (reference ``search_service.py:156-191``): a hit is dropped only
        when its chunk carries a threshold AND the distance exceeds it —
        null threshold keeps the row (the three-valued-logic trap from
        SURVEY.md §7.3, encoded explicitly)."""
        payload = idx.select(
            "chunk_id",
            "document_id",
            "library_id",
            "text",
            "similarity_threshold",
            "metadata",
        )
        return (
            F.broadcast(hits)
            .join(payload, "chunk_id")
            .filter(
                F.col("similarity_threshold").isNull()
                | (F.col("dist") <= F.col("similarity_threshold"))
            )
            .select(
                "qid", "chunk_id", "document_id", "dist", "rank", "text", "metadata"
            )
        )

    def search_vector(
        self,
        library_id: int,
        vector: list[float],
        k: int = 10,
        nprobe: int = 2,
        version: int | None = None,
    ) -> DataFrame:
        """Raw-vector search (reference ``POST /query`` with an embedding
        payload): k-bounded (schemas/search.py:22-27) and dimension-checked
        against the store dim (422-equivalent, ``search_service.py:126-135``),
        then the same probe→topk→hydrate plan as :meth:`search_text`."""
        _validate_k(k)
        if len(vector) != self.dim:
            raise ValueError(
                f"query dim {len(vector)} != index dim {self.dim}"
            )  # DimensionMismatchError
        for i, x in enumerate(vector):
            # reference schemas/search.py:61-68: each query-embedding value
            # bounded to ±1e6 (422-equivalent, not a clamp).
            if not -MAX_QUERY_EMBED_VALUE <= float(x) <= MAX_QUERY_EMBED_VALUE:
                raise ValueError(
                    f"embedding value at index {i} is out of range (±1e6)"
                )
        self._check_library_exists(library_id)
        # LocalRelation query vector + driver-side probe selection over the
        # stored centroid table (r11 — the serving-path form proven
        # value-identical in operators/ivf.probe_pairs_local): removes the
        # ExistingRDD broadcast job and the probe window's exchange from
        # every vector search.
        from stackai_vector_db_spark.operators.ivf import local_probes_df

        # Round-trip the query through float32 FIRST: candidate scoring via
        # local_queries_df casts to array<float>, so probe selection must
        # see the same float32-quantized values — a raw float64 component
        # near a rounding boundary (±1e6 inputs are allowed, where float32
        # truncation ~0.06 ≫ the 0.5e-6 round-6 granularity) could
        # otherwise pick a different cluster than the scoring space would.
        import numpy as np

        qpair = (0, [float(x) for x in np.asarray(vector, dtype=np.float32)])
        q = local_queries_df(self.spark, [qpair])
        idx, cents = self.read_index(version)
        idx = idx.filter(F.col("library_id") == library_id)
        probes = local_probes_df(
            self.spark, [qpair], cents, self._centroid_rows(version), nprobe
        )
        cand = self._skip_tombstones(
            idx.join(
                F.broadcast(probes.select("cluster_id").distinct()), "cluster_id"
            )
        )
        hits = brute_force_topk(
            q, cand, k, id_col="chunk_id", vec_col="embedding"
        ).withColumnRenamed("vec_id", "chunk_id")
        return self._hydrate_and_threshold(hits, idx)

    def index_status(self, library_id: int) -> dict:
        """IndexStatus analog (reference ``index_service.py:285-302``):
        built?, version, algorithm, size, dirty count, rebuild flag."""
        vs = self.versions()
        built = vs["index"] > 0
        size = 0
        if built:
            idx, _ = self.read_index()
            size = idx.filter(F.col("library_id") == library_id).count()
        return {
            "is_built": built,
            "index_version": vs["index"],
            "chunks_version": vs["chunks"],
            "algorithm": vs.get("algorithm"),
            "size": size,
            "dirty_count": self.dirty_count(library_id),
            "needs_rebuild": self.needs_rebuild(library_id),
        }

    # ---- library entities (reference routers/libraries.py) ----------------

    def _libraries_path(self) -> str:
        return os.path.join(self.root, "control", "libraries")

    def list_libraries(self) -> DataFrame | None:
        if not os.path.exists(self._libraries_path()):
            return None
        return self._read(self._libraries_path(), LIBRARY_SCHEMA).orderBy(
            F.lower("name")
        )

    def get_library(self, library_id: int):
        """Point lookup (reference GET /libraries/{id},
        library_service.py get_library): the row or a clean not-found."""
        libs = self.list_libraries()
        rows = (
            [] if libs is None
            else libs.filter(F.col("library_id") == library_id).limit(1).collect()
        )
        if not rows:
            raise ValueError(f"library {library_id} not found")
        return rows[0]

    def get_library_by_name(self, name: str):
        """Name lookup, case-insensitive — the uniqueness invariant the
        create path enforces makes lower(name) a key (reference
        library_service.py get_library_by_name + repository name index)."""
        libs = self.list_libraries()
        rows = (
            [] if libs is None
            else libs.filter(
                F.lower("name") == name.strip().lower()
            ).limit(1).collect()
        )
        if not rows:
            raise ValueError(f"library named {name!r} not found")
        return rows[0]

    def library_exists(self, library_id: int) -> bool:
        libs = self.list_libraries()
        return libs is not None and not libs.filter(
            F.col("library_id") == library_id
        ).isEmpty()

    def library_name_exists(self, name: str) -> bool:
        libs = self.list_libraries()
        return libs is not None and not libs.filter(
            F.lower("name") == name.strip().lower()
        ).isEmpty()

    def get_document(self, document_id: int):
        """Point lookup (reference GET /documents/{id})."""
        docs = self.list_documents()
        rows = (
            [] if docs is None
            else docs.filter(F.col("document_id") == document_id).limit(1).collect()
        )
        if not rows:
            raise ValueError(f"document {document_id} not found")
        return rows[0]

    def create_library(
        self,
        library_id: int,
        name: str,
        description: str = "",
        metadata: dict | None = None,
    ) -> None:
        """Create with case-insensitive name uniqueness (reference
        ``library_repository.py:18-19``, ``36-39``: casefolded unique
        index; duplicate → error). ``metadata`` is the closed
        LibraryMetadata schema (entities.py:57-72) stored as a typed
        struct column; unknown keys raise."""
        if not name.strip():
            raise ValueError("library name must be non-empty")
        if len(name) > 255:
            raise ValueError("library name too long")  # config.py:53-54
        cur = self.list_libraries()
        row = self._local(
            [(library_id, name.strip(), description)],
            "library_id long, name string, description string",
        ).withColumn("metadata", metadata_lit(LIBRARY_METADATA_FIELDS, metadata, LIBRARY_METADATA_BOUNDS))
        if cur is not None:
            clash = cur.filter(
                (F.lower("name") == name.strip().lower())
                | (F.col("library_id") == library_id)
            )
            if not clash.isEmpty():
                raise ValueError(f"library name/id already exists: {name!r}")
            row = cur.unionByName(row)
        self._rewrite_control(row, self._libraries_path())

    def update_library(
        self, library_id: int, name: str | None = None, description: str | None = None
    ) -> None:
        """Copy-on-write update (reference ``entities.py:114-135``: updates
        return new instances; ``routers/libraries.py`` PATCH). Name keeps
        the case-insensitive uniqueness invariant against OTHER libraries."""
        cur = self.list_libraries()
        if cur is None or cur.filter(F.col("library_id") == library_id).isEmpty():
            raise ValueError(f"library {library_id} not found")
        if name is not None:
            if not name.strip():
                raise ValueError("library name must be non-empty")
            if len(name) > 255:
                raise ValueError("library name too long")
            clash = cur.filter(
                (F.lower("name") == name.strip().lower())
                & (F.col("library_id") != library_id)
            )
            if not clash.isEmpty():
                raise ValueError(f"library name already exists: {name!r}")
        hit = F.col("library_id") == library_id
        df = cur
        if name is not None:
            df = df.withColumn(
                "name", F.when(hit, F.lit(name.strip())).otherwise(F.col("name"))
            )
        if description is not None:
            df = df.withColumn(
                "description",
                F.when(hit, F.lit(description)).otherwise(F.col("description")),
            )
        self._rewrite_control(df, self._libraries_path())

    MAX_CONTROL_ROWS = 1_000_000

    def _rewrite_control(self, df: DataFrame, path: str) -> None:
        """Whole-table single-writer rewrite — legal ONLY for control-plane
        metadata (libraries/documents), whose cardinality is entities, not
        chunks; it never touches the chunks table. The guard turns that
        O(metadata) assumption into an explicit contract: a deployment that
        somehow grows a control table toward data scale fails loudly here
        instead of silently serializing it through one writer. The guard
        counts the STAGED tmp write, not the incoming plan: callers pass
        unmaterialized join/agg plans, and a pre-write df.count() would
        evaluate each one twice (parquet row-count reads are footer
        metadata — no second scan). The stage itself writes PARALLEL (no
        coalesce) so an out-of-contract table is never funneled through
        one writer before the guard fires (round-5 review); only the
        guarded final rewrite single-writes, and the tmp dir is removed on
        BOTH exits — a failed guard and a completed rewrite (round-5
        advisor: leaving it after success doubles control-table storage on
        every rewrite, indefinitely)."""
        import shutil

        tmp = path + "_tmp"
        df.write.mode("overwrite").parquet(tmp)
        staged = self._read(tmp, df.schema)
        n = staged.count()
        if n > self.MAX_CONTROL_ROWS:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f"control table {path} has {n} rows (> {self.MAX_CONTROL_ROWS}); "
                "single-writer metadata rewrite is out of contract at this size"
            )
        staged.coalesce(1).write.mode("overwrite").parquet(path)
        shutil.rmtree(tmp, ignore_errors=True)

    # ---- document entities (reference routers/documents.py) ---------------

    def _documents_path(self) -> str:
        return os.path.join(self.root, "control", "documents")

    def _rewrite_documents(self, df: DataFrame) -> None:
        self._rewrite_control(df, self._documents_path())

    def list_documents(self, library_id: int | None = None) -> DataFrame | None:
        """Documents ordered by lower(title) (reference
        ``document_repository.py:24-27``)."""
        if not os.path.exists(self._documents_path()):
            return None
        df = self._read(self._documents_path(), DOCUMENT_SCHEMA)
        if library_id is not None:
            df = df.filter(F.col("library_id") == library_id)
        return df.orderBy(F.lower("title"))

    def create_document(
        self,
        document_id: int,
        library_id: int,
        title: str,
        metadata: dict | None = None,
    ) -> None:
        """FK-guarded create (reference J5: parent library must exist,
        ``document_service.py:64-65``); title non-empty, ≤ 255.
        ``metadata`` is the closed DocumentMetadata schema
        (entities.py:20-36) stored as a typed struct column."""
        if not title.strip():
            raise ValueError("document title must be non-empty")
        if len(title) > 255:
            raise ValueError("document title too long")
        libs = self.list_libraries()
        if libs is None or libs.filter(F.col("library_id") == library_id).isEmpty():
            raise ValueError(f"library {library_id} not found")
        row = self._local(
            [(document_id, library_id, title.strip())],
            "document_id long, library_id long, title string",
        ).withColumn("metadata", metadata_lit(DOCUMENT_METADATA_FIELDS, metadata, DOCUMENT_METADATA_BOUNDS))
        cur = self.list_documents()
        if cur is not None:
            if not cur.filter(F.col("document_id") == document_id).isEmpty():
                raise ValueError(f"document {document_id} already exists")
            row = cur.unionByName(row)
        self._rewrite_documents(row)

    def update_document(self, document_id: int, title: str) -> None:
        """Copy-on-write title update (reference ``entities.py:177-199``,
        ``routers/documents.py`` PATCH); same title invariants as create."""
        if not title.strip():
            raise ValueError("document title must be non-empty")
        if len(title) > 255:
            raise ValueError("document title too long")
        cur = self.list_documents()
        if cur is None or cur.filter(F.col("document_id") == document_id).isEmpty():
            raise ValueError(f"document {document_id} not found")
        self._rewrite_documents(
            cur.withColumn(
                "title",
                F.when(
                    F.col("document_id") == document_id, F.lit(title.strip())
                ).otherwise(F.col("title")),
            )
        )

    def delete_document(self, document_id: int) -> None:
        """Cascade: drop the document row and its chunks (reference
        ``document_repository.py:70-81`` + chunk cascade)."""
        cur = self.list_documents()
        if cur is None or cur.filter(F.col("document_id") == document_id).isEmpty():
            raise ValueError(f"document {document_id} not found")
        self._rewrite_documents(cur.filter(F.col("document_id") != document_id))
        if self.read_chunks() is not None:
            self.delete_documents(self._local([(document_id,)], "document_id long"))

    def delete_library(self, library_id: int) -> None:
        """Cascade: drop the library row and anti-join its chunks away
        (reference ``library_service.py:67-77``)."""
        cur = self.list_libraries()
        if cur is None or cur.filter(F.col("library_id") == library_id).isEmpty():
            raise ValueError(f"library {library_id} not found")
        remaining = cur.filter(F.col("library_id") != library_id)
        self._rewrite_control(remaining, self._libraries_path())
        chunks = self.read_chunks()
        v = self.versions()["chunks"]
        if chunks is not None:
            v += 1
            self._tombstone(
                chunks.filter(F.col("library_id") == library_id).select("chunk_id"), v
            )
        self._swap_pointer(chunks=v, reset=library_id)
