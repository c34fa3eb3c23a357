"""Table loaders for the driver-generated test data.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Reference mapping (SURVEY.md §1.5): ``embeddings`` is the chunk-embedding
analog (reference ``app/domain/entities.py:202-224``), ``documents`` the
document/chunk-text analog. Loading is plain ``spark.read.parquet`` so
Catalyst gets predicate pushdown + column pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from stackai_vector_db_spark import artifacts

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy handle on a fixture table, one per (session, table version).

    Every ``spark.read.parquet(path)`` re-lists the directory and re-reads
    a footer for schema inference — driver-side metadata work measured at
    120-150 ms per call and paid 1-3× per query call. A real deployment
    registers tables in a catalog once; the artifact store entry is that
    behavior for the path-based fixtures. The DataFrame is lazy: every
    query still plans, optimizes and executes from the parquet bytes."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return artifacts.get_or_build(
        spark, "table", sf_dir, (name,), name,
        lambda _persist: _read_table(spark, path, name),
    )


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(MICROS) (read
        # natively) or TIMESTAMP(NANOS), which Spark rejects by default; in
        # the nanos case read it as raw nanos and re-expose a microsecond
        # TIMESTAMP (same truncation DuckDB applies ns→us, so window
        # boundaries and epoch_ms outputs agree with the oracle).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Normalize NTZ → TIMESTAMP without going through the session
            # timezone (a plain cast would shift by the driver's tz):
            # NTZ-to-NTZ timestampdiff is pure arithmetic, and
            # timestamp_micros builds the instant straight from epoch
            # micros, so the wall-clock value is read as UTC — matching
            # DuckDB's epoch_ms on the same naive timestamps.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestamp_micros(timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"
                ),
            )
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


# Stored-artifact partition sizing (r11 guide §2/§6; hoisted here in r12 so
# streaming state writes share it): partition counts for cached/persisted
# artifacts derive from DATA VOLUME, not core count — ceil(volume / target),
# floor 1, so small artifacts get 1 partition and 100 TB gets thousands.
# Builders still fan their per-row compute out across cores; only the stored
# RESULT takes this layout: left on build parallelism, every query stage over
# it schedules one task per near-empty partition (measured ~0.3 s of task
# overhead on a broadcast-join count over a 2,000-row cache).
ARTIFACT_PART_BYTES = int(
    os.environ.get("SPARK_GRAFT_ARTIFACT_PART_BYTES", str(64 << 20))
)


def layout_partitions(n_rows: int, row_bytes: int) -> int:
    """Partition count for a stored artifact: ceil(volume / target), floor
    1. ``row_bytes`` is a documented per-table width estimate — an estimate
    off by 2× moves the boundary, never the asymptotics."""
    return max(1, -(-int(n_rows) * int(row_bytes) // ARTIFACT_PART_BYTES))


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a fixture table (single file or directory of part
    files) — driver-side file metadata only, the same class of stat the
    planner's file index already performs. Used by scale gates (e.g. the
    corpus-pipeline Arrow-kernel switch): plan shape decisions keyed on
    INPUT VOLUME, not core count, so small corpora and 100 TB corpora each
    get the path that wins at their scale. Returns 0 when the path is
    missing (callers fall back to the small-input plan and the read itself
    raises the clear error)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
