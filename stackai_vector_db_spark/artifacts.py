"""Session artifact store: the one place state derived from a fixture dir
lives between calls — the catalog's table handles, the PQ/IVF/LSH index
layouts, the shingle base, the embedded-documents table, the corpus key —
plus the dedup operators' per-call persists (:func:`replace`).

- A slot is ``(name, realpath(sf_dir), params)``.
- Its version is ``(applicationId, mtime of each source table)``; a lookup
  hits only on an equal version, otherwise the old occupant is released
  and the builder runs again. A directory-style table's mtime sees entry
  add/remove/rename (every Spark write does one), not an in-place rewrite
  of a part file; such a writer must touch the directory.
- Release unpersists only what the entry's own build persisted (through
  the ``persist`` callback) — never a lazy handle, which another caller may
  have cached over the same plan — and never on a stopped context. It runs
  BEFORE the replacement persists: the CacheManager keys on the logical
  plan, so releasing afterwards could drop the new copy.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable, Sequence
from typing import Any

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# slot -> (version, value, DataFrames the entry's build persisted)
_ENTRIES: dict = {}


def _mtime(sf_dir: str, table: str) -> float | None:
    try:
        return os.path.getmtime(
            os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
        )
    except OSError:
        return None  # missing: the build's own read raises the clear error


def get_or_build(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    tables: Sequence[str],
    params: Hashable,
    build: Callable[[Callable[[DataFrame], DataFrame]], Any],
) -> Any:
    """The value stored for ``(name, sf_dir, params)``, built by
    ``build(persist)`` when the slot is empty or older than the current
    application or any of ``tables``. The builder passes each DataFrame it
    caches through ``persist``, which persists it and ties it to the entry."""
    slot = (name, os.path.realpath(sf_dir), params)
    version = (
        spark.sparkContext.applicationId,
        tuple(_mtime(sf_dir, t) for t in tables),
    )
    entry = _ENTRIES.get(slot)
    if entry is not None and entry[0] == version:
        return entry[1]
    _release(_ENTRIES.pop(slot, None))
    owned: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        owned.append(df.persist())
        return df

    _ENTRIES[slot] = (version, build(persist), owned)
    return _ENTRIES[slot][1]


def replace(spark: SparkSession, slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` into ``slot``, releasing the previous occupant first.
    For per-call caches (the dedup entry points persist intermediates once
    per call, the streaming ingest once per micro-batch): a bare
    ``.persist()`` would stack storage blocks without bound. A stale handle
    someone still holds simply recomputes."""
    _release(_ENTRIES.pop((slot,), None))
    _ENTRIES[(slot,)] = (spark.sparkContext.applicationId, df.persist(), [df])
    return df


def clear(*names: str) -> None:
    """Release and drop every entry, or only those stored under ``names``
    (``get_or_build`` names or ``replace`` slots)."""
    for slot in list(_ENTRIES):
        if not names or slot[0] in names:
            _release(_ENTRIES.pop(slot))


def _release(entry) -> None:
    if entry is None:
        return
    for df in entry[2]:
        if df.sparkSession.sparkContext is SparkContext._active_spark_context:
            df.unpersist(blocking=False)
