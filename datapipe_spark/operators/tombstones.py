"""The merge-on-read erasure queue shared by the three journaled stores:
the SCD2 dimension store (``operators.scd2``), the MinHash band index
(``operators.dedup_index``) and the IVF vector index
(``operators.similarity``). Iceberg handles deletes the same way: an
equality delete is appended now and folded into the data at the next
compaction. This module is the only code that knows the queue's on-disk
format and its broadcast gates; each store keeps only its rewrite plans.

**Format.** ``<store>/tombstones/<token>-part-*.parquet``: one file per
queue request, holding the store's key column (``id``, ``doc_id`` or
``vec_id``) and, for the SCD2 store, the ``asof_inc`` scope column. A
request is staged and committed through ``operators.journal`` like any
append (``queue``): one journal of moves, plus ``meta.n_tombstones``
raised in the same journal for stores that keep a ``meta.json``. That
counter is store health (the erasure backlog), never a gate.

**Sequence scoping.** An SCD2 key can be re-inserted after it was
erased, so its tombstone ``(id, asof_inc)`` carries the store watermark
at queue time and hides only the versions written at or before it
(``_written_inc <= asof_inc``); later versions survive, exactly as after
a physical purge followed by the re-insert. An explicit purge erases
every version, so ``purge_set`` gives explicit keys ``asof_inc`` = +∞
and keeps the max per key. Band-index doc ids and IVF vec ids are never
reused, so those queues are unscoped: the id alone is the obligation.

**One gate.** A tombstone id set broadcasts while it holds at most
``BROADCAST_MAX_ROWS`` rows and falls back to shuffle joins above it,
so a snapshot-sized backlog is never force-broadcast.

**Fold at read** (``fold``): every reader anti-joins the queue out of
what it returns. With no queue files the reader's plan carries no
anti-join at all. The gate's row count is the sum of the queue files'
parquet footers, so it costs no meta read and no Spark job.

**Fold at purge** (``purge_set``): a store's physical purge (and its
compaction, which purges first) erases explicit ids ∪ queued ids, then
deletes the folded queue files in the same journal as its rewrite. The
store counts the checkpointed set in whatever form its rewrite needs
and gates on that count. A purge whose rewrite touches nothing commits
only the queue deletion (``clear``).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipe_spark.operators import journal

DIR = "tombstones"
SCOPE = "asof_inc"
_FOREVER = 2**31 - 1

BROADCAST_MAX_ROWS = 2_000_000


def _dir(store_dir: str) -> str:
    return os.path.join(store_dir.rstrip("/"), DIR)


def files(store_dir: str) -> list[str]:
    """The queue's parquet files, sorted; empty when nothing is queued."""
    return sorted(glob.glob(os.path.join(glob.escape(_dir(store_dir)), "*.parquet")))


def queue(
    spark: SparkSession,
    store_dir: str,
    ids: DataFrame,
    meta: dict | None = None,
    scope: int | None = None,
) -> int:
    """Append the distinct ``ids`` (one key column) to the queue in one
    journaled commit; ``scope`` is the SCD2 watermark stored as
    ``asof_inc``, ``meta`` the store's meta to carry the raised
    ``n_tombstones``. The caller has run its writer-entry recovery.
    Returns the number of ids queued."""
    kb = ids.distinct().localCheckpoint(eager=True)
    n = kb.count()
    if n == 0:
        return 0
    if scope is not None:
        kb = kb.withColumn(SCOPE, F.lit(scope).cast("int"))
    token, stage = journal.stage(store_dir)
    sdir = os.path.join(stage, DIR)
    kb.coalesce(1).write.mode("overwrite").parquet(sdir)
    commit = {"moves": journal.staged_moves(sdir, _dir(store_dir), token), "swaps": []}
    if meta is not None:
        commit["meta"] = {**meta, "n_tombstones": int(meta.get("n_tombstones", 0)) + n}
    journal.write(store_dir, commit)
    journal.roll_forward(store_dir, sweep=True)
    return n


def fold(spark: SparkSession, store_dir: str, df: DataFrame, on: Column) -> DataFrame:
    """Merge-on-read: ``df`` minus every queued tombstone ``t`` matching
    the condition ``on`` over the aliases ``d`` (``df``) and ``t``.
    ``df`` itself when nothing is queued."""
    import pyarrow.parquet as pq

    tomb = files(store_dir)
    if not tomb:
        return df
    t = spark.read.parquet(_dir(store_dir))
    if sum(pq.ParquetFile(f).metadata.num_rows for f in tomb) <= BROADCAST_MAX_ROWS:
        t = F.broadcast(t)
    return df.alias("d").join(t.alias("t"), on, "left_anti")


def purge_set(
    spark: SparkSession,
    store_dir: str,
    key: str,
    explicit: DataFrame | None = None,
    scope: bool = False,
) -> tuple[DataFrame | None, list[str]]:
    """What a physical purge erases: the ``explicit`` ids ∪ the queued
    ids, checkpointed. ``scope=True`` keeps the ``asof_inc`` column
    (explicit ids at +∞, the max per key). Returns ``(set, queue files
    the purge's commit must delete)``; the set is None when there is
    nothing to erase. The set is not counted here: each store counts
    it in the form its rewrite needs and gates on ``BROADCAST_MAX_ROWS``."""
    tomb = files(store_dir)
    parts = []
    if explicit is not None:
        e = explicit.select(key)
        parts.append(e.withColumn(SCOPE, F.lit(_FOREVER).cast("int")) if scope else e)
    if tomb:
        parts.append(spark.read.parquet(*tomb).select(key, *([SCOPE] if scope else [])))
    if not parts:
        return None, tomb
    spec = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    spec = spec.groupBy(key).agg(F.max(SCOPE).alias(SCOPE)) if scope else spec.distinct()
    return spec.localCheckpoint(eager=True), tomb


def clear(store_dir: str, tomb: list[str], meta: dict | None = None) -> None:
    """Commit of a purge whose rewrite touches nothing (the queue held
    only ids the store never had): delete the queue files ``tomb`` in
    one clear-only journal."""
    if not tomb:
        return
    commit = {"moves": [], "swaps": [], "deletes": tomb}
    if meta is not None:
        commit["meta"] = {**meta, "n_tombstones": 0}
    journal.write(store_dir, commit)
    journal.roll_forward(store_dir, sweep=True)


def reset(store_dir: str) -> None:
    """Rebuild-in-place reset: drop the old store's pending journal,
    staging debris and queue — none may survive into the fresh store."""
    base = store_dir.rstrip("/")
    if os.path.isdir(base):
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(base, journal.JOURNAL))
        journal.roll_forward(base, sweep=True)  # no journal: sweep only
        shutil.rmtree(_dir(base), ignore_errors=True)
