"""The journaled commit shared by every persisted store that commits
through ``commit-pending.json``: the SCD2 dimension store
(``operators.scd2``), the MinHash band index (``operators.dedup_index``)
and the IVF vector index (``operators.similarity``). This module is the
only code that writes a commit journal, replays it, or runs the staged
writes in front of it; the stores supply the staged paths and the meta.

The protocol:

1. **Stage.** A writer entry writes everything the commit will publish
   under a hidden ``<store>/.staging-<token>/`` dir (``stage``). Readers
   address the live part dirs directly, so staged data is invisible.
   Independent staged writes run concurrently through ``run_parallel``;
   all of them resolve before step 2. ``staged_moves`` turns a staged
   part dir into journal moves, ``partition_swaps`` turns staged
   partition dirs into journal swaps.
2. **Commit point.** ``write`` publishes ONE journal,
   ``<store>/commit-pending.json``, with an fsynced atomic rename
   (``util.atomic_write_json``, durable across power loss). It names::

       moves    [[src, dst], ...]   staged files renamed into live dirs
       swaps    [[src, live], ...]  staged dirs that replace live dirs
       deletes  [path, ...]         live files the commit removes
       meta     {...}               the store's meta.json after the
                                    commit (watermark, counters); a
                                    journal without it leaves meta.json
                                    alone

   A crash before the rename leaves only staging debris: the store is
   unchanged and the batch replays wholesale. Once the rename lands the
   commit WILL complete.
3. **Roll forward.** ``roll_forward`` runs at every store entry, reader
   and writer alike, and finishes a pending journal under the store's
   recovery lock (``lease.recovery_guard``; two concurrent replays could
   otherwise interleave a swap's rename pair). It replays, in order:
   moves; swaps (``live`` → ``live.old``, ``src`` → ``live``, drop
   ``.old``); deletes; meta.json; then it retires the journal. Every
   step is idempotent, so a crash inside roll-forward just rolls forward
   again on the next entry, and meta (the exactly-once watermark) only
   advances in the same replay that lands the data.

Two rules keep the replay honest:

- **Readers never sweep.** ``sweep=True`` also deletes journal-less
  ``.staging-*`` dirs — debris of a crash before the commit point. Only
  WRITER entries may pass it (single writer per store, enforced by
  ``lease.guards_writer``): a reader running beside an in-flight
  pre-journal write would delete the live writer's staging and turn its
  commit into a lost one.
- **Lost staging raises.** A journaled move or swap whose source is gone
  is the legal replay state only when its destination already landed.
  Source AND destination both missing means staged data was destroyed
  after the commit point: the commit can be neither completed nor
  replayed, so ``roll_forward`` raises instead of advancing the
  watermark past a lost batch.

Snapshots (``operators.snapshots``, an atomic pointer commit) and
``maintenance.recover_swap`` (healing unjournaled rename-pair swaps) are
different protocols and do not use this module.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from concurrent.futures import Future, ThreadPoolExecutor
from typing import Any, Callable

from datapipe_spark.operators.lease import recovery_guard
from datapipe_spark.util import atomic_write_json, write_empty_parquet

JOURNAL = "commit-pending.json"
_STAGING = ".staging-"


def _path(store_dir: str, name: str) -> str:
    return os.path.join(store_dir.rstrip("/"), name)


def stage(store_dir: str) -> tuple[str, str]:
    """A fresh staging dir for one commit (step 1): returns ``(token,
    path)``. The token also prefixes the live names of staged files, so
    they stay unique across replays of the same batch."""
    token = uuid.uuid4().hex[:12]
    return token, _path(store_dir, f"{_STAGING}{token}")


def staged_moves(sdir: str, dest: str, token: str) -> list[list[str]]:
    """Journal ``moves`` for every part file staged in ``sdir``, renamed
    to ``dest/<token>-<name>``."""
    return [
        [os.path.join(sdir, name), os.path.join(dest, f"{token}-{name}")]
        for name in sorted(os.listdir(sdir))
        if name.startswith("part-") and name.endswith(".parquet")
    ]


def partition_swaps(
    sdir: str, live: str, partitions: list[str], ddl: str
) -> list[list[str]]:
    """Journal ``swaps`` replacing each live ``partitions`` dir (e.g.
    ``bucket=3``) with its staged twin under ``sdir``. A partition the
    rewrite emptied produced no staged dir: a typed empty one is written
    in its place (no Spark job), so the stale rows still get replaced."""
    swaps = []
    for name in partitions:
        src = os.path.join(sdir, name)
        if not os.path.isdir(src):
            write_empty_parquet(src, ddl)
        swaps.append([src, os.path.join(live, name)])
    return swaps


def write(store_dir: str, journal: dict) -> str:
    """The commit point (step 2): publish ``journal`` durably. Returns
    the journal path."""
    jp = _path(store_dir, JOURNAL)
    atomic_write_json(jp, journal)
    return jp


def roll_forward(store_dir: str, sweep: bool = False) -> bool:
    """Finish a pending commit (step 3); with ``sweep=True`` (writer
    entries only) also delete journal-less staging debris. Returns True
    if a pending commit was completed."""
    base = store_dir.rstrip("/")
    pending = False
    if os.path.exists(_path(base, JOURNAL)):
        with recovery_guard(base):
            pending = _replay(base)
    if sweep:
        for name in os.listdir(base):
            if name.startswith(_STAGING):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    return pending


def _replay(base: str) -> bool:
    # under the recovery lock: re-check, since the winner of the lock
    # race replays and the losers find the journal retired
    jp = _path(base, JOURNAL)
    if not os.path.exists(jp):
        return False
    with open(jp) as f:
        j = json.load(f)
    for src, dst in j.get("moves", []):
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
        else:
            _require_landed(jp, "move", src, dst)
    for src, live in j.get("swaps", []):
        old = live + ".old"
        if os.path.exists(src):
            os.makedirs(os.path.dirname(live), exist_ok=True)
            shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
            os.rename(src, live)
        else:
            _require_landed(jp, "swap", src, live)
        shutil.rmtree(old, ignore_errors=True)
    for path in j.get("deletes", []):
        if os.path.exists(path):
            os.remove(path)
    if "meta" in j:
        atomic_write_json(_path(base, "meta.json"), j["meta"])
    os.remove(jp)
    return True


def _require_landed(jp: str, step: str, src: str, dst: str) -> None:
    if not os.path.exists(dst):
        raise RuntimeError(
            f"commit journal at {jp} names a {step} whose source and "
            f"destination are both missing ({src} -> {dst}): the staged "
            "data was destroyed after the commit point, so the commit "
            "can be neither completed nor replayed. Refusing to advance "
            "the store past a lost batch."
        )


def _inheriting(fn: Callable) -> Callable:
    """``fn`` carrying the calling thread's Spark local properties (job
    group, description, scheduler pool) into whichever thread runs it.
    Under PySpark's pinned-thread mode a fresh thread otherwise starts
    with none of them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return fn
    # given the session (a bare ``fn`` makes PySpark warn on every call)
    # the wrapper also carries the session's tags
    session = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return inheritable_thread_target(session)(fn)


def run_parallel(*fns: Callable[[], Any]) -> list:
    """Run independent zero-arg jobs (staged writes, counts)
    concurrently so each Spark action's planning and commit overlap the
    others. Returns their results in argument order once ALL have
    finished; the first failure in argument order is re-raised after
    the rest have finished."""
    targets = [_inheriting(fn) for fn in fns]
    with ThreadPoolExecutor(max_workers=max(1, len(targets))) as pool:
        futs = [pool.submit(t) for t in targets]
        return [f.result() for f in futs]


def submit(fn: Callable[[], Any]) -> Future:
    """Start ``fn`` on its own thread and return its future — for an
    overlap window that spans caller code (a sink write joined by a
    commit barrier). The caller joins the future."""
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return pool.submit(_inheriting(fn))
    finally:
        pool.shutdown(wait=False)
