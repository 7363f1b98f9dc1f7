"""The benchmark workloads: one serial client, closed loop.

Each workload has a set-up (seeded inputs plus the cold builds of the
build-once stores it reads) and passes over its ops. The first run of
every op is compared with an oracle; every later run's row count must
equal the first run's. An op is one call into the engine's public entry
point plus the ``count()`` that materialises its result.
"""

from __future__ import annotations

import datetime
import os
import shutil
import traceback

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle

def wipe_store_roots() -> None:
    """Empty every build-once store root run.py pointed into the run
    directory, so the next set-up builds cold."""
    for key, path in os.environ.items():
        if key.startswith("SPARK_GRAFT_") and key.endswith("_DIR"):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)


class Workload:
    """Base: the op loop, the checks and the failure count."""

    name = ""
    warmup_passes = 1  # untimed passes between the first and the timed ones

    def __init__(self, spark, root: str, seed: int, rec) -> None:
        self.spark, self.root, self.seed, self.rec = spark, root, seed, rec
        self.rng = np.random.default_rng(seed)
        self.sf_dir = ""
        self.con = None  # DuckDB over the current inputs
        self.attempted = 0
        self.failures: list[str] = []
        self.expected: dict[str, int] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self, rep: int) -> None:
        wipe_store_roots()
        self.close()
        if self.sf_dir:
            shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.sf_dir = os.path.join(self.root, f"inputs{rep}")
        gen.generate(self.sf_dir, self.seed)
        self.cold_build()
        self.con = oracle.connect(self.sf_dir)

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
            self.con = None

    def cold_build(self) -> None:
        """Build the stores the ops read, so no op pays a cold build."""

    # -- passes: `first` is the oracle-checked first pass ------------------
    def prepare_pass(self, first: bool) -> None:
        """Untimed reset before a pass."""

    def run_pass(self, first: bool) -> None:
        raise NotImplementedError

    def finish_pass(self, first: bool) -> None:
        """Untimed checks after a pass."""

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check_rows(self, key: str, n: int) -> None:
        """The first (oracle-checked) run of an op records its row
        count; every later run must match it."""
        if key not in self.expected:
            self.expected[key] = n
        elif self.expected[key] != n:
            self.fail(f"{key}: {n} rows, first run had {self.expected[key]}")


class RegistryWorkload(Workload):
    """Registry entries run in a seeded order; the first pass compares
    each result with its DuckDB oracle over the generated inputs."""

    entries: tuple[str, ...] = ()

    def __init__(self, *a) -> None:
        super().__init__(*a)
        from datapipe_spark.plans import registry

        self.queries = registry.queries()
        self.sql = registry.oracle_sql()
        missing = [e for e in self.entries if e not in self.queries or e not in self.sql]
        if missing:
            raise KeyError(f"registry entries without a query or oracle: {missing}")
        self.order = [self.entries[i] for i in self.rng.permutation(len(self.entries))]

    def run_pass(self, first: bool) -> None:
        for name in self.order:
            self.attempted += 1
            try:
                with self.rec.span(name, "op"):
                    with self.rec.span(name, "call"):
                        df = self.queries[name](self.spark, self.sf_dir)
                    with self.rec.span(name, "action"):
                        # the first pass collects the rows for the oracle
                        rows = df.collect() if first else None
                        n = len(rows) if first else df.count()
            except Exception:  # noqa: BLE001 -- one failing op must not stop the run
                self.fail(f"{name}: {traceback.format_exc(limit=2)}")
                continue
            if first:
                with self.rec.span(name, "check"):
                    bad = oracle.mismatch(df.columns, rows, self.con, self.sql[name])
                if bad:
                    self.fail(f"{name}: {bad}")
            self.check_rows(name, n)


class EventStream(RegistryWorkload):
    """Whole replays of the shared event drop-set through streaming
    jobs: micro-batch framework cost, the RocksDB state store and the
    ``applyInPandasWithState`` Python workers."""

    name = "event_stream"
    entries = (
        "streaming_dedup_events",
        "streaming_sessionize_stateful",
        "streaming_enriched_purchases",
    )

    def cold_build(self) -> None:
        from datapipe_spark.streaming import source

        # the topic exists before any consumer starts
        source.prepare_event_drops(self.spark, self.sf_dir, sentinel=True)


class StoreCommits(Workload):
    """Commits to the journaled stores beside reads of them.

    Two increments are cut from the orders changelog by source time: a
    prefix, and a tail window of a fixed fifth of the time range at a
    seeded position (changelog rows after the window are not applied).
    The documents are split into the indexed corpus and two batches. An
    increment applies ``scd2_upsert`` of its changelog slice, reads
    ``scd2_as_of`` the prefix, probes the MinHash band index with its
    document batch and appends that batch (the probe-then-append index
    maintenance of streaming set-similarity joins). The first pass commits the prefix (its upsert and append)
    to an empty store and a copy of the corpus index and keeps a copy of
    both stores. Every later pass restores that copy and runs the tail
    increment, whose updates and deletes close versions the prefix
    created: the same commits and reads against the same store state.
    The tail's first run is checked against the oracles.
    """

    name = "store_commits"
    warmup_passes = 3  # the driver-side planning of ~50 jobs a pass warms slowly
    corpus_docs = 300  # doc ids below this form the indexed corpus
    batch_docs = 100
    steps = ("upsert", "as_of", "probe", "append")
    on_commit = None  # set by the traced run to sample store sizes

    def cold_build(self) -> None:
        from datapipe_spark.operators import dedup_index
        from datapipe_spark.sources.cdc import synth_changelog

        orders = pq.read_table(os.path.join(self.sf_dir, "orders.parquet"),
                               columns=["o_orderkey", "o_orderdate"])
        lo = pc.min(orders["o_orderdate"]).as_py()
        # the changelog's last event is a delete two days after its order
        span = pc.max(orders["o_orderdate"]).as_py() + datetime.timedelta(days=3) - lo
        start = self.rng.uniform(0.55, 0.8)
        self.bounds = [lo, lo + span * start, lo + span * (start + 0.2)]
        # synth_changelog rows: a create per order at its order date, an
        # update a day later when id % 3 == 0, a delete two days later
        # when id % 7 == 0
        keys = orders["o_orderkey"].to_numpy()
        when = orders["o_orderdate"].to_numpy()
        cut, end = (np.datetime64(b) for b in self.bounds[1:])
        self.tail_rows = 0
        for days, applies in ((0, True), (1, keys % 3 == 0), (2, keys % 7 == 0)):
            at = when + np.timedelta64(days, "D")
            self.tail_rows += int((applies & (at >= cut) & (at < end)).sum())
        self.doc_bounds = [self.corpus_docs + i * self.batch_docs for i in range(3)]
        self.log = synth_changelog(self.spark, self.sf_dir)
        self.docs = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        self.index_base = os.path.join(self.root, "index_base")
        shutil.rmtree(self.index_base, ignore_errors=True)
        dedup_index.build_minhash_index(self.spark, self._docs_below(self.corpus_docs), self.index_base)

    def _docs_below(self, doc_id: int):
        from pyspark.sql import functions as F

        return self.docs.filter(F.col("doc_id") < doc_id)

    def _slice(self, i: int):
        from pyspark.sql import functions as F

        c = F.col("__source_ts_ms")
        lo, hi = (F.expr(f"TIMESTAMP_NTZ '{b}'") for b in self.bounds[i:i + 2])
        return self.log.filter((c >= lo) & (c < hi))

    def _batch(self, i: int):
        from pyspark.sql import functions as F

        c = F.col("doc_id")
        return self.docs.filter((c >= self.doc_bounds[i]) & (c < self.doc_bounds[i + 1]))

    def _paths(self, tag: str) -> tuple[str, str]:
        return os.path.join(self.root, tag, "scd2"), os.path.join(self.root, tag, "index")

    def prepare_pass(self, first: bool) -> None:
        """First pass: an empty store and a copy of the cold-built index.
        Later passes: the copy of both stores taken after the prefix."""
        from datapipe_spark.operators import scd2

        shutil.rmtree(os.path.join(self.root, "pass"), ignore_errors=True)
        self.store, self.index = self._paths("pass")
        if first:
            scd2.scd2_init(self.spark, self.store)
            shutil.copytree(self.index_base, self.index)
        else:
            for src, dst in zip(self._paths("snapshot"), (self.store, self.index)):
                shutil.copytree(src, dst)

    def run_pass(self, first: bool) -> None:
        from datapipe_spark.operators.maintenance import table_bytes

        if not first:
            self._increment(1, self.steps)
            return
        self._increment(0, ("upsert", "append"))
        shutil.rmtree(os.path.join(self.root, "snapshot"), ignore_errors=True)
        for src, dst in zip((self.store, self.index), self._paths("snapshot")):
            shutil.copytree(src, dst)
        self.base_bytes = table_bytes(self.store) + table_bytes(self.index)

    def _increment(self, i: int, steps: tuple[str, ...]) -> None:
        from datapipe_spark.operators import dedup_index, scd2

        spark, store, index = self.spark, self.store, self.index
        calls = {
            "upsert": lambda: scd2.scd2_upsert(spark, store, self._slice(i), batch_id=i),
            "as_of": lambda: scd2.scd2_as_of(spark, store, 0),
            "probe": lambda: dedup_index.probe_minhash_index(spark, index, self._batch(i)),
            "append": lambda: dedup_index.append_minhash_index(spark, index, self._batch(i), batch_id=i),
        }
        for kind in steps:
            self.attempted += 1
            try:
                with self.rec.span(kind, "op", increment=i):
                    with self.rec.span(kind, "call"):
                        out = calls[kind]()
                    if kind in ("as_of", "probe"):
                        with self.rec.span(kind, "action"):
                            out = out.count()
            except Exception:  # noqa: BLE001 -- one failing op must not stop the run
                self.fail(f"{kind}[{i}]: {traceback.format_exc(limit=2)}")
                continue
            if kind in ("as_of", "probe"):
                self.check_rows(f"{kind}[{i}]", out)
            elif out is not True:
                self.fail(f"{kind}[{i}]: returned {out!r}, expected an applied commit")
        if self.on_commit:
            self.on_commit(store, index)

    def _history_sql(self, upto: int) -> str:
        """``CDC_SCD2_HISTORY_SQL``, the batch SCD2 build, over the
        changelog up to the end of increment ``upto``."""
        from datapipe_spark.plans import cdc_queries as cdcq
        from datapipe_spark.sources.cdc import SYNTH_CHANGELOG_SQL_BODY as body

        prefix = f"SELECT * FROM ({body}) WHERE __source_ts_ms < TIMESTAMP '{self.bounds[upto + 1]}'"
        sql = cdcq.CDC_SCD2_HISTORY_SQL.replace(f"({body})", f"({prefix})", 1)
        if sql == cdcq.CDC_SCD2_HISTORY_SQL:
            raise ValueError("CDC_SCD2_HISTORY_SQL no longer embeds the changelog body")
        return sql

    def finish_pass(self, first: bool) -> None:
        """After the prefix: the history equals the batch SCD2 build over
        the prefix. After the tail's first run: the history equals the
        build over the changelog up to the tail's end, ``scd2_as_of`` the
        prefix still reads back as the prefix build, and the
        incrementally maintained index probes like a one-shot build over
        the same documents. After every later tail: the history's row
        count."""
        from datapipe_spark.operators import scd2

        key = "prefix history" if first else "final history"
        try:
            with self.rec.span(key, "check"):
                hist = scd2.scd2_read_history(self.spark, self.store)
                if key in self.expected:
                    self.check_rows(key, hist.count())
                    return
                checks = [(key, hist, 0 if first else 1)]
                if not first:
                    checks.append(("as_of prefix", scd2.scd2_as_of(self.spark, self.store, 0), 0))
                for what, df, upto in checks:
                    rows = df.collect()
                    self.check_rows(what, len(rows))
                    bad = oracle.mismatch(df.columns, rows, self.con, self._history_sql(upto))
                    if bad:
                        self.fail(f"{what}: {bad}")
                if not first:
                    self._check_index()
        except Exception:  # noqa: BLE001
            self.fail(f"{key} checks: {traceback.format_exc(limit=2)}")

    def _check_index(self) -> None:
        from pyspark.sql import functions as F

        from datapipe_spark.operators import dedup_index

        oneshot = os.path.join(self.root, "index_oneshot")
        shutil.rmtree(oneshot, ignore_errors=True)
        indexed = self._docs_below(self.doc_bounds[-1])
        dedup_index.build_minhash_index(self.spark, indexed, oneshot)
        # probe set: every fourth indexed document re-sent under a new id
        resent = indexed.filter(F.col("doc_id") % 4 == 0)
        probe = resent.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        got = [
            oracle.canon(dedup_index.probe_minhash_index(self.spark, d, probe).collect(),
                         ["new_doc_id", "corpus_doc_id", "jaccard"])
            for d in (self.index, oneshot)
        ]
        if got[0] != got[1]:
            self.fail(f"final index: {len(got[0])} probe pairs, one-shot build gives {len(got[1])}")
        elif len(got[0]) < resent.count():
            self.fail(f"final index: {len(got[0])} probe pairs for {resent.count()} re-sent docs")


WORKLOADS = {w.name: w for w in (EventStream, StoreCommits)}
