"""Benchmark harness: runs the headline query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Metric: total wall seconds over the suite (lower is better), plus
per-query seconds. Each query is forced to full materialization with a
count-style action (no driver-side row transfer beyond the aggregate).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    from pyspark.sql import functions as F

    from datapipe_spark import get_spark
    from datapipe_spark.plans import registry

    spark = get_spark("datapipe-bench")
    qs = registry.queries()

    # record which build-once cache roots pre-exist: cold vs warm
    # caches explain most round-over-round per-query swings (r11's
    # "regressed" SCD2 entries were cold-cache builds — REGRESSIONS_r12).
    # Defaults MIRROR each module's own default exactly (the operators
    # hardcode /tmp; only the stream scratch honors gettempdir via
    # util.scratch_root) — probing different paths would misattribute.
    from datapipe_spark.util import scratch_root

    cache_roots = {
        "stream": scratch_root(),
        "scd2": os.environ.get(
            "SPARK_GRAFT_SCD2_DIR", "/tmp/datapipe_spark_scd2"
        ),
        "minhash_index": os.environ.get(
            "SPARK_GRAFT_INDEX_DIR", "/tmp/datapipe_spark_minhash_index"
        ),
        "snapshots": os.environ.get(
            "SPARK_GRAFT_SNAPSHOT_DIR", "/tmp/datapipe_spark_snapshots"
        ),
    }
    warm_caches = {
        name: os.path.isdir(path) and bool(os.listdir(path))
        for name, path in cache_roots.items()
    }

    # Warm the JVM + file listing once (not timed): tiny scan
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # Warm the Arrow/pandas Python-worker pool (not timed): the first
    # pandas-exchange op in a session pays worker spawn + import cost
    # that has nothing to do with any particular query
    spark.range(8).groupBy((F.col("id") % 2).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]], "id long"
    ).count()
    # ... and the cogroup exchange path (separate codegen + worker
    # protocol from plain applyInPandas)
    _gl = spark.range(8).groupBy((F.col("id") % 2).alias("g"))
    _gr = spark.range(4).groupBy((F.col("id") % 2).alias("g"))
    _gl.cogroup(_gr).applyInPandas(lambda lf, rf: lf[["id"]], "id long").count()
    # ... and the Python DataSource path (r14, guide §1): a stream
    # query against a Python data source spawns a driver-side planner
    # process and executor-side source-reader workers whose one-time
    # fork + import cost (~5 s measured: warm rerun of the identical
    # query in-session is 2.2 s vs 7.6 s first-use) has nothing to do
    # with any particular query — the same framework-warmup class as
    # the pandas/cogroup pools above. Warm it on a 2-row throwaway
    # snapshot table so the timed change-feed entry measures the feed,
    # not the fork. Guarded like the other warmups.
    try:
        import tempfile

        from datapipe_spark.operators.snapshots import commit_snapshot
        from datapipe_spark.sources.snapshot_stream import read_snapshot_stream

        with tempfile.TemporaryDirectory(prefix="snapfeed_warm_") as _td:
            _tbl = os.path.join(_td, "t")
            commit_snapshot(spark.range(2).selectExpr("id"), _tbl)
            _q = (
                read_snapshot_stream(spark, _tbl)
                .writeStream.format("parquet")
                .option("path", os.path.join(_td, "sink"))
                .option("checkpointLocation", os.path.join(_td, "cp"))
                .trigger(availableNow=True)
                .start()
            )
            _q.awaitTermination()
    except Exception as exc:  # noqa: BLE001
        print(f"datasource warmup failed (continuing cold): {exc!r}", file=sys.stderr)
    # Materialize the Kafka-topic stand-in (shared micro-batch drop-set)
    # untimed — the topic exists before any consumer starts; cached
    # across queries, so only a cold scratch dir pays this. Guarded:
    # round 2 lost the ENTIRE bench artifact to one exception here
    # (driver testdata changed type under us) — a warmup failure must
    # degrade to cold streaming runs, not a dead benchmark.
    from datapipe_spark.streaming import source as stream_src

    try:
        stream_src.prepare_event_drops(spark, sf_dir, sentinel=True)
    except Exception as exc:  # noqa: BLE001
        print(f"warmup failed (continuing cold): {exc!r}", file=sys.stderr)

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    t_suite = time.perf_counter()
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            n = df.count()
        except Exception as exc:  # noqa: BLE001 — one bad query must
            # not zero the whole round's numbers
            errors[name] = repr(exc)[:500]
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
        rows[name] = n
    total = round(time.perf_counter() - t_suite, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # ingest-rate analog of the reference baseline (10,244 ev/s
    # sustained through the full CDC pipeline): events fully processed
    # through the streaming dedup+archive pipeline per wall second
    try:
        n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    except Exception:  # noqa: BLE001
        n_events = 0
    # the headline rate divides by a ~1.5 s denominator, so one noisy
    # replay swings it ±30%; take the median of three full pipeline
    # runs (the suite-timed one plus two more, outside the suite wall)
    dedup_times = [timings.get("streaming_dedup_events")]
    if n_events and dedup_times[0]:
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                qs["streaming_dedup_events"](spark, sf_dir).count()
                dedup_times.append(time.perf_counter() - t0)
            except Exception:  # noqa: BLE001
                break
    dedup_times = sorted(t for t in dedup_times if t)
    if dedup_times:
        m = len(dedup_times)
        # true median: average the middle two when a repeat run died
        # and left an even count (indexing m//2 there picks the MAX of
        # two timings — the opposite bias from the noise this guards)
        median_t = (
            dedup_times[m // 2]
            if m % 2
            else (dedup_times[m // 2 - 1] + dedup_times[m // 2]) / 2
        )
    ingest_rate = round(n_events / median_t, 1) if n_events and dedup_times else None
    # ANN recall@k vs the brute-force anchor (untimed, outside the
    # suite wall): the quantized operators are rows-only in the
    # correctness gate, so a quantizer change that silently degrades
    # recall would otherwise only be caught by fixed-threshold tests —
    # tracking the numbers per-round makes the drift visible by
    # artifact diff.
    ann_recall: dict[str, float] = {}
    try:
        from datapipe_spark.operators import similarity as sim

        def _pairs(df, qcol, ncol):
            return {(r[qcol], r[ncol]) for r in df.collect()}

        bf = _pairs(
            sim.topk_bruteforce(spark, sf_dir), "query_id", "neighbor_id"
        )
        for name, fn in (
            ("similarity_topk_ivf", sim.topk_ivf),
            ("similarity_topk_pq", sim.topk_pq),
        ):
            got = _pairs(fn(spark, sf_dir), "query_id", "neighbor_id")
            ann_recall[name] = round(len(bf & got) / len(bf), 4) if bf else None
        # documented higher-accuracy operating point — the knob a
        # deployment turns when the default point is too lossy. The
        # measured trade at sf0.1 (nlist = √N ≈ 70 learned cells):
        # nprobe 3 → .80, 6 → .82, 10 → .84, 14 → .88; each step is
        # linear in probed-cell volume, so nprobe 14 probes ~20 % of
        # the corpus for recall .88 vs the ~4 % / .80 default.
        got14 = _pairs(
            sim.topk_ivf(spark, sf_dir, nprobe=14), "query_id", "neighbor_id"
        )
        ann_recall["similarity_topk_ivf_nprobe14"] = (
            round(len(bf & got14) / len(bf), 4) if bf else None
        )
        # kNN-join recall on a sampled query set (brute force over the
        # full corpus for |sample| queries is one broadcast join)
        qids = tuple(range(50))
        bfj = _pairs(
            sim.topk_bruteforce(
                spark, sf_dir, k=sim.KNN_JOIN_K, query_ids=qids
            ),
            "query_id",
            "neighbor_id",
        )
        for name, fn in (
            ("knn_join_ivf", sim.knn_join_ivf),
            ("knn_join_ivfpq", sim.knn_join_ivfpq),
        ):
            got = _pairs(
                fn(spark, sf_dir).filter(F.col("vec_id").isin(list(qids))),
                "vec_id",
                "neighbor_id",
            )
            ann_recall[name] = round(len(bfj & got) / len(bfj), 4) if bfj else None
        # r9 (verdict ask #7): fresh-model recall — retrain every
        # quantizer from scratch in a throwaway dir so the artifact
        # records that the floors hold WITHOUT the persisted npz
        # sidecars (a cache read cannot mask a trainer regression)
        import tempfile

        with tempfile.TemporaryDirectory(prefix="quantizers_fresh_") as fresh:
            prev_q = os.environ.get("SPARK_GRAFT_QUANTIZER_DIR")
            os.environ["SPARK_GRAFT_QUANTIZER_DIR"] = fresh
            try:
                for name, fn, anchor, qcol in (
                    ("similarity_topk_ivf", sim.topk_ivf, bf, "query_id"),
                    ("similarity_topk_pq", sim.topk_pq, bf, "query_id"),
                    ("knn_join_ivfpq", sim.knn_join_ivfpq, bfj, "vec_id"),
                ):
                    df = fn(spark, sf_dir)
                    if qcol == "vec_id":
                        df = df.filter(F.col("vec_id").isin(list(qids)))
                    got = _pairs(df, qcol, "neighbor_id")
                    ann_recall[f"{name}_fresh"] = (
                        round(len(anchor & got) / len(anchor), 4) if anchor else None
                    )
            finally:
                if prev_q is None:
                    os.environ.pop("SPARK_GRAFT_QUANTIZER_DIR", None)
                else:
                    os.environ["SPARK_GRAFT_QUANTIZER_DIR"] = prev_q
    except Exception as exc:  # noqa: BLE001 — recall must not kill the bench line
        print(f"ann recall sweep failed (continuing): {exc!r}", file=sys.stderr)
    # r6: recall floors are a GATE, not telemetry — a quantizer change
    # that silently degrades recall must surface in the bench artifact
    # (floors sit ~0.05 under the r5 measured points .80/.88/.82/.81,
    # nprobe14 under its ≥.85 target — measured .88 at sf0.1;
    # tests/test_llm_ops.py pins the same floors at sf0.01 in the
    # pytest path)
    recall_floors = {
        "similarity_topk_ivf": 0.75,
        "similarity_topk_pq": 0.83,
        "similarity_topk_ivf_nprobe14": 0.85,
        "knn_join_ivf": 0.77,
        "knn_join_ivfpq": 0.76,
        # rebuilt-from-scratch models must clear the r8-asked floors
        "similarity_topk_ivf_fresh": 0.75,
        "similarity_topk_pq_fresh": 0.83,
        "knn_join_ivfpq_fresh": 0.76,
    }
    recall_violations = {
        name: {"recall": ann_recall.get(name), "floor": floor}
        for name, floor in recall_floors.items()
        if ann_recall.get(name) is not None and ann_recall[name] < floor
    }
    if recall_violations:
        errors["ann_recall_floor"] = json.dumps(recall_violations)
    out = {
        "metric": "suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "rows": rows,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "stream_ingest_events_per_sec": ingest_rate,
        "ann_recall": ann_recall,
        "warm_caches": warm_caches,
    }
    if errors:
        out["errors"] = errors
    # Persist the FULL detail (rows, per-query seconds) in-repo; stdout
    # carries only the final line below. Round number = one past the
    # newest BENCH_r{N}.json; repeated runs in a round just overwrite.
    try:
        import glob
        import re

        repo = os.path.dirname(os.path.abspath(__file__))
        rounds = []
        for p in glob.glob(os.path.join(repo, "BENCH_r*.json")):
            m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
            if m:
                rounds.append(int(m.group(1)))
        rnd = (max(rounds) + 1) if rounds else 1
        detail = os.path.join(repo, f"BENCH_DETAIL_r{rnd:02d}.json")
        with open(detail, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as exc:
        print(f"bench detail write failed (continuing): {exc!r}", file=sys.stderr)
    # The ONE stdout JSON line, printed last (harnesses parse the final
    # stdout line): the headline fields plus every per-query second
    # (3 dp, slowest first, no whitespace). Rows and detail stay in the
    # BENCH_DETAIL file.
    final = {
        k: out[k]
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "cpus",
            "n_queries",
            "stream_ingest_events_per_sec",
            "ann_recall",
            "warm_caches",
        )
    }
    final["queries"] = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    )
    if errors:
        final["errors"] = errors
    print(json.dumps(final, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
