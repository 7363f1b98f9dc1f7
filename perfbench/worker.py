"""One benchmark run inside a prepared environment (started by run.py).

Usage: python3 worker.py <workload> <seed> <seconds> <trace 0|1> <run_dir> <result.json>
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import tracing as tr
from workloads import WORKLOADS

SETUP_REPS = 3


def _op_medians(rec: tr.Recorder) -> dict[str, float]:
    per_op: dict[str, list[float]] = {}
    for s in rec.timed("op"):
        per_op.setdefault(s.name, []).append(s.dur)
    return {k: statistics.median(v) for k, v in per_op.items()}


def _store_sampler(store_stats: list[dict]):
    from datapipe_spark.operators import maintenance

    def sample(store: str, index: str) -> None:
        store_stats.append({
            "scd2_files": maintenance.parquet_file_count(store),
            "scd2_bytes": maintenance.table_bytes(store),
            "index_files": maintenance.parquet_file_count(index),
            "index_bytes": maintenance.table_bytes(index),
        })

    return sample


def _store_metrics(rec: tr.Recorder, wl, stats: list[dict], by_op: dict, n: int) -> dict:
    """Per-op-type store latencies and sizes (zero on other workloads)."""
    m = {}
    for kind in ("upsert", "as_of", "probe", "append"):
        durs = [s.dur for s in rec.timed("op") if s.name == kind]
        m[f"store.{kind.replace('_', '')}_p50_s"] = statistics.median(durs) if durs else 0.0
    last = stats[-1] if stats else {}
    for k in ("scd2_files", "scd2_bytes", "index_files", "index_bytes"):
        m[f"store.{k}"] = last.get(k, 0)
    upsert_s = sum(s.dur for s in rec.timed("op") if s.name == "upsert")
    m["store.cdc_rows_per_s"] = getattr(wl, "tail_rows", 0) * n / upsert_s if upsert_s else 0.0
    written = sum(by_op.get(k, {}).get("output_bytes", 0.0) for k in ("upsert", "append"))
    grown = (last.get("scd2_bytes", 0) + last.get("index_bytes", 0)) - getattr(wl, "base_bytes", 0)
    m["store.write_amp"] = written / grown if grown > 0 else 0.0
    return m


def main(argv: list[str]) -> int:
    name, seed, seconds, trace, run_dir, out_path = argv
    seed, seconds, trace = int(seed), float(seconds), trace == "1"
    rec = tr.Recorder()
    t0 = time.perf_counter()
    from datapipe_spark import get_spark

    spark = get_spark(f"perfbench-{name}")
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[name](spark, run_dir, seed, rec)

    setup = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(rep)
        setup.append(time.perf_counter() - t)

    store_stats: list[dict] = []
    if trace and name == "store_commits":
        wl.on_commit = _store_sampler(store_stats)
    t = time.perf_counter()
    wl.prepare_pass(first=True)
    with rec.span("first", "pass", pass_no=0, timed=False):
        wl.run_pass(first=True)
    wl.finish_pass(first=True)
    first_pass_s = time.perf_counter() - t

    # untimed warm-up: the JIT and the Python worker pools are still
    # settling after the first pass
    for k in range(wl.warmup_passes):
        wl.prepare_pass(first=False)
        with rec.span("warmup", "pass", pass_no=-1 - k, timed=False):
            wl.run_pass(first=False)
        wl.finish_pass(first=False)

    # closed loop: whole passes until their summed wall reaches `seconds`,
    # rounded to the nearest pass (at least one); the untimed checks
    # between passes do not count
    walls = []
    while True:
        wl.prepare_pass(first=False)
        with rec.span("timed", "pass", pass_no=len(walls) + 1, timed=True) as sp:
            wl.run_pass(first=False)
        wl.finish_pass(first=False)
        walls.append(sp.dur)
        if sum(walls) + statistics.median(walls) / 2 >= seconds:
            break
    wl.close()
    n = len(walls)
    op_medians = _op_medians(rec)
    untimed: dict[str, float] = {}  # first and warm-up passes, by op and check
    for sp in rec.spans:
        if sp.pass_no is not None and sp.pass_no <= 0 and sp.kind in ("op", "check"):
            key = f"{sp.kind} {sp.name}"
            untimed[key] = untimed.get(key, 0.0) + sp.dur
    result = {
        "workload": name,
        "seed": seed,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "failures": wl.failures[:20],
        "passes": n,
        "setup_reps_s": setup,
        "session_s": session_s,
        "first_pass_s": first_pass_s,
        "pass_walls_s": walls,
        "e2e": {
            "setup_s": statistics.median(setup),
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(op_medians.values()),
        },
        "op_medians_s": op_medians,
        "untimed_by_op_s": untimed,
    }
    spark.stop()
    if trace:
        log_dir = os.environ.get("PERFBENCH_EVENTLOG_DIR")
        layers, by_op = tr.layer_metrics(rec, log_dir, n)
        layers.update(_store_metrics(rec, wl, store_stats, by_op, n))
        layers["setup.session_s"] = session_s
        layers["setup.first_pass_s"] = first_pass_s
        layers["trace.wall_s"] = result["e2e"]["wall_s"]
        result["layers"] = layers
        result["by_op"] = by_op
        rec.dump(os.path.join(run_dir, "spans.json"))
    with open(out_path, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
