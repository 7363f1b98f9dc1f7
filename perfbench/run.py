"""Layered benchmark of the datapipe_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: batch_marts, event_stream,
store_commits (see perfbench/README.md). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, which holds the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) named in BENCHMARK.json, each as
``{"value": ..., "unit": ...}``. A human-readable table goes to
standard error.

The run happens in a child process launched from a scratch directory
under ``.perfbench/`` with every engine store root, Spark's local dirs
and the temp dir pointed inside it; the child's whole process group is
killed if it overruns, and the scratch directory is removed afterwards.
A traced run leaves its spans in ``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        # executor Python workers must import datapipe_spark even though
        # the Spark driver runs in the run directory, outside the repo root
        PYTHONPATH=os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),  # as nproc counts
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
    )
    # every build-once store root the engine reads from the environment
    for k in ("SCD2", "INDEX", "SNAPSHOT", "STREAM", "QUANTIZER", "MODEL", "IVF"):
        env[f"SPARK_GRAFT_{k}_DIR"] = os.path.join(run_dir, "stores", k.lower())
    conf = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        env["PERFBENCH_EVENTLOG_DIR"] = log_dir
        # uncompressed: the default codec (zstd) has no Python reader here
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([*conf, "pyspark-shell"])
    os.makedirs(tmp)
    return env


def _kill_group(child: subprocess.Popen) -> None:
    """Kill the child's process group and wait until no member is left."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    for _ in range(100):
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _table(res: dict, metrics: dict) -> str:
    lines = [
        f"workload {res['workload']}  seed {res['seed']}  passes {res['passes']}  "
        f"attempted {res['attempted']}  failed {res['failed']}",
        f"setup reps (s): {', '.join(f'{x:.3f}' for x in res['setup_reps_s'])}  "
        f"session {res['session_s']:.3f}  first pass {res['first_pass_s']:.3f}",
        f"timed pass walls (s): {', '.join(f'{x:.3f}' for x in res['pass_walls_s'])}",
    ]
    lines += [f"  {k:32s} {v['value']:>16.6g} {v['unit']}" for k, v in metrics.items()]
    lines += [f"  op median {k:30s} {v:8.3f} s" for k, v in res["op_medians_s"].items()]
    lines += [f"  untimed passes {k:32s} {v:8.3f} s" for k, v in res["untimed_by_op_s"].items()]
    for name, row in res.get("by_op", {}).items():
        lines.append(
            f"  op {name:30s} jobs {row['jobs']:5.1f}  job_s {row['job_s']:7.3f}  "
            f"py_s {row['python_run_s']:7.3f}  shuffle_w {row['shuffle_write_bytes']:10.0f}"
        )
    lines += [f"  failure: {f}" for f in res.get("failures", [])]
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "datapipe_spark")):
        print("perfbench: datapipe_spark/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    run_dir = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_path = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), args.workload, str(args.seed),
           str(args.seconds), str(args.trace), run_dir, out_path]
    child = subprocess.Popen(cmd, cwd=run_dir, env=_env(run_dir, bool(args.trace)),
                             stdout=sys.stderr, start_new_session=True)

    def _stop(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop)
    rc, res = None, None
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
        if rc == 0:
            with open(out_path) as f:
                res = json.load(f)
            if args.trace:  # keep the traced run's spans
                shutil.move(os.path.join(run_dir, "spans.json"), os.path.join(
                    REPO, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        # the session leader's group holds the JVM and its Python workers
        _kill_group(child)
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        print(f"perfbench: worker exited with {rc}", file=sys.stderr)
        return 1

    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(_table(res, metrics), file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
