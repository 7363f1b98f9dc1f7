"""Spans recorded around calls into the engine, and the per-layer table.

Every run records one span per pass, op, layer call, action and check
(name, kind, wall start and end, parent, op id, pass number), kept in
memory. The end-to-end latencies come from these spans.

A traced run additionally enables Spark's event log (set up by
``run.py`` in the launch environment, uncompressed). After the session
stops, ``layer_metrics`` reads the log and attributes each Spark job to
the op span whose interval holds the job's submission time. The client
is serial and the stores' pooled writer threads carry no job group, so
the time window is the attribution that works for every job.
Streaming per-batch numbers come from the ``QueryProgressEvent`` records
in the same log.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    kind: str  # pass | op | call | action | check
    start: float  # wall clock, seconds since the epoch
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    pass_no: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span recorder for one serial client."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op_id = 0
        self._pass_no: int | None = None

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        if kind == "pass":
            self._pass_no = attrs.get("pass_no")
        if kind == "op":
            self._op_id += 1
        sp = Span(name, kind, 0.0, parent=parent, op_id=self._op_id if kind != "pass" else None,
                  pass_no=self._pass_no, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        wall0, perf0 = time.time(), time.perf_counter()
        sp.start = wall0
        try:
            yield sp
        finally:
            sp.end = wall0 + (time.perf_counter() - perf0)
            self._stack.pop()

    def timed(self, kind: str) -> list[Span]:
        """Spans of ``kind`` inside timed passes."""
        passes = {i for i, s in enumerate(self.spans) if s.kind == "pass" and s.attrs.get("timed")}
        return [s for s in self.spans if s.kind == kind and self._root(s) in passes]

    def _root(self, s: Span) -> int | None:
        idx = None
        while s.parent is not None:
            idx = s.parent
            s = self.spans[idx]
        return idx

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _read_eventlog(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:  # a torn last line if the JVM died mid-write
                    pass
    return events


# task accumulables of the Python runners: metric and scale (ms to s)
_PY_ACC = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_start_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
}

# streaming durations reported per micro-batch (ms)
_STREAM_DURATIONS = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}


class _Attributor:
    """Map a wall-clock instant to the span holding it; the spans kept
    are the serial client's ops, so they never overlap."""

    def __init__(self, spans: list[Span], keep) -> None:
        self.cands = sorted((s.start, s.end, i) for i, s in enumerate(spans) if keep(s))
        self.starts = [c[0] for c in self.cands]

    def find(self, t: float) -> int | None:
        k = bisect.bisect_right(self.starts, t) - 1
        if k >= 0 and t <= self.cands[k][1]:
            return self.cands[k][2]
        return None


def layer_metrics(rec: Recorder, log_dir: str | None, n_passes: int) -> tuple[dict, dict]:
    """Per-pass layer metrics over the timed passes.

    Returns ``(metrics, by_op)``: ``metrics`` maps a per-layer metric
    name to its value per timed pass; ``by_op`` holds the same Spark
    numbers per op name, for the printed table.
    """
    n = max(n_passes, 1)
    ops = rec.timed("op")
    op_ids = {id(s) for s in ops}
    m: dict[str, float] = {}
    m["plans.build_s"] = sum(s.dur for s in rec.timed("call")) / n
    m["plans.action_s"] = sum(s.dur for s in rec.timed("action")) / n
    child_cover = 0.0
    for i, s in enumerate(rec.spans):
        if id(s) in op_ids:
            kids = [(c.start, c.end) for c in rec.spans if c.parent == i]
            child_cover += _union_len(kids)
    op_wall = sum(s.dur for s in ops)
    m["trace.unattributed_s"] = (op_wall - child_cover) / n

    keys = (
        "jobs stages tasks job_s task_overhead_s executor_cpu_s executor_run_s "
        "shuffle_read_bytes shuffle_write_bytes fetch_wait_s spill_bytes input_bytes "
        "output_bytes gc_s python_run_s python_start_s python_bytes_sent python_bytes_received"
    ).split()
    for k in keys:
        m[f"spark.{k}"] = 0.0
    stream = {k: [] for k in ("batch_s", "input_rows", "state_rows", "state_memory_bytes",
                              "rocksdb_commit_s", *_STREAM_DURATIONS)}
    by_op: dict[str, dict] = {}
    if log_dir:
        events = _read_eventlog(log_dir)
        # attribute to op spans of timed passes only
        attr = _Attributor(rec.spans, lambda s: id(s) in op_ids)
        job_span: dict[int, int] = {}
        job_iv: dict[int, list[float]] = {}
        stage_job: dict[int, int] = {}
        for e in events:
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                t = e["Submission Time"] / 1000.0
                si = attr.find(t)
                if si is None:
                    continue
                job_span[e["Job ID"]] = si
                job_iv[e["Job ID"]] = [t, t]
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, e["Job ID"])
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_iv:
                job_iv[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        per_op: dict[str, dict] = {}

        def bucket(si: int) -> dict:
            name = rec.spans[si].name
            return per_op.setdefault(name, {k: 0.0 for k in keys} | {"_iv": []})

        for jid, si in job_span.items():
            b = bucket(si)
            b["jobs"] += 1
            span = rec.spans[si]
            s, e2 = job_iv[jid]
            b["_iv"].append((max(s, span.start), min(max(e2, s), span.end)))
        for e in events:
            ev = e.get("Event")
            if ev == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                if stage_job.get(sid) in job_span:
                    bucket(job_span[stage_job[sid]])["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e.get("Stage ID"))
                if jid not in job_span:
                    continue
                b = bucket(job_span[jid])
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                b["tasks"] += 1
                dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                run = tm.get("Executor Run Time", 0) / 1000.0
                b["executor_run_s"] += run
                b["task_overhead_s"] += max(dur - run, 0.0)
                b["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                b["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                sr = tm.get("Shuffle Read Metrics", {})
                b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                b["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                b["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                b["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                b["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                b["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                for a in info.get("Accumulables", []):
                    if a.get("Name") in _PY_ACC:
                        key, scale = _PY_ACC[a["Name"]]
                        b[key] += float(a.get("Update", 0)) * scale
            elif ev and ev.endswith("QueryProgressEvent"):
                p = e.get("progress", {})
                t = _iso_epoch(p.get("timestamp"))
                if t is None or attr.find(t) is None:
                    continue
                d = p.get("durationMs", {})
                stream["batch_s"].append(d.get("triggerExecution", 0) / 1000.0)
                for k, src in _STREAM_DURATIONS.items():
                    stream[k].append(d.get(src, 0) / 1000.0)
                stream["input_rows"].append(sum(s.get("numInputRows", 0) for s in p.get("sources", [])))
                ops_ = p.get("stateOperators", [])
                stream["state_rows"].append(sum(o.get("numRowsTotal", 0) for o in ops_))
                stream["state_memory_bytes"].append(sum(o.get("memoryUsedBytes", 0) for o in ops_))
                stream["rocksdb_commit_s"].append(sum(o.get("commitTimeMs", 0) for o in ops_) / 1000.0)
        job_total = 0.0
        for name, b in per_op.items():
            b["job_s"] = _union_len(b.pop("_iv"))
            job_total += b["job_s"]
            for k in keys:
                m[f"spark.{k}"] += b[k] / n
            by_op[name] = {k: b[k] / n for k in keys}
    m["spark.driver_gap_s"] = op_wall / n - m["spark.job_s"]
    m["streaming.batches"] = len(stream["batch_s"]) / n
    m["streaming.input_rows"] = sum(stream["input_rows"]) / n
    m["streaming.batch_p50_s"] = statistics.median(stream["batch_s"]) if stream["batch_s"] else 0.0
    for k in _STREAM_DURATIONS:
        m[f"streaming.{k}"] = sum(stream[k]) / n
    m["streaming.state_rows"] = max(stream["state_rows"], default=0)
    m["streaming.state_memory_bytes"] = max(stream["state_memory_bytes"], default=0)
    m["streaming.rocksdb_commit_s"] = sum(stream["rocksdb_commit_s"]) / n
    return m, by_op


def _iso_epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    from datetime import datetime

    try:
        return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
    except ValueError:
        return None
