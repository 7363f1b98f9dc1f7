"""The shared journaled-commit helpers (``operators.journal``): pooled
jobs keep the caller's Spark job group, and executor Python workers can
import the package wherever the driver runs from.

The crash-point sweep over every journaled store lives beside the other
SCD2 crash tests (``tests/test_cdc.py``)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from datapipe_spark.operators import journal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _group_job_ids(sc, group: str, submit) -> list:
    """Job ids recorded for ``group`` after ``submit`` runs one count()
    under ``sc.setJobGroup(group, ...)``."""
    sc.setJobGroup(group, f"job-group propagation via {group}")
    try:
        submit()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_run_parallel_jobs_carry_caller_job_group(spark):
    """Jobs run through ``run_parallel`` (and ``submit``) carry the
    caller's job group; the same job through a bare ThreadPoolExecutor
    (the pool the store writers used before) loses it under PySpark's
    pinned-thread mode."""
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext
    df = spark.range(100)

    assert _group_job_ids(sc, "jg_run_parallel", lambda: journal.run_parallel(df.count))
    assert _group_job_ids(sc, "jg_submit", lambda: journal.submit(df.count).result())

    def bare() -> None:
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(df.count).result()

    assert _group_job_ids(sc, "jg_bare_pool", bare) == []


def test_run_parallel_orders_results_and_reraises_first_failure():
    """Results come back in argument order; a failure re-raises only
    after every other job finished."""
    import threading
    import time

    done = threading.Event()

    def slow() -> str:
        done.wait(5)
        return "slow"

    def fast() -> str:
        done.set()
        return "fast"

    assert journal.run_parallel(slow, fast) == ["slow", "fast"]

    finished = []

    def boom() -> None:
        raise ValueError("first")

    def later() -> None:
        time.sleep(0.2)
        finished.append(True)

    with pytest.raises(ValueError, match="first"):
        journal.run_parallel(boom, later)
    assert finished == [True]


_OUTSIDE_REPO_DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])

    import numpy as np

    from datapipe_spark import get_spark
    from datapipe_spark.operators import similarity as sim

    spark = get_spark("outside-repo-driver")
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, v array<double>"
    )
    # mapInPandas over a function that calls a module-level helper:
    # the worker must import datapipe_spark.operators.similarity
    print("ROWS", sim._cell_assignments(vecs, np.eye(2)).count())
    spark.stop()
    """
)


def test_workers_import_package_outside_repo_root(tmp_path):
    """A driver whose cwd is outside the repo and whose PYTHONPATH lacks
    it (the repo is only inserted into the driver's own sys.path) can
    still run a Pandas UDF from a datapipe_spark module: ``get_spark``
    ships the package to the executor Python workers."""
    env = dict(os.environ)
    path = [
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    env["PYTHONPATH"] = os.pathsep.join(path)
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO_DRIVER, REPO],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ModuleNotFoundError" not in proc.stderr, proc.stderr[-3000:]
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 4" in proc.stdout
