"""Smoke tests of the benchmark itself, at the tiny input size.

    python3 -m pytest perfbench -q

They share one Spark session, so they take a few minutes, not one per
workload run.
"""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

COUNTERS = ("profiler.jobs", "profiler.stages", "profiler.tasks")


@pytest.fixture(scope="module")
def spec():
    return json.loads((run.ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def session():
    work = run.ROOT / ".perfbench" / f"test-{os.getpid()}"
    run.prepare(work)
    spark = run.start_session(work)
    yield spark, work
    run.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)


def _bench(session, workload, trace, tag):
    spark, work = session
    return run.bench(spark, workload, 7, 1.0, trace, "tiny",
                     work / f"{workload}-{tag}")["result"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_prints_and_counts_repeat(session, spec, workload):
    plain = _bench(session, workload, False, "plain")
    assert plain["failed"] == 0 and plain["attempted"] > 0
    assert plain["metrics"]["ok_frac"]["value"] == 1.0
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == want
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    json.loads(json.dumps(plain))  # the printed line is plain JSON

    first = _bench(session, workload, True, "trace1")
    second = _bench(session, workload, True, "trace2")
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for res in (first, second):
        assert res["failed"] == 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    counts = [n for n, u in want.items() if u == "count"]
    moved = [n for n in counts if first["metrics"][n]["value"]
             != second["metrics"][n]["value"]]
    print(f"{workload}: counters that did not repeat for one seed "
          f"(non-deterministic): {moved}")
    assert not set(moved) & set(COUNTERS)


def test_window_attribution_counts_every_job(session):
    """Jobs of one profile() call, attributed by the window of job IDs,
    equal the status tracker's job delta over the call. Attribution by
    job group would miss the jobs profile() submits from its worker
    threads."""
    import pandas as pd
    import whylogs_spark as wsp
    from ledger import Ledger

    spark, _ = session
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "perfbench-attribution"
    df = spark.createDataFrame(pd.DataFrame(
        {"x": [float(i) for i in range(200)],
         "s": [f"k{i % 7}" for i in range(200)]}))
    ledger = Ledger(spark)

    def known():
        return set(tracker.getJobIdsForGroup()) \
            | set(tracker.getJobIdsForGroup(group))

    first = ledger.last_job_id()
    before = known()
    sc.setJobGroup(group, "one profile() call")
    try:
        t0 = time.time()
        wsp.profile(df).df.collect()
        t1 = time.time()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    led = ledger.since(first, t0, t1)
    delta = known() - before
    in_group = set(tracker.getJobIdsForGroup(group))
    print(f"jobs: window {led['jobs']}, tracker delta {len(delta)}, "
          f"caller's job group {len(in_group)}")
    assert led["jobs"] == len(delta) > 0
    spark.catalog.clearCache()


def test_fails_without_the_program(spec):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    scratch = run.ROOT / ".perfbench" / f"bare-{os.getpid()}"
    try:
        shutil.copytree(run.HERE, scratch / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(run.ROOT / "BENCHMARK.json", scratch)
        out = subprocess.run(
            spec["command"] + ["--workload", spec["workloads"][0]["name"],
                               "--seed", "1", "--seconds", "1",
                               "--trace", "0"],
            cwd=scratch, capture_output=True, text=True, timeout=180)
        assert out.returncode != 0
        assert '"metrics"' not in out.stdout
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
