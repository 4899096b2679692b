"""Spark job budgets of the two ingest entry points a trickle feed uses.

A trickle batch is dominated by the fixed cost of each Spark job (tens
of milliseconds apiece on a laptop-class host), so an added job per
batch is a regression even when every result stays correct. These
tests pin the job count of one fresh merge-on-read ``apply_batch`` and
of one 4-batch ``stream_replay``. Jobs are counted by job-id delta, as
``perfbench/spans.py`` does: job ids are sequential, so the next id is
the number of jobs submitted so far. Lower a pin when a change removes
a job; never raise one without the reason in the change log.

The counts are taken in a child process with its own fresh session:
inside the shared test session the stream's count depends on what
earlier test modules left behind (it read 3 jobs higher there). Run
``python -m tests.test_job_budget <scratch dir>`` to print them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
APPLY_BATCH_JOBS = 7
STREAM_JOBS = 45


def _next_job_id(spark) -> int:
    # job-start events reach the status store through the listener bus,
    # asynchronously; drain it so the last job's id is visible
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1) + 1


def measure(spark, scratch: str) -> dict:
    """Job counts of one fresh mor ``apply_batch`` (2,000 events, 4
    buckets), of re-delivering that batch, and of one ``stream_replay``
    over 4 WAL files, one per batch and per trigger."""
    from pyspark.sql import functions as F

    from etl_spark.cdc.changelog import generate_changelog
    from etl_spark.cdc.replay import ReplayEngine
    from etl_spark.streaming import stream_replay

    gen = dict(seed=7, n_repos=5, paths_per_repo=20)
    out = {}
    log = generate_changelog(spark, 2000, num_batches=1, **gen)
    eng = ReplayEngine(spark, os.path.join(scratch, "t"), num_buckets=4, mode="mor")
    j0 = _next_job_id(spark)
    assert not eng.apply_batch(log, 0)["skipped"]
    out["apply_batch"] = _next_job_id(spark) - j0
    j0 = _next_job_id(spark)
    assert eng.apply_batch(log, 0)["skipped"]
    out["redelivered"] = _next_job_id(spark) - j0

    log = generate_changelog(spark, 2000, num_batches=4, **gen)
    wal = os.path.join(scratch, "wal")
    now, landed = time.time(), set()
    for b in range(4):
        log.filter(F.col("batch_id") == b).coalesce(1).write.mode("append").parquet(wal)
        # the file source triggers in mtime order
        for p in {p for p in os.listdir(wal) if p.startswith("part-")} - landed:
            os.utime(os.path.join(wal, p), (now + b, now + b))
            landed.add(p)
    j0 = _next_job_id(spark)
    eng = stream_replay(
        spark, wal, os.path.join(scratch, "st"), os.path.join(scratch, "ckpt"),
        num_buckets=4, mode="mor", max_files_per_trigger=1,
    )
    out["stream_replay"] = _next_job_id(spark) - j0
    out["stream_applied"] = eng.applied_batches()
    return out


@pytest.fixture(scope="module")
def counts(tmp_path_factory):
    env = dict(os.environ, PYTHONPATH=ROOT, ETL_SPARK_DRIVER_MEM="2g")
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_job_budget",
         str(tmp_path_factory.mktemp("job_budget"))],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_apply_batch_job_budget(counts):
    assert counts["apply_batch"] == APPLY_BATCH_JOBS
    # a re-delivered batch is skipped from the snapshot alone
    assert counts["redelivered"] == 0


def test_stream_replay_job_budget(counts):
    assert counts["stream_replay"] == STREAM_JOBS
    assert counts["stream_applied"] == [0, 1, 2, 3]


if __name__ == "__main__":
    from etl_spark.session import build_session

    session = build_session("job-budget", master="local[4]", shuffle_partitions=4)
    try:
        print(json.dumps(measure(session, sys.argv[1])))
    finally:
        session.stop()
