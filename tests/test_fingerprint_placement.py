"""Where the normalize+sha256 pandas_udf sits in a batch's write plan.

The fingerprint is attached to the batch's payload events before the
winner kernel (``merge.batch_winners``), so ``ArrowEvalPython`` runs in
the tasks that scan the change log: no ``Exchange`` between it and the
``FileScan``, whatever the mode. Placed after a shuffle it would cost
one Python task per bucket per batch. Under mor the LWW exchange must
still double as the bucket write exchange: one ``hashpartitioning``
exchange over the payload, not two. The placement must also hold under
the broadcast comparison kernel the benchmark times against the
engine's hash-agg kernel, so the two are measured on the same work."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.lww import lww_winners, lww_winners_broadcast
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.functions.normalize import with_content_sha256

KERNELS = {"agg": lww_winners, "broadcast": lww_winners_broadcast}


def _nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, text) per node line of a physical plan's tree string."""
    out = []
    for line in plan.splitlines():
        m = re.match(r"^([ :+\-]*)([A-Za-z*(].*)$", line)
        if m:
            out.append((len(m.group(1)), m.group(2)))
    return out


def _scan_without_exchange(nodes: list[tuple[int, str]], i: int) -> bool:
    """Whether some ``FileScan`` below node ``i`` is reached from it
    through no ``Exchange``: the node runs in that scan's tasks."""
    path = [nodes[i]]  # node i down to the current node
    for d, text in nodes[i + 1:]:
        if d <= nodes[i][0]:
            break
        while path[-1][0] >= d:
            path.pop()
        path.append((d, text))
        if text.startswith("FileScan parquet") and not any("Exchange" in t for _, t in path):
            return True
    return False


@pytest.fixture(scope="module")
def parquet_log(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("log") / "log")
    generate_changelog(
        spark, 400, seed=5, n_repos=3, paths_per_repo=20, num_batches=2
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("kernel", ["broadcast", "agg"])
@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_fingerprint_runs_in_the_scan_tasks(spark, tmp_path, monkeypatch, parquet_log, mode, kernel):
    plans: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        # the batch's data write (delta append or cow rewrite); metrics
        # and lineage rows are written without Spark
        if re.search(r"-(dl|mg)-", os.path.basename(path)):
            plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode=mode)
    results = eng.replay(parquet_log)
    assert [r["skipped"] for r in results] == [False] * 2
    assert len(plans) == 2
    for plan in plans:
        nodes = _nodes(plan)
        udfs = [i for i, (_, text) in enumerate(nodes) if text.startswith("ArrowEvalPython")]
        assert len(udfs) == 1, plan
        assert _scan_without_exchange(nodes, udfs[0]), plan
        if mode == "mor":
            # the bucket repartition is elided onto the LWW exchange
            assert sum("Exchange hashpartitioning" in t for _, t in nodes) == 1, plan

    # the kernel over one fingerprinted batch, as ``merge.batch_winners``
    # feeds it
    batch = parquet_log.where("batch_id = 0").drop("batch_id")
    winners = KERNELS[kernel](with_content_sha256(batch))
    plan = winners._jdf.queryExecution().executedPlan().toString()
    nodes = _nodes(plan)
    udfs = [i for i, (_, text) in enumerate(nodes) if text.startswith("ArrowEvalPython")]
    assert len(udfs) == 1, plan
    assert _scan_without_exchange(nodes, udfs[0]), plan
