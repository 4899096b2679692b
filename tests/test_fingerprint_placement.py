"""Where the normalize+sha256 pandas_udf sits in a batch's write plan.

The fingerprint is attached to the batch's payload events before the
winner kernel (``merge.batch_winners``), so ``ArrowEvalPython`` runs in
the tasks that scan the change log: no ``Exchange`` between it and the
``FileScan``, whatever the mode or kernel. Placed after a shuffle it
would cost one Python task per bucket per batch. Under mor's hash-agg
kernel the LWW exchange must still double as the bucket write exchange:
one ``hashpartitioning`` exchange over the payload, not two."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine


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


@pytest.mark.parametrize("lww_strategy", ["broadcast", "agg"])
@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_fingerprint_runs_in_the_scan_tasks(spark, tmp_path, monkeypatch, parquet_log, mode, lww_strategy):
    plans: list[str] = []
    real_parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        # the batch's data write (delta append or cow rewrite); metrics
        # and lineage rows are written without Spark
        if re.search(r"-(dl|mg)-", os.path.basename(path)):
            plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    eng = ReplayEngine(
        spark, str(tmp_path / "t"), num_buckets=4, mode=mode, lww_strategy=lww_strategy,
    )
    results = eng.replay(parquet_log)
    assert [r["lww_path"] for r in results] == [lww_strategy] * 2
    assert len(plans) == 2
    for plan in plans:
        nodes = _nodes(plan)
        udfs = [i for i, (_, text) in enumerate(nodes) if text.startswith("ArrowEvalPython")]
        assert len(udfs) == 1, plan
        assert _scan_without_exchange(nodes, udfs[0]), plan
        if (mode, lww_strategy) == ("mor", "agg"):
            # the bucket repartition is elided onto the LWW exchange
            assert sum("Exchange hashpartitioning" in t for _, t in nodes) == 1, plan
