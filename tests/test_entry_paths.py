"""One hostile feed through every entry path; the final tables must agree.

Each path has its own oracle test elsewhere. This module asserts that
the paths agree with EACH OTHER on one feed: ``replay`` at depth 1, 2
and 4 under mor and cow, ``apply_batch`` one batch at a time,
``stream_replay`` one WAL file per trigger, and ``propagate_changes``
from an upstream table. States are compared under bag semantics
(``exceptAll`` both ways, as perfbench's oracle does), plus
``content_sha256``, the applied set, the fence and the ``metrics()``
counters. A re-delivered window must then be a no-op on every path.

The feed is small on purpose (the module should stay well under a
minute) but carries every admission case: the §12.7 hostile content
corpus, NULL payload columns and a NULL commit, one ``add_column`` op,
one empty batch id, and a re-delivered window.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.chain import propagate_changes
from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import CDC_TARGET_COLUMNS, ReplayEngine
from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA
from etl_spark.streaming import stream_replay
from etl_spark.table.manifest import ColumnDef
from tests.oracle import apply_log_oracle
from tests.test_adversarial_content_replay import HOSTILE_CONTENT

EMPTY_BATCH = 2
BATCH_IDS = [0, 1, 2, 3]
REDELIVERED = 1
ADDED = "license"
PAYLOAD = ["repo", "path", "commit", "lang", "content", "content_sha256", ADDED]
COUNTERS = ["batch_id", "rows_in", "upserts", "deletes", "distinct_keys", "schema_ops"]


@pytest.fixture(scope="module")
def feed(spark):
    """(log, ops) — 3 data batches over ids 0, 1 and 3 (id 2 is the
    empty batch), hostile content, NULL ``content``/``lang`` on upserts,
    one NULL ``commit`` (orderable: it loses to every non-NULL commit),
    and an ``add_column`` op inside batch 3's offset range."""
    log = generate_changelog(
        spark, 180, seed=11, n_repos=2, paths_per_repo=8, num_batches=3
    )
    hostile = F.array(*[F.lit(s) for s in HOSTILE_CONTENT])
    is_d = F.col("op") == "D"
    log = log.select(
        "offset", "op", "repo", "path",
        F.when(F.col("offset") == 7, F.lit(None).cast("string"))
        .otherwise(F.col("commit")).alias("commit"),
        F.when(F.col("offset") % 7 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("lang")).alias("lang"),
        F.when(is_d | (F.col("offset") % 11 == 4), F.lit(None).cast("string"))
        .otherwise(F.element_at(
            hostile, (F.col("offset") % len(HOSTILE_CONTENT) + 1).cast("int")
        )).alias("content"),
        F.when(F.col("batch_id") >= EMPTY_BATCH, F.col("batch_id") + 1)
        .otherwise(F.col("batch_id")).cast("int").alias("batch_id"),
    ).cache()
    op_offset = log.filter(F.col("batch_id") == 3).agg(F.min("offset")).first()[0] + 5
    ops = spark.createDataFrame(
        [(op_offset, "add_column", ADDED, json.dumps({"type": "string"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    yield log, ops
    log.unpersist()


def _engine(spark, root, mode):
    return ReplayEngine(spark, root, num_buckets=3, mode=mode)


@pytest.fixture(scope="module")
def paths(spark, feed, tmp_path_factory):
    """Run the feed through every entry path; returns (engines, wal
    dir, checkpoint dir, seconds taken)."""
    log, ops = feed
    tmp = tmp_path_factory.mktemp("entry_paths")
    t0 = time.monotonic()
    engines = {}
    for mode in ("mor", "cow"):
        for depth in (1, 2, 4):
            eng = _engine(spark, str(tmp / f"replay_{mode}_{depth}"), mode)
            eng.replay(log, ops, batches=BATCH_IDS, pipeline_depth=depth)
            engines[f"replay_{mode}_d{depth}"] = eng

    eng = _engine(spark, str(tmp / "apply_batch"), "mor")
    for b in BATCH_IDS:
        eng.apply_batch(log, b, schema_ops=ops)
    engines["apply_batch"] = eng

    # one WAL file per data batch, landing in offset order (the file
    # source triggers in mtime order)
    wal = tmp / "wal"
    now, landed = time.time(), set()
    for i, b in enumerate(b for b in BATCH_IDS if b != EMPTY_BATCH):
        log.filter(F.col("batch_id") == b).coalesce(1).write.mode("append").parquet(str(wal))
        for p in {p for p in os.listdir(wal) if p.startswith("part-")} - landed:
            os.utime(wal / p, (now + i, now + i))
            landed.add(p)
    ckpt = str(tmp / "ckpt")
    eng = stream_replay(
        spark, str(wal), str(tmp / "stream"), ckpt, num_buckets=3, mode="mor",
        schema_ops=ops, max_files_per_trigger=1,
    )
    # a file stream has no event to carry an empty batch id: the
    # producer closes it with one empty apply_batch, which the WAL
    # contract allows below an applied id
    eng.apply_batch(log, EMPTY_BATCH)
    engines["stream"] = eng

    # the downstream table is created with the upstream's DDL column
    # (a chain refuses a downstream that lacks an upstream column)
    dst = ReplayEngine(
        spark, str(tmp / "chain_dst"), num_buckets=3, mode="mor",
        target_columns=CDC_TARGET_COLUMNS + [ColumnDef(10, ADDED, "string")],
    )
    propagate_changes(engines["replay_mor_d1"], dst)
    engines["chain"] = dst
    return engines, wal, ckpt, time.monotonic() - t0


def _bag_equal(a, b, cols):
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty()


def test_reference_matches_oracle(feed, paths):
    log, _ = feed
    engines, *_ = paths
    want = apply_log_oracle(log.toPandas())
    got = (
        engines["replay_mor_d1"].read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    assert engines["replay_mor_d1"].read_state().filter(F.col(ADDED).isNotNull()).count() == 0


def test_every_path_reaches_the_same_state(paths):
    engines, _, _, seconds = paths
    print(f"entry paths: {len(engines)} tables built in {seconds:.1f} s")
    ref = engines["replay_mor_d1"].read_state()
    for name, eng in engines.items():
        state = eng.read_state()
        assert sorted(state.columns) == sorted(ref.columns), name
        # the chain replays everything as ONE downstream batch, so its
        # lineage columns differ by design
        cols = PAYLOAD if name == "chain" else ref.columns
        assert "content_sha256" in cols
        assert _bag_equal(state, ref, cols), name


def test_every_path_records_the_same_bookkeeping(paths):
    engines, *_ = paths
    ref = engines["replay_mor_d1"]
    ref_metrics = sorted(tuple(r) for r in ref.metrics().select(*COUNTERS).collect())
    assert [m[0] for m in ref_metrics] == BATCH_IDS
    assert ref.applied_batches() == BATCH_IDS
    for name, eng in engines.items():
        if name == "chain":
            continue
        assert sorted(eng.applied_batches()) == BATCH_IDS, name
        assert eng.fence_offset() == ref.fence_offset(), name
        got = sorted(tuple(r) for r in eng.metrics().select(*COUNTERS).collect())
        assert got == ref_metrics, name


def test_redelivered_window_is_noop_on_every_path(spark, feed, paths):
    log, ops = feed
    engines, wal, ckpt, _ = paths
    window = log.filter(F.col("batch_id") == REDELIVERED)
    before = {n: e.table.current_snapshot().version for n, e in engines.items()}
    for name, eng in engines.items():
        if name.startswith("replay"):
            results = eng.replay(window, ops, pipeline_depth=int(name[-1]))
            assert results == [{"batch_id": REDELIVERED, "skipped": True}], name
    assert engines["apply_batch"].apply_batch(window, REDELIVERED, schema_ops=ops)["skipped"]
    window.coalesce(1).write.mode("append").parquet(str(wal))
    stream_replay(
        spark, str(wal), engines["stream"].table_root, ckpt, num_buckets=3,
        mode="mor", schema_ops=ops, max_files_per_trigger=1,
    )
    assert propagate_changes(engines["replay_mor_d1"], engines["chain"])["skipped"]
    for name, eng in engines.items():
        assert eng.table.current_snapshot().version == before[name], name
