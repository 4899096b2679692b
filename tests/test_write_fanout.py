"""Write fan-out (files_per_bucket > 1): partitioning with
k * num_buckets partitions nests exactly inside the bucket layout —
every sub-partition holds rows of a single bucket (murmur3 pmod both
times, and (h mod k*n) mod n == h mod n when counts share the factor n)
— so a fanned-out write produces k files per bucket dir, identical
read-back, and identical replayed final state."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from etl_spark.table import manifest as M
from etl_spark.table.manifest import (
    FANOUT_TARGET_BYTES,
    ColumnDef,
    ManifestTable,
    TableSchema,
    compact_fanout,
)


SCHEMA = TableSchema(
    [ColumnDef(1, "repo", "string"), ColumnDef(2, "path", "string"), ColumnDef(3, "v", "long")]
)


def _rows(spark, n=400):
    return spark.range(n).select(
        F.concat(F.lit("r"), (F.col("id") % 37).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.col("id").alias("v"),
    )


def test_fanout_write_nests_in_buckets(spark, tmp_path):
    root = os.path.join(str(tmp_path), "t")
    t = ManifestTable.create(spark, root, SCHEMA, key_columns=["repo", "path"], num_buckets=4)
    df = _rows(spark)
    t.overwrite(df)  # baseline layout, fanout 1
    base = {(r["repo"], r["path"], r["v"]) for r in t.read().collect()}

    t2 = ManifestTable.create(
        spark, os.path.join(str(tmp_path), "t2"), SCHEMA,
        key_columns=["repo", "path"], num_buckets=4,
    )
    snap = t2.current_snapshot()
    written = t2.write_delta_files(df, snap, files_per_bucket=3)
    # k part files land under each bucket dir
    for b, e in written.items():
        parts = glob.glob(os.path.join(e["path"], "part-*"))
        assert 1 <= len(parts) <= 3
        # every row in the dir belongs to bucket b (nesting invariant)
        got = spark.read.parquet(e["path"])
        from etl_spark.table.manifest import bucket_expr

        assert (
            got.filter(bucket_expr(["repo", "path"], 4) != F.lit(b)).count() == 0
        )
    assert sum(
        len(glob.glob(os.path.join(e["path"], "part-*"))) for e in written.values()
    ) > 4

    t2.commit_appended(written)
    assert {(r["repo"], r["path"], r["v"]) for r in t2.read().collect()} == base


def test_replay_final_state_invariant_under_fanout(spark, tmp_path, monkeypatch):
    from etl_spark.cdc import ReplayEngine, generate_changelog

    log = generate_changelog(spark, 2000, seed=11, n_repos=8, paths_per_repo=20, num_batches=3)

    def run(fanout: int):
        # compaction imports compact_fanout at call time, so patching
        # the module attribute forces k files per bucket
        monkeypatch.setattr(M, "compact_fanout", lambda max_bucket_bytes: fanout)
        root = os.path.join(str(tmp_path), f"tb{fanout}")
        eng = ReplayEngine(spark, root, num_buckets=4, mode="mor")
        eng.replay(log)
        eng.compact(min_files=1)
        return {
            tuple(r)
            for r in eng.read_state()
            .select("repo", "path", "commit", "content_sha256")
            .collect()
        }

    assert run(1) == run(4)


def test_compact_fanout_is_size_based():
    # largest bucket at/below the per-task byte target (production
    # sizing): no fan-out, layout as-is
    assert compact_fanout(FANOUT_TARGET_BYTES) == 1
    assert compact_fanout(0) == 1
    # an oversized bucket splits into ~target-sized write tasks — sized
    # from the MAX bucket so hot-key skew (one huge bucket among small
    # ones) still fans out even when the mean is tiny
    assert compact_fanout(FANOUT_TARGET_BYTES * 4) == 4
    assert compact_fanout(FANOUT_TARGET_BYTES * 4 + 1) == 5
