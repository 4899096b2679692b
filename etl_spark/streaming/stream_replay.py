"""Streaming CDC ingest: ``readStream`` over the changelog directory,
``foreachBatch`` into the same fenced merge engine the batch replay uses.

This is the live-tail shape of the engine (SURVEY.md §7 design stance:
batch replay for deterministic verification, Structured Streaming for
production tailing — both admit batches through ``ReplayEngine``'s one
bounds job and preflight and apply them in its one replay loop, so the
exactly-once story is ONE mechanism):

- Source: file stream over the WAL directory (swap for Kafka in
  production — the sink side is source-agnostic).
- Exactly-once: Structured Streaming's epoch checkpoint gives at-least-
  once redelivery on failure; the engine's offset fence + applied-batch
  set in the table snapshot makes redelivery a no-op, upgrading the
  pipeline to exactly-once END TO END (sink-side idempotence, the same
  argument Delta/Iceberg streaming sinks make).
- ``Trigger.AvailableNow`` drains the backlog then stops — deterministic
  for tests; drop the trigger for continuous tailing.

Reference analog: the 24h sliding change-feed pull
(``src/jobs/sd_delta.py:31-32``) — re-expressed as a real stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.cdc.replay import ReplayEngine
from etl_spark.schema import CHANGE_LOG_SCHEMA


def _ordered_carry_versions(
    names: list[str], before_epoch: int | None = None
) -> list[str]:
    """Carry subdir names (``v=<epoch>``) filtered to epochs before
    ``before_epoch``, in NUMERIC epoch order — the carry protocol keys
    off "the newest prior is last". A lexicographic sort puts ``v=10``
    before ``v=9``, so at every epoch-number digit boundary the caller's
    ``prior[:-1]`` cleanup would delete the NEWEST carry (the open
    batch's only durable copy) before the epoch's checkpoint commit is
    durable — and the stale short-named dir would then shadow the true
    newest forever after. Module-level and pure so the ordering contract
    is unit-testable without a stream."""
    out = []
    for name in names:
        if not name.startswith("v="):
            continue
        v = int(name[2:])
        if before_epoch is None or v < before_epoch:
            out.append((v, name))
    return [n for _, n in sorted(out)]


def stream_replay(
    spark: SparkSession,
    changelog_dir: str,
    table_root: str,
    checkpoint_dir: str,
    num_buckets: int = 16,
    schema_ops: DataFrame | None = None,
    max_files_per_trigger: int | None = None,
    mode: str = "cow",
    compact_threshold: int = 8,
    tombstone_commit_watermark: str | None = None,
    compact_delta_fraction: float | None = None,
    expire_every: int | None = None,
    expire_keep_last: int = 5,
) -> ReplayEngine:
    """Tail ``changelog_dir`` (parquet WAL files) into the lake table.
    Blocks until the available backlog is drained; returns the engine for
    state/metrics inspection.

    ``expire_every`` / ``expire_keep_last``: auto-retention (see
    ``ReplayEngine``) — the knob MATTERS here: an unbounded stream is
    exactly the one-snapshot-per-micro-batch accumulation case. Safe in
    this loop because ``foreachBatch`` applies logical batches
    sequentially, through the replay loop at depth 1 (every commit
    point is pipeline-drained by construction)."""
    engine = ReplayEngine(
        spark, table_root, num_buckets=num_buckets, mode=mode,
        compact_threshold=compact_threshold,
        tombstone_commit_watermark=tombstone_commit_watermark,
        compact_delta_fraction=compact_delta_fraction,
        expire_every=expire_every, expire_keep_last=expire_keep_last,
    )

    reader = spark.readStream.schema(CHANGE_LOG_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changelog_dir)

    # ---- partial-batch carry -------------------------------------------
    # A trigger chunk can SPLIT a logical WAL batch across micro-batches
    # (part-file boundaries don't align with batch ids). Applying the
    # partial batch would mark its id applied and fence at the partial
    # max offset — the batch's remaining events in the next trigger
    # would be silently discarded. So each trigger applies only the
    # batches PROVEN complete (the WAL contract says ids ascend with
    # offsets, so the first event of id b+1 proves id b is complete) and
    # stages the highest id's events in a carry directory the next
    # trigger unions in. Epoch-versioned subdirs make every crash window
    # idempotent: a trigger only READS carries of earlier epochs (its
    # own, possibly half-written on redelivery, is output), and the
    # final drain applies whatever remains once the backlog is
    # exhausted. Deletion is DEFERRED one epoch: epoch N deletes all
    # prior carries EXCEPT the newest — epoch N's own commit file is not
    # durable until after _apply returns, so deleting v=N-1 here would
    # lose the carried events if the driver dies before the commit and
    # redelivery rebuilds v=N from the micro-batch alone. Keeping the
    # newest prior is safe in both directions: its unapplied remainder
    # is a subset of the new carry (duplicates are removed by the
    # offset-level dropDuplicates below), and everything older than the
    # newest prior is a subset of IT, so prior[:-1] can go even before
    # the commit.
    carry_root = checkpoint_dir.rstrip("/") + "/batch_carry"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(carry_root).getFileSystem(spark._jsc.hadoopConfiguration())

    def _carry_dirs(before_epoch: int | None = None) -> list[str]:
        root = jvm_path(carry_root)
        if not fs.exists(root):
            return []
        by_name = {
            st.getPath().getName(): st.getPath().toString()
            for st in fs.listStatus(root)
        }
        # numeric epoch order (see _ordered_carry_versions): newest last
        return [
            by_name[n]
            for n in _ordered_carry_versions(list(by_name), before_epoch)
        ]

    def _apply(micro_batch: DataFrame, epoch_id: int) -> None:
        mb = micro_batch
        prior = _carry_dirs(before_epoch=int(epoch_id))
        if prior:
            mb = mb.unionByName(spark.read.schema(CHANGE_LOG_SCHEMA).parquet(*prior))
            # the two surviving carries overlap by construction (the
            # newer one was built FROM the older) — offsets are the
            # WAL's unique event ids, so this is an exact dedupe and
            # keeps apply metrics (rows_in) honest
            mb = mb.dropDuplicates(["batch_id", "offset"])
        # the unioned+deduped plan is re-evaluated once for the bounds
        # collect, once for the carry write, and once per applied batch
        # id — persist it so the carry-parquet scans and the dedupe
        # shuffle run once per trigger, not ids+2 times
        mb = mb.persist()
        try:
            _apply_persisted(mb, int(epoch_id), prior)
        finally:
            mb.unpersist()

    def _apply_persisted(mb: DataFrame, epoch_id: int, prior: list[str]) -> None:
        # the engine's admission, as in replay: ONE bounds job (offset
        # ranges + the WAL-contract NULL audit), then the preflight
        # (non-WAL feed, out-of-order redelivery, a REOPENED batch — new
        # events under an already-applied id — and the ops feed). Both
        # refuse before the carry is staged.
        bounds = engine._bounds(mb)
        ids = sorted(bounds)
        if not ids:
            return
        ops_rows = engine._admit(bounds, ids, schema_ops)
        # stage the (possibly still open) highest batch BEFORE applying:
        # apply order then matches commit order, and a crash anywhere
        # re-runs this epoch idempotently (applied ids skip, the carry
        # subdir is overwritten)
        mb.filter(F.col("batch_id") == ids[-1]).write.mode("overwrite").parquet(
            f"{carry_root}/v={epoch_id}"
        )
        engine._run(mb, bounds, ids[:-1], ops_rows, None, 1, None)
        # deferred cleanup: the newest prior carry outlives this epoch
        # (see the carry comment above) — everything older is a subset
        # of it and can go now
        for d in prior[:-1]:
            fs.delete(jvm_path(d), True)

    (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # backlog drained: the carried batch has no more events coming
    # (AvailableNow treats end-of-log as batch close) — apply it now.
    # Re-running after a crash here is a no-op: the id is applied, the
    # fence drops its events, and the carry is re-deleted.
    leftover_dirs = _carry_dirs()
    if leftover_dirs:
        leftover = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(
            *leftover_dirs
        ).dropDuplicates(["batch_id", "offset"])
        engine.replay(leftover, schema_ops, pipeline_depth=1)
        fs.delete(jvm_path(carry_root), True)
    return engine
