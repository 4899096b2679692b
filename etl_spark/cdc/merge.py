"""CDC merge plans: the per-batch LWW plans the replay loop writes.

``ReplayEngine``'s one loop (``etl_spark/cdc/replay.py``) asks this
module for a batch's PLAN and then runs the mode's write/commit pair
itself. Each mode's plan:

- merge-on-read (``plan_mor_batch``): the batch's LWW winners, deletes
  as ``_deleted`` tombstones, appended as delta files — nothing is read
  from the table; readers resolve base+delta with the same LWW rule
  (``resolve_state``) and compaction folds deltas back down.
- copy-on-write (``cow_batch_stats`` then ``cow_batch_survivors``): the
  thin per-key stats name the touched buckets; the survivors union the
  stored rows of ONLY those buckets (tagged with their stored
  ``(commit, _ingest_offset)`` order) with the batch's winners, and one
  LWW aggregation picks the globally-latest version per key — a
  late-arriving event older than the stored row loses, exactly as
  ``MERGE ... WHEN MATCHED AND s.order > t.order`` would decide. No
  join is needed because stored rows carry their own order.

Winning tombstones stay as ``_deleted`` rows in both modes (reads filter
them; their order must outlive the commit so out-of-order stragglers
can't resurrect a deleted key — conditional delete semantics are the
delete_guard, reference analog ``src/sd_delta.py:57-72``). The loop
commits each batch atomically with its fence properties (exactly-once;
reference analog: skip-if-already-applied,
``src/byggesager/byggesager.py:191-197``).

One kernel picks a batch's winners in both modes (``batch_winners``):
``lww_winners``' ``max_by`` hash aggregation, whose map-side partial
aggregation collapses a hot key per input partition before the
shuffle. ``batch_winners`` is also the one place, in both modes, where
a batch gets its ``content_sha256``: the normalize+sha256 pandas_udf
runs over the batch's events before the kernel, in the scan's own
tasks, so the Python task count follows the batch's input splits, not
``num_buckets``. AQE skew-join splitting is enabled session-wide
(``etl_spark.session``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.cdc.lww import lww_winners
from etl_spark.functions.normalize import with_content_sha256
from etl_spark.table.manifest import ManifestTable, Snapshot, bucket_expr

# lineage columns stored on every row (per-row lineage per north_rule)
LINEAGE_COLS = ["_ingest_offset", "_ingest_batch"]


def resolve_state(
    raw: DataFrame,
    key_columns: list[str] | None = None,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Merge-on-read resolution: one LWW winner per key over base+delta
    rows, tombstones dropped (``keep_tombstones=True`` keeps the winning
    tombstone rows — the compaction path, which must preserve delete
    ORDER so an out-of-order event arriving after compaction still loses
    to the delete). Identical rule to the cow merge, so both modes
    replay a log to the exact same final state.

    The kernel is the hash aggregation: it needs no driver-side winner
    set, whose size here would equal the table's total live keys.
    max_by is also robust to byte-identical duplicate rows (a double-read
    WAL file appended twice under mor): it picks exactly one row per key
    even on order ties, where an equality join would return both."""
    resolved = lww_winners(
        raw, key_columns=key_columns, order_columns=["commit", "_ingest_offset"],
    )
    if keep_tombstones:
        return resolved
    return resolved.filter(~F.col("_deleted"))


# --------------------------------------------------------------- plan pieces
def _demote_guarded(batch_events: DataFrame, keys: list[str], delete_guard: DataFrame) -> DataFrame:
    """Reference C3 conditional delete (``src/sd_delta.py:57-72``): a D
    event on a guarded key is demoted to a no-op pre-LWW (broadcast: the
    guard is a key list, always small relative to the batch)."""
    guard = F.broadcast(
        delete_guard.select(*keys).dropDuplicates().withColumn("__guarded", F.lit(True))
    )
    return (
        batch_events.join(guard, on=keys, how="left")
        .filter(~((F.col("op") == "D") & F.col("__guarded").isNotNull()))
        .drop("__guarded")
    )


def _thin_maxes(batch_events: DataFrame, keys: list[str]) -> DataFrame:
    """THIN per-key aggregate: keys + max (commit, offset, op) + event
    count. Parquet never reads content for it; `op` rides INSIDE the
    order struct (it can never flip the max: offset is unique per key),
    so this one tiny aggregate yields every stats/lineage counter,
    deletes included."""
    order_op = F.struct(F.col("commit"), F.col("offset"), F.col("op")).alias("__ord")
    return (
        batch_events.select(*keys, order_op)
        .groupBy(*keys)
        .agg(F.max("__ord").alias("__ord"), F.count(F.lit(1)).alias("__n"))
    )


def _bucket_rollup(maxes: DataFrame, keys: list[str], num_buckets: int) -> DataFrame:
    """Per-bucket (= per key-partition) lineage from the thin aggregate:
    one row per bucket with key/event/delete counts (north_rule:
    per-partition lineage + ingest metrics)."""
    return maxes.groupBy(bucket_expr(keys, num_buckets).alias("bucket")).agg(
        F.count(F.lit(1)).alias("keys"),
        F.sum("__n").alias("events"),
        F.sum((F.col("__ord.op") == "D").cast("long")).alias("deletes"),
    )


def _schema_projection(winners: DataFrame, snap: Snapshot, batch_id: int) -> DataFrame:
    """Project winner events to the current table schema, passing their
    ``content_sha256`` through. Rename-aware: a
    column renamed on the table (e.g. lang -> language) still arrives
    from the wire under its original name, so we resolve by column id
    back to the v1 (wire) name. Added columns the events don't carry get
    their schema default; widened types are cast up."""
    # wire name resolution: the wire always uses a column's ORIGINAL
    # name — its v1 name for original columns, its ADD-TIME name for
    # columns added by later schema versions (resolving through v1
    # alone made every post-v1 added column invisible here, silently
    # replacing event-carried values with the column default — a
    # divergent replica under chain propagation)
    wire_names: dict[int, str] = {}
    for v in sorted(snap.schemas):
        for sc in snap.schemas[v].columns:
            wire_names.setdefault(sc.id, sc.name)
    event_cols = set(winners.columns)
    # content_sha256 is not in the set: the winners already carry it
    # (``batch_winners``), so it resolves like any wire column
    computed = {"_ingest_offset", "_ingest_batch", "_deleted"}
    proj = []
    for c in snap.schema.columns:
        if c.name in computed:
            continue
        wire = wire_names.get(c.id)
        if wire in event_cols:
            proj.append(F.col(wire).cast(c.type).alias(c.name))
        else:
            proj.append(F.lit(c.default).cast(c.type).alias(c.name))
    return winners.select(
        *proj,
        F.col("op").alias("__op"),
        F.col("offset").alias("_ingest_offset"),
        F.lit(batch_id).cast("int").alias("_ingest_batch"),
    )


def batch_winners(batch_events: DataFrame, keys: list[str]) -> DataFrame:
    """One LWW winner per key of a batch, with its ``content_sha256``:
    ``lww_winners``' max_by over full rows, map-side combined so a hot
    repo collapses before the shuffle.

    The fingerprint is attached to the payload events BEFORE the
    kernel, so the pandas_udf runs in the tasks that scan the batch —
    a Python task per input split, not per bucket — and pays for the
    events that lose LWW too. After the kernel it would sit between
    the aggregation and the bucket repartition, which Spark could then
    no longer elide: content would cross the shuffle twice."""
    return lww_winners(with_content_sha256(batch_events), key_columns=keys)


def plan_mor_batch(
    snap: Snapshot,
    keys: list[str],
    batch_events: DataFrame,
    batch_id: int,
    delete_guard: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Pure plan construction for one merge-on-read batch — NO Spark jobs
    run here. Returns ``(delta_plan, per_bucket_stats_plan)``: the delta
    frame ready for ``write_delta_files`` (winners as rows, deletes as
    ``_deleted`` tombstones) and the independent thin stats/lineage
    rollup the caller collects concurrently.

    Nothing in the mor write needs the stats: the bucket set falls out
    of the append itself. The winners arrive fingerprinted
    (``batch_winners``), so the write runs no Python, and the winners
    exchange doubles as the bucket write exchange when
    shuffle.partitions == num_buckets."""
    if delete_guard is not None:
        batch_events = _demote_guarded(batch_events, keys, delete_guard)
    per_bucket_plan = _bucket_rollup(_thin_maxes(batch_events, keys), keys, snap.num_buckets)
    source = _schema_projection(batch_winners(batch_events, keys), snap, batch_id)
    delta = source.withColumn("_deleted", F.col("__op") == "D").drop("__op")
    return delta, per_bucket_plan


def _stats_from_rows(per_bucket: list) -> dict:
    stats = {
        "keys": sum(r["keys"] for r in per_bucket),
        "events": sum(r["events"] for r in per_bucket),
        "dels": sum(r["deletes"] for r in per_bucket),
    }
    stats["ups"] = stats["keys"] - stats["dels"]
    stats["buckets"] = [r["bucket"] for r in per_bucket]
    return stats


def _bucket_counters(per_bucket: list) -> list[dict]:
    return [
        {"bucket": int(r["bucket"]), "keys": int(r["keys"]),
         "events": int(r["events"]), "deletes": int(r["deletes"])}
        for r in per_bucket
    ]


def cow_batch_stats(
    batch_events: DataFrame,
    keys: list[str],
    num_buckets: int,
    delete_guard: DataFrame | None = None,
) -> tuple[DataFrame, list, dict]:
    """Stage 1 of the cow plan: guard demotion, thin per-key maxes
    (~60 B/distinct key), and the per-bucket rollup that names the
    TOUCHED BUCKETS. Split out so the replay loop can learn a batch's
    bucket set — and decide whether it may overlap the batches already
    in flight — before any table state is read.

    Returns (guarded_events, per_bucket_rows, stats)."""
    if delete_guard is not None:
        batch_events = _demote_guarded(batch_events, keys, delete_guard)
    per_bucket = _bucket_rollup(_thin_maxes(batch_events, keys), keys, num_buckets).collect()
    return batch_events, per_bucket, _stats_from_rows(per_bucket)


def cow_batch_survivors(
    table: ManifestTable,
    snap: Snapshot,
    batch_events: DataFrame,
    stats: dict,
    batch_id: int,
    *,
    tombstone_commit_watermark: str | None = None,
) -> DataFrame:
    """Stage 2 of the cow plan: LWW winners (fingerprinted by
    ``batch_winners``, as under mor), union with the touched buckets
    read from ``snap`` (stored rows carry their own fingerprint),
    global resolve, tombstone aging. Returns the survivors — the frame
    ``write_rewrite_files`` consumes."""
    keys = table.key_columns
    # the winners resolve by the TABLE's key columns — a table keyed on
    # other columns must not fall back to the module default
    winners = batch_winners(batch_events, keys)
    touched = sorted(stats["buckets"])
    source = _schema_projection(winners, snap, batch_id)
    existing = (
        table.read(buckets=touched, snapshot=snap)
        .withColumn("__op", F.lit(None).cast("string"))
    )
    src = source.withColumn("_deleted", F.col("__op") == "D")
    unioned = existing.unionByName(src.select(*existing.columns))
    # tiebreak __op desc_nulls_last: a redelivered identical event (same
    # commit+offset as the stored row) deterministically resolves to the
    # incoming copy — same bytes either way, but the plan stays stable
    resolved = lww_winners(
        unioned, key_columns=keys, order_columns=["commit", "_ingest_offset"], tiebreak="__op"
    )
    # Winning tombstones are KEPT as _deleted rows (reads filter them
    # out), not physically dropped: the delete's (commit, offset) order
    # must survive the commit, or an out-of-order event in a LATER batch
    # carrying an OLDER commit would resurrect the key — cow and mor
    # both match the global-log oracle under arbitrary cross-batch
    # commit disorder. Under mor, tombstones age out via compaction's
    # commit watermark (see ReplayEngine.compact); under cow that path
    # is unreachable (cow buckets hold one file, never enough deltas to
    # trigger compaction), so the watermark is applied HERE, during the
    # rewrite the batch pays for anyway — otherwise cow tables would
    # accumulate and rewrite every deleted key forever.
    survivors = resolved.drop("__op")
    if tombstone_commit_watermark is not None:
        survivors = survivors.filter(
            (~F.col("_deleted")) | (F.col("commit") >= tombstone_commit_watermark)
        )
    return survivors
