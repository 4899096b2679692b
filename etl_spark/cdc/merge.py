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

The winner kernel is chosen once, by ``batch_winners``, from a key
upper bound. It is also the one place, in both modes, where a batch
gets its ``content_sha256``: the normalize+sha256 pandas_udf runs over
the batch's events before the kernel, in the scan's own tasks, so the
Python task count follows the batch's input splits, not
``num_buckets``. The agg kernels' map-side partial aggregation
collapses a hot key per input partition before the shuffle,
``lww_strategy='salted'`` pre-splits each key into ``SALT_PARTITIONS``
explicit partial groups (for payloads too wide for map-side combine to
absorb), and AQE skew-join splitting is enabled session-wide
(``etl_spark.session``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.cdc.lww import lww_winners, lww_winners_broadcast
from etl_spark.functions.normalize import with_content_sha256
from etl_spark.table.manifest import ManifestTable, Snapshot, bucket_expr

# lineage columns stored on every row (per-row lineage per north_rule)
LINEAGE_COLS = ["_ingest_offset", "_ingest_batch"]

# Above this many distinct keys in a batch, the broadcast LWW strategy
# automatically degrades to the hash aggregation instead of OOMing the
# driver: the winner-offset broadcast is ~8 B/key plus hashed-relation
# overhead, so 20M keys ~ hundreds of MB — near the default 8g driver's
# comfortable limit. Tunable per engine (``broadcast_key_budget``).
BROADCAST_KEY_BUDGET = 20_000_000

# lww_strategy='salted': explicit two-stage pre-split — each key is
# fanned into this many (key, salt) partial groups before the final
# per-key combine. For workloads whose payload rows are too wide for
# map-side combine to absorb a hot key (Spark spills the agg buffer and
# the hot key's rows all cross the shuffle anyway); 16 caps any single
# reducer at ~1/16 of the hottest key.
SALT_PARTITIONS = 16


def resolve_state(
    raw: DataFrame,
    lww_strategy: str = "agg",
    key_columns: list[str] | None = None,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Merge-on-read resolution: one LWW winner per key over base+delta
    rows, tombstones dropped (``keep_tombstones=True`` keeps the winning
    tombstone rows — the compaction path, which must preserve delete
    ORDER so an out-of-order event arriving after compaction still loses
    to the delete). Identical rule to the cow merge, so both modes
    replay a log to the exact same final state.

    Default strategy is the hash aggregation, NOT broadcast, because the
    read/compaction winner set equals the table's total live keys — it
    grows without bound as the table grows (unlike the per-batch merge
    broadcast) and would blow the driver budget at 10^10-event scale.
    max_by is also robust to byte-identical duplicate rows (a double-read
    WAL file appended twice under mor): it picks exactly one row per key
    even on order ties, where a broadcast equality join would return both."""
    if lww_strategy == "broadcast":
        resolved = lww_winners_broadcast(
            raw, key_columns=key_columns,
            order_columns=["commit", "_ingest_offset"],
        )
    else:
        # 'salted' actually forwards the salt (it used to silently run
        # the unsalted aggregation); winners are identical either way —
        # the salt only pre-splits hot keys before the shuffle
        resolved = lww_winners(
            raw, key_columns=key_columns,
            order_columns=["commit", "_ingest_offset"],
            salt=SALT_PARTITIONS if lww_strategy == "salted" else None,
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
    """THIN winner aggregate: keys + max (commit, offset, op) + event
    count. Parquet never reads content for it; `op` rides INSIDE the
    order struct (it can never flip the max: offset is unique per key),
    so this one tiny aggregate yields the winner offsets AND every
    stats/lineage counter."""
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


def batch_winners(
    batch_events: DataFrame,
    maxes: DataFrame,
    keys: list[str],
    lww_strategy: str,
    broadcast_key_budget: int,
    keys_upper_bound: int | None,
) -> tuple[DataFrame, str]:
    """One LWW winner per key of a batch, with its ``content_sha256``,
    and the kernel's name (``lww_path``: ``broadcast``, ``agg``,
    ``agg-fallback`` or ``agg-salted``). ``maxes`` is the batch's thin
    aggregate (``_thin_maxes``), built from the content-free events.

    The fingerprint is attached to the payload events BEFORE the
    kernel, so the pandas_udf runs in the tasks that scan the batch —
    a Python task per input split, not per bucket — and pays for the
    events that lose LWW too. After the kernel it would sit between
    the hash-agg kernels' aggregation and the bucket repartition,
    which Spark could then no longer elide: content would cross the
    shuffle twice.

    ``keys_upper_bound`` proves the winner broadcast fits the budget
    without a gating job: mor passes its events bound (distinct keys <=
    events, known arithmetically from the batch's offset range), cow
    the exact key count its stats job measured. Over budget or unknown,
    the broadcast strategy degrades to the hash aggregation instead of
    OOMing the driver (``agg-fallback``).

    The broadcast side is the winning OFFSET alone: WAL offsets are
    globally unique and the fence keeps re-deliveries out of the batch,
    so one long per key (~8 B/row, a LongHashedRelation built inside the
    consuming job's own broadcast stage) identifies the winning event —
    a malformed double-delivered batch would yield duplicate winners,
    which ``resolve_state``'s max_by collapses on read. The hash-agg
    kernel is max_by over full rows, map-side combined so a hot repo
    collapses before the shuffle; 'salted' adds an explicit (key, salt)
    pre-combine stage for payloads too wide for map-side combine."""
    batch_events = with_content_sha256(batch_events)
    if (
        lww_strategy == "broadcast"
        and keys_upper_bound is not None
        and keys_upper_bound <= broadcast_key_budget
    ):
        winner_offsets = maxes.select(F.col("__ord.offset").alias("__w_offset"))
        winners = batch_events.join(
            F.broadcast(winner_offsets), on=F.col("offset") == F.col("__w_offset")
        ).select(*batch_events.columns)
        return winners, "broadcast"
    if lww_strategy == "salted":
        return lww_winners(batch_events, key_columns=keys, salt=SALT_PARTITIONS), "agg-salted"
    winners = lww_winners(batch_events, key_columns=keys)
    return winners, "agg-fallback" if lww_strategy == "broadcast" else "agg"


def plan_mor_batch(
    snap: Snapshot,
    keys: list[str],
    batch_events: DataFrame,
    batch_id: int,
    lww_strategy: str = "broadcast",
    broadcast_key_budget: int = BROADCAST_KEY_BUDGET,
    events_upper_bound: int | None = None,
    delete_guard: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, str]:
    """Pure plan construction for one merge-on-read batch — NO Spark jobs
    run here. Returns ``(delta_plan, per_bucket_stats_plan, lww_path)``:
    the delta frame ready for ``write_delta_files`` (winners as rows,
    deletes as ``_deleted`` tombstones) and the independent thin
    stats/lineage rollup the caller collects concurrently.

    Nothing in the mor write needs the stats: the bucket set falls out
    of the append itself, and the winner kernel is chosen from
    ``events_upper_bound``. The winners arrive fingerprinted
    (``batch_winners``), so the write runs no Python. Under the
    hash-agg kernels, the winners exchange doubles as the bucket write
    exchange when shuffle.partitions == num_buckets."""
    if delete_guard is not None:
        batch_events = _demote_guarded(batch_events, keys, delete_guard)
    maxes_plan = _thin_maxes(batch_events, keys)
    per_bucket_plan = _bucket_rollup(maxes_plan, keys, snap.num_buckets)
    winners, lww_path = batch_winners(
        batch_events, maxes_plan, keys, lww_strategy, broadcast_key_budget,
        events_upper_bound,
    )
    source = _schema_projection(winners, snap, batch_id)
    delta = source.withColumn("_deleted", F.col("__op") == "D").drop("__op")
    return delta, per_bucket_plan, lww_path


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
) -> tuple[DataFrame, DataFrame, list, dict]:
    """Stage 1 of the cow plan: guard demotion, thin per-key maxes
    (~60 B/distinct key), and the per-bucket rollup that names the
    TOUCHED BUCKETS. Split out so the replay loop can learn a batch's
    bucket set — and decide whether it may overlap the batches already
    in flight — before any table state is read.

    Returns (guarded_events, maxes[cached], per_bucket_rows, stats)."""
    if delete_guard is not None:
        batch_events = _demote_guarded(batch_events, keys, delete_guard)
    maxes = _thin_maxes(batch_events, keys).cache()
    per_bucket = _bucket_rollup(maxes, keys, num_buckets).collect()
    return batch_events, maxes, per_bucket, _stats_from_rows(per_bucket)


def cow_batch_survivors(
    table: ManifestTable,
    snap: Snapshot,
    batch_events: DataFrame,
    maxes: DataFrame,
    stats: dict,
    batch_id: int,
    *,
    lww_strategy: str = "broadcast",
    broadcast_key_budget: int = BROADCAST_KEY_BUDGET,
    tombstone_commit_watermark: str | None = None,
) -> tuple[DataFrame, str]:
    """Stage 2 of the cow plan: LWW winners (fingerprinted by
    ``batch_winners``, as under mor), union with the touched buckets
    read from ``snap`` (stored rows carry their own fingerprint),
    global resolve, tombstone aging. Returns ``(survivors, lww_path)``
    — the frame ``write_rewrite_files`` consumes, and the winner
    kernel's name."""
    keys = table.key_columns
    # the winners resolve by the TABLE's key columns — a table keyed on
    # other columns must not fall back to the module default
    winners, lww_path = batch_winners(
        batch_events, maxes, keys, lww_strategy, broadcast_key_budget,
        stats["keys"],
    )
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
    return survivors, lww_path
