"""Table-to-table CDC chaining: tail one lake table's change feed into
another (the lake-as-changelog pattern — a downstream replica, regional
copy, or derived table kept in sync incrementally).

``propagate_changes`` reads the upstream table's rows committed since
the last propagated snapshot (``Engine.changes_between``), converts
them back into the binlog event envelope, and replays them into the
downstream engine as one batch, with the new watermark committed
ATOMICALLY in the same snapshot (``replay(extra_properties=...)``).
Exactly-once does NOT depend on the snapshot watermark: every
propagated row carries its ORIGINAL event offset (per-row lineage),
and the downstream engine's offset fence drops anything at or below
what it already applied — a whole re-propagation of an old window
replays as an empty batch. The watermark only bounds how much the
next cycle reads; committing it atomically with the batch also keeps
the BOOTSTRAP cycle crash-safe (a separate lose-able watermark commit
used to leave a crashed bootstrap looking like an expired-watermark
table that refuses to resync forever).

Mode notes: under mor the upstream feed is exact row-level deltas
(winners + tombstones). Under cow — and after mor compactions — added
files are whole rewritten buckets, so the feed echoes old rows too;
their old offsets land at or below the downstream fence and are
dropped, leaving exactly the new changes. Both modes converge to the
same downstream state.

Reference analog: the reference's jobs copy whole tables between
systems on every run (e.g. full-table SELECT + replace,
``src/sensum/sensum.py:104``); this is the incremental replacement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.cdc.replay import ReplayEngine, _applied_state

WATERMARK_PROP = "chain_src_version"


# engine-computed columns that must NOT ride the event envelope: the
# downstream engine recomputes/assigns its own (sha from content,
# lineage from the event offset/batch, tombstone flag from op)
_ENGINE_COLS = ("content_sha256", "_ingest_offset", "_ingest_batch", "_deleted")


def changes_to_events(changes: DataFrame, batch_id: int) -> DataFrame:
    """Convert a table change feed (rows with ``_deleted`` + lineage)
    back into the change-event envelope a ``ReplayEngine`` ingests.
    Tombstones become D events (content nulled when present); everything
    else U — the downstream LWW order ``(commit, offset)`` is carried
    through, so replaying preserves the upstream resolution exactly.

    Schema-generic: every non-engine column of the feed is forwarded
    (a flagship table's enrichment columns ride along), so the
    downstream table must share the upstream's payload schema —
    ``propagate_changes`` validates that before replaying."""
    payload = [c for c in changes.columns if c not in _ENGINE_COLS]
    cols = [
        F.col("_ingest_offset").alias("offset"),
        F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
    ]
    for c in payload:
        if c == "content":
            cols.append(
                F.when(F.col("_deleted"), F.lit(None).cast("string"))
                .otherwise(F.col("content"))
                .alias("content")
            )
        else:
            cols.append(F.col(c))
    cols.append(F.lit(batch_id).cast("int").alias("batch_id"))
    return changes.select(*cols)


def propagate_changes(src: ReplayEngine, dst: ReplayEngine) -> dict:
    """One incremental sync cycle from ``src``'s table into ``dst``.

    Reads upstream commits after the recorded watermark, replays them
    downstream as the next batch id; the new watermark rides in the
    batch's own commit (atomic — see module doc). If the batch was
    already applied (a retry after a crash between the batch commit
    and this call's return), nothing commits and the watermark stays
    behind; the NEXT cycle re-pulls the overlapping window, which the
    offset fence replays as an empty batch that carries the watermark
    forward. Returns ``{"src_version", "events", "batch_id",
    "skipped"}``.

    WAP-aware: the sync reads the upstream's PUBLISHED snapshot, never
    its staged tail — a downstream replica consuming commits that an
    audit later discards would hold rows the upstream never published
    (and the discard's rollback could not reach the replica). While an
    upstream staging window is open the cycle syncs up to the pinned
    base and reports that version; the staged window arrives in the
    first cycle after ``publish_staged``."""
    src_snap = src.table.published_snapshot()
    src_version = src_snap.version
    dst_snap = dst.table.current_snapshot()
    last = int(dst_snap.properties.get(WATERMARK_PROP, 0))
    if src_version <= last:
        return {"src_version": src_version, "events": 0, "batch_id": None, "skipped": True}

    # the downstream table must be able to hold every payload column the
    # feed carries — a silent column drop is a divergent replica
    # validate against the SAME snapshot the feed is read from — a
    # concurrent upstream commit (e.g. add_column) between two
    # current_snapshot() calls could otherwise demand a column the
    # replayed window doesn't carry
    src_payload = [
        c for c in src_snap.schema.names() if c not in _ENGINE_COLS
    ]
    missing = [c for c in src_payload if c not in set(dst_snap.schema.names())]
    if missing:
        raise ValueError(
            f"downstream table lacks upstream payload columns {missing}; "
            "create the downstream engine with matching target_columns"
        )

    # next downstream batch id = one past everything applied (watermark
    # prefix + residual window — the stored form is bounded, see replay.py)
    wm, residual = _applied_state(dst_snap.properties)
    applied = bool(residual) or wm >= 0
    batch_id = max([wm] + residual) + 1
    if last not in src.table._snapshot_versions():
        # the watermark snapshot was expired upstream: incremental diff
        # impossible. A downstream that never applied anything can
        # bootstrap from the full current state (its fence is empty, so
        # nothing is wrongly dropped); an already-populated downstream
        # must not — deletes between the expired watermark and now are
        # unrecoverable from the live state alone.
        if applied:
            raise ValueError(
                f"upstream snapshot {last} was expired; incremental sync "
                "impossible and the downstream already holds data — "
                "recreate the downstream (full resync) or expire less "
                "aggressively upstream (keep_last > sync interval)"
            )
        # read AT the pinned version, not published=True: a concurrent
        # upstream publish between the snapshot resolution above and
        # this read would otherwise feed the replica rows beyond the
        # watermark being recorded (re-pulled next cycle, deduped by the
        # fence — but the feed and the watermark must name ONE snapshot)
        feed = src.read_state(at_version=src_version).withColumn(
            "_deleted", F.lit(False)
        )
    else:
        feed = src.changes_between(last, src_version)
    events = changes_to_events(feed, batch_id)
    results = dst.replay(
        events, batches=[batch_id],
        extra_properties={WATERMARK_PROP: int(src_version)},
    )
    return {
        "src_version": src_version,
        "events": sum(r.get("rows_in", 0) for r in results),
        "batch_id": batch_id,
        "skipped": False,
    }
