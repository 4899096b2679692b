"""Batch replay loop: offsets -> evolution -> LWW -> MERGE -> fence -> metrics.

The engine replays a binlog/WAL-shaped change log as deterministic
micro-batches (Structured-Streaming-shaped semantics — offsets, fencing,
checkpoint resume — run as batch so a fixed log always replays to the
exact same final state).

Every entry point runs ONE ordered loop (``ReplayEngine._run``):
``replay(pipeline_depth=N)`` at depth N, ``apply_batch`` at depth 1, and
the streaming tail and table-to-table chain through those two. Per
batch: skip if applied -> plan -> submit the write -> drain in order
(metrics rows, then the atomic commit) -> maintenance at drained
points. The mode supplies its plan and its write/commit pair (mor:
append delta files; cow: rewrite the touched buckets). Empty batches,
batches carrying DDL, and the compaction and expiry ticks are barriers
that drain the pipeline. Every applied batch reports the same four
phases in ``timings_ms``: ``plan``, ``write``, ``stats_wait`` and
``commit``.

Exactly-once: every snapshot commit atomically records
``applied_batches`` + ``fence_offset`` in the snapshot properties; a
re-delivered batch is a no-op (idempotent), and resume-after-crash picks
up from the first unapplied batch. Reference analogs: 24h sliding pull
window (``src/jobs/sd_delta.py:31-32``), skip-if-already-applied
idempotency (``src/byggesager/byggesager.py:191-197``,
``src/jobs/byggesager_sbsys.py:35-44``), retry/resume
(``src/sensum/sensum.py:110-112``).

The bookkeeping is BOUNDED — O(1) in replay lifetime, not O(batches):
``applied_batches_watermark`` (all ids <= it are applied) plus a
normally-empty ``applied_batches`` residual list for out-of-order ids
above it encode the applied-batch set, and ``applied_schema_ops``
retains only op offsets above the committed ``fence_offset`` (an op is
applied in the same replay step that fences past its offset, so older
entries are redundant). A 10^4-batch replay therefore rewrites two
integers and two ~empty lists per snapshot instead of 10^4-element
lists — the same contiguous-prefix idea as the chain's offset fence.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.cdc.evolution import (
    apply_evolution_op,
    check_schema_ops,
    simulate_schema_ops,
)
from etl_spark.cdc.merge import (
    BROADCAST_KEY_BUDGET,
    _bucket_counters,
    _stats_from_rows,
    cow_batch_stats,
    cow_batch_survivors,
    plan_mor_batch,
    resolve_state,
)
from etl_spark.functions.normalize import with_content_sha256
from etl_spark.schema import INGEST_METRICS_SCHEMA
from etl_spark.table.manifest import (
    WAP_BASE_PROP,
    WAP_STAGED_PROP,
    ColumnDef,
    ManifestTable,
    TableSchema,
)

# target table schema v1: input_hint columns + fingerprint + per-row
# lineage + the merge-on-read tombstone flag (always False in cow mode)
CDC_TARGET_COLUMNS = [
    ColumnDef(1, "repo", "string"),
    ColumnDef(2, "path", "string"),
    ColumnDef(3, "commit", "string"),
    ColumnDef(4, "lang", "string"),
    ColumnDef(5, "content", "string"),
    ColumnDef(6, "content_sha256", "string"),
    ColumnDef(7, "_ingest_offset", "long"),
    ColumnDef(8, "_ingest_batch", "int"),
    ColumnDef(9, "_deleted", "boolean", default=False),
]


def _applied_state(props: dict) -> tuple[int, list[int]]:
    """(watermark, residual ids above it) — together they encode the
    applied-batch set: applied(b) iff b <= watermark or b in residual."""
    return (
        int(props.get("applied_batches_watermark", -1)),
        [int(b) for b in props.get("applied_batches", [])],
    )


def _is_applied(watermark: int, residual: list[int], batch_id: int) -> bool:
    return batch_id <= watermark or batch_id in residual


def contract_null_aggs(key_columns: list[str]) -> list:
    """Per-batch NULL counts for the WAL contract columns, shaped to fold
    into an EXISTING aggregation (no extra pass over the log):
    ``count(*) - count(col)`` per column. Contract columns are ``offset``
    (a NULL offset can neither advance nor respect the exactly-once
    fence — the event is silently dropped or double-applied on resume),
    ``op`` (unclassifiable: the merge's I/U/D routing silently discards
    it), and every key column (a NULL key row can never be matched by a
    later upsert or delete — NULL != NULL in the merge's key join — so
    it would accumulate as unreachable data). ``commit`` is deliberately
    NOT a contract column: a NULL commit is orderable (it loses to every
    non-NULL commit, identically in all three LWW strategies) and is
    allowed through."""
    cols = ["offset", "op", *key_columns]
    return [
        (F.count(F.lit(1)) - F.count(c)).alias(f"__nulls_{c}") for c in cols
    ]


def check_contract_nulls(row, key_columns: list[str], batch_id) -> None:
    """Raise loudly if ``row`` (from an agg extended with
    ``contract_null_aggs``) recorded NULLs in any contract column."""
    bad = {
        c: int(row[f"__nulls_{c}"])
        for c in ["offset", "op", *key_columns]
        if row[f"__nulls_{c}"]
    }
    if bad:
        raise ValueError(
            f"batch {batch_id} violates the WAL contract: NULL values in "
            f"{bad} (column: count). NULL keys can never be upserted or "
            "deleted again (NULL != NULL in the merge join), a NULL "
            "offset breaks the exactly-once fence, and a NULL op cannot "
            "be classified — each would be silent data corruption or "
            "loss. Clean or reject these events upstream."
        )


def check_wal_shape(
    bounds: dict, batches, watermark: int, residual: list[int],
    fence: int | None = None,
) -> None:
    """Refuse the three silent-data-loss feed shapes: batch offset ranges
    that do not ascend with batch ids (the offset fence would drop whole
    batches), application of a never-applied batch below an
    already-applied id (its events are at/below the committed fence),
    and — when ``fence`` is given — events arriving for an
    ALREADY-APPLIED batch id above the committed fence (a "reopened"
    batch: a previous run treated end-of-log as batch close while the
    producer was still appending; the id-level skip would discard the
    late tail with no error). Shared by ``ReplayEngine.replay`` and the
    streaming tail."""
    max_applied = max([watermark] + [int(x) for x in residual])
    prev_b = prev_hi = None
    for b in sorted(batches):
        lo, hi = bounds.get(b, (None, None))
        if lo is None:
            continue
        if prev_hi is not None and int(lo) <= int(prev_hi):
            raise ValueError(
                f"changelog is not WAL-shaped: batch {b} offset range "
                f"[{lo}, {hi}] overlaps or precedes batch {prev_b} "
                f"(ends at {prev_hi}) — batch ids must ascend with "
                "offsets, or the offset fence silently drops whole "
                "batches"
            )
        prev_b, prev_hi = b, hi
        if b < max_applied and not _is_applied(watermark, residual, b):
            raise ValueError(
                f"out-of-order batch application: batch {b} was never "
                f"applied but batch {max_applied} already was — the "
                f"committed offset fence is past batch {b}'s events, "
                "so applying it now would silently drop them. Apply "
                "batches in ascending id order."
            )
        if (
            fence is not None
            and _is_applied(watermark, residual, b)
            and int(hi) > int(fence)
        ):
            raise ValueError(
                f"batch {b} was already applied and fenced at offset "
                f"{fence}, but new events up to offset {hi} arrived under "
                "the same batch id — the WAL reopened a closed batch "
                "(e.g. an availableNow run drained while the producer was "
                "still appending this batch's files). The id-level "
                "exactly-once skip would silently discard the late tail; "
                "re-emit those events under a NEW batch id instead."
            )


@contextmanager
def _shuffle_partitions(spark: SparkSession, n: int):
    """The engine's one override of ``spark.sql.shuffle.partitions``.
    With it equal to the bucket count (times the write fan-out), the LWW
    aggregation's exchange IS the bucket write exchange: the writer's
    repartition to the same count on the same keys is elided, so content
    crosses the network once. Session conf is shared state, so the value
    is restored on every exit path. Cross-session exposure is the
    documented single-logical-writer assumption; give the engine a
    dedicated ``spark.newSession()`` to isolate it from other
    workloads."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _timed(fn):
    t = time.monotonic()
    out = fn()
    return out, int((time.monotonic() - t) * 1000)


def _check_staged(snap):
    """``snap`` if it has a WAP staging window open, else refuse. The
    window's base is read from this same snapshot, never a second read."""
    if snap.properties.get(WAP_STAGED_PROP) != "true":
        raise ValueError("no WAP staging window is open")
    return snap


def _compact_applied(watermark: int, ids) -> tuple[int, list[int]]:
    """Advance the contiguous-prefix watermark over ``ids`` and return
    (new watermark, sorted residual ids still above it). Batch ids are
    applied 0,1,2,... in the common case, so the residual is normally
    empty and every snapshot carries O(1) bookkeeping bytes regardless
    of how many batches the table has ever ingested."""
    s = sorted({int(i) for i in ids if int(i) > watermark})
    k = 0
    while k < len(s) and s[k] == watermark + 1:
        watermark += 1
        k += 1
    return watermark, s[k:]


class ReplayEngine:
    """``mode='cow'`` rewrites touched buckets per batch (resolution-free
    reads); ``mode='mor'`` appends delta files per batch (O(batch) writes
    — the hot-skew scale path) and resolves on read, compacting a bucket
    whenever its file count reaches ``compact_threshold``."""

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        num_buckets: int = 16,
        mode: str = "cow",
        compact_threshold: int = 8,
        lww_strategy: str = "broadcast",
        broadcast_key_budget: int | None = None,
        target_columns: list[ColumnDef] | None = None,
        key_columns: list[str] | None = None,
        tombstone_commit_watermark: str | None = None,
        compact_delta_fraction: float | None = None,
        compact_sort: bool = True,
        stats_columns: list[str] | None = None,
        expire_every: int | None = None,
        expire_keep_last: int = 5,
    ):
        """``target_columns``/``key_columns`` customize the v1 table shape
        (default: the north-rule source-code schema keyed on (repo,
        path)) — composed pipelines (e.g. the sd-delta flagship) carry
        extra enrichment columns on the wire that land as first-class
        table columns. The four computed columns (content_sha256 +
        lineage + tombstone) are appended automatically if absent.

        ``tombstone_commit_watermark``: the ingest's disorder bound — no
        future event may carry a commit strictly below it. When set,
        stored tombstones older than the watermark are aged out: under
        cow at each bucket rewrite, under mor at each compaction. Without
        it tombstones are retained indefinitely (always correct, but
        unbounded storage for delete-heavy feeds).

        ``compact_delta_fraction``: when set, the replay loop's automatic
        compaction only folds buckets whose delta bytes reach this
        fraction of their base (see ``compact``'s
        ``min_delta_fraction``) — the production setting for long-running
        ingests, where rewriting every base each ``compact_threshold``
        batches is O(table) write amplification per cycle.

        ``compact_sort``: compaction rewrites sort each output file by
        the key columns (``sortWithinPartitions`` — a per-task sort, no
        extra exchange). Sorted files give every parquet row group a
        tight key min/max range, so pushed key predicates (point
        lookups, ``read_state(where=...)``) skip row groups inside the
        key's bucket — the Iceberg sort-order analog. The one-time sort
        cost is paid at compaction where it amortizes over reads.

        ``stats_columns`` (create-time only): extra columns tracked for
        file-entry min/max statistics beyond the key columns — e.g.
        ``["commit"]`` lets ``read_state(where=[("commit", ">=", …)])``
        prune whole entries.

        ``expire_every``: opt-in automatic retention — every N applied
        batches the replay loop calls ``expire_snapshots(keep_last=
        expire_keep_last)`` (snapshot expiry + manifest-shard GC +
        orphan-data vacuum), so a 10^4-commit ingest doesn't accumulate
        10^4 snapshots until an operator intervenes. Runs only at
        pipeline-drained points (expiry vacuums data dirs referenced by
        no surviving snapshot — an in-flight written-but-uncommitted
        batch's dir must not exist when it scans). Time travel remains
        available for the newest ``expire_keep_last`` snapshots; reads
        beyond retention raise the documented ValueError
        (``read_state(at_version=…)``). Off (None) by default."""
        assert mode in ("cow", "mor")
        assert lww_strategy in ("broadcast", "agg", "salted")
        self.spark = spark
        self.table_root = table_root
        self.num_buckets = num_buckets
        self.mode = mode
        self.compact_threshold = compact_threshold
        self.lww_strategy = lww_strategy
        self.broadcast_key_budget = (
            BROADCAST_KEY_BUDGET if broadcast_key_budget is None else broadcast_key_budget
        )
        self.tombstone_commit_watermark = tombstone_commit_watermark
        self.compact_delta_fraction = compact_delta_fraction
        self.compact_sort = compact_sort
        if expire_every is not None and expire_every < 1:
            raise ValueError("expire_every must be >= 1 (or None to disable)")
        self.expire_every = expire_every
        self.expire_keep_last = expire_keep_last
        self._commits_since_expire = 0
        # content fingerprint of the last ops feed that passed the full
        # contract check + dry run — see _check_ops_feed
        self._validated_ops_key: tuple | None = None
        keys = list(key_columns or ["repo", "path"])
        cols = [ColumnDef(c.id, c.name, c.type, c.default) for c in (target_columns or CDC_TARGET_COLUMNS)]
        have = {c.name for c in cols}
        computed = [
            ("content_sha256", "string", None),
            ("_ingest_offset", "long", None),
            ("_ingest_batch", "int", None),
            ("_deleted", "boolean", False),
        ]
        next_id = max(c.id for c in cols) + 1
        for name, typ, default in computed:
            if name not in have:
                cols.append(ColumnDef(next_id, name, typ, default))
                next_id += 1
        if ManifestTable.exists(table_root):
            self.table = ManifestTable(spark, table_root, keys)
            # a mor table attached as cow reads RAW base+delta rows —
            # silent duplicates and stale versions, no error. Refuse the
            # mismatch instead (legacy tables without the property are
            # accepted as-is).
            props = self.table.current_snapshot().properties
            recorded = props.get("engine_mode")
            if recorded and recorded != mode:
                raise ValueError(
                    f"table at {table_root!r} was written in mode={recorded!r}; "
                    f"attaching with mode={mode!r} would mis-read it. Pass the "
                    "recorded mode (see ReplayEngine.attach)."
                )
            if stats_columns is not None and ",".join(stats_columns) != props.get(
                "stats_columns", ""
            ):
                raise ValueError(
                    "stats_columns is a CREATE-time knob; this existing table "
                    f"records {props.get('stats_columns', '')!r}. Passing a "
                    "different value here would be silently ignored — attach "
                    "without it, or set the 'stats_columns' table property "
                    "explicitly (affects future commits only)."
                )
        else:
            self.table = ManifestTable.create(
                spark,
                table_root,
                TableSchema(cols),
                key_columns=keys,
                num_buckets=num_buckets,
                properties={"applied_batches": [], "applied_batches_watermark": -1,
                            "applied_schema_ops": [],
                            "fence_offset": -1, "engine_mode": mode,
                            **({"stats_columns": ",".join(stats_columns)}
                               if stats_columns else {})},
            )
        self._metrics_dir = os.path.join(table_root, "_ingest_metrics")

    @staticmethod
    def attach(spark: SparkSession, table_root: str, **kwargs) -> "ReplayEngine":
        """Attach to an EXISTING table using its RECORDED layout — mode
        and key columns both come from the table's own properties, so
        this is the safe way to open a table you didn't just create
        (constructing with wrong keys mis-buckets merges; wrong mode
        mis-reads mor tables — both are refused by the constructor).

        A ``mode`` kwarg is treated as a HINT, not an override: it is
        refused if it conflicts with the recorded mode (never silently
        ignored), and it decides the mode only for legacy tables that
        predate the ``engine_mode`` property. With no recording and no
        hint the fallback is ``mor`` — the safe direction: a mor read of
        a cow table just resolves a delta-less base (identity), whereas
        a cow read of a mor table silently returns raw base+delta rows."""
        if not ManifestTable.exists(table_root):
            raise ValueError(f"no table at {table_root!r}")
        props = ManifestTable.peek_properties(table_root)
        hint = kwargs.pop("mode", None)
        recorded = props.get("engine_mode")
        if recorded and hint and hint != recorded:
            raise ValueError(
                f"table at {table_root!r} records engine_mode={recorded!r}; "
                f"the requested mode={hint!r} conflicts. Attach without a "
                "mode (the recorded one wins) or pass the recorded mode."
            )
        kwargs.pop("key_columns", None)
        return ReplayEngine(
            spark, table_root,
            mode=recorded or hint or "mor",
            key_columns=props.get("key_columns"),
            **kwargs,
        )

    # ---------- bookkeeping ----------

    def applied_batches(self) -> list[int]:
        """All applied batch ids, reconstructed from the watermark plus
        the residual out-of-order window (the stored form is O(1), not
        O(lifetime); this accessor materializes the full list)."""
        wm, residual = _applied_state(self.table.current_snapshot().properties)
        return list(range(wm + 1)) + residual

    def fence_offset(self) -> int:
        return int(self.table.current_snapshot().properties.get("fence_offset", -1))

    # ---------- write-audit-publish (WAP) ----------

    def staged(self) -> bool:
        """True while a WAP staging window is open (commits land in the
        history but published readers resolve the pinned base)."""
        return (
            self.table.current_snapshot().properties.get(WAP_STAGED_PROP) == "true"
        )

    def stage_begin(self) -> int:
        """Open a write-audit-publish window (Iceberg's WAP pattern —
        the production gate for CDC ingest: land a batch, audit the
        NEW state, only then let readers see it).

        One metadata-only commit pins the current version as the
        published base; because snapshot properties carry forward
        through every commit kind, ALL subsequent commits (data,
        compaction, DDL, retention) inherit the staged flag with zero
        changes to their write paths. While staged:

        - ``read_state()`` (and audits) see the STAGED state — that is
          what the audit must inspect;
        - ``read_state(published=True)`` / ``published_snapshot()``
          serve the pinned base — what downstream readers should use;
        - ``publish_staged()`` makes the staged commits visible
          atomically (one flag-clearing commit);
        - ``discard_staged()`` rolls back to the base; the restored
          fence properties make the engine re-accept the discarded
          offsets, so the fixed feed simply replays.

        Returns the pinned base version. Nested staging is refused —
        one audit window at a time; resumable callers check
        ``staged()`` first (a crashed stager's window is still open and
        still discardable)."""
        # base version computed against EACH commit attempt's snapshot
        # (update_properties' compute contract): pinning a version read
        # BEFORE the staging commit would, on a conflict retry against a
        # concurrent commit, record a base BELOW that already-published
        # commit — published readers would move backward and discard
        # would roll back a commit that was never staged
        def _compute(snap) -> tuple[dict, tuple]:
            if snap.properties.get(WAP_STAGED_PROP) == "true":
                raise ValueError(
                    "a WAP staging window is already open (base version "
                    f"{snap.properties[WAP_BASE_PROP]}); publish_staged() "
                    "or discard_staged() first"
                )
            return {WAP_STAGED_PROP: "true", WAP_BASE_PROP: str(snap.version)}, ()

        new = self.table.update_properties(compute=_compute)
        return int(new.properties[WAP_BASE_PROP])

    def publish_staged(self) -> int:
        """Atomically publish every commit staged since ``stage_begin``:
        one metadata-only commit clears the staged flag, and published
        readers move from the pinned base to the full history in one
        step. Returns the newly published version."""
        # the window must still be open in EACH commit attempt's
        # snapshot: a concurrent discard landing between a pre-check and
        # the commit would otherwise "publish" a discarded window
        def _compute(snap) -> tuple[dict, tuple]:
            _check_staged(snap)
            return {}, (WAP_STAGED_PROP, WAP_BASE_PROP)

        return self.table.update_properties(compute=_compute).version

    def discard_staged(self) -> int:
        """Reject the staged window: roll back to the pinned base
        (metadata-only — data files are immutable and orphans are
        vacuumed by retention). The restored snapshot carries the
        base's fence/applied properties, so the engine re-accepts the
        discarded batches' offsets — fix the feed and replay. Returns
        the restored (published) version."""
        snap = _check_staged(self.table.current_snapshot())
        return self.table.rollback(int(snap.properties[WAP_BASE_PROP])).version

    def audit_staged(
        self,
        max_row_growth: float | None = None,
        max_row_shrink: float | None = None,
        allow_schema_change: bool = True,
        count_rows: bool = True,
    ) -> dict:
        """Built-in audit of an open WAP window: staged state vs the
        published base. Returns a verdict dict — the caller publishes
        on ``ok`` and discards otherwise (the CLI ``audit`` verb turns
        ``ok`` into the exit code so ``replay --wap-stage && audit &&
        publish || discard`` is a complete gated pipeline).

        Checks (each opt-in, unset = recorded but never failing):
        - ``max_row_growth`` / ``max_row_shrink``: bound the live
          row-count delta as a fraction of the base (a replay that
          doubles or empties the table is usually a bad feed, not a
          bad day). Needs one state read per side — a real table scan,
          the price of a row-level audit; ``count_rows=False`` skips
          both reads for a metadata-only audit.
        - ``allow_schema_change=False``: refuse a window whose DDL
          changed the schema version (pure metadata).

        The verdict always records base/staged versions, schema
        change, and the manifest's file/byte deltas (metadata-only,
        from the document summaries — no shard hydration) so an
        operator sees WHAT the window did even when every check
        passes."""
        if not count_rows and (
            max_row_growth is not None or max_row_shrink is not None
        ):
            # a bound the caller asked for must never pass vacuously:
            # count_rows=False skips the reads the bounds need, so the
            # combination would publish exactly the window the operator
            # tried to gate
            raise ValueError(
                "max_row_growth/max_row_shrink require count_rows=True "
                "(a metadata-only audit cannot check row bounds)"
            )
        snap = _check_staged(self.table.current_snapshot())
        base = self.table.snapshot_at(int(snap.properties[WAP_BASE_PROP]))

        base_files, _, base_bytes, _ = self.table.summary_totals(base)
        staged_files, _, staged_bytes, _ = self.table.summary_totals(snap)
        schema_changed = (
            snap.current_schema_version != base.current_schema_version
        )
        out: dict = {
            "base_version": base.version,
            "staged_version": snap.version,
            "schema_changed": schema_changed,
            "files_delta": staged_files - base_files,
            "bytes_delta": staged_bytes - base_bytes,
        }
        failures: list[str] = []
        if count_rows:
            base_rows = self.read_state(published=True).count()
            staged_rows = self.read_state().count()
            growth = (staged_rows - base_rows) / max(base_rows, 1)
            out.update(
                base_rows=base_rows, staged_rows=staged_rows,
                row_growth=round(growth, 6),
            )
            if max_row_growth is not None and growth > max_row_growth:
                failures.append(
                    f"row growth {growth:.4f} exceeds max_row_growth "
                    f"{max_row_growth} ({base_rows} -> {staged_rows})"
                )
            if max_row_shrink is not None and -growth > max_row_shrink:
                failures.append(
                    f"row shrink {-growth:.4f} exceeds max_row_shrink "
                    f"{max_row_shrink} ({base_rows} -> {staged_rows})"
                )
        if not allow_schema_change and schema_changed:
            failures.append(
                f"schema version changed {base.current_schema_version} -> "
                f"{snap.current_schema_version} with allow_schema_change=False"
            )
        out["failures"] = failures
        out["ok"] = not failures
        return out

    def _append_metrics_row(self, batch_id, rows_in, upserts, deletes, distinct_keys, n_ops, duration_ms):
        """One-row lineage record per batch — written driver-side with
        pyarrow (a Spark job for one row costs seconds of fixed overhead
        per batch, which at 10^10 events is pure lost throughput). The
        directory stays a plain parquet dataset readable by spark.read."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "batch_id": pa.array([batch_id], pa.int32()),
                "rows_in": pa.array([rows_in], pa.int64()),
                "upserts": pa.array([upserts], pa.int64()),
                "deletes": pa.array([deletes], pa.int64()),
                "distinct_keys": pa.array([distinct_keys], pa.int64()),
                "schema_ops": pa.array([n_ops], pa.int32()),
                "duration_ms": pa.array([duration_ms], pa.int64()),
            }
        )
        os.makedirs(self._metrics_dir, exist_ok=True)
        pq.write_table(table, os.path.join(self._metrics_dir, f"batch-{batch_id:08d}.parquet"))

    def _applied_rows(self, d: str, schema) -> DataFrame:
        """The parquet rows under ``d`` of batches the current snapshot
        marks applied. Rows are written BEFORE their batch's commit, so a
        batch whose commit failed (or was rolled back) may have rows on
        disk; they stay hidden until a retry commits the batch."""
        if not os.path.isdir(d) or not os.listdir(d):
            return self.spark.createDataFrame([], schema)
        wm, residual = _applied_state(self.table.current_snapshot().properties)
        applied = F.col("batch_id") <= wm
        if residual:
            applied = applied | F.col("batch_id").isin(residual)
        return self.spark.read.parquet(d).filter(applied)

    def metrics(self) -> DataFrame:
        """One row per applied batch: event/upsert/delete/key counts,
        schema ops, and ``duration_ms`` from plan start until the row was
        written (just before the batch's commit)."""
        return self._applied_rows(self._metrics_dir, INGEST_METRICS_SCHEMA)

    def bucket_metrics(self) -> DataFrame:
        """Per-(batch, bucket) lineage: key/event/delete counts for every
        key-partition each applied batch touched (north_rule
        per-partition metrics; sums reconcile with ``metrics()``)."""
        return self._applied_rows(
            self._metrics_dir + "_buckets",
            "batch_id int, bucket int, keys long, events long, deletes long",
        )

    def _append_bucket_metrics(self, batch_id: int, per_bucket: list[dict]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not per_bucket:
            return
        d = self._metrics_dir + "_buckets"
        os.makedirs(d, exist_ok=True)
        table = pa.table(
            {
                "batch_id": pa.array([batch_id] * len(per_bucket), pa.int32()),
                "bucket": pa.array([r["bucket"] for r in per_bucket], pa.int32()),
                "keys": pa.array([r["keys"] for r in per_bucket], pa.int64()),
                "events": pa.array([r["events"] for r in per_bucket], pa.int64()),
                "deletes": pa.array([r["deletes"] for r in per_bucket], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(d, f"batch-{batch_id:08d}.parquet"))

    def read_state(
        self,
        where: list[tuple] | None = None,
        columns: list[str] | None = None,
        at_version: int | None = None,
        published: bool = False,
        at_tag: str | None = None,
    ) -> DataFrame:
        """Current table state. In mor mode, resolves base+delta files
        with the same LWW rule the merge uses and drops tombstones; in
        cow mode files already hold exactly one live row per key.

        ``where`` (``[(col, op, value)]``, see ``ManifestTable.read``)
        turns on manifest-stats data skipping. The predicate list is
        SPLIT for mor correctness: key-column predicates push into the
        pruned scan (every row of a key shares its key values, so whole
        key groups survive or drop together — filtering commutes with
        per-key LWW resolution), while value-column predicates prune the
        scan only in cow mode (files already resolved) and otherwise
        apply AFTER resolution — a value predicate pushed below the
        resolve could drop a key's winning row and resurrect an older
        one.

        ``columns`` projects the result — and, crucially, projects
        BELOW the mor resolve: the LWW ``max_by`` packs only the
        requested columns (plus keys/order internally), so the parquet
        scan never reads the others. Asking for keys only on a content
        table skips the content bytes entirely — the difference between
        a metadata-sized and a table-sized job at 100 TB.

        ``at_version`` time-travels: the state AS OF that snapshot
        version (mor resolves the files that snapshot listed; data
        files are immutable, so any retained snapshot replays its exact
        historical state — expire with ``keep_last`` sized to how far
        back you need to look).

        ``published`` resolves the WAP-published snapshot instead of
        the current one: identical to the default outside a staging
        window, the pinned audit base inside one (what downstream
        readers should consume while an audit holds the gate).

        ``at_tag`` time-travels by NAME (``ManifestTable.tag``): the
        tagged version is exempt from retention for as long as the tag
        exists, so tag-addressed reads cannot race an expiry tick the
        way raw-version travel can."""
        preds = list(where or [])
        bad_ops = sorted({op for _, op, _ in preds} - {"=", "<", "<=", ">", ">=", "in"})
        if bad_ops:
            raise ValueError(
                f"unsupported where ops {bad_ops}; supported: = < <= > >= in"
            )
        if sum([published, at_version is not None, at_tag is not None]) > 1:
            raise ValueError(
                "published=True, at_version and at_tag are mutually exclusive"
            )
        snap = self.table.published_snapshot() if published else None
        if at_tag is not None:
            snap = self.table.snapshot_at_tag(at_tag)
        if at_version is not None:
            try:
                snap = self.table.snapshot_at(at_version)
            except FileNotFoundError:
                raise ValueError(
                    f"no snapshot at version {at_version}: it never existed or "
                    "was expired (size expire_snapshots keep_last to the "
                    "history you need; retained versions: "
                    f"{self.table._snapshot_versions()})"
                ) from None
        keyset = set(self.table.key_columns)
        key_preds = [p for p in preds if p[0] in keyset]
        rest = [p for p in preds if p[0] not in keyset]
        if columns is not None:
            target = snap or self.table.current_snapshot()
            valid = set(target.schema.names()) - {"_deleted"}
            unknown = [c for c in columns if c not in valid]
            if unknown:
                raise ValueError(f"columns not in table state: {unknown}")
        if self.mode == "mor":
            raw = self.table.read(where=key_preds or None, snapshot=snap)
            if columns is not None:
                needed = dict.fromkeys(
                    self.table.key_columns
                    + ["commit", "_ingest_offset", "_deleted"]
                    + [c for c, _, _ in rest]
                    + list(columns)
                )
                raw = raw.select(*needed)
            # read path always resolves with the hash-agg kernel: the
            # winner set here is ALL live keys (grows with the table, not
            # the batch), so the merge-side broadcast strategy must not
            # leak into reads — see resolve_state's docstring
            out = resolve_state(raw, key_columns=self.table.key_columns).drop("_deleted")
            if rest:
                out = out.filter(ManifestTable._where_to_column(rest))
            return out.select(*columns) if columns is not None else out
        raw = self.table.read(where=preds or None, snapshot=snap)
        out = raw.filter(~F.col("_deleted")).drop("_deleted")
        return out.select(*columns) if columns is not None else out

    def rebucket(self, new_num_buckets: int) -> None:
        """Evolve the table's bucket layout (e.g. 16 -> 256 as the table
        grows). One atomic O(table) rewrite — schedule like a major
        compaction; replay batches before and after use whichever layout
        their snapshot records. Write fan-out and key sorting follow the
        engine's compaction policy. (No shuffle-partition juggling here:
        unlike compaction, the rebucket plan has no upstream aggregation
        exchange to fuse — it is scan -> one explicit repartition ->
        write, see BENCH/PLANS.md.)"""
        from etl_spark.table.manifest import compact_fanout

        snap = self.table.current_snapshot()
        sizes = self.table.bucket_bytes(per_bucket=True, snapshot=snap)
        total = sum(sizes.values())
        # the SNAPSHOT's bucket count, not the count of non-empty
        # buckets: with many empty buckets the latter underestimates
        # old_n and shrinks projected_max / the write fan-out
        old_n = max(1, snap.num_buckets)
        # fan-out sized from the PROJECTED max new bucket, not the mean
        # (compact_fanout's contract): the mean floor plus the hottest
        # old bucket's bytes spread over its share of new buckets. A
        # single hot KEY cannot split across buckets, so true worst case
        # can exceed this — the projection is the best available without
        # key-level stats.
        mean_new = -(-int(total) // max(1, new_num_buckets))
        max_old = max(sizes.values(), default=0)
        projected_max = max(
            mean_new, -(-int(max_old) * old_n // max(1, new_num_buckets))
        )
        self.table.rebucket(
            new_num_buckets,
            files_per_bucket=compact_fanout(projected_max),
            sort_columns=self.table.key_columns if self.compact_sort else None,
        )

    def describe(self) -> dict:
        """Metadata-only operational summary — zero Spark jobs, zero
        file reads: everything comes from the manifest's recorded
        bytes/rows/kinds. At 100 TB, "how big is my table / how skewed
        are my buckets / how much delta debt do I carry" must be a
        manifest read, not a query. ``rows_in_files`` counts RAW stored
        rows (old versions + tombstones included under mor); the live
        row count is a query (``read_state().count()``) by nature."""
        snap = self.table.current_snapshot()
        per_bucket = self.table.bucket_summary(snap)
        tot_bytes = sum(p["bytes"] for p in per_bucket)
        max_bytes = max((p["bytes"] for p in per_bucket), default=0)
        return {
            "version": snap.version,
            "schema_version": snap.current_schema_version,
            "columns": snap.schema.names(),
            "num_buckets": snap.num_buckets,
            "mode": snap.properties.get("engine_mode"),
            "key_columns": snap.properties.get("key_columns"),
            "buckets_with_data": len(per_bucket),
            "files": sum(p["files"] for p in per_bucket),
            "bytes": tot_bytes,
            "rows_in_files": sum(p["rows"] for p in per_bucket),
            "delta_files": sum(p["delta_files"] for p in per_bucket),
            # max-bucket share vs perfectly uniform over the FULL layout
            # (1.0 = uniform; empty buckets COUNT — all data in one of 16
            # buckets is skew 16, not 1). The wave-quantization / hot-key
            # early-warning number.
            "bucket_skew": (
                max_bytes * snap.num_buckets / tot_bytes if tot_bytes else 0.0
            ),
            "fence_offset": int(snap.properties.get("fence_offset", -1)),
            "applied_batches": (
                int(snap.properties.get("applied_batches_watermark", -1))
                + 1
                + len(snap.properties.get("applied_batches", []))
            ),
            "wap_staged": snap.properties.get(WAP_STAGED_PROP) == "true",
            "published_version": (
                int(snap.properties[WAP_BASE_PROP])
                if snap.properties.get(WAP_STAGED_PROP) == "true"
                else snap.version
            ),
        }

    def lookup(self, **key_values) -> DataFrame:
        """Point lookup: the current live row for one fully-specified
        key. Plans a SINGLE bucket (the key's hash bucket) and prunes
        its entries by recorded stats before Spark ever sees a file —
        the O(1-bucket) read path a 100 TB table needs for key probes."""
        missing = [k for k in self.table.key_columns if k not in key_values]
        if missing:
            raise ValueError(f"lookup requires all key columns; missing {missing}")
        return self.read_state(
            where=[(k, "=", key_values[k]) for k in self.table.key_columns]
        )

    def _check_ops_feed(self, ops_rows, snap) -> None:
        """Contract-check + dry-run a schema-ops feed, once per feed
        CONTENT and table schema version: the validation launches driver
        Spark jobs (default casts via ``validate_column_type``), so
        re-running it for every batch of a replay — and every
        micro-batch of a stream — would put N tiny jobs on the hot loop
        for a feed already proven valid. Keyed by the collected rows'
        values (not object identity), so any changed feed re-validates
        and a re-used engine can never skip a different feed's check;
        and by the schema version, so a schema changed out of band
        re-runs the dry run before any op commits. Not by the fence: it
        moves every batch, so keying on it would re-validate on every
        batch of a trickle."""
        # sort key must tolerate the NULL fields the contract check
        # exists to refuse (None < int comparisons raise before the
        # loud refusal could fire)
        key = (snap.current_schema_version, tuple(
            sorted(
                ((r["offset"], r["kind"], r["column"], r["detail"]) for r in ops_rows),
                key=lambda t: tuple((v is None, v) for v in t),
            )
        ))
        if key == self._validated_ops_key:
            return
        fence = int(snap.properties.get("fence_offset", -1))
        applied = snap.properties.get("applied_schema_ops", [])
        check_schema_ops(
            ops_rows, self.table.key_columns,
            fence=fence, applied_offsets=applied,
        )
        simulate_schema_ops(
            [(c.name, c.type) for c in snap.schema.columns],
            ops_rows, fence=fence, applied_offsets=applied,
            spark=self.spark,
        )
        self._validated_ops_key = key

    def changes_between(self, from_version: int, to_version: int) -> DataFrame:
        """Incremental change feed FROM the table (C1 as a table-side
        reader): rows committed between two snapshot versions. Exact
        row-level deltas under mor (appended winners + tombstones);
        bucket post-images under cow — see ``ManifestTable.read_changes``."""
        return self.table.read_changes(from_version, to_version)

    def compact(
        self,
        min_files: int = 2,
        tombstone_commit_watermark: str | None = None,
        min_delta_fraction: float | None = None,
    ) -> list[int]:
        """Fold delta files back into one base file per bucket (one LWW
        winner per key, the map-side-combined hash agg — needs no
        driver-side winner set, so it is safe at any table size; a
        winner-offset-broadcast variant was measured and did NOT beat it
        here: compaction reads ~winner-width rows anyway once deltas are
        folded regularly, and the agg's exchange doubles as the bucket
        write exchange below). Returns the buckets compacted.

        Winning tombstones are RETAINED by default: dropping a delete
        also drops its (commit, offset) order, so a straggler event with
        an older commit arriving after compaction would resurrect the
        key. With ``tombstone_commit_watermark`` (the ingest's disorder
        bound — no future event may carry a commit below it), tombstones
        whose commit is strictly below the watermark are aged out, which
        is what bounds tombstone storage at 10^10-event scale. Defaults
        to the engine-level ``tombstone_commit_watermark`` when not
        given (cow tables age tombstones at rewrite time instead — see
        ``cow_batch_survivors`` — since cow buckets never accumulate the delta
        files that make them eligible here)."""
        if tombstone_commit_watermark is None:
            tombstone_commit_watermark = self.tombstone_commit_watermark
        # ONE snapshot pins the whole operation — eligibility, sizing,
        # the resolve read, and the rewrite's conflict check (basis=) all
        # see the same table version, so a concurrent commit anywhere in
        # between raises CommitConflictError instead of being erased
        snap0 = self.table.current_snapshot()
        # entry COUNTS come from the manifest's per-bucket summaries
        # (group files), never from shard hydration — this eligibility
        # walk runs after every replay batch, pinned to snap0 so the
        # conflict check below really covers the whole decision
        buckets = [
            b for b, n in self.table.delta_counts(snapshot=snap0).items()
            if n >= min_files
        ]
        if min_delta_fraction is None:
            min_delta_fraction = self.compact_delta_fraction
        # one sizing walk serves BOTH eligibility and fan-out (total =
        # base + delta per bucket)
        sizes = (
            self.table.bucket_delta_base_bytes(buckets, snapshot=snap0)
            if buckets else {}
        )
        if min_delta_fraction is not None and buckets:
            # bytes-aware eligibility (LSM amortization): folding a few
            # tiny deltas into a huge base is O(base) write amplification
            # per cycle — at 100 TB, file COUNT alone would rewrite the
            # whole table every compact_threshold batches. A bucket only
            # qualifies once its accumulated delta bytes reach the given
            # fraction of its base (a baseless bucket always qualifies),
            # so rewrite cost is amortized against genuinely new data.
            buckets = [
                b for b in buckets
                if sizes[b][0] == 0 or sizes[b][1] >= min_delta_fraction * sizes[b][0]
            ]
        if not buckets:
            return []
        resolved = resolve_state(
            self.table.read(buckets=buckets, snapshot=snap0),
            lww_strategy="agg",
            key_columns=self.table.key_columns,
            keep_tombstones=True,
        )
        if tombstone_commit_watermark is not None:
            resolved = resolved.filter(
                (~F.col("_deleted")) | (F.col("commit") >= tombstone_commit_watermark)
            )
        num_buckets = snap0.num_buckets
        from etl_spark.table.manifest import compact_fanout

        k = compact_fanout(max((sizes[b][0] + sizes[b][1] for b in buckets), default=0))
        with _shuffle_partitions(self.spark, num_buckets * k):
            self.table.rewrite_buckets(
                buckets, resolved, files_per_bucket=k,
                sort_columns=self.table.key_columns if self.compact_sort else None,
                basis=snap0,
            )
        return buckets

    # ---------- the loop ----------

    def replay(
        self,
        changelog: DataFrame,
        schema_ops: DataFrame | None = None,
        batches: list[int] | None = None,
        delete_guard: DataFrame | None = None,
        classify: dict | None = None,
        pipeline_depth: int = 2,
        extra_properties: dict | None = None,
    ) -> list[dict]:
        """Apply all (or the given) batches in batch-id order; skip batches
        already fenced into the table. Returns per-batch counter dicts.

        ``extra_properties``: caller snapshot properties committed
        ATOMICALLY with each batch's data commit (e.g. the chain's
        source-version watermark) — bookkeeping that must never be
        observable without the batch it describes rides in the same
        snapshot instead of a separate lose-able commit. Reserved
        exactly-once keys always win over a colliding entry.

        WAL contract: offsets ascend with batch ids (each batch is a
        contiguous ascending slice of one log). The offset fence
        treats everything at/below it as already applied — re-delivered
        windows (chain re-propagation) replay as empty batches — so a
        feed whose batch ids do NOT ascend with offsets, or a batch
        applied after a higher-id batch, would be silently dropped.
        Both are validated up front and refused loudly.

        ``classify``: kwargs for ``etl_spark.cdc.classify.classify_events``
        — a raw status-coded feed (no ``op`` column yet) is classified to
        I/U/D ops feed-wide before batching (the reference's status state
        machine, C2, runs as a pre-stage of the replay loop).

        ``pipeline_depth``: how many batches the one replay loop keeps in
        flight. Every batch, in every mode, runs plan -> write -> commit;
        up to ``pipeline_depth`` WRITES overlap while snapshot COMMITS
        stay strictly ordered (Iceberg's write-then-commit protocol), so
        per-batch driver overhead (plan build, job submit, broadcast
        build, commit) stops multiplying by batch count. 1 is the
        sequential replay — ``apply_batch`` is this loop at depth 1.
        Barriers drain the pipeline first: empty batches (a
        metadata-only fence commit), batches carrying schema-evolution
        ops (the ops commit, then the batch plans against the new
        schema — so pipelining continues between DDL points), and the
        compaction and expiry ticks. Copy-on-write additionally drains
        until a batch's touched buckets are disjoint from every
        in-flight batch's (disjoint buckets = disjoint keys, so its
        resolve-read cannot depend on an in-flight write). Every applied
        batch reports ``timings_ms`` with the phases ``plan`` (frame
        build, DDL and snapshot re-read at barriers, cow's stats job and
        bucket gate), ``write``, ``stats_wait`` and ``commit`` (metrics
        rows + atomic snapshot commit); ``pipelined`` is true iff the
        depth is above 1 and the batch was not a barrier."""
        if classify is not None:
            from etl_spark.cdc.classify import classify_events

            changelog = classify_events(changelog, **classify)
        # ONE pass over the log plans every batch's offset range up front
        # (vs a min/max job per batch — fixed driver overhead matters for
        # sustained throughput); the WAL-contract NULL audit rides the
        # same aggregation for free
        keys = self.table.key_columns
        bound_rows = (
            changelog.groupBy("batch_id")
            .agg(
                F.min("offset").alias("lo"),
                F.max("offset").alias("hi"),
                *contract_null_aggs(keys),
            )
            .collect()
        )
        for r in bound_rows:
            check_contract_nulls(r, keys, r["batch_id"])
        bounds = {r["batch_id"]: (r["lo"], r["hi"]) for r in bound_rows}
        if batches is None:
            batches = sorted(bounds)
        # refuse the two silent-data-loss shapes up front (see
        # docstring): non-WAL feeds and out-of-order application. The
        # snapshot parse is cached-handle metadata, not a Spark job.
        # ONE snapshot read serves both the WAL check and the ops dry
        # run: schema and fence/applied must describe the same version
        # (a concurrent commit between two reads would make the dry run
        # see an op's effect in the schema while treating it as pending
        # — a false "already exists" refusal)
        snap0 = self.table.current_snapshot()
        props0 = snap0.properties
        wm0, res0 = _applied_state(props0)
        check_wal_shape(
            bounds, batches, wm0, res0,
            fence=int(props0.get("fence_offset", -1)),
        )
        ops_rows = None
        if schema_ops is not None:
            # ops frames are tiny (DDL events) — validate the whole feed
            # driver-side before any op can commit a schema version,
            # then dry-run the pending ops against the current schema so
            # the state-dependent refusals (no-such-column, collision,
            # non-widenable type) are up-front too, never half-applied
            ops_rows = schema_ops.collect()
            self._check_ops_feed(ops_rows, snap0)
        return self._run(
            changelog, bounds, sorted(batches), ops_rows, delete_guard,
            pipeline_depth, extra_properties,
        )

    def apply_batch(
        self,
        changelog: DataFrame,
        batch_id: int,
        schema_ops: DataFrame | None = None,
        bounds: tuple[int, int] | None = None,
        delete_guard: DataFrame | None = None,
        extra_properties: dict | None = None,
    ) -> dict:
        """Apply one batch (a no-op if already applied): the replay loop
        at depth 1 over ``[batch_id]``. ``bounds`` is the batch's
        ``(lo, hi)`` offset range when the caller already knows it;
        otherwise one job computes it, with the WAL-contract NULL
        audit riding along."""
        snap = self.table.current_snapshot()
        applied_wm, applied = _applied_state(snap.properties)
        if _is_applied(applied_wm, applied, batch_id):
            return {"batch_id": batch_id, "skipped": True}
        if bounds is None:
            keys = self.table.key_columns
            row = changelog.filter(F.col("batch_id") == batch_id).select(
                F.min("offset").alias("lo"),
                F.max("offset").alias("hi"),
                *contract_null_aggs(keys),
            ).first()
            check_contract_nulls(row, keys, batch_id)
            bounds = (row["lo"], row["hi"])
        # WAL contract (see replay's docstring): a NON-EMPTY batch below
        # an already-applied id has its offsets at/below the committed
        # fence — applying it now would silently drop every event, so
        # refuse loudly. An EMPTY batch below the max id is legitimate:
        # it closes a residual-window gap (marks the id applied) without
        # any events to lose. Re-delivered windows carry a NEW (higher)
        # batch id and replay as empty batches; only true out-of-order
        # application trips this.
        max_applied = max([applied_wm] + [int(x) for x in applied])
        if batch_id < max_applied and bounds[0] is not None:
            raise ValueError(
                f"out-of-order batch application: batch {batch_id} was "
                f"never applied but batch {max_applied} already was — "
                "its events are at/below the committed offset fence and "
                "would be silently dropped. Apply batches in ascending "
                "id order (an empty batch may close the gap)."
            )
        ops_rows = None
        if schema_ops is not None:
            # full-frame collect (tiny: DDL events) so the contract check
            # also sees rows a `offset <= hi` pushdown would hide (NULL
            # offsets from malformed PERMISSIVE-mode lines)
            ops_rows = schema_ops.collect()
            self._check_ops_feed(ops_rows, snap)
        return self._run(
            changelog, {batch_id: bounds}, [batch_id], ops_rows, delete_guard,
            1, extra_properties,
        )[0]

    def _run(
        self,
        changelog: DataFrame,
        bounds: dict,
        batches: list[int],
        ops_rows: list | None,
        delete_guard: DataFrame | None,
        depth: int,
        extra_properties: dict | None,
    ) -> list[dict]:
        """The replay loop, shared by every mode, depth and entry point.
        Per batch: skip if applied -> plan -> submit the write -> drain
        in order (metrics rows, then the commit) -> maintenance at
        drained points. The mode supplies only its plan and its
        write/commit pair (``_plan_mor`` / ``_plan_cow``).

        Overlapping writes are safe because a write lands data files
        invisibly until its snapshot commit, and the fence after each
        batch is plannable arithmetically (max(prev fence, hi_b) —
        offsets are known up front), so the exactly-once bookkeeping
        rides in each ordered commit. A crash leaves a committed prefix
        (consistent and resumable; uncommitted files are orphans for
        expire_snapshots' vacuum)."""
        snap = self.table.current_snapshot()
        wm, residual = _applied_state(snap.properties)
        fence = int(snap.properties.get("fence_offset", -1))
        applied_ops = list(snap.properties.get("applied_schema_ops", []))
        plan = self._plan_mor if self.mode == "mor" else self._plan_cow
        results: list[dict] = []
        pending: list[dict] = []
        inflight: set[int] = set()  # buckets of pending cow batches

        def drain(keep: int = 0) -> bool:
            drained = len(pending) > keep
            while len(pending) > keep:
                p = pending.pop(0)
                results.append(self._drain_one(p))
                inflight.difference_update(p["touched"])
            return drained

        def gate(touched: list[int]) -> None:
            while pending and inflight.intersection(touched):
                drain(len(pending) - 1)

        def maintain() -> None:
            # both read or vacuum the table, so in-flight writes drain
            # first (expiry vacuums data dirs no surviving snapshot
            # references — a written-but-uncommitted batch's dir must not
            # exist when it scans)
            if self.mode == "mor" and self.compact_threshold and any(
                n >= self.compact_threshold
                for n in self.table.delta_counts().values()
            ):
                drain()
                self.compact(min_files=self.compact_threshold,
                             min_delta_fraction=self.compact_delta_fraction)
            if self.expire_every and self._commits_since_expire >= self.expire_every:
                drain()
                self._commits_since_expire = 0
                self.table.expire_snapshots(keep_last=self.expire_keep_last)

        with ExitStack() as stack:
            if self.mode == "mor":
                # entered before any stats task starts, left after every
                # task joined (the pools below shut down first), so every
                # plan built in this call sees one constant value
                stack.enter_context(_shuffle_partitions(self.spark, snap.num_buckets))
            # batches never drained (an earlier raise) release their caches
            stack.callback(lambda: [p["release"]() for p in pending])
            write_pool = ThreadPoolExecutor(depth, thread_name_prefix="replay-write")
            stats_pool = ThreadPoolExecutor(depth, thread_name_prefix="replay-stats")
            for pool in (write_pool, stats_pool):
                stack.callback(pool.shutdown, wait=True, cancel_futures=True)
            for b in batches:
                if _is_applied(wm, residual, b):
                    results.append({"batch_id": b, "skipped": True})
                    continue
                lo, hi = bounds.get(b, (None, None))
                ops = sorted(
                    (r for r in ops_rows or ()
                     if lo is not None and fence < r["offset"] <= int(hi)
                     and r["offset"] not in applied_ops),
                    key=lambda r: r["offset"],
                )
                barrier = lo is None or bool(ops)
                if barrier:
                    drain()
                t0 = time.monotonic()
                # each DDL op lands in its own atomic evolution commit that
                # also records the op's offset in applied_schema_ops — a
                # crash before the batch's data commit leaves the op
                # durably applied, so resume re-runs the batch without
                # re-applying it. The list stays BOUNDED: the data fence
                # doubles as the ops watermark (offsets at/below
                # fence_offset count as applied), so each data commit
                # keeps only the offsets above its fence.
                for r in ops:
                    applied_ops.append(r["offset"])
                    apply_evolution_op(
                        self.table, r["kind"], r["column"], r["detail"],
                        properties_update={
                            "applied_schema_ops": sorted(o for o in applied_ops if o > fence)
                        },
                    )
                if ops:
                    snap = self.table.current_snapshot()
                # defensive fence: drop any event at or below it
                batch = changelog.filter(F.col("batch_id") == b).filter(F.col("offset") > fence)
                if lo is not None:
                    fence = max(fence, int(hi))
                wm, residual = _compact_applied(wm, residual + [b])
                p = {
                    "batch_id": b, "t0": t0, "n_ops": len(ops),
                    "pipelined": depth > 1 and not barrier,
                    "touched": (), "release": lambda: None,
                    # exactly-once bookkeeping, committed atomically with
                    # the batch; reserved keys win over caller properties
                    "props": {
                        **(extra_properties or {}),
                        "applied_batches": residual,
                        "applied_batches_watermark": wm,
                        "applied_schema_ops": [o for o in applied_ops if o > fence],
                        "fence_offset": fence,
                    },
                }
                if lo is None:
                    # empty batch: a metadata-only commit still fences it
                    p.update(
                        lww_path="empty", write=dict, stats=list,
                        commit=lambda w, props, sv=snap.current_schema_version:
                            self.table.commit_appended(w, sv, props),
                    )
                else:
                    p.update(plan(snap, batch, b, int(hi) - int(lo) + 1, delete_guard, gate))
                p["plan_ms"] = int((time.monotonic() - t0) * 1000)
                pending.append(p)
                inflight.update(p["touched"])
                p["write"] = write_pool.submit(_timed, p["write"])
                p["stats"] = stats_pool.submit(p["stats"])
                drain(depth - 1)
                maintain()
            # the final drain's commits can push buckets past the
            # compaction threshold with no later per-batch check
            if drain():
                maintain()
        results.sort(key=lambda r: r["batch_id"])
        return results

    def _plan_mor(self, snap, batch, batch_id, events_bound, delete_guard, gate) -> dict:
        """Merge-on-read plan and write/commit pair: append the batch's
        winners as delta files. Nothing is read from the table, so
        in-flight writes never conflict (``gate`` is unused). The
        normalize+sha256 pandas_udf runs as the writer's post-shuffle
        hook — after the bucket exchange, at full write parallelism —
        and the thin stats rollup is collected concurrently, off the
        critical path."""
        delta, per_bucket_plan, lww_path = plan_mor_batch(
            snap, self.table.key_columns, batch, batch_id,
            lww_strategy=self.lww_strategy,
            broadcast_key_budget=self.broadcast_key_budget,
            events_upper_bound=events_bound,
            delete_guard=delete_guard,
        )
        return {
            "lww_path": lww_path,
            "write": lambda: self.table.write_delta_files(delta, snap, with_content_sha256),
            "stats": per_bucket_plan.collect,
            "commit": lambda written, props: self.table.commit_appended(
                written, snap.current_schema_version, props
            ),
        }

    def _plan_cow(self, snap, batch, batch_id, events_bound, delete_guard, gate) -> dict:
        """Copy-on-write plan and write/commit pair: rewrite the touched
        buckets. The thin stats job names them; ``gate`` then drains
        in-flight batches until none shares a bucket with this one
        (buckets partition the key space, so the resolve-read below
        cannot depend on an in-flight write), and the survivors resolve
        against a basis read AFTER the gate. ``commit_rewritten``
        re-verifies at commit time that nothing touched those buckets
        since the basis (Iceberg's overwrite serialization rule), so the
        disjointness reasoning is enforced, not assumed."""
        batch, maxes, per_bucket, stats = cow_batch_stats(
            batch, self.table.key_columns, snap.num_buckets,
            delete_guard=delete_guard,
        )
        touched = sorted(stats["buckets"])
        try:
            gate(touched)
            basis = self.table.current_snapshot()
            survivors, lww_path = cow_batch_survivors(
                self.table, basis, batch, maxes, stats, batch_id,
                lww_strategy=self.lww_strategy,
                broadcast_key_budget=self.broadcast_key_budget,
                tombstone_commit_watermark=self.tombstone_commit_watermark,
            )
        except BaseException:
            maxes.unpersist()
            raise
        return {
            "lww_path": lww_path,
            "touched": touched,
            # the cached thin maxes are released even when the write or
            # commit raises — a driver that catches per-batch errors and
            # continues must not accumulate leaked cache blocks
            "release": maxes.unpersist,
            "write": lambda: self.table.write_rewrite_files(survivors, basis),
            "stats": lambda: per_bucket,
            "commit": lambda written, props: self.table.commit_rewritten(
                touched, written, basis, props
            ),
        }

    def _drain_one(self, p: dict) -> dict:
        """Finish the oldest in-flight batch: wait for its write and
        stats tasks, write its metrics and lineage rows, then commit.
        Both rows land BEFORE the commit under deterministic names, so a
        crash on either side of the commit never leaves an applied batch
        without them (a retry overwrites them, and ``metrics()`` reads
        only applied batches). Returns the batch's result dict."""
        b = p["batch_id"]
        try:
            written, write_ms = p["write"].result()
            t_w = time.monotonic()
            per_bucket = _bucket_counters(p["stats"].result())
            t_s = time.monotonic()
            s = _stats_from_rows(per_bucket)
            self._append_bucket_metrics(b, per_bucket)
            self._append_metrics_row(
                b, s["events"], s["ups"], s["dels"], s["keys"], p["n_ops"],
                int((t_s - p["t0"]) * 1000),
            )
            p["commit"](written, p["props"])
        finally:
            p["release"]()
        t_c = time.monotonic()
        self._commits_since_expire += 1
        return {
            "batch_id": b, "skipped": False, "schema_ops": p["n_ops"],
            # the batch's WALL span (plan -> commit). Spans of concurrent
            # batches overlap by design — they sum to more than the
            # replay wall clock; per-phase costs are in timings_ms.
            "duration_ms": int((t_c - p["t0"]) * 1000),
            "rows_in": s["events"], "distinct_keys": s["keys"],
            "upserts": s["ups"], "deletes": s["dels"],
            "lww_path": p["lww_path"], "pipelined": p["pipelined"],
            "timings_ms": {
                "plan": p["plan_ms"], "write": write_ms,
                "stats_wait": int((t_s - t_w) * 1000),
                "commit": int((t_c - t_s) * 1000),
            },
            "per_bucket": per_bucket,
        }
