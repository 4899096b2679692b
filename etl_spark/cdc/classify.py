"""Status-code -> change-op classifier (SURVEY.md C2).

The reference's event state machine (``src/sd_delta.py:14,106-119``)
maps an employment-status code to an action with precedence:

- code ``'S'`` (deleted) -> handle as a DELETE, short-circuiting
  everything else,
- codes ``'0'/'1'/'3'`` (employed states) mark the key *active*
  (``has_active``),
- terminal codes ``'7'/'8'/'9'`` are ignored once the key is active
  (an emigrated/resigned/retired record cannot demote an active one),
  but processed while inactive.

Re-expressed set-based: the per-key ``has_active`` flag is a window-free
max over a thin projection (same skew-safe shape as the LWW kernel),
joined back, and the op column is a single ``F.when`` chain — no
driver loop over employees, no per-row Python. Output rows carry
``op`` in CHANGE_LOG_SCHEMA terms (I/U/D), ready for
``ReplayEngine.replay`` (wired via its ``classify`` argument).

Scale note: neither join carries an explicit ``F.broadcast`` hint.
``has_active`` has one row per distinct key in the feed and
``existing_keys`` one row per live key in the TABLE — both grow without
bound at 10^10-event scale, so a hard broadcast hint would OOM the
driver long before merge's ``broadcast_key_budget`` guard ever runs.
A plain equi-join lets AQE broadcast automatically when the side is
actually small and fall back to a shuffle join when it is not — the
same auto-degrade policy ``merge.batch_winners`` implements explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference status vocabulary (src/sd_delta.py:14)
DELETE_STATUSES = ["S"]
ACTIVE_STATUSES = ["0", "1", "3"]
TERMINAL_STATUSES = ["7", "8", "9"]


def classify_events(
    df: DataFrame,
    status_col: str = "status",
    key_columns: list[str] | None = None,
    delete_statuses: list[str] | None = None,
    active_statuses: list[str] | None = None,
    terminal_statuses: list[str] | None = None,
    existing_keys: DataFrame | None = None,
) -> DataFrame:
    """Map raw status-coded rows to I/U/D ops with the reference's
    precedence. Returns the input plus an ``op`` column, with suppressed
    rows (terminal status on an active key) dropped.

    - ``delete_statuses`` -> ``op = 'D'``
    - terminal statuses on a key that has at least one active-status row
      in the same feed -> dropped (reference: ``has_active`` guard)
    - everything else -> ``'U'`` when the key is already present in
      ``existing_keys`` (the table's live keys) else ``'I'``; without
      ``existing_keys``, upserts classify as ``'U'`` (the engine's merge
      treats I and U identically — the distinction is lineage only).
    """
    keys = list(key_columns or ["repo", "path"])
    dels = list(delete_statuses or DELETE_STATUSES)
    actives = list(active_statuses or ACTIVE_STATUSES)
    terminals = list(terminal_statuses or TERMINAL_STATUSES)
    s = F.col(status_col)

    # per-key has_active: thin max over (keys, active?) — map-side
    # combine makes hot keys cheap. No broadcast hint: the frame is one
    # row per distinct key (unbounded at scale); AQE broadcasts it
    # automatically when small, shuffle-joins when not.
    has_active = (
        df.select(*keys, s.isin(actives).cast("int").alias("__a"))
        .groupBy(*keys)
        .agg(F.max("__a").alias("__has_active"))
    )
    out = df.join(has_active, on=keys, how="left")
    # null-safe suppression: a NULL status makes s.isin(...) NULL, and a
    # NULL predicate would silently DROP the row on active keys while
    # keeping it on inactive ones. The reference explicitly tolerates
    # None status codes (src/sd_delta.py:14 maps None -> update), so
    # coalesce every isin to False: null-status rows are never suppressed
    # and classify as plain upserts everywhere.
    # __has_active is NULL (not 0) for rows whose KEY columns contain
    # NULL: the equi-join above never matches a null key, and a NULL
    # conjunct would make the whole predicate NULL — filter(~NULL)
    # silently drops the row. Coalesce to False so null-keyed rows are
    # never suppressed and flow through as ordinary events (the same
    # dirty-data tolerance the null-status coalesces give).
    suppress = (
        F.coalesce(s.isin(terminals), F.lit(False))
        & F.coalesce(F.col("__has_active") == 1, F.lit(False))
        & ~F.coalesce(s.isin(dels), F.lit(False))
    )
    out = out.filter(~suppress)

    if existing_keys is not None:
        # existing_keys is TABLE-sized (every live key) — never hint a
        # broadcast; the left join shuffles on the same key columns the
        # table is bucketed by, so at scale the exchange is layout-aligned
        present = existing_keys.select(*keys).dropDuplicates().withColumn(
            "__present", F.lit(True)
        )
        out = out.join(present, on=keys, how="left")
        upsert_op = F.when(F.col("__present").isNotNull(), "U").otherwise("I")
    else:
        upsert_op = F.lit("U")

    op = F.when(s.isin(dels), "D").otherwise(upsert_op)
    return out.withColumn("op", op).drop("__has_active", "__present", "__a")
