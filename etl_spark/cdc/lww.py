"""Last-writer-wins resolution — the CDC core operator.

The BASELINE total order is ``(commit, event offset)``; the winner per
key is the event with the greatest order tuple. This is the Spark-native
re-expression of the reference's effective-dated timeline resolve
(``src/delta_client.py:136-147``: latest effective date wins;
``src/sd_client.py:195-199``: max activation / min deactivation).

Physical strategy — chosen for 10^10-event scale:

- Default: ``max_by(struct(payload), struct(order))`` hash aggregation.
  Unlike the textbook ``row_number() over (partition by key order by ...)``
  window, this needs NO per-key sort and gets **map-side partial
  aggregation**: a hot key (one repo = 30% of events) is combined down to
  one row per input partition *before* the shuffle, so skew never
  concentrates on a single reducer. This is the single biggest scale win
  in the engine.
- ``salt=k``: explicit two-stage salted variant
  (key+salt -> partial winner, then key -> winner) for engines/settings
  where partial aggregation is disabled or the payload is too wide to
  combine map-side; mandated by the north rule as the explicit skew tool.
- ``lww_winners_window``: the window formulation, kept for parity tests.

All three are algebraically identical; tests assert equal output —
including for NULL order values: a NULL commit sorts below every
non-NULL commit in struct max_by, in the broadcast max+equality join
(struct equality is null-safe field-wise), and in the window's
``desc_nulls_last``, so all three strategies agree (tested). NULL keys
and offsets are refused upstream by the replay contract check
(``replay.check_contract_nulls``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark.schema import KEY_COLUMNS, ORDER_COLUMNS


def _order_struct(order: list[str]):
    return F.struct(*[F.col(c) for c in order])


def lww_winners(
    df: DataFrame,
    key_columns: list[str] | None = None,
    order_columns: list[str] | None = None,
    tiebreak: str | None = None,
    salt: int | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Keep exactly one row per key: max by (commit, offset) [, tiebreak].

    Required before MERGE (Iceberg's one-match-per-target-row rule, which
    our manifest merge shares). With ``count_col``, also emit the number
    of input events folded into each winner (so callers get per-batch
    totals from the same aggregation job instead of a second scan).
    """
    keys = list(key_columns or KEY_COLUMNS)
    order = list(order_columns or ORDER_COLUMNS)
    if tiebreak:
        order.append(tiebreak)
    payload = [c for c in df.columns if c not in keys]
    row = F.struct(*[F.col(c) for c in payload])

    if salt:
        salted = df.withColumn("__salt", F.pmod(F.xxhash64(*order), F.lit(salt)))
        partial_aggs = [F.max_by(row, _order_struct(order)).alias("__w")]
        if count_col:
            partial_aggs.append(F.count(F.lit(1)).alias(count_col))
        partial = salted.groupBy(*keys, "__salt").agg(*partial_aggs)
        final_aggs = [F.max_by(F.col("__w"), _order_struct([f"__w.{c}" for c in order])).alias("__w")]
        if count_col:
            final_aggs.append(F.sum(count_col).alias(count_col))
        final = partial.groupBy(*keys).agg(*final_aggs)
        extra = [count_col] if count_col else []
        return final.select(*keys, "__w.*", *extra)

    aggs = [F.max_by(row, _order_struct(order)).alias("__w")]
    if count_col:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    agg = df.groupBy(*keys).agg(*aggs)
    extra = [count_col] if count_col else []
    return agg.select(*keys, "__w.*", *extra)


def lww_winners_broadcast(
    df: DataFrame,
    key_columns: list[str] | None = None,
    order_columns: list[str] | None = None,
    count_col: str | None = None,
) -> DataFrame:
    """Two-phase broadcast argmax — the wide-row scale strategy.

    ``max_by`` over full rows shuffles every byte of payload; at 100 TB
    (or any memory-bandwidth-bound box) moving content dominates wall
    time. Here phase 1 aggregates the max (commit, offset) per key over a
    THIN projection — Parquet column pruning means the content column is
    never even read for it — and phase 2 broadcast-joins that winner list
    back to fetch exactly the winning rows. The payload is scanned once
    and shuffled never.

    Requires the winner set (distinct keys x ~60 B) to fit the driver's
    broadcast budget — true for any sane micro-batch. The replay's own
    winner choice (``merge.batch_winners``) broadcasts winner offsets
    under the engine's ``broadcast_key_budget`` and falls back to
    ``lww_winners`` (hash-agg) above it, and the read/compaction path
    (``resolve_state``) never uses this strategy by default because its
    winner set grows with the table.

    The order tuple must be unique per key (ours is: offset is unique),
    so the equality join returns exactly one row per key.
    """
    keys = list(key_columns or KEY_COLUMNS)
    order = list(order_columns or ORDER_COLUMNS)
    thin = df.select(*keys, _order_struct(order).alias("__ord"))
    aggs = [F.max("__ord").alias("__ord")]
    if count_col:
        aggs.append(F.count(F.lit(1)).alias(count_col))
    maxes = thin.groupBy(*keys).agg(*aggs)
    renamed = maxes.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        "__ord",
        *([count_col] if count_col else []),
    )
    cond = _order_struct(order) == F.col("__ord")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__k_{k}"))
    extra = [count_col] if count_col else []
    return df.join(F.broadcast(renamed), on=cond).select(*df.columns, *extra)


def lww_winners_window(
    df: DataFrame,
    key_columns: list[str] | None = None,
    order_columns: list[str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Window formulation (row_number over desc order) — semantically
    identical to ``lww_winners``; kept for cross-checking and for callers
    that want rank > 1 (version history)."""
    keys = key_columns or KEY_COLUMNS
    order = list(order_columns or ORDER_COLUMNS)
    if tiebreak:
        order.append(tiebreak)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select(*df.columns)
    )
