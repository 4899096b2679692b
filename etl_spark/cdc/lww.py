"""Last-writer-wins resolution — the CDC core operator.

The BASELINE total order is ``(commit, event offset)``; the winner per
key is the event with the greatest order tuple. This is the Spark-native
re-expression of the reference's effective-dated timeline resolve
(``src/delta_client.py:136-147``: latest effective date wins;
``src/sd_client.py:195-199``: max activation / min deactivation).

Physical kernel — chosen for 10^10-event scale:

- ``lww_winners``: ``max_by(struct(payload), struct(order))`` hash
  aggregation, the engine's one winner kernel (batch merge, read-side
  resolve, compaction). Unlike the textbook ``row_number() over
  (partition by key order by ...)`` window, this needs NO per-key sort
  and gets **map-side partial aggregation**: a hot key (one repo = 30%
  of events) is combined down to one row per input partition *before*
  the shuffle, so skew never concentrates on a single reducer.

Two comparison kernels are kept for the benchmark's per-layer LWW
metrics and the parity tests; the engine calls neither:

- ``lww_winners(..., salt=k)``: explicit two-stage salted variant
  (key+salt -> partial winner, then key -> winner), for settings where
  partial aggregation is disabled or the payload is too wide to combine
  map-side.
- ``lww_winners_broadcast``: thin max per key, broadcast-joined back.

All are algebraically identical; tests assert equal output (the window
formulation lives in ``tests/oracle.py`` as the parity oracle) —
including for NULL order values: a NULL commit sorts below every
non-NULL commit in struct max_by, in the broadcast max+equality join
(struct equality is null-safe field-wise), and in the window's
``desc_nulls_last``, so all kernels agree (tested). NULL keys and
offsets are refused upstream by the replay contract check
(``replay.check_contract_nulls``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    broadcast budget. A comparison kernel: the engine runs
    ``lww_winners`` everywhere.

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

