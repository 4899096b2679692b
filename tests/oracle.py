"""Single-pass pandas oracle for CDC replay.

Applies the whole change log in one pass — last writer per key by
(commit, offset), deletes drop the key — using the SAME pure
normalization function the engine's pandas_udf wraps. The engine's
multi-batch, partitioned, fenced replay must land on exactly this state
(FIXTURES.md invariants 1-3). ``lww_winners_window`` is the same rule
as a Spark window, for kernel-level parity tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark.functions.normalize import normalize_content, sha256_hex
from etl_spark.schema import KEY_COLUMNS, ORDER_COLUMNS


def apply_log_oracle(log: pd.DataFrame) -> pd.DataFrame:
    """log columns: offset, op, repo, path, commit, lang, content.

    ``na_position="first"`` pins the NULL-commit contract: a NULL commit
    LOSES to every non-NULL commit (the engine's struct ordering treats
    a NULL field as smallest — replay.contract_null_aggs allows NULL
    commits through precisely because they order this way), and among
    NULL-commit events the offset breaks ties ascending, exactly like
    the engine's (commit, offset) struct max. pandas' default
    ``na_position="last"`` would instead make NULL commits WIN —
    silently diverging from all three LWW strategies."""
    ordered = log.sort_values(["commit", "offset"], kind="mergesort", na_position="first")
    last = ordered.groupby(["repo", "path"], as_index=False).tail(1)
    final = last[last["op"] != "D"].copy()
    final["content_sha256"] = final["content"].map(
        lambda c: sha256_hex(normalize_content(c)) if c is not None else None
    )
    return (
        final[["repo", "path", "commit", "lang", "content", "content_sha256"]]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def lww_winners_window(
    df: DataFrame,
    key_columns: list[str] | None = None,
    order_columns: list[str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Window formulation (row_number over desc order) — semantically
    identical to ``etl_spark.cdc.lww``'s kernels, and the Spark-side
    parity oracle they are checked against."""
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
