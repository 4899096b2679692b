"""Correctness checks run after every timed window, independent of the engine.

* ``lww_oracle``: last-writer-wins state recomputed from the generated log
  with a Spark window ordered by ``(commit, offset)``; a winning delete
  drops the key. The table must equal it both ways under ``exceptAll``.
* ``sha256_mismatches``: ``content_sha256`` recomputed with ``hashlib``
  from the documented normalization rule (NFC, CRLF and lone CR to LF,
  trailing spaces and tabs stripped per line, exactly one trailing LF on
  non-empty content). The rule is re-implemented here on purpose rather
  than imported from the engine.
"""

from __future__ import annotations

import hashlib
import unicodedata

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STATE_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def lww_oracle(log: DataFrame) -> DataFrame:
    w = Window.partitionBy("repo", "path").orderBy(F.col("commit").desc(), F.col("offset").desc())
    last = log.withColumn("__rn", F.row_number().over(w)).where("__rn = 1")
    return last.where(F.col("op") != "D").select(*STATE_COLUMNS)


def state_diff(state: DataFrame, log: DataFrame) -> tuple[int, int]:
    """(rows only in the table, rows only in the oracle)."""
    table = state.select(*STATE_COLUMNS)
    oracle = lww_oracle(log).cache()
    try:
        return table.exceptAll(oracle).count(), oracle.exceptAll(table).count()
    finally:
        oracle.unpersist()


def normalize(text: str) -> str:
    s = unicodedata.normalize("NFC", text).replace("\r\n", "\n").replace("\r", "\n")
    s = "\n".join(line.rstrip(" \t") for line in s.split("\n")).rstrip("\n")
    return s + "\n" if s else ""


def sha256_mismatches(state: DataFrame, sample: int) -> tuple[int, int]:
    """(rows checked, rows whose stored hash differs). The sample is the
    ``sample`` smallest keys, so it is fixed for a given table state."""
    rows = (
        state.select("repo", "path", "content", "content_sha256")
        .orderBy("repo", "path")
        .limit(sample)
        .collect()
    )
    bad = sum(
        1
        for r in rows
        if r["content_sha256"]
        != (None if r["content"] is None else hashlib.sha256(normalize(r["content"]).encode()).hexdigest())
    )
    return len(rows), bad
