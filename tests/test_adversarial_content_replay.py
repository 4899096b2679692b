"""Sweep 7, CDC path: replay a changelog whose content column carries
the hostile-string corpus — NFD-decomposed unicode (NFC normalization
must actually fire), lone CR, CRLF, empty / whitespace-only bodies,
zero-width chars, 4-byte code points, a 64 KiB single line — through
the FULL engine (Arrow-vectorized normalize+sha256, bucket shuffles,
parquet roundtrips, compaction) and assert exact final-state + sha256
parity against the scalar pandas twin. The normalize hypothesis suite
pins scalar == vectorized on in-memory strings; this pins the whole
replay pipeline on content the generator never produces, including
raw-byte fidelity of stored content through parquet."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from tests.oracle import apply_log_oracle

HOSTILE_CONTENT = [
    "",  # empty body
    "   ",  # whitespace-only
    "éclair\n",  # NFD: combining acute — NFC folds to é
    "café\n",  # already-NFC twin of the same text
    "line1\rline2\r\nline3  \n\n",  # lone CR + CRLF + trailing blanks
    "a\tb\t\n\tindent\n",  # tabs, incl. trailing tab
    "zero​width‍ joiner \U0001f980\U0001f525\n",  # ZW chars + emoji
    "İstanbul ı\n",  # dotted capital I / dotless i
    "à́̂ stacked combining\n",  # combining-heavy
    "\n\n\n",  # newlines only
    "ﬁligature \U0001d518\U0001d52b\U0001d526\n",  # fi ligature + 4-byte math letters
    "x" * 65536,  # 64 KiB single unterminated line
]


# the fingerprint is attached before the winner kernel, so it reaches
# the table through a broadcast join under one kernel and a max_by
# struct under the other ('salted' has the agg shape; the property
# test covers it)
@pytest.mark.parametrize("lww_strategy", ["broadcast", "agg"])
@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_replay_parity_on_hostile_content(spark, tmp_path, mode, lww_strategy):
    log = generate_changelog(
        spark, 240, seed=11, n_repos=2, paths_per_repo=8, num_batches=3
    )
    hostile = F.array(*[F.lit(s) for s in HOSTILE_CONTENT])
    log = log.withColumn(
        "content",
        F.when(
            F.col("op") == "D", F.lit(None).cast("string")
        ).otherwise(
            F.element_at(hostile, (F.col("offset") % len(HOSTILE_CONTENT) + 1).cast("int"))
        ),
    )
    pdf = log.toPandas()
    want = apply_log_oracle(pdf)
    # the corpus must actually exercise the normalizer: at least one
    # surviving row's stored content differs from its normalized form
    from etl_spark.functions.normalize import normalize_content

    assert any(
        c is not None and normalize_content(c) != c for c in want["content"]
    ), "corpus regression: nothing left for the normalizer to do"

    eng = ReplayEngine(
        spark, str(tmp_path / f"t_{mode}"), num_buckets=3, mode=mode,
        compact_threshold=2, lww_strategy=lww_strategy,
    )
    results = eng.replay(log)
    assert {r["lww_path"] for r in results} == {lww_strategy}
    got = (
        eng.read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    # exact equality: raw content bytes survive parquet + Arrow intact,
    # and the vectorized sha256 equals the scalar twin on every row
    pd.testing.assert_frame_equal(got, want.reset_index(drop=True))
