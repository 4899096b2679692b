"""LWW variant equivalence + normalization rule properties."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.lww import lww_winners
from etl_spark.functions.normalize import (
    normalize_content,
    normalize_series,
    sha256_hex,
)
from tests.oracle import lww_winners_window


@pytest.fixture(scope="module")
def log(spark):
    df = generate_changelog(spark, 1500, seed=42, n_repos=4, paths_per_repo=8, num_batches=1)
    df.cache()
    df.count()
    return df


def _sorted(df):
    return df.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)[
        ["repo", "path", "offset", "commit", "op"]
    ]


def test_maxby_equals_window(spark, log):
    a = _sorted(lww_winners(log))
    b = _sorted(lww_winners_window(log))
    pd.testing.assert_frame_equal(a, b)


def test_salted_equals_unsalted(spark, log):
    a = _sorted(lww_winners(log))
    for salt in (2, 8, 32):
        s = _sorted(lww_winners(log, salt=salt))
        pd.testing.assert_frame_equal(a, s)


def test_commit_ties_break_by_offset(spark):
    rows = [
        (1, "I", "r", "p", "c-same", "py", "v1", 0),
        (2, "U", "r", "p", "c-same", "py", "v2", 0),  # same commit, higher offset wins
        (0, "U", "r", "p", "a-early", "py", "v0", 0),
    ]
    from etl_spark.schema import CHANGE_LOG_SCHEMA

    df = spark.createDataFrame(rows, CHANGE_LOG_SCHEMA)
    w = lww_winners(df).collect()
    assert len(w) == 1 and w[0]["content"] == "v2" and w[0]["offset"] == 2


# ---------------- normalization rule ----------------

text_strategy = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=300
)


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_scalar_vs_vectorized_equivalent(s):
    scalar = normalize_content(s)
    vec = normalize_series(pd.Series([s], dtype=object)).iloc[0]
    assert scalar == vec


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(s):
    once = normalize_content(s)
    assert normalize_content(once) == once


def test_normalize_examples():
    assert normalize_content("a \r\nb\t\n\n\n") == "a\nb\n"
    assert normalize_content("") == ""
    assert normalize_content("   \n\t\n") == ""
    assert normalize_content(None) is None
    assert normalize_content("x") == "x\n"
    # NFC: decomposed o + combining ring -> å
    assert normalize_content("å") == "å\n"
    import hashlib

    assert sha256_hex("x\n") == hashlib.sha256(b"x\n").hexdigest()


def test_sha256_nulls():
    assert sha256_hex(None) is None


def test_lww_broadcast_strategy_equivalent(spark, log):
    from etl_spark.cdc.lww import lww_winners_broadcast

    agg = _sorted(lww_winners(log))
    bc = _sorted(lww_winners_broadcast(log))
    pd.testing.assert_frame_equal(agg, bc)


def test_lww_broadcast_count_col(spark, log):
    from pyspark.sql import functions as F

    from etl_spark.cdc.lww import lww_winners_broadcast

    w = lww_winners_broadcast(log, count_col="__n")
    total = w.agg(F.sum("__n")).first()[0]
    assert total == log.count()
    assert w.count() == log.select("repo", "path").distinct().count()
