"""Regression tests for the fifth round-5 review sweep: the MinHash
seed-literal trap and dedup-family NULL-text parity.

The bug: ``lambda g, s=s: F.md5(F.concat(F.lit(f"{s}|"), g))`` declares
TWO parameters, and PySpark calls higher-order-function callbacks with a
positional Column for EVERY declared parameter (``transform``'s second
argument is the element index) — so the default ``s=s`` was overridden
by the index Column and ``f"{s}|"`` stringified it into the literal
(``Column<'y_2'>|``), silently replacing all N documented seeds with
construction-order-dependent strings. The banding still "worked"
probabilistically (any seed family does) and identical documents always
collide under any seeds — which is why the driver corpus never caught
it — but genuinely-near (non-identical) documents banded differently
from the oracle's ``0|..7|`` rule.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.operators.catalog import CATALOG
from etl_spark.operators.dedup import N_MINHASH, _minhash_base
from tests.compare import compare_frames

DOC_ENTRIES = [
    "dedup_exact", "ngram_jaccard_pairs", "minhash_lsh_pairs",
    "simhash_fingerprints", "near_dup_clusters", "dedup_keep_canonical",
    "boilerplate_line_dedup",
]


@pytest.fixture(scope="module")
def neardup_doc_dir(tmp_path_factory):
    """A corpus the driver tables never provide: NULL / empty /
    whitespace-only text, an exact duplicate pair, and a genuinely-NEAR
    (one word changed) duplicate — the shape that exposes seed drift
    between the engine's banding and the oracle's."""
    d = tmp_path_factory.mktemp("neardupdocs")
    base = "the quick brown fox jumps over the lazy dog " * 8
    pd.DataFrame(
        {
            "doc_id": pd.array(range(1, 9), dtype="int64"),
            "text": [
                base,
                None,
                "",
                base,                                              # exact dup of 1
                "æøå multibyte text with words and more words " * 4,
                "   ",
                "short",
                base.replace("over the lazy", "over a lazy"),      # near-dup of 1
            ],
            "lang": ["en"] * 8,
            "source": ["t"] * 8,
            "n_chars": pd.array([0] * 8, dtype="int64"),
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def test_minhash_signatures_match_documented_seeds(spark, neardup_doc_dir):
    """Every mh{s} must be min over shingles of md5(f"{s}|" + shingle) —
    checked against a pure-hashlib model, so a Column leaking into the
    seed literal (or any future seed drift) fails here even when the
    pair SET happens to survive."""
    doc = spark.read.parquet(f"{neardup_doc_dir}/documents.parquet")
    rows = (
        _minhash_base(doc, F.col("text"))
        .filter(F.size("sh") > 0)
        .select("doc_id", "sh", *[f"mh{s}" for s in range(N_MINHASH)])
        .collect()
    )
    assert rows
    for r in rows:
        for s in range(N_MINHASH):
            want = min(
                hashlib.md5(f"{s}|{g}".encode()).hexdigest() for g in r["sh"]
            )
            assert r[f"mh{s}"] == want, (r["doc_id"], s)


@pytest.mark.parametrize("name", DOC_ENTRIES)
def test_dedup_family_null_text_parity(spark, neardup_doc_dir, name):
    """Oracle parity for every documents-table dedup entry on the
    NULL/near-dup corpus (NULL text crashed or diverged nothing — it
    must flow through as SQL-NULL semantics on both engines)."""
    builder, sql = CATALOG[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{neardup_doc_dir}/documents.parquet'"
    )
    try:
        got = builder(spark, neardup_doc_dir).toPandas()
        want = con.execute(sql).fetch_df()
        compare_frames(got, want, name)
    finally:
        con.close()


SIM_ENTRIES = ["cosine_topk", "lsh_ann_buckets", "lsh_ann_pairs", "embedding_near_dup"]


@pytest.fixture(scope="module")
def nullemb_dir(tmp_path_factory):
    """Embeddings with a NULL vector (crashes DuckDB's list_dot_product
    if it reaches the join), an all-zero vector (norm 0: a plain ANSI
    division kills the whole Spark job), and an exact duplicate."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("nullembs")
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(64).astype("float32").tolist(), 0) for i in range(20)]
    rows.append((20, None, 0))          # NULL embedding
    rows.append((21, [0.0] * 64, 0))    # zero vector: norm 0
    rows.append((22, rows[0][1][:], 0))  # exact dup of vec 0
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


@pytest.mark.parametrize("name", SIM_ENTRIES)
def test_similarity_null_and_zero_vector_parity(spark, nullemb_dir, name):
    """NULL embeddings are excluded by contract on BOTH engines; a
    zero vector yields SQL-NULL cosine (try_divide / DuckDB's
    null-on-zero division) instead of an ANSI DIVIDE_BY_ZERO task
    crash — and the two engines still hash-match."""
    builder, sql = CATALOG[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{nullemb_dir}/embeddings.parquet'"
    )
    try:
        got = builder(spark, nullemb_dir).toPandas()
        want = con.execute(sql).fetch_df()
        compare_frames(got, want, name)
        if name == "lsh_ann_buckets":
            # the NULL row is excluded, not bucketed: 23 vectors in, 22 kept
            assert int(got["bucket_size"].sum()) == 22
    finally:
        con.close()


EVENT_ENTRIES = [
    "filter_null_notin", "distinct_count", "all_null_check", "join_asof",
    "window_running_lag", "cdc_lww_state", "incremental_upsert_fold",
    "json_extraction", "windowed_event_counts", "grouped_linear_trend",
    "schema_coercion",
]


@pytest.fixture(scope="module")
def nullevents_dir(tmp_path_factory):
    """Events with NULLs in every column somewhere: a NULL event_id
    (window null-ordering diverges between Spark ASC=nulls-first and
    DuckDB=nulls-last unless pinned), a NULL ts (no event-time window,
    no day for the trend fit), malformed JSON props (DuckDB's ->>
    raises where Spark's get_json_object nulls), NULL values."""
    d = tmp_path_factory.mktemp("nullevents")
    pd.DataFrame(
        {
            "event_id": pd.array([1, 2, 3, None, 5, 6, 7, 8], dtype="Int64"),
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 11:00", None,
                 "2024-01-02 09:00", "2024-01-02 10:00", "2024-01-03 08:00",
                 "2024-01-03 09:00", "2024-01-03 10:00"]
            ).astype("datetime64[us]"),
            "user_id": pd.array([1, 1, 2, 2, None, 3, 3, 1], dtype="Int64"),
            "event_type": ["view", "purchase", "signup", None, "click",
                           "signup", "purchase", "delete"],
            "value": [1.5, None, 2.0, 3.0, 4.0, None, 5.0, 6.0],
            "props": ['{"k": 1}', None, '{"k": 2}', "not json", '{"x": 3}',
                      None, '{"k": 4}', '{"k": 5}'],
        }
    ).to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", EVENT_ENTRIES)
def test_events_family_null_parity(spark, nullevents_dir, name):
    """Oracle parity for every events-table entry on the NULL-rich
    corpus: pinned window null-ordering (NULLS FIRST both sides),
    json_valid-guarded extraction, NULL-event-time rows excluded from
    event-time windows on both engines, and NULL day/cents observations
    excluded from the trend fit instead of crashing the Arrow kernel."""
    builder, sql = CATALOG[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{nullevents_dir}/events.parquet'"
    )
    try:
        got = builder(spark, nullevents_dir).toPandas()
        want = con.execute(sql).fetch_df()
        compare_frames(got, want, name)
    finally:
        con.close()


# ---------------------------------------------------------------- WAL contract
def test_engine_refuses_null_contract_columns(spark, tmp_path):
    """NULL key / offset / op events are silent corruption (NULL keys
    can never be matched again — NULL != NULL in the merge join; a NULL
    offset breaks the fence; a NULL op is unclassifiable): both the
    replay loop and direct apply_batch must refuse LOUDLY, and the
    audit must ride the existing bounds aggregation (no extra pass)."""
    from pyspark.sql import functions as F

    from etl_spark.cdc import ReplayEngine, generate_changelog

    log = generate_changelog(spark, 120, seed=3, n_repos=3, paths_per_repo=5, num_batches=2)
    cases = {
        "repo": log.withColumn("repo", F.when(F.col("offset") == 7, None).otherwise(F.col("repo"))),
        "offset": log.withColumn("offset", F.when(F.col("offset") == 7, None).otherwise(F.col("offset"))),
        "op": log.withColumn("op", F.when(F.col("offset") == 7, None).otherwise(F.col("op"))),
    }
    for col, bad in cases.items():
        eng = ReplayEngine(spark, str(tmp_path / f"t_{col}"), num_buckets=4)
        with pytest.raises(ValueError, match=f"WAL contract.*{col}"):
            eng.apply_batch(bad, 0)
        eng2 = ReplayEngine(spark, str(tmp_path / f"t2_{col}"), num_buckets=4)
        with pytest.raises(ValueError, match="WAL contract"):
            eng2.replay(bad)


def test_null_commit_is_orderable_and_strategy_consistent(spark, tmp_path):
    """A NULL commit is ALLOWED through the contract check and loses to
    every non-NULL commit, identically in all three LWW strategies."""
    from etl_spark.cdc import ReplayEngine
    from etl_spark.cdc.lww import lww_winners, lww_winners_broadcast
    from tests.oracle import lww_winners_window

    df = spark.createDataFrame(
        [("r1", "a", None, 5, "x"), ("r1", "a", "c2", 3, "y"), ("r2", "b", None, 7, "z")],
        "repo string, path string, commit string, offset long, content string",
    )
    results = []
    for fn in (lww_winners, lww_winners_broadcast, lww_winners_window):
        results.append(sorted(
            (r["repo"], r["path"], r["commit"], r["offset"])
            for r in fn(df, key_columns=["repo", "path"], order_columns=["commit", "offset"]).collect()
        ))
    assert results[0] == results[1] == results[2]
    # NULL commit lost to c2 for r1/a; won by default (only event) for r2/b
    assert results[0] == [("r1", "a", "c2", 3), ("r2", "b", None, 7)]

    # and the engine applies a NULL-commit event without refusing
    from pyspark.sql import functions as F

    from etl_spark.cdc import generate_changelog

    log = generate_changelog(spark, 60, seed=5, n_repos=2, paths_per_repo=4, num_batches=1)
    log = log.withColumn("commit", F.when(F.col("offset") == 3, None).otherwise(F.col("commit")))
    eng = ReplayEngine(spark, str(tmp_path / "nullcommit"), num_buckets=4)
    eng.apply_batch(log, 0)
    assert eng.read_state().count() > 0


def test_boilerplate_null_text_keeps_skeleton_page(spark, neardup_doc_dir):
    """concat_ws skips the NULL text on BOTH engines: the NULL doc's
    page is the 3-line nav/section/footer skeleton, not a NULL page
    that silently vanishes from the line index."""
    builder, _ = CATALOG["boilerplate_line_dedup"]
    out = {r["doc_id"]: r for r in builder(spark, neardup_doc_dir).collect()}
    null_doc = out[2]
    # corpus df <= BOILERPLATE_MAX_DF here, so nothing is stripped: the
    # skeleton page survives reassembly intact
    assert null_doc["lines_kept"] == 3
    assert null_doc["content_clean"].count("\n") == 2
