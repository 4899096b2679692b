"""Property-based replay determinism: for RANDOM changelog shapes
(seed, skew, op mix, batch split, mode, strategy), replaying the log
always reaches the pandas oracle's final state with exact sha256
parity. The deterministic seed-42 suites pin known shapes; this sweeps
the shape space (bounded examples — each case is a full engine run)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from tests.oracle import apply_log_oracle

CASE = st.fixed_dictionaries(
    {
        "seed": st.integers(min_value=0, max_value=2**31 - 1),
        "n_events": st.integers(min_value=50, max_value=1200),
        "n_repos": st.integers(min_value=1, max_value=8),
        "paths_per_repo": st.integers(min_value=1, max_value=15),
        "hot_share": st.floats(min_value=0.0, max_value=0.9),
        "num_batches": st.integers(min_value=1, max_value=5),
        "p_insert": st.floats(min_value=0.1, max_value=0.7),
        "p_update": st.floats(min_value=0.0, max_value=0.3),
        "mode": st.sampled_from(["cow", "mor"]),
        "lww_strategy": st.sampled_from(["broadcast", "agg", "salted"]),
        # one replay loop at every depth: 1 is the sequential replay
        "pipeline_depth": st.sampled_from([1, 2, 4]),
    }
)


@pytest.fixture(scope="module")
def mk_engine(spark, tmp_path_factory):
    counter = {"n": 0}

    def make(mode, lww_strategy):
        counter["n"] += 1
        root = tmp_path_factory.mktemp("prop") / f"t{counter['n']}"
        return ReplayEngine(
            spark, str(root), num_buckets=3, mode=mode, lww_strategy=lww_strategy,
            compact_threshold=2,
        )

    return make


@settings(
    # 5 keeps the suite fast; raise via env for one-off deep sweeps
    # (PROP_MAX_EXAMPLES=25 python -m pytest tests/test_property_replay.py)
    max_examples=int(os.environ.get("PROP_MAX_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=CASE)
def test_replay_matches_oracle_for_random_shapes(spark, mk_engine, case):
    log = generate_changelog(
        spark,
        case["n_events"],
        seed=case["seed"],
        n_repos=case["n_repos"],
        paths_per_repo=case["paths_per_repo"],
        hot_share=case["hot_share"],
        num_batches=case["num_batches"],
        p_insert=case["p_insert"],
        p_update=case["p_update"],
    )
    pdf = log.toPandas()
    want = apply_log_oracle(pdf)
    eng = mk_engine(case["mode"], case["lww_strategy"])
    results = eng.replay(log, pipeline_depth=case["pipeline_depth"])
    for r in results:
        assert set(r["timings_ms"]) == {"plan", "write", "stats_wait", "commit"}
    got = (
        eng.read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.reset_index(drop=True))


CRASH_CASE = st.fixed_dictionaries(
    {
        "seed": st.integers(min_value=0, max_value=2**31 - 1),
        "n_events": st.integers(min_value=50, max_value=800),
        "n_repos": st.integers(min_value=1, max_value=6),
        "paths_per_repo": st.integers(min_value=1, max_value=10),
        "num_batches": st.integers(min_value=2, max_value=5),
        "crash_at": st.integers(min_value=1, max_value=4),  # mod num_batches
        "mode": st.sampled_from(["cow", "mor"]),
        "strategy_before": st.sampled_from(["broadcast", "agg", "salted"]),
        "strategy_after": st.sampled_from(["broadcast", "agg", "salted"]),
        "pipeline_depth": st.sampled_from([1, 2, 4]),
    }
)


@settings(
    max_examples=int(os.environ.get("PROP_MAX_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=CRASH_CASE)
def test_crash_resume_matches_oracle_for_random_shapes(
    spark, tmp_path_factory, case
):
    """Randomized crash/resume: replay a random prefix of the batches,
    drop the engine handle (crash at a commit boundary), resume the FULL
    log through a fresh handle — possibly under a DIFFERENT LWW strategy
    (strategies are per-engine, not recorded; all three are algebraically
    identical) — and land byte-exactly on the pandas oracle. A second
    full re-replay must then be a pure fence no-op."""
    log = generate_changelog(
        spark,
        case["n_events"],
        seed=case["seed"],
        n_repos=case["n_repos"],
        paths_per_repo=case["paths_per_repo"],
        num_batches=case["num_batches"],
    )
    pdf = log.toPandas()
    want = apply_log_oracle(pdf).reset_index(drop=True)
    k = 1 + (case["crash_at"] % case["num_batches"])  # 1..num_batches
    root = str(tmp_path_factory.mktemp("crash") / "t")
    eng1 = ReplayEngine(
        spark, root, num_buckets=3, mode=case["mode"],
        lww_strategy=case["strategy_before"], compact_threshold=2,
    )
    depth = case["pipeline_depth"]
    eng1.replay(log, batches=list(range(k)), pipeline_depth=depth)
    del eng1  # crash at the k-th commit boundary

    eng2 = ReplayEngine(
        spark, root, num_buckets=3, mode=case["mode"],
        lww_strategy=case["strategy_after"], compact_threshold=2,
    )
    eng2.replay(log, pipeline_depth=depth)  # applied prefix fences out; remainder applies

    def state(eng):
        return (
            eng.read_state()
            .select("repo", "path", "commit", "lang", "content", "content_sha256")
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(state(eng2), want)
    # double-resume: every batch already applied -> all skipped, state fixed
    results = eng2.replay(log)
    assert all(r.get("skipped") for r in results)
    pd.testing.assert_frame_equal(state(eng2), want)


NULL_CASE = st.fixed_dictionaries(
    {
        "seed": st.integers(min_value=0, max_value=2**31 - 1),
        "n_events": st.integers(min_value=50, max_value=800),
        "n_repos": st.integers(min_value=1, max_value=6),
        "paths_per_repo": st.integers(min_value=1, max_value=10),
        "num_batches": st.integers(min_value=1, max_value=4),
        # NULL-injection density per payload column (mod on offset)
        "null_commit_mod": st.integers(min_value=2, max_value=9),
        "null_content_mod": st.integers(min_value=2, max_value=9),
        "null_lang_mod": st.integers(min_value=2, max_value=9),
        "mode": st.sampled_from(["cow", "mor"]),
        "lww_strategy": st.sampled_from(["broadcast", "agg", "salted"]),
    }
)


@settings(
    max_examples=int(os.environ.get("PROP_MAX_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=NULL_CASE)
def test_replay_matches_oracle_with_null_payloads(spark, mk_engine, case):
    """NULL-payload property sweep: NULL commits (allowed — they LOSE
    deterministically to every non-NULL commit, with offset breaking
    ties among NULLs), NULL content (null sha256, never a crash), and
    NULL lang are injected at random densities into random log shapes;
    replay in a random mode/strategy must still land byte-exactly on
    the pandas oracle (whose na_position='first' pins the same
    NULL-commit ordering contract the engine's struct max implements)."""
    from pyspark.sql import functions as F

    log = generate_changelog(
        spark,
        case["n_events"],
        seed=case["seed"],
        n_repos=case["n_repos"],
        paths_per_repo=case["paths_per_repo"],
        num_batches=case["num_batches"],
    )
    log = (
        log.withColumn(
            "commit",
            F.when(F.col("offset") % case["null_commit_mod"] == 0, None).otherwise(F.col("commit")),
        )
        .withColumn(
            "content",
            F.when(F.col("offset") % case["null_content_mod"] == 1, None).otherwise(F.col("content")),
        )
        .withColumn(
            "lang",
            F.when(F.col("offset") % case["null_lang_mod"] == 1, None).otherwise(F.col("lang")),
        )
    )
    pdf = log.toPandas()
    want = apply_log_oracle(pdf)
    eng = mk_engine(case["mode"], case["lww_strategy"])
    eng.replay(log)
    got = (
        eng.read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.reset_index(drop=True))


DDL_CASE = st.fixed_dictionaries(
    {
        "seed": st.integers(min_value=0, max_value=2**31 - 1),
        "n_events": st.integers(min_value=80, max_value=600),
        "n_repos": st.integers(min_value=1, max_value=6),
        "paths_per_repo": st.integers(min_value=1, max_value=10),
        "num_batches": st.integers(min_value=2, max_value=4),
        "mode": st.sampled_from(["cow", "mor"]),
        "n_ops": st.integers(min_value=1, max_value=6),
        "op_seed": st.integers(min_value=0, max_value=2**31 - 1),
        "crash_at": st.integers(min_value=1, max_value=4),  # mod num_batches
        # DDL batches are pipeline barriers; batches between them overlap
        "pipeline_depth": st.sampled_from([1, 2, 4]),
    }
)


def _gen_ddl_sequence(rng, n_ops, n_events):
    """Random but internally-valid DDL sequence over the mutable payload
    columns (``lang`` + columns the sequence itself adds), applied to a
    driver-side schema model so the test can predict the final schema.
    Offsets are unique and strictly increasing in generation order —
    replay applies ops in offset order, so model order == apply order."""
    model = {"lang": "string"}  # name -> type, mutable payload cols only
    seen_names = {"lang"}
    offsets = sorted(rng.sample(range(n_events), n_ops))
    ops, counter = [], 0
    for off in offsets:
        kinds = ["add"]
        if model:
            kinds += ["rename", "drop"]
        if any(t == "long" for t in model.values()):
            kinds += ["widen"]
        kind = rng.choice(kinds)
        if kind == "add":
            counter += 1
            name, typ = f"c{counter}", rng.choice(["string", "long"])
            detail = {"type": typ}
            if rng.random() < 0.5:
                detail["default"] = "x" if typ == "string" else 7
            ops.append((off, "add_column", name, json.dumps(detail)))
            model[name] = typ
            seen_names.add(name)
        elif kind == "rename":
            counter += 1
            old, new = rng.choice(sorted(model)), f"r{counter}"
            ops.append((off, "rename_column", old, json.dumps({"new_name": new})))
            model[new] = model.pop(old)
            seen_names.add(new)
        elif kind == "widen":
            name = rng.choice(sorted(n for n, t in model.items() if t == "long"))
            ops.append((off, "widen_type", name, json.dumps({"new_type": "double"})))
            model[name] = "double"
        else:  # drop
            name = rng.choice(sorted(model))
            ops.append((off, "drop_column", name, None))
            del model[name]
    return ops, model, seen_names


@settings(
    max_examples=int(os.environ.get("PROP_MAX_EXAMPLES", "5")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=DDL_CASE)
def test_random_ddl_sequences_with_crash_resume(spark, tmp_path_factory, case):
    """Random in-flight DDL property sweep over the full evolution family
    (add_column/rename_column/widen_type/drop_column): a random valid op
    sequence at random offsets, a crash at a random commit boundary, and
    a resume must (a) leave row identity and content untouched — final
    (repo, path) -> (commit, content_sha256) equals the pandas oracle,
    DDL on payload columns never disturbs LWW or fingerprints — (b) land
    on exactly the schema the driver-side model predicts, (c) fence every
    op exactly once: a full re-replay is a pure no-op that neither bumps
    the schema version nor re-raises on an already-renamed/dropped column."""
    import random

    from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA

    rng = random.Random(case["op_seed"])
    ops, model, seen_names = _gen_ddl_sequence(rng, case["n_ops"], case["n_events"])
    ops_df = spark.createDataFrame(ops, SCHEMA_EVOLUTION_SCHEMA)

    log = generate_changelog(
        spark,
        case["n_events"],
        seed=case["seed"],
        n_repos=case["n_repos"],
        paths_per_repo=case["paths_per_repo"],
        num_batches=case["num_batches"],
    )
    want = (
        apply_log_oracle(log.toPandas())[
            ["repo", "path", "commit", "content_sha256"]
        ]
        .reset_index(drop=True)
    )

    root = str(tmp_path_factory.mktemp("ddlprop") / "t")
    k = 1 + (case["crash_at"] % case["num_batches"])
    eng1 = ReplayEngine(spark, root, num_buckets=3, mode=case["mode"], compact_threshold=2)
    depth = case["pipeline_depth"]
    eng1.replay(log, batches=list(range(k)), schema_ops=ops_df, pipeline_depth=depth)
    del eng1  # crash at the k-th commit boundary

    eng = ReplayEngine(spark, root, num_buckets=3, mode=case["mode"], compact_threshold=2)
    eng.replay(log, schema_ops=ops_df, pipeline_depth=depth)  # prefix fences out; rest applies

    state = eng.read_state()
    got = (
        state.select("repo", "path", "commit", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # (b) exactly the model's payload columns survive, under their types
    cols = set(state.columns)
    assert cols & seen_names == set(model), (cols, model)
    got_types = {f.name: f.dataType.simpleString() for f in state.schema.fields}
    for name, typ in model.items():
        assert got_types[name] == {"long": "bigint", "string": "string", "double": "double"}[typ]

    # (c) re-replay: pure fence no-op, schema version fixed
    sv = eng.table.current_snapshot().current_schema_version
    results = eng.replay(log, schema_ops=ops_df)
    assert all(r.get("skipped") for r in results)
    assert eng.table.current_snapshot().current_schema_version == sv
    assert set(eng.read_state().columns) == cols
