"""Round-5 in-round review closures: auto-retention knobs reach the
stream/flagship engines, and the merge conf bracket survives a stats
thread that fails to start."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine


def test_cli_stream_constructs_engine_with_expire_knobs(
    spark, capsys, tmp_path, monkeypatch
):
    """`etl_spark stream --expire-every N` must reach the engine that
    actually applies micro-batches (stream_replay builds its own), not
    just the CLI's outer inspection engine — a long-running stream is
    exactly the one-snapshot-per-micro-batch case retention exists for."""
    from etl_spark.cli import main
    import etl_spark.cdc.replay as replay_mod

    wal = str(tmp_path / "wal")
    generate_changelog(
        spark, 400, seed=3, n_repos=3, paths_per_repo=10, num_batches=2
    ).write.mode("overwrite").parquet(wal)

    constructions: list[dict] = []
    orig = replay_mod.ReplayEngine.__init__

    def spy(self, *a, **kw):
        constructions.append(kw)
        return orig(self, *a, **kw)

    monkeypatch.setattr(replay_mod.ReplayEngine, "__init__", spy)
    rc = main([
        "stream", "--changelog", wal, "--table", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ckpt"), "--mode", "mor",
        "--expire-every", "2", "--expire-keep-last", "3",
    ])
    assert rc == 0
    capsys.readouterr()
    # EVERY construction (outer CLI engine AND stream_replay's inner
    # engine) must carry the retention knobs
    assert len(constructions) >= 2
    for kw in constructions:
        assert kw.get("expire_every") == 2, kw
        assert kw.get("expire_keep_last") == 3, kw


def test_flagship_exposes_expire_knobs():
    """run_sd_delta_flagship accepts and forwards the retention knobs
    (the CLI passes them; a signature without them was silently
    swallowing the user's flags)."""
    from etl_spark.plans.sd_delta_flagship import run_sd_delta_flagship

    params = inspect.signature(run_sd_delta_flagship).parameters
    assert "expire_every" in params and "expire_keep_last" in params
    src = inspect.getsource(run_sd_delta_flagship)
    assert "expire_every=expire_every" in src


def test_merge_conf_restored_when_stats_thread_start_fails(
    spark, tmp_path, monkeypatch
):
    """The replay loop's shuffle-partitions override must restore the
    conf even when the concurrent stats task fails to START (thread
    exhaustion): a submit raising after the conf override must not pin
    shuffle.partitions to num_buckets for the session lifetime."""
    from concurrent.futures import ThreadPoolExecutor

    log = generate_changelog(
        spark, 300, seed=5, n_repos=3, paths_per_repo=10, num_batches=1
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    real_submit = ThreadPoolExecutor.submit

    def failing_submit(self, fn, /, *args, **kwargs):
        # only the loop's stats tasks fail to start
        if self._thread_name_prefix.startswith("replay-stats"):
            raise RuntimeError("can't start new thread")
        return real_submit(self, fn, *args, **kwargs)

    monkeypatch.setattr(ThreadPoolExecutor, "submit", failing_submit)
    with pytest.raises(RuntimeError, match="can't start new thread"):
        eng.apply_batch(log, 0)
    monkeypatch.setattr(ThreadPoolExecutor, "submit", real_submit)

    assert spark.conf.get(key) == before
    # the batch was not committed — a retry applies it cleanly
    r = eng.apply_batch(log, 0)
    assert not r["skipped"]
    assert eng.read_state().count() > 0
