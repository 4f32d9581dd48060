"""Runtime-parity tests: CLI exit codes end-to-end, S3 conf mapping,
observability listener (ST7/ST11/S1).
"""

from __future__ import annotations

import json
import random
import time

from arcane_stream_parquet_spark.config import s3_hadoop_confs
from arcane_stream_parquet_spark.streaming.observability import MetricsListener

from tests.test_config import example_spec
from tests.test_streaming import write_fixture_file


def test_s3_conf_mapping():
    confs = s3_hadoop_confs(
        {
            "usePathStyle": True,
            "region": "us-east-1",
            "endpoint": "http://localhost:9000",
            "maxResultsPerPage": 1000,  # s3a pages internally → dropped
            "retryMaxAttempts": 5,
            "retryBaseDelay": "100 millisecond",
        }
    )
    assert confs == {
        "fs.s3a.path.style.access": "true",
        "fs.s3a.endpoint.region": "us-east-1",
        "fs.s3a.endpoint": "http://localhost:9000",
        "fs.s3a.retry.limit": "5",
        "fs.s3a.retry.interval": "100 millisecond",
    }


def test_cli_main_runs_and_exits_zero(spark, tmp_path, monkeypatch):
    """python -m arcane_stream_parquet_spark with the reference env
    contract: drains the stream, exits 0; missing spec exits 1."""
    from arcane_stream_parquet_spark.__main__ import main

    src = tmp_path / "landing"
    src.mkdir()
    rng = random.Random(3)
    for i in range(4):
        write_fixture_file(str(src), i, rng, 1_700_000_000 + i * 60)
    monkeypatch.setenv("STREAMCONTEXT__SPEC", json.dumps(example_spec(str(src))))
    monkeypatch.setenv("STREAMCONTEXT__BACKFILL", "false")
    monkeypatch.setenv("STREAMCONTEXT__STREAM_ID", "cli-test")

    code = main(
        [
            "--warehouse",
            str(tmp_path / "wh"),
            "--checkpoints",
            str(tmp_path / "ckpt"),
            "--available-now",
        ]
    )
    assert code == 0
    assert (tmp_path / "wh" / "iceberg" / "test" / "parquet_test").is_dir()

    monkeypatch.delenv("STREAMCONTEXT__SPEC")
    assert main(
        ["--warehouse", str(tmp_path / "wh2"), "--checkpoints", str(tmp_path / "c2")]
    ) == 1


def test_metrics_listener_captures_batches(spark, tmp_path):
    from tests.test_streaming import make_runner

    src = tmp_path / "landing"
    src.mkdir()
    rng = random.Random(9)
    for i in range(4):
        write_fixture_file(str(src), i, rng, 1_700_000_000 + i * 60)

    published: list[dict] = []
    listener = MetricsListener(
        publish=published.append, global_tags={"stream_id": "obs-test"}
    )
    spark.streams.addListener(listener)
    try:
        runner = make_runner(spark, tmp_path, src)
        runner.run_available_now(spark)
        # Progress events ride the async listener bus and can land after
        # the query returns, so poll for delivery before detaching.
        deadline = time.monotonic() + 30.0
        while (
            sum(r["num_input_rows"] for r in published) < 4 * 100
            and time.monotonic() < deadline
        ):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    # the listener is session-global and async — other tests' queries
    # on the shared session may also land here, so assert coverage of
    # THIS run (≥ all 400 fixture rows), not an exact count
    rows_seen = sum(r["num_input_rows"] for r in published)
    assert rows_seen >= 4 * 100  # every fixture row metered
    assert all(r["stream_id"] == "obs-test" for r in published)
    assert listener.records  # in-memory ring retained
