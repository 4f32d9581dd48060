"""M6 config parity tests: a spec in the reference's serialized
stream-context JSON shape (stream-context-serialized-example.json)
loads unchanged, builds the pipeline, honors the env contract, and the
exit-code semantics match main.scala:80-83.
"""

from __future__ import annotations

import json
import os
import random

import pytest

from arcane_stream_parquet_spark.config import (
    EXIT_FATAL,
    EXIT_OK,
    EXIT_RETRYABLE,
    StreamFailError,
    StreamSpec,
    build_pipeline,
    load_stream_context,
    main_exit_code,
    parse_duration_seconds,
    run_stream_context,
)

from tests.test_streaming import N_KEYS, write_fixture_file

# the Hadoop keys build_pipeline sets from example_spec's s3 block
_S3A_KEYS = ("fs.s3a.endpoint", "fs.s3a.path.style.access", "fs.s3a.endpoint.region")


@pytest.fixture(autouse=True)
def _restore_s3a_conf(request):
    """Put the shared session's ``fs.s3a.*`` keys back after each test
    that builds a pipeline, so no later test reads this spec's
    endpoint."""
    if "spark" not in request.fixturenames:
        yield
        return
    hconf = request.getfixturevalue("spark").sparkContext._jsc.hadoopConfiguration()
    saved = {k: hconf.get(k) for k in _S3A_KEYS}
    yield
    for k, v in saved.items():
        if v is None:
            hconf.unset(k)
        else:
            hconf.set(k, v)


def example_spec(source_path: str) -> dict:
    """The reference's serialized context shape, verbatim field names
    (stream-context-serialized-example.json) — engine-replaced sections
    (mergeServiceClient, icebergCatalog, observability, shaperImpl)
    included to prove they are accepted."""
    return {
        "observability": {"metricTags": {}},
        "staging": {
            "table": {
                "maxRowsPerFile": 10000,
                "stagingCatalogName": "iceberg",
                "stagingSchemaName": "test",
                "isUnifiedSchema": False,
            },
            "icebergCatalog": {
                "catalogUri": "http://localhost:20001/catalog",
                "namespace": "test",
                "warehouse": "demo",
            },
        },
        "streamMode": {
            "backfill": {
                "backfillBehavior": "Overwrite",
                "backfillStartDate": "2020-01-01T00:00:00Z",
            },
            "changeCapture": {
                "changeCaptureInterval": "5 second",
                "changeCaptureJitterVariance": 0.1,
                "changeCaptureJitterSeed": 0,
            },
        },
        "sink": {
            "mergeServiceClient": {
                "connectionUrl": "jdbc:trino://localhost:8080",
                "queryRetryMaxAttempts": 3,
            },
            "targetTableProperties": {
                "format": "PARQUET",
                "sortedBy": ["createdon ASC NULLS LAST"],
                "parquetBloomFilterColumns": [],
            },
            "targetTableFullName": "iceberg.test.parquet_test",
            "maintenanceSettings": {
                "targetOptimizeSettings": {
                    "batchThreshold": 60,
                    "fileSizeThreshold": "512MB",
                },
                "targetSnapshotExpirationSettings": {
                    "batchThreshold": 60,
                    "retentionThreshold": "6h",
                },
                "targetAnalyzeSettings": {"includedColumns": [], "batchThreshold": 180},
            },
        },
        "throughput": {
            "shaperImpl": {"memoryBound": {"chunkCostScale": 1}},
            "advisedRate": "1000 per 1 second",
            "advisedBurst": 1000,
            "advisedChunkSize": 3,
        },
        "source": {
            "configuration": {
                "sourcePath": source_path,
                "tempStoragePath": "/tmp",
                "primaryKeys": ["col0"],
                "useNameMapping": False,
                "s3": {
                    "usePathStyle": True,
                    "region": "us-east-1",
                    "endpoint": "http://localhost:9000",
                },
            },
            "buffering": {"enabled": False, "strategy": {}},
            "fieldSelectionRule": {
                "essentialFields": [],
                "rule": {"all": {}},
                "isServerSide": False,
            },
        },
    }


def test_literal_parsers():
    assert parse_duration_seconds("100 millisecond") == pytest.approx(0.1)
    assert parse_duration_seconds("5 second") == 5.0
    assert parse_duration_seconds("6h") == 21600.0
    with pytest.raises(ValueError):
        parse_duration_seconds("fortnight")


def test_spec_field_mapping(tmp_path):
    spec = StreamSpec.from_json(json.dumps(example_spec("/data/landing")))
    assert spec.source_path == "/data/landing"
    assert spec.primary_keys == ["col0"]
    assert spec.change_capture_interval_seconds == 5.0
    assert spec.backfill_behavior == "Overwrite"
    assert spec.max_rows_per_file == 10000
    assert spec.sorted_by == ("createdon",)
    assert spec.maintenance_batch_threshold == 60  # min of the cadences
    assert spec.max_files_per_trigger == 3
    assert spec.field_selection == ("all", frozenset(), frozenset())
    assert spec.target_table_full_name == "iceberg.test.parquet_test"


def test_env_contract(tmp_path):
    env = {
        "STREAMCONTEXT__SPEC": json.dumps(example_spec("/data/landing")),
        "STREAMCONTEXT__BACKFILL": "true",
        "STREAMCONTEXT__STREAM_ID": "parquet-test-stream",
        "STREAMCONTEXT__STREAM_KIND": "ParquetStream",
    }
    ctx = load_stream_context(env)
    assert ctx.backfill is True
    assert ctx.stream_id == "parquet-test-stream"
    assert ctx.spec.primary_keys == ["col0"]
    with pytest.raises(KeyError, match="STREAMCONTEXT__SPEC"):
        load_stream_context({})


def test_spec_to_pipeline_end_to_end(spark, tmp_path):
    """The full M6 path: reference-shaped spec + env → resolved graph →
    streaming drain → golden upsert counts (IntegrationTests.scala
    golden outcome, driven purely by config)."""
    src = tmp_path / "landing"
    src.mkdir()
    rng = random.Random(7)
    for i in range(6):
        write_fixture_file(str(src), i, rng, 1_700_000_000 + i * 60)

    env = {
        "STREAMCONTEXT__SPEC": json.dumps(example_spec(str(src))),
        "STREAMCONTEXT__BACKFILL": "false",
    }
    ctx = load_stream_context(env)
    run_stream_context(
        spark,
        ctx,
        warehouse_root=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
        available_now=True,
    )
    # target materialized under warehouse/<catalog>/<schema>/<table>
    tgt_path = tmp_path / "wh" / "iceberg" / "test" / "parquet_test"
    assert tgt_path.is_dir()
    _, target, _ = build_pipeline(
        spark, ctx.spec, str(tmp_path / "wh"), str(tmp_path / "ckpt")
    )
    assert target.read().count() == N_KEYS
    assert target.watermark() is not None


def test_backfill_mode_from_env(spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    rng = random.Random(7)
    for i in range(3):
        write_fixture_file(str(src), i, rng, 1_700_000_000 + i * 60)
    env = {
        "STREAMCONTEXT__SPEC": json.dumps(example_spec(str(src))),
        "STREAMCONTEXT__BACKFILL": "true",  # Overwrite behavior from spec
    }
    ctx = load_stream_context(env)
    run_stream_context(
        spark,
        ctx,
        warehouse_root=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    _, target, _ = build_pipeline(
        spark, ctx.spec, str(tmp_path / "wh"), str(tmp_path / "ckpt")
    )
    assert target.read().count() == N_KEYS


def test_exit_code_contract():
    assert main_exit_code(lambda: None) == EXIT_OK
    assert main_exit_code(lambda: (_ for _ in ()).throw(StreamFailError("net"))) == EXIT_RETRYABLE
    assert main_exit_code(lambda: (_ for _ in ()).throw(ValueError("bad"))) == EXIT_FATAL


def test_merge_mode_mapping(tmp_path):
    """sink.targetTableProperties.mergeMode (Iceberg write.merge.mode
    vocabulary) maps to the parquet target's cow/mor strategy; default
    is copy-on-write; unknown values raise."""
    raw = example_spec("/data/landing")
    spec = StreamSpec.from_json(json.dumps(raw))
    assert spec.merge_mode == "cow"
    raw["sink"].setdefault("targetTableProperties", {})["mergeMode"] = (
        "merge-on-read"
    )
    assert StreamSpec.from_json(json.dumps(raw)).merge_mode == "mor"
    raw["sink"]["targetTableProperties"]["mergeMode"] = "append-only"
    with pytest.raises(ValueError, match="mergeMode"):
        StreamSpec.from_json(json.dumps(raw)).merge_mode


def test_merge_mode_reaches_parquet_target(spark, tmp_path):
    from arcane_stream_parquet_spark.config import build_pipeline, StreamContext

    raw = example_spec(str(tmp_path / "landing"))
    raw["sink"].setdefault("targetTableProperties", {})["mergeMode"] = (
        "merge-on-read"
    )
    ctx = StreamContext(
        spec=StreamSpec.from_json(json.dumps(raw)),
        backfill=False,
        stream_id="s",
        stream_kind="ParquetStream",
    )
    _src, target, _runner = build_pipeline(
        spark,
        ctx.spec,
        warehouse_root=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ck"),
    )
    assert getattr(target, "merge_mode", None) == "mor"


def test_streaming_end_to_end_with_merge_on_read(spark, tmp_path):
    """The full config-driven streaming path under
    mergeMode=merge-on-read, with a tight maintenance cadence so
    compact()/vacuum() fold the accumulated delete files mid-stream:
    final contents must equal the copy-on-write run byte-for-byte."""
    src = tmp_path / "landing"
    src.mkdir()
    rng = random.Random(11)
    for i in range(6):
        write_fixture_file(str(src), i, rng, 1_700_000_000 + i * 60)

    results = {}
    for label, mode in (("cow", "copy-on-write"), ("mor", "merge-on-read")):
        raw = example_spec(str(src))
        raw["sink"].setdefault("targetTableProperties", {})["mergeMode"] = mode
        raw["sink"]["targetTableFullName"] = f"iceberg.test.t_{label}"
        # compact+vacuum every 2 micro-batches exercises the fold-in
        raw["sink"]["maintenanceSettings"] = {
            "targetOptimizeSettings": {"batchThreshold": 2},
            "targetSnapshotExpirationSettings": {"batchThreshold": 2},
        }
        env = {
            "STREAMCONTEXT__SPEC": json.dumps(raw),
            "STREAMCONTEXT__BACKFILL": "false",
        }
        ctx = load_stream_context(env)
        run_stream_context(
            spark,
            ctx,
            warehouse_root=str(tmp_path / "wh"),
            checkpoint_root=str(tmp_path / f"ckpt_{label}"),
            available_now=True,
        )
        _, target, _ = build_pipeline(
            spark, ctx.spec, str(tmp_path / "wh"), str(tmp_path / "ckpt2")
        )
        results[label] = sorted(
            tuple(r) for r in target.read().drop("createdon").collect()
        )
    assert results["cow"] == results["mor"]
    assert len(results["cow"]) == N_KEYS


def test_spec_s3_block_reaches_hadoop_conf(spark, tmp_path):
    """build_pipeline applies source.configuration.s3 to the session's
    fs.s3a.* confs (endpoint, path style, region)."""
    raw = example_spec(str(tmp_path / "landing"))
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    build_pipeline(
        spark,
        StreamSpec.from_json(json.dumps(raw)),
        warehouse_root=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ck"),
    )
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.endpoint.region") == "us-east-1"
