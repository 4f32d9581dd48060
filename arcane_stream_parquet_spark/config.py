"""Stream-context config parity (SURVEY.md §7 M6): load the reference's
CRD-shaped JSON spec and build the Spark pipeline from it, so a
reference user can point their existing spec at this engine.

Field names mirror the serialized stream context
(reference stream-context-serialized-example.json, crd-parquet-stream.
yaml:37-557, ParquetPluginStreamContext.scala:21-33). Sections the
Spark engine replaces wholesale are accepted-and-ignored rather than
rejected (observability → Spark metrics; mergeServiceClient JDBC →
Spark executes its own merge; icebergCatalog → ParquetMergeTarget
stand-in; throughput.shaperImpl.memoryBound → Spark memory management,
SURVEY.md ST6) — a spec written for the reference loads unchanged.

Env contract (reference main.scala + justfile:46-49):
- ``STREAMCONTEXT__SPEC``      the JSON document
- ``STREAMCONTEXT__BACKFILL``  "true" → backfill graph (E2)
- ``STREAMCONTEXT__STREAM_ID`` / ``STREAMCONTEXT__STREAM_KIND``  identity

Exit-code contract (reference main.scala:80-83, ST7): retryable
failures (``StreamFailError``) exit 2 — Kubernetes podFailurePolicy
retries those without counting; anything else exits 1.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Any

from arcane_stream_parquet_spark.fsio import fs_join

_DURATION_UNITS = {
    "ms": 0.001,
    "millisecond": 0.001,
    "milliseconds": 0.001,
    "s": 1.0,
    "second": 1.0,
    "seconds": 1.0,
    "m": 60.0,
    "minute": 60.0,
    "minutes": 60.0,
    "h": 3600.0,
    "hour": 3600.0,
    "hours": 3600.0,
    "d": 86400.0,
    "day": 86400.0,
    "days": 86400.0,
}


def parse_duration_seconds(text: str) -> float:
    """'100 millisecond' | '5 second' | '6h' → seconds (CRD duration
    literals, crd-parquet-stream.yaml:498-503)."""
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*", text)
    if not m or m.group(2).lower() not in _DURATION_UNITS:
        raise ValueError(f"unparseable duration literal: {text!r}")
    return float(m.group(1)) * _DURATION_UNITS[m.group(2).lower()]


@dataclass(frozen=True)
class StreamSpec:
    """Typed view over the spec JSON — raw dict kept for passthrough."""

    raw: dict

    # -- source ------------------------------------------------------------

    @property
    def source_path(self) -> str:
        return self.raw["source"]["configuration"]["sourcePath"]

    @property
    def primary_keys(self) -> list[str]:
        return list(self.raw["source"]["configuration"]["primaryKeys"])

    @property
    def s3_options(self) -> dict[str, Any]:
        """fs.s3a.* passthrough inputs (reference S1; sources/blob.py
        documents the mapping — endpoint, path style, region)."""
        return dict(self.raw["source"]["configuration"].get("s3", {}))

    @property
    def field_selection(self) -> tuple[str, frozenset[str], frozenset[str]]:
        """(mode, fields, essential) from fieldSelectionRule — rule is
        the uPickle enum encoding {all:{}} | {include:{fields:[…]}} |
        {exclude:{fields:[…]}} (docs/crd.md:184-200)."""
        fsr = self.raw["source"].get("fieldSelectionRule", {"rule": {"all": {}}})
        rule = fsr.get("rule", {"all": {}})
        essential = frozenset(fsr.get("essentialFields", []))
        if "include" in rule:
            return "include", frozenset(rule["include"].get("fields", [])), essential
        if "exclude" in rule:
            return "exclude", frozenset(rule["exclude"].get("fields", [])), essential
        return "all", frozenset(), essential

    # -- streamMode --------------------------------------------------------

    @property
    def change_capture_interval_seconds(self) -> float:
        cc = self.raw.get("streamMode", {}).get("changeCapture", {})
        return parse_duration_seconds(cc.get("changeCaptureInterval", "300 second"))

    @property
    def backfill_behavior(self) -> str:
        return (
            self.raw.get("streamMode", {})
            .get("backfill", {})
            .get("backfillBehavior", "Merge")
        )

    @property
    def backfill_start_date(self) -> str | None:
        return (
            self.raw.get("streamMode", {}).get("backfill", {}).get("backfillStartDate")
        )

    # -- staging / sink ----------------------------------------------------

    @property
    def max_rows_per_file(self) -> int | None:
        return self.raw.get("staging", {}).get("table", {}).get("maxRowsPerFile")

    @property
    def is_unified_schema(self) -> bool:
        return bool(
            self.raw.get("staging", {}).get("table", {}).get("isUnifiedSchema", False)
        )

    @property
    def target_table_full_name(self) -> str:
        return self.raw["sink"]["targetTableFullName"]

    @property
    def sorted_by(self) -> tuple[str, ...]:
        """Write-time sort columns; CRD entries look like
        'order_date ASC NULLS LAST' (docs/crd.md:229-232) — only the
        column name drives sortWithinPartitions (direction/null order
        kept simple: ascending, the parquet-stats-friendly layout)."""
        entries = (
            self.raw.get("sink", {}).get("targetTableProperties", {}).get("sortedBy", [])
        )
        return tuple(e.split()[0] for e in entries if e.strip())

    @property
    def bloom_filter_cols(self) -> tuple[str, ...]:
        """tableProperties.parquetBloomFilterColumns → per-column
        parquet bloom filters (crd-parquet-stream.yaml:220-224)."""
        return tuple(
            self.raw.get("sink", {})
            .get("targetTableProperties", {})
            .get("parquetBloomFilterColumns", [])
        )

    @property
    def merge_mode(self) -> str:
        """``sink.targetTableProperties.mergeMode`` → the parquet
        target's write strategy, in Iceberg's ``write.merge.mode``
        vocabulary (the property the reference's Iceberg v2 sink runs
        under — IcebergMergeTarget pins ``merge-on-read``):
        ``copy-on-write`` (default) rewrites touched files,
        ``merge-on-read`` appends deltas + delete files (r6)."""
        raw = (
            self.raw.get("sink", {})
            .get("targetTableProperties", {})
            .get("mergeMode", "copy-on-write")
        )
        mapping = {"copy-on-write": "cow", "merge-on-read": "mor"}
        if raw not in mapping:
            raise ValueError(
                f"mergeMode must be copy-on-write|merge-on-read, got {raw!r}"
            )
        return mapping[raw]

    @property
    def query_retry(self):
        """``sink.mergeServiceClient.queryRetry*`` → QueryRetryPolicy
        (reference stream-context-serialized-example.json:50-56). The
        mode is the uPickle enum encoding ``{"never":{}} | {"always":{}}
        | {"backfillOnly":{}}``; durations are CRD literals."""
        from arcane_stream_parquet_spark.streaming.retry import QueryRetryPolicy

        msc = self.raw.get("sink", {}).get("mergeServiceClient", {})
        mode_obj = msc.get("queryRetryMode", {"never": {}})
        mode = next(iter(mode_obj)) if mode_obj else "never"
        return QueryRetryPolicy(
            mode=mode,
            base_duration_seconds=parse_duration_seconds(
                msc.get("queryRetryBaseDuration", "1 second")
            ),
            scale_factor=float(msc.get("queryRetryScaleFactor", 2.0)),
            max_attempts=int(msc.get("queryRetryMaxAttempts", 3)),
            retry_on_message_contents=tuple(
                msc.get("queryRetryOnMessageContents", [])
            ),
        )

    @property
    def maintenance_batch_threshold(self) -> int:
        """Smallest of the four reference maintenance cadences — the
        stream runner runs compact + vacuum together at it (no
        ANALYZE/stats step)."""
        ms = self.raw.get("sink", {}).get("maintenanceSettings", {})
        thresholds = [
            s.get("batchThreshold")
            for s in ms.values()
            if isinstance(s, dict) and s.get("batchThreshold")
        ]
        return min(thresholds) if thresholds else 60

    # -- throughput (ST6) --------------------------------------------------

    @property
    def max_files_per_trigger(self) -> int | None:
        """advisedChunkSize caps blobs per emitted group (docs/crd.md:
        30-36) → maxFilesPerTrigger is the Spark equivalent."""
        return self.raw.get("throughput", {}).get("advisedChunkSize")

    @classmethod
    def from_json(cls, text: str) -> StreamSpec:
        return cls(raw=json.loads(text))


# ---------------------------------------------------------------------------
# Env contract


@dataclass(frozen=True)
class StreamContext:
    spec: StreamSpec
    backfill: bool
    stream_id: str
    stream_kind: str


def load_stream_context(env: dict[str, str] | None = None) -> StreamContext:
    """Reference env contract (dev.env.example:5,8,39; justfile:46-49)."""
    env = dict(os.environ) if env is None else env
    try:
        spec_text = env["STREAMCONTEXT__SPEC"]
    except KeyError:
        raise KeyError("STREAMCONTEXT__SPEC is required") from None
    return StreamContext(
        spec=StreamSpec.from_json(spec_text),
        backfill=env.get("STREAMCONTEXT__BACKFILL", "false").lower() == "true",
        stream_id=env.get("STREAMCONTEXT__STREAM_ID", ""),
        stream_kind=env.get("STREAMCONTEXT__STREAM_KIND", "ParquetStream"),
    )


# ---------------------------------------------------------------------------
# Pipeline assembly


def build_pipeline(spark, spec: StreamSpec, warehouse_root: str, checkpoint_root: str):
    """spec → (BlobParquetSource, merge target, StreamRunner).

    The merge target is chosen by runtime probe
    (``operators/table_format.make_merge_target``): an Iceberg/Delta
    deployment gets the real catalog table with ``targetTableFullName``
    ('catalog.schema.table') passed through unchanged (the reference's
    contract, main.scala:34-39); without the JARs it falls back to the
    parquet stand-in at ``<warehouse_root>/<catalog>/<schema>/<table>``.
    """
    from arcane_stream_parquet_spark.functions.selection import FieldSelectionRule
    from arcane_stream_parquet_spark.operators.table_format import make_merge_target
    from arcane_stream_parquet_spark.sources.blob import BlobParquetSource
    from arcane_stream_parquet_spark.streaming.runner import StreamRunner

    # the spec's S3 block (endpoint, path style, region) reaches the
    # session's fs.s3a.* confs before any source or target path is read
    apply_s3_options(spark, spec.s3_options)
    mode, fields, essential = spec.field_selection
    selection = (
        FieldSelectionRule(mode=mode, fields=fields, essential_fields=tuple(essential))
        if essential
        else FieldSelectionRule(mode=mode, fields=fields)
    )
    source = BlobParquetSource(
        path=spec.source_path,
        primary_keys=spec.primary_keys,
        field_selection=selection,
        modified_after=spec.backfill_start_date,
    )
    target_rel = spec.target_table_full_name.replace(".", "/")
    target = make_merge_target(
        spark,
        fs_join(warehouse_root, target_rel),
        table=spec.target_table_full_name,
        table_format="auto",
        max_records_per_file=spec.max_rows_per_file,
        unified_schema=spec.is_unified_schema,
        sorted_by=spec.sorted_by,
        bloom_filter_cols=spec.bloom_filter_cols,
        merge_mode=spec.merge_mode,
    )
    runner = StreamRunner(
        source=source,
        target=target,
        checkpoint_dir=fs_join(checkpoint_root, target_rel),
        change_capture_interval_seconds=spec.change_capture_interval_seconds,
        max_files_per_trigger=spec.max_files_per_trigger,
        maintenance_every_n_batches=spec.maintenance_batch_threshold,
        retry_policy=spec.query_retry,
    )
    return source, target, runner


# ---------------------------------------------------------------------------
# Lifecycle / exit codes (ST7)

EXIT_OK = 0
EXIT_FATAL = 1
EXIT_RETRYABLE = 2  # k8s podFailurePolicy retries without counting


class StreamFailError(RuntimeError):
    """Retryable stream failure — exits 2 (reference StreamFailException,
    main.scala:80-83; docs/configuration.md retryOnExitCodes)."""


def run_stream_context(
    spark,
    ctx: StreamContext,
    warehouse_root: str,
    checkpoint_root: str,
    available_now: bool = False,
) -> None:
    """Execute the resolved graph: streaming (E1) or backfill (E2)."""
    from arcane_stream_parquet_spark.streaming.runner import run_backfill

    source, target, runner = build_pipeline(
        spark, ctx.spec, warehouse_root, checkpoint_root
    )
    if ctx.backfill:
        run_backfill(
            spark,
            source,
            target,
            behavior=ctx.spec.backfill_behavior,
            retry_policy=ctx.spec.query_retry,
        )
    elif available_now:
        runner.run_available_now(spark)
    else:
        runner.start(spark).awaitTermination()


def main_exit_code(run) -> int:
    """Exit-code contract wrapper: call ``run()`` and translate
    exceptions (retryable → 2, fatal → 1, clean → 0)."""
    try:
        run()
        return EXIT_OK
    except StreamFailError:
        return EXIT_RETRYABLE
    except Exception:
        return EXIT_FATAL


# ---------------------------------------------------------------------------
# S3 connector mapping (reference S1: DefaultS3Reader — the Spark
# engine delegates to the Hadoop s3a connector; this maps the spec's
# s3 block onto fs.s3a.* configuration)

_S3_CONF_MAP = {
    "endpoint": "fs.s3a.endpoint",
    "region": "fs.s3a.endpoint.region",
    "usePathStyle": "fs.s3a.path.style.access",
    "retryMaxAttempts": "fs.s3a.retry.limit",
    "retryBaseDelay": "fs.s3a.retry.interval",
}


def s3_hadoop_confs(s3: dict[str, Any]) -> dict[str, str]:
    """spec.source.configuration.s3 → Hadoop fs.s3a.* key/values
    (crd-parquet-stream.yaml:475-503). Durations pass through ('100
    millisecond' is a valid Hadoop duration literal); booleans
    lowercase. Unmapped keys (maxResultsPerPage — s3a pages
    internally) are ignored by design."""
    out: dict[str, str] = {}
    for key, value in s3.items():
        target = _S3_CONF_MAP.get(key)
        if target is None:
            continue
        if isinstance(value, bool):
            out[target] = str(value).lower()
        else:
            out[target] = str(value)
    return out


def apply_s3_options(spark, s3: dict[str, Any]) -> None:
    """Apply the mapping to a live session's Hadoop configuration."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for key, value in s3_hadoop_confs(s3).items():
        hconf.set(key, value)
