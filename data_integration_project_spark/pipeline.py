"""Full-pipeline orchestration — the reference's ``RUN_ALL_STEPS.py`` /
``main.py`` drivers as one composable API.

Reference step → engine stage:

1. STEP1 producer (CSV discovery + publish, RUN_ALL_STEPS.py:120-157)
   → :func:`ingest_csv_dir`: discover entity CSVs, permissive-scan,
   envelope-wrap into the streaming inbox; one worker per entity.
2. STEP2 raw consumer (bounded drain → raw zone, :159-196)
   + STEP3 quality engine (validate/split, :198-237)
   → :func:`drain_and_validate`: one checkpointed AvailableNow stream
   per entity lands raw rows, runs the entity RuleSet + ordered
   first-wins dedup inside foreachBatch, writes clean/error zones.
3. STEP4 transform+load (:239-276) → transforms run INSIDE the drain
   (the reference's "pipeline mode" memory handoff is simply lazy
   evaluation here); the load target is the partitioned parquet
   staging zone (JDBC via operators.sinks.jdbc_bulk_insert when a
   warehouse is reachable).
4. Post-hoc SQL layer (merged views / reconciliation / DWH) →
   :func:`build_marts`: merged views + conflict queries + star build
   over the clean zone.

The reference drains its per-entity queues one after another on one
thread; here the entities fan out. Ingest runs one worker per entity
and all entity streams drain at once on the shared cores. What the
reference keeps per queue stays per entity: an entity's CSV files
publish to its inbox in discovery order, and its ordering and
first-wins dedup state live inside its own stream, so running entities
concurrently changes no zone row.

A ``run_id`` scopes every output path (reference ``DB_{run_id}``).
Each stage returns DataFrames/paths so callers can stop anywhere; the
only materializations are the zone writes themselves.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.cleaning import transform_entity
from .operators.entity_rules import ruleset_for
from .operators.quality import reject_duplicates
from .operators.reconcile import source_counts
from .sources.csv import (
    RAW_CSV_LAYOUTS,
    discover_csvs,
    read_entity_csv,
    with_line_numbers,
)
from .streaming.envelope import encode_envelope
from .streaming.pipeline import ZonePaths, consume_inbox, zone_counts

#: natural key per entity for the ordered first-wins dedup (V2)
DEDUP_KEYS: dict[str, list[str]] = {
    "khach_hang": ["customer_id"],
    "loai_mon": ["ma_loai"],
    "nguyen_lieu": ["ma_nguyen_lieu"],
}


@dataclass
class PipelineRun:
    run_id: str
    zones: ZonePaths
    ingested: dict[str, int] = field(default_factory=dict)
    zone_counts: dict[str, dict[str, int]] = field(default_factory=dict)


def _per_entity(spark: SparkSession, fn, entities: list[str]) -> dict:
    """``{entity: fn(entity)}`` with one thread per entity. Workers
    inherit the caller's Spark local properties and tags, so a job
    group set by the caller (and its cancelJobGroup) covers their jobs.
    Every future is read, so the first worker failure re-raises here."""
    if not entities:
        return {}
    target = inheritable_thread_target(spark)(fn)
    with ThreadPoolExecutor(max_workers=len(entities)) as pool:
        futures = {entity: pool.submit(target, entity) for entity in entities}
    return {entity: f.result() for entity, f in futures.items()}


def ingest_csv_dir(
    spark: SparkSession, data_dir: str, zones: ZonePaths, *, run_id: str, source: str = "csv"
) -> dict[str, int]:
    """STEP1: discover entity CSVs and publish envelope-wrapped rows to
    the per-entity inbox, one worker per entity. Corrupt CSV lines are
    forwarded raw — the consumer dead-letters them (matching queue
    poison semantics)."""
    files: dict[str, list[str]] = {}
    for item in discover_csvs(data_dir):
        if item["entity_type"] is not None:
            files.setdefault(item["entity_type"], []).append(item["file_path"])

    def ingest_entity(entity: str) -> int:
        n = 0
        # one file after another: concurrent appends to one output
        # directory would share its _temporary dir
        for path in files[entity]:
            # cache: Spark disallows predicates over ONLY the corrupt-record
            # column of a raw CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
            raw = with_line_numbers(read_entity_csv(spark, path, entity)).cache()
            try:
                ok = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
                enveloped = encode_envelope(
                    ok, source=source, entity_type=entity, run_id=run_id, order_col="_line_no"
                )
                enveloped.write.mode("append").text(os.path.join(zones.inbox, entity))
                n += ok.count()
            finally:
                raw.unpersist()  # both readers (write + count) are done
        return n

    return _per_entity(spark, ingest_entity, list(files))


class _EntityValidator:
    """The ruleset ``consume_inbox`` applies to one entity's decoded
    rows: transform to the canonical layout, validate with the entity
    RuleSet, then ordered first-wins dedup where keyed. Entity, rules
    and keys are bound per instance, so concurrent streams never share
    them."""

    def __init__(self, entity: str):
        self.entity = entity
        # per-SOURCE validator routing (reference main.py:674-681): the
        # inbox carries the CSV feed, so mon rows get mon_csv_rules —
        # which validate the RAW layout (price string parseability, the
        # category NAME) BEFORE the transform; every other entity
        # validates the canonical post-transform layout.
        self.rules = ruleset_for(entity, source="csv")
        self.dedup_keys = DEDUP_KEYS.get(entity)

    def validate(self, df: DataFrame) -> DataFrame:
        if self.rules.entity == "mon_csv":
            # the verdict columns are _-prefixed and survive the
            # transform's metadata passthrough
            validated = transform_entity(self.entity, self.rules.validate(df))
        else:
            validated = self.rules.validate(transform_entity(self.entity, df))
        if self.dedup_keys:
            validated = reject_duplicates(
                validated.drop("_is_valid"),
                self.dedup_keys,
                [F.col("_line_no").asc_nulls_last()],
                f"duplicate {self.dedup_keys[0]}",
            )
        return validated


def drain_and_validate(
    spark: SparkSession, zones: ZonePaths, entities: list[str]
) -> dict[str, dict[str, int]]:
    """STEP2+3+4 fused: drain every entity's inbox exactly once
    (AvailableNow), transform to the canonical layout, validate with
    the entity RuleSet (+ ordered dedup where keyed), split into
    clean/error parquet zones. All entity streams start before any is
    awaited, so the drains overlap on the shared cores; each stream
    keeps its own ordering and dedup state (the reference's per-queue
    state), so no row crosses entities. If one stream fails, the others
    are stopped before its exception propagates. Zone counts are then
    read concurrently, one worker per entity."""
    queries = []
    try:
        for entity in entities:
            # the envelope payload is the RAW CSV layout (all strings);
            # canonicalization happens in the transform inside the drain
            raw_payload = T.StructType(
                [T.StructField(c, T.StringType()) for c in RAW_CSV_LAYOUTS[entity]]
            )
            queries.append(
                consume_inbox(
                    spark,
                    zones,
                    entity=entity,
                    data_schema=raw_payload,
                    ruleset=_EntityValidator(entity),  # duck-typed: only .validate used
                )
            )
        pending = queries
        while pending:  # short waits: a failure anywhere surfaces promptly
            pending = [q for q in pending if not q.awaitTermination(0.1)]
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
    return _per_entity(spark, lambda entity: zone_counts(spark, zones, entity), entities)


def build_marts(
    spark: SparkSession, zones: ZonePaths, entities: list[str]
) -> dict[str, DataFrame]:
    """Post-hoc layer: merged views (the clean zone's ``_source``
    lineage column becomes the view's trailing ``source`` tag) +
    per-source count report over the clean zone — the first marts the
    reference builds in SQL Server. Nothing here runs a job. DWH star
    builds continue from these via operators.dwh."""
    marts: dict[str, DataFrame] = {}
    for entity in entities:
        clean = spark.read.parquet(os.path.join(zones.clean, entity))
        merged = clean.select(
            *[c for c in clean.columns if c != "_source"], F.col("_source").alias("source")
        )
        merged.createOrReplaceTempView(f"{entity}_merged")
        marts[f"{entity}_merged"] = merged
        marts[f"{entity}_source_counts"] = source_counts(merged)
    return marts


def run_full_pipeline(
    spark: SparkSession, data_dir: str, out_root: str, *, run_id: str
) -> PipelineRun:
    """The RUN_ALL_STEPS entry point: ingest → drain/validate → marts.
    Returns per-stage counts for the monitoring layer (A4)."""
    zones = ZonePaths(os.path.join(out_root, f"run_{run_id}"))
    run = PipelineRun(run_id=run_id, zones=zones)
    run.ingested = ingest_csv_dir(spark, data_dir, zones, run_id=run_id)
    run.zone_counts = drain_and_validate(spark, zones, sorted(run.ingested))
    build_marts(spark, zones, sorted(run.ingested))
    record_run_history(spark, out_root, run)
    return run


def record_run_history(spark: SparkSession, out_root: str, run: PipelineRun) -> None:
    """A4 across runs: append one row per (run, entity) with ingest and
    zone counts to a queryable history table — the reference keeps this
    only in per-run log files (pipeline_run_*.log); here it is a
    partitioned parquet table any monitoring query can scan."""
    rows = [
        (
            run.run_id,
            entity,
            run.ingested.get(entity, 0),
            counts.get("clean", 0),
            counts.get("error", 0),
        )
        for entity, counts in sorted(run.zone_counts.items())
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "run_id string, entity string, ingested long, clean long, error long"
    ).withColumn("recorded_at", F.current_timestamp())
    df.write.mode("append").partitionBy("run_id").parquet(
        os.path.join(out_root, "run_history")
    )


def run_history(spark: SparkSession, out_root: str):
    """Scan the cross-run history (monitoring surface)."""
    return spark.read.parquet(os.path.join(out_root, "run_history"))
