"""File-inbox streaming pipeline: the reference's produce → queue →
consume → validate → load loop (RUN_ALL_STEPS.py:73-89, main.py:387-429)
as Structured Streaming.

Mapping (SURVEY.md §2.10):

- durable queue + persistent publish (K1)  → JSON-line files in an
  inbox directory per entity (a Kafka topic at cluster scale — the
  code path is identical, only ``format`` changes)
- bounded drain of current queue depth (S9) → ``Trigger.AvailableNow``
- manual ack / at-least-once              → checkpointed exactly-once
  (an upgrade the reference can't express)
- prefetch backpressure                   → ``maxFilesPerTrigger``
- poison message nack(requeue=False)      → corrupt rows routed to the
  error zone, stream keeps running
- per-queue sequential dedup state (V2)   → explicit
  ``metadata.line_no`` + first-wins window inside ``foreachBatch``

Every transformation is a DataFrame op; ``foreachBatch`` only wires the
validated micro-batch to its two zone sinks.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.quality import RuleSet
from .envelope import decode_envelope, encode_envelope


@dataclass
class ZonePaths:
    """Medallion-style zone layout (reference staging/raw|clean|error)."""

    root: str

    @property
    def inbox(self) -> str:
        return os.path.join(self.root, "inbox")

    @property
    def clean(self) -> str:
        return os.path.join(self.root, "clean")

    @property
    def error(self) -> str:
        return os.path.join(self.root, "error")

    @property
    def checkpoints(self) -> str:
        return os.path.join(self.root, "_checkpoints")


def produce_to_inbox(
    df: DataFrame,
    zones: ZonePaths,
    *,
    entity: str,
    source: str,
    run_id: str,
    order_col: str | None = None,
) -> None:
    """STEP1 producer analogue (K1): envelope-wrap and append JSON lines
    to ``inbox/{entity}``. Text format keeps the payload inspectable and
    byte-identical to a queue message body."""
    enveloped = encode_envelope(
        df, source=source, entity_type=entity, run_id=run_id, order_col=order_col
    )
    enveloped.write.mode("append").text(os.path.join(zones.inbox, entity))


def consume_inbox(
    spark: SparkSession,
    zones: ZonePaths,
    *,
    entity: str,
    data_schema: T.StructType,
    ruleset: RuleSet | None = None,
    dedup_keys: list[str] | None = None,
    max_files_per_trigger: int | None = None,
):
    """STEP2+3 consumer analogue (S9 + V1-V3 + K2/K3): stream the
    entity's inbox, decode envelopes, validate, split clean/error, and
    append both zones as parquet partitioned by run — one checkpointed
    query, ``Trigger.AvailableNow`` (drain what exists, then stop).

    Returns the started StreamingQuery; callers ``awaitTermination()``.

    ``dedup_keys`` first-wins dedup runs per micro-batch; splitting the
    drain with ``max_files_per_trigger`` would let duplicate keys that
    span batches through, silently diverging from the reference's
    whole-drain seen_ids semantics — the combination is rejected (use
    streaming.stateful.stateful_first_wins for cross-batch dedup).
    """
    if dedup_keys and max_files_per_trigger:
        raise ValueError(
            "dedup_keys with max_files_per_trigger would dedup only within "
            "each micro-batch; use stateful_first_wins for cross-batch dedup"
        )
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(os.path.join(zones.inbox, entity))

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # the micro-batch feeds three sinks (clean/error/poison) —
        # decode+validate once, not once per sink
        decoded = decode_envelope(batch, data_schema).persist()
        cached = [decoded]
        try:
            poison = decoded.filter(F.col("_corrupt")).select(
                F.col("value").alias("_raw_value"),
                F.lit("unparseable envelope").alias("_errors"),
            )
            rows = decoded.filter(~F.col("_corrupt")).drop("value", "_corrupt")
            if ruleset is not None:
                validated = ruleset.validate(rows)
                if dedup_keys:
                    from ..operators.quality import reject_duplicates

                    validated = reject_duplicates(
                        validated.drop("_is_valid"),
                        dedup_keys,
                        [F.col("_line_no").asc_nulls_last()],
                    )
                validated = validated.persist()
                cached.append(validated)
                clean = validated.filter("_is_valid").drop("_errors", "_is_valid")
                error = (
                    validated.filter(~F.col("_is_valid"))
                    .withColumn("_errors", F.concat_ws(" | ", "_errors"))
                    .drop("_is_valid")
                )
            else:
                clean, error = rows, None
            clean.write.mode("append").parquet(os.path.join(zones.clean, entity))
            if error is not None:
                error.write.mode("append").parquet(os.path.join(zones.error, entity))
            if not poison.isEmpty():
                poison.write.mode("append").json(
                    os.path.join(zones.error, f"{entity}_poison")
                )
        finally:
            # one leaked cache per batch adds up on a long stream. A stop()
            # landing mid-batch can fail one unpersist with an interrupt;
            # the stack still runs the others (dependents first)
            with contextlib.ExitStack() as stack:
                for df in cached:
                    stack.callback(df.unpersist)

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(zones.checkpoints, entity))
        .trigger(availableNow=True)
        .start()
    )


def run_inbox_pipeline(
    spark: SparkSession,
    zones: ZonePaths,
    *,
    entity: str,
    data_schema: T.StructType,
    ruleset: RuleSet | None = None,
    dedup_keys: list[str] | None = None,
) -> dict[str, int]:
    """Drain the inbox to completion and report zone row counts —
    the bounded consume-exactly-queue-depth loop (main.py:643-730)."""
    q = consume_inbox(
        spark,
        zones,
        entity=entity,
        data_schema=data_schema,
        ruleset=ruleset,
        dedup_keys=dedup_keys,
    )
    q.awaitTermination()
    return zone_counts(spark, zones, entity)


def zone_counts(spark: SparkSession, zones: ZonePaths, entity: str) -> dict[str, int]:
    """Row counts of the entity's clean and error zones. A zone the
    drain never wrote (no error sink without a ruleset) counts 0; any
    other read failure propagates."""
    counts = {}
    for zone_name, path in (("clean", zones.clean), ("error", zones.error)):
        try:
            counts[zone_name] = spark.read.parquet(os.path.join(path, entity)).count()
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            counts[zone_name] = 0
    return counts


# ---------------------------------------------------------------------------
# Event-time windowed aggregation (extension beyond parity — the
# reference has no event-time processing at all, SURVEY.md §2.10)
# ---------------------------------------------------------------------------


def streaming_window_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type over an event-time
    column ``ts``. Works identically on a batch or streaming DataFrame;
    with a watermark, late data beyond the bound is dropped and window
    state is reclaimed — the 100 TB/day streaming shape."""
    src = events.withWatermark("ts", watermark) if (watermark and events.isStreaming) else events
    return (
        src.groupBy(F.window("ts", window).alias("_w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact-decimal sum → double: order-independent, oracle-exact
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
