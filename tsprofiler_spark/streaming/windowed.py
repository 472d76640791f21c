"""Watermarked windowed streaming rollup: the 1m tier as a true
Structured Streaming continuous aggregate.

The foreachBatch path (`streaming/ingest.py`) treats the tier tables as
upserts, so late data needs no watermark — any late turn re-MERGEs into
its bucket. This module is the complementary shape for sinks that are
APPEND-ONLY (Kafka topic, event bus, immutable object-store partitions):
a `withWatermark` + tumbling `window(ts, "1 minute")` aggregation that
emits each 1m bucket exactly once, when the event-time watermark passes
the window end.

Semantics vs the batch tier (`operators/rollup.py rollup_from_series`):

* identical partials (n, s1, s2, vmin, vmax) and identical finishing
  expressions (avg, stddev, state) — emitted rows equal the batch 1m tier
  computed over the same input;
* rows later than the watermark delay are DROPPED by Spark's state
  eviction (that is the append-mode contract). The watermark delay is
  therefore the max tolerated disorder; anything later belongs on the
  foreachBatch/MERGE path. Both paths share every downstream operator.

Scale notes: the aggregation state is one row per (series, metric,
open window) — bounded by series cardinality × (watermark delay /
1 minute), evicted continuously; the shuffle key is the same series-prefix
family as the batch pipeline, so a 1000-executor cluster partitions it the
same way. State lives in the checkpoint state store (RocksDB on a real
cluster via `spark.sql.streaming.stateStore.providerClass`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tsprofiler_spark.config import Settings
from tsprofiler_spark.operators.ingest import derive_series
from tsprofiler_spark.operators.rollup import finish, partials


def stream_rollup_1m(
    transcripts_stream: DataFrame,
    settings: Settings,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """transcript stream -> append-only stream of finalized 1m buckets.

    Output schema matches the batch 1m tier exactly (tier, bucket_start,
    n/s1/s2/vmin/vmax, avg, stddev, state).
    """
    series = derive_series(transcripts_stream).withWatermark("ts", watermark_delay)
    g = partials(series, F.window("ts", "1 minute").alias("win"))
    return finish(
        g.withColumn("bucket_start", F.col("win.start")).drop("win"), "1m", settings
    )


def start_windowed_stream(
    rollup_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Append finalized 1m buckets to a parquet sink (stand-in for the
    append-only production sink). Each bucket row is written exactly once
    per its window's watermark crossing."""
    writer = (
        rollup_stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
