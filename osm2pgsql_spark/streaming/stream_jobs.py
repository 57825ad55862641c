"""Structured Streaming job: windowed event aggregation.

Diff replication is not a stream here: tools/replication.py applies
each downloaded diff with the import tool's append, as the reference's
scripts/osm2pgsql-replication runs `osm2pgsql --append` per batch.
The windowed aggregation shows the watermark/late-data shape the
reference lacks entirely (SURVEY §2.10: it has no event-time
streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark for
    late data — apply to a streaming DataFrame with the events schema
    (ts TIMESTAMP, event_type STRING, value DOUBLE)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )
