"""Structured-Streaming source for the transcript turn table.

``streaming/incremental_stream.py`` reads appended turn files through
``read_turn_stream`` and folds each micro-batch into the delta state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_turn_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of turn rows (parquet files appended to a dir).

    One function owns the source definition (schema/format/options);
    callers needing a bounded micro-batch pass ``max_files_per_trigger``
    instead of rebuilding the reader by hand (r4 review)."""
    reader = spark.readStream.schema(TURN_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
