"""Kafka wire format for the tick stream (reference S2–S5).

The reference produces JSON-valued messages keyed by ticker
(producer/producer.py:200-218) and consumers ``json.loads`` them
(consumer/consumer.py:36).  Here the contract is declared once: encode =
``to_json(struct(*))`` keyed by ticker, decode = ``from_json`` against
TICK_SCHEMA (missing fields → NULL, reproducing the consumers'
``.get(k, None)``).  Both work on batch and streaming DataFrames; reading
from a real broker is just

    spark.readStream.format("kafka")
         .option("kafka.bootstrap.servers", ...)
         .option("subscribe", topic)
         .option("startingOffsets", "earliest")   # raw consumer, S3
         .load()                                  # → decode_kafka_ticks

Offsets ride in the checkpoint (exactly-once to idempotent sinks) — strictly
stronger than the reference's manual-commit at-least-once (T2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import TICK_SCHEMA


# Timestamps go on the wire with all six fractional digits: ``to_json``'s
# default format keeps milliseconds, which would shift every µs tick time
# (``from_json``'s default parser reads up to microseconds).
_WIRE_TIME = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def encode_ticks_to_kafka(df: DataFrame, key_col: str = "ticker_symbol") -> DataFrame:
    """tick rows → (key, value) Kafka-shaped frame (S2)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns), _WIRE_TIME).alias("value"),
    )


def decode_kafka_ticks(df: DataFrame) -> DataFrame:
    """(key, value[, ...]) Kafka frame → typed tick rows (S5).

    Corrupt JSON decodes to an all-NULL struct rather than failing the
    stream — the validation filter downstream routes those to the error
    side-output (reference skip-and-log, T8).
    """
    return df.select(
        F.from_json(F.col("value").cast("string"), TICK_SCHEMA).alias("tick")
    ).select("tick.*")
