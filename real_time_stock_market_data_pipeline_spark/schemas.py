"""Declared StructTypes for every stream/table boundary.

The reference's top historical bug source was schema drift between the
duck-typed Kafka dict (reference ``producer/producer.py:101-127``) and the
Postgres DDL (``db/enhanced_schema.sql``) — see SURVEY.md §1.3.  We fix that by
construction: one StructType per boundary, used by ``from_json`` on decode and
by every sink.  Missing JSON fields decode to NULL, reproducing the
consumers' ``.get(k, None)`` behavior.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Canonical tick message — the Kafka contract between producer and consumers
# (reference producer/producer.py:101-127).  Prices compute in float64 exactly
# like the reference's numpy math; DECIMAL is a sink-side cast only.
# ``tick_id`` is the engine's tick sequence number (``ticks_from_events``
# maps event ids to it), the tie-break of every per-symbol time order that
# the stateful stream sorts on; a message without it decodes to NULL.
TICK_SCHEMA = T.StructType(
    [
        T.StructField("company_id", T.StringType()),
        T.StructField("tick_id", T.LongType()),
        T.StructField("ticker_symbol", T.StringType()),
        T.StructField("company_name", T.StringType()),
        T.StructField("industry", T.StringType()),
        T.StructField("sector", T.StringType()),
        T.StructField("exchange", T.StringType()),
        T.StructField("currency", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),        # ingest time (UTC)
        T.StructField("trade_datetime", T.TimestampType()),   # exchange bar time
        T.StructField("current_price", T.DoubleType()),
        T.StructField("open_price", T.DoubleType()),
        T.StructField("high_price", T.DoubleType()),
        T.StructField("low_price", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("adjusted_close", T.DoubleType()),
        T.StructField("market_cap", T.LongType()),
        T.StructField("pe_ratio", T.DoubleType()),
        T.StructField("price_to_book", T.DoubleType()),
        T.StructField("dividend_yield", T.DoubleType()),
        T.StructField("beta", T.DoubleType()),
        T.StructField("fifty_two_week_high", T.DoubleType()),
        T.StructField("fifty_two_week_low", T.DoubleType()),
        T.StructField("avg_volume", T.LongType()),
        T.StructField("shares_outstanding", T.LongType()),
    ]
)

# Derived analytics row — reference db/enhanced_schema.sql:120-151 /
# analytics/analytics_consumer.py:336-364 (the 24-column stock_analytics row).
ANALYTICS_SCHEMA = T.StructType(
    [
        T.StructField("company_id", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("current_price", T.DoubleType()),
        T.StructField("open_price", T.DoubleType()),
        T.StructField("high_price", T.DoubleType()),
        T.StructField("low_price", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("rsi_14", T.DoubleType()),
        T.StructField("sma_20", T.DoubleType()),
        T.StructField("sma_50", T.DoubleType()),
        T.StructField("ema_12", T.DoubleType()),
        T.StructField("ema_26", T.DoubleType()),
        T.StructField("bb_upper", T.DoubleType()),
        T.StructField("bb_middle", T.DoubleType()),
        T.StructField("bb_lower", T.DoubleType()),
        T.StructField("macd", T.DoubleType()),
        T.StructField("macd_signal", T.DoubleType()),
        T.StructField("macd_histogram", T.DoubleType()),
        T.StructField("volatility", T.DoubleType()),
        T.StructField("price_change_percent", T.DoubleType()),
        T.StructField("volume_change_percent", T.DoubleType()),
        T.StructField("predicted_price", T.DoubleType()),
        T.StructField("prediction_confidence", T.DoubleType()),
        T.StructField("model_type", T.StringType()),
    ]
)

# Alert row — reference db/enhanced_schema.sql:205-217.
ALERT_SCHEMA = T.StructType(
    [
        T.StructField("company_id", T.StringType()),
        T.StructField("alert_type", T.StringType()),
        T.StructField("alert_message", T.StringType()),
        T.StructField("indicator_value", T.DoubleType()),
        T.StructField("threshold_value", T.DoubleType()),
        T.StructField("severity", T.StringType()),
        T.StructField("is_acknowledged", T.BooleanType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

# Prediction row — reference db/enhanced_schema.sql:186-197.
PREDICTION_SCHEMA = T.StructType(
    [
        T.StructField("company_id", T.StringType()),
        T.StructField("model_id", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("predicted_price", T.DoubleType()),
        T.StructField("predicted_date", T.TimestampType()),
        T.StructField("confidence_score", T.DoubleType()),
        T.StructField("prediction_type", T.StringType()),
    ]
)

# Ingestion-error side output — reference db/enhanced_schema.sql:225-239.
INGESTION_ERROR_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("payload", T.StringType()),  # JSON string of the bad row
        T.StructField("occurred_at", T.TimestampType()),
    ]
)

# Driver testdata tables (TESTDATA.md) — declared so reads never infer.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)
