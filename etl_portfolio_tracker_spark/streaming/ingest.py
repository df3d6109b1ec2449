"""Structured Streaming ingest — the streaming twin of the reference's
scheduled incremental ETL (src/etl.py + README "körs regelbundet",
SURVEY §2.12).

Contract reproduced:
  - exactly-once-per-key: `(ticker, ts)` unique index + INSERT OR
    IGNORE (etl.py:59-63) → watermark + dropDuplicates on the key (the
    first arrival wins; `io.upsert_prices` requires a key-unique
    batch), then a foreachBatch sink through `io.upsert_prices`, the
    batch ETL's load, so replays and late duplicates are no-ops.
  - late data: the reference accepts arbitrarily late rows; a stream
    must bound state, so the watermark (default 7 days, matching the
    5d/14d re-fetch windows at etl.py:24 / 2_Trades.py:32) is the
    documented divergence: rows later than the watermark are dropped.

Sink layout: the ETL target's — parquet `partitionBy(ts_year)`, so
`io.read_prices_range` prunes it. At 100 TB the per-micro-batch
left-anti join against the whole target should be a Delta MERGE
(file-skipping on (ticker, ts_date)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import upsert_prices


DEFAULT_WATERMARK = "7 days"


def read_price_stream(spark: SparkSession, source_dir: str,
                      fmt: str = "parquet") -> DataFrame:
    """File-source stream of price rows (schema PRICES with ts as
    timestamp for watermarking). Kafka would swap in via
    `spark.readStream.format("kafka")` + from_json(value)."""
    schema = "ticker string, ts timestamp, close double"
    return (spark.readStream.format(fmt).schema(schema)
            .option("maxFilesPerTrigger", "16")
            .load(source_dir))


def dedup_stream(stream: DataFrame,
                 watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Exactly-once-per-key: watermark bounds the dedup state; within
    the watermark horizon duplicate (ticker, ts) rows are dropped."""
    return (stream
            .withWatermark("ts", watermark)
            .dropDuplicates(["ticker", "ts"]))


def write_idempotent(stream: DataFrame, target_dir: str,
                     checkpoint_dir: str):
    """foreachBatch idempotent merge (`io.upsert_prices`) of a stream
    already unique on (ticker, ts), e.g. `dedup_stream`'s: replays
    append nothing (the INSERT OR IGNORE contract, S5)."""
    def _merge(batch: DataFrame, batch_id: int) -> None:
        upsert_prices(batch.sparkSession, batch, target_dir)

    return (stream.writeStream
            .foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def dedup_stream_jittered(stream: DataFrame,
                          delay: str = "10 minutes") -> DataFrame:
    """Dedup for RE-DELIVERIES WITH JITTERED TIMESTAMPS — the failure
    mode exact-key dedup misses: a retried fetch stamps the same
    (ticker, day) row a few seconds apart, so (ticker, ts) keys differ
    and both rows survive dedup_stream. Keyed on the stable identity
    (ticker + calendar day) via dropDuplicatesWithinWatermark, which
    drops any later row whose key matches one seen within the
    watermark delay, while keeping per-key state watermark-bounded
    (evicted once event time passes ts + delay — unlike a keys-only
    dropDuplicates, whose state grows forever)."""
    return (stream
            .withColumn("ts_day", stream.ts.cast("date"))
            .withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(["ticker", "ts_day"])
            .drop("ts_day"))
