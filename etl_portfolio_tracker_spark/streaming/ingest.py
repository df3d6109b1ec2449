"""Structured Streaming ingest — the streaming twin of the reference's
scheduled incremental ETL (src/etl.py + README "körs regelbundet",
SURVEY §2.12).

Contract reproduced:
  - exactly-once-per-key: `(ticker, ts)` unique index + INSERT OR
    IGNORE (etl.py:59-63) → watermark + dropDuplicates on the key,
    plus an idempotent foreachBatch sink (left-anti merge) so replays
    and late duplicates are no-ops end-to-end.
  - late data: the reference accepts arbitrarily late rows; a stream
    must bound state, so the watermark (default 7 days, matching the
    5d/14d re-fetch windows at etl.py:24 / 2_Trades.py:32) is the
    documented divergence: rows later than the watermark are dropped.

Scale: dropDuplicates state is hash-partitioned by key across
executors; the sink merge is per-micro-batch left-anti against the
target, which at 100 TB should be a Delta MERGE (file-skipping on
(ticker, ts_date)) — the parquet left-anti here has the same
semantics with the whole-target scan cost noted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists, asked of its Hadoop file system directly
    (no Spark job)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def write_idempotent(stream: DataFrame, target_dir: str,
                     checkpoint_dir: str):
    """foreachBatch idempotent merge: only key-new rows are appended,
    so micro-batch replays after failure don't duplicate (the
    INSERT OR IGNORE contract, S5). A batch arriving before the target
    exists creates it; an unreadable target fails the query."""
    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fresh = batch
        # only a missing target is the first batch; a target that
        # exists but cannot be read fails the query instead of
        # silently taking duplicates
        if _exists(spark, target_dir):
            existing = spark.read.parquet(target_dir).select("ticker", "ts")
            fresh = batch.join(existing, ["ticker", "ts"], "left_anti")
        fresh.write.mode("append").parquet(target_dir)

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
