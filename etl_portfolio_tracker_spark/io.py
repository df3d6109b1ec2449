"""Readers over the harness parquet tables + the idempotent price sink.

Reference analogs:
  - S3 table scan (`pd.read_sql_query`, app/services/trades.py:78) →
    lazy `spark.read.parquet` so Catalyst pushes filters/projections
    into the scan.
  - S4 CSV scan with alias normalization (app/services/universe.py:31).
  - S5 idempotent upsert (`INSERT OR IGNORE` keyed on (ticker, ts),
    src/etl.py:46-65) → `upsert_prices`, a left-anti append that the
    batch ETL and the streaming ingest share.

Scale posture: prices are appended `partitionBy(ts_year)` so the P5
time-range predicates become partition pruning at 100 TB; files
already written are never rewritten.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .memo import session_memo


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_files(path: str) -> list[str]:
    """The parquet files of the table at `path` (a file, or a directory
    searched through its partitions), skipping `_`/`.`-prefixed entries
    as Spark does: a failed write's `_temporary` holds no table rows."""
    if not os.path.isdir(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [os.path.join(root, n) for n in names
                  if n.endswith(".parquet") and not n.startswith(("_", "."))]
    return sorted(files)


def parquet_num_rows(path: str) -> int:
    """Exact row count from the parquet FOOTERS — catalog statistics
    with ZERO Spark jobs (a footer is the file-level metastore): sizes
    model-scale knobs without a driver-blocking count()."""
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def table_num_rows(sf_dir: str, name: str) -> int:
    return parquet_num_rows(table_path(sf_dir, name))


def table_stamp(sf_dir: str, name: str) -> tuple:
    """(path, size, mtime_ns) of every parquet file of the table — the
    version of the input that session-memoized frames are keyed on, so
    a rewritten file supersedes them."""
    stamp = []
    for f in parquet_files(table_path(sf_dir, name)):
        st = os.stat(f)
        stamp.append((f, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of a harness table; filters/projections push down.

    SHARED-INSTANCE CONTRACT: all callers of the same (session,
    sf_dir, table) receive the SAME DataFrame object. A self-join of
    two read_table results with attribute-based conditions
    (a['k'] == b['k']) would trip Spark's ambiguous-self-join
    detection; join same-table reads via select-aliases or string
    column names (every current call site does), or call
    _read_table_fresh for a distinct relation.

    The resolved DataFrame is session-memoized per (sf_dir, table)
    and versioned by the table's `table_stamp`. Every
    `spark.read.parquet` constructs a fresh relation — footer read for
    schema inference plus a fresh file index — all driver-side,
    serialized, and identical per (session, path); across the suite
    that re-resolution cost ~0.3-0.7 s PER QUERY. This is plan-level
    reuse only — the scan still reads parquet on every execution (no
    data is cached); it is the resolve-once behaviour a catalog table
    gives at 100 TB. A rewritten file re-resolves, so no frame scans
    through a stale file index.

    `events.ts` may be stored two ways depending on the writer:
      - TIMESTAMP(MICROS, NTZ) — Spark reads it natively as
        `timestamp_ntz`; pass through untouched.
      - TIMESTAMP(NANOS) — Spark 4 refuses by default; with the legacy
        conf it surfaces as a raw BIGINT of nanos, which we truncate to
        micros exactly like DuckDB/Arrow (integer div, not float div),
        keeping NTZ (naive) semantics.
    Branch on the dtype Spark actually reads — never assume the
    physical encoding.
    """
    return session_memo(spark, ("read_table", sf_dir, name),
                        lambda: _read_table_fresh(spark, sf_dir, name),
                        stamp=table_stamp(sf_dir, name))


def _read_table_fresh(spark: SparkSession, sf_dir: str,
                      name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type.startswith("timestamp"):
            return df
        if ts_type == "bigint":  # legacy nanos-as-long encoding
            from .functions.ntz import ntz_from_micros
            return df.withColumn("ts", ntz_from_micros(F.expr("ts div 1000")))
        raise TypeError(f"events.ts has unsupported dtype {ts_type!r}")
    return spark.read.parquet(table_path(sf_dir, name))


def read_csv_universe(spark: SparkSession, path: str, sep: str = ";") -> DataFrame:
    """CSV securities-master scan (S4).

    Mirrors app/services/universe.py:25-42: header aliases
    (ticker→yf_symbol, name→name_display, list→segment) accepted,
    missing required column raises.
    """
    df = (spark.read.option("sep", sep).option("header", True)
          .option("encoding", "UTF-8").csv(path))
    aliases = {"ticker": "yf_symbol", "name": "name_display", "list": "segment"}
    for old, new in aliases.items():
        if old in df.columns and new not in df.columns:
            df = df.withColumnRenamed(old, new)
    required = ("name_display", "yf_symbol")
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ValueError(f"universe CSV missing required columns: {missing}")
    if "segment" not in df.columns:
        df = df.withColumn("segment", F.lit(None).cast("string"))
    return df


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists, asked of its Hadoop file system directly
    (no Spark job)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def upsert_prices(spark: SparkSession, batch: DataFrame,
                  target: str) -> None:
    """S5 `INSERT OR IGNORE` on (ticker, ts): append the rows of `batch`
    whose key the parquet table at `target` lacks. `batch` must already
    be unique on (ticker, ts): each caller keeps its own duplicate
    policy. A missing target is the first batch; an existing one is
    read with the batch's key schema (no schema-inference job), and one
    that cannot be read fails the call. New rows land `partitionBy
    (ts_year)`, (ticker, ts)-sorted, with no repartition: the layout
    `read_prices_range` prunes. No existing file is rewritten.

    Left out, as no workload shows a gain: reading only the `ts_year`
    partitions the batch touches (finding them costs a job; the anti
    join reads every key), compaction (each call adds files; see
    `compact`), and migrating sinks written flat before this layout.
    """
    keys = ["ticker", "ts"]
    fresh = batch
    if path_exists(spark, target):
        existing = (spark.read.schema(batch.select(*keys).schema)
                    .parquet(target).select(*keys))
        fresh = batch.join(existing, keys, "left_anti")
    (fresh.withColumn("ts_year", F.year("ts"))
     .sortWithinPartitions("ts_year", "ticker", "ts")
     .write.partitionBy("ts_year").mode("append").parquet(target))


def read_prices_range(spark: SparkSession, path: str,
                      start: str, end: str) -> DataFrame:
    """Range scan over the partitioned layout. Spark does NOT derive
    partition-column bounds from a `ts` predicate (verified:
    PartitionFilters stays empty on a bare ts filter), so the ts_year
    predicate is added explicitly — this is what turns a 100 TB scan
    into reading only the touched years."""
    y0, y1 = int(start[:4]), int(end[:4])
    return (spark.read.parquet(path)
            .filter((F.col("ts_year") >= y0) & (F.col("ts_year") <= y1))
            .filter((F.col("ts") >= F.lit(start)) & (F.col("ts") <= F.lit(end)))
            .drop("ts_year"))


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines scan with an EXPLICIT schema (never inferSchema on a
    correctness path — inference samples the data, so the schema can
    drift between runs; the reference's CSV loader pins and validates
    its schema the same way, app/services/universe.py:34-42).
    Corrupt lines land in `_corrupt_record` instead of failing the
    job — at 100 TB a bad line is operational telemetry, not a crash."""
    full = schema.add("_corrupt_record", "string")
    return (spark.read.schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path))


def compact(spark: SparkSession, path: str, target_files: int,
            in_place: bool = True) -> str:
    """Small-files compaction: rewrite a parquet directory into
    `target_files` files. The operational job every long-running
    ingest needs — streaming micro-batches and idempotent appends
    accrete files, and at 100 TB scan throughput is gated by file
    count (driver listing + task scheduling + row-group overhead).

    Two modes, because "swap directories" is only safe where rename is
    atomic (POSIX/HDFS) and is an anti-pattern on object stores (S3/
    GCS rename = copy+delete, non-atomic, O(bytes)):
      * `in_place=False` — the object-store/cluster path: write the
        compacted copy to a NEW versioned directory and return its
        path; the caller flips whatever pointer names the current
        version (metastore location, manifest, symlink). The source
        is never touched, so a failed compaction costs nothing.
      * `in_place=True` — local/HDFS convenience: versioned write,
        then swap via rename with the old data kept as `._compact_bak`
        until the swap has succeeded. Uses Hadoop's FileSystem API
        (works on any hadoop-compatible FS), not shutil.
    """
    base = path.rstrip("/")
    out = base + "._compacted"
    (spark.read.parquet(path)
     .repartition(target_files)
     .write.mode("overwrite").parquet(out))
    if not in_place:
        return out
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    bak = jvm.org.apache.hadoop.fs.Path(base + "._compact_bak")
    if not fs.rename(hpath, bak):
        raise IOError(f"compact: could not move {base} aside")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(out), hpath):
        fs.rename(bak, hpath)  # roll back; source untouched
        raise IOError(f"compact: could not promote {out}")
    fs.delete(bak, True)
    return base
