"""Structured-Streaming face of the tiling pipeline (SURVEY.md §2.10).

The reference has no streaming; the north rule asks for batch +
resumability (plans/lineage.py). This module is the optional stretch:
the same tiling operators over ``readStream``, with event-time
watermarks on ``warc_ts`` for late pages, plus batch sessionization of
the same pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_pages_stream(spark: SparkSession, input_dir: str, max_files: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def streaming_tile_counts(
    pages_stream: DataFrame,
    res: int = 7,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per (event-time window, cell) page counts with late-data handling:
    the streaming twin of tile_counts. Append-mode-safe (watermarked)."""
    from rasterio_spark.functions import cell_exprs as CE
    from rasterio_spark.sources.pages import with_geocode

    geo = with_geocode(pages_stream)
    cell = CE.encode_cols(F.col("lon"), F.col("lat"), res)
    return (
        geo.withColumn("cell_id", cell)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("cell_id"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("w.start").alias("window_start"), "cell_id", "n_pages")
    )


def run_stream_to_memory(stream_df: DataFrame, name: str = "stream_out") -> DataFrame:
    """Drive a streaming plan to completion over a static directory
    (local smoke-test harness): memory sink + processAllAvailable."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def sessionize_batch(pages: DataFrame, res: int = 7, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: per-cell event-time sessions split at gaps
    > gap_minutes — (cell_id, session_start, session_end, n_pages).
    Pure window functions (lag -> new-session flag -> running session
    index -> groupBy); one shuffle on cell_id. The SQL twin is exact."""
    from pyspark.sql import Window as W

    from rasterio_spark.functions import cell_exprs as CE
    from rasterio_spark.sources.pages import with_geocode

    geo = with_geocode(pages)
    cell = CE.encode_cols(F.col("lon"), F.col("lat"), res)
    df = geo.select(cell.alias("cell_id"), "warc_ts")
    w = W.partitionBy("cell_id").orderBy("warc_ts")
    gap = gap_minutes * 60
    df = df.withColumn(
        "_new",
        (
            F.col("warc_ts").cast("long")
            - F.lag(F.col("warc_ts").cast("long")).over(w)
            > gap
        )
        .cast("int"),
    )
    df = df.withColumn("_sid", F.sum(F.coalesce("_new", F.lit(0))).over(w))
    return df.groupBy("cell_id", "_sid").agg(
        F.min("warc_ts").alias("session_start"),
        F.max("warc_ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_pages"),
    ).drop("_sid")


def sessionize_batch_sql(pages_cte_cell: str, gap_minutes: int = 30) -> str:
    """DuckDB twin; ``pages_cte_cell`` selects (cell_id, warc_ts)."""
    gap = gap_minutes * 60
    return f"""
        WITH ev AS ({pages_cte_cell}),
        flagged AS (
          SELECT cell_id, warc_ts,
                 CASE WHEN epoch(warc_ts) - epoch(lag(warc_ts) OVER (
                        PARTITION BY cell_id ORDER BY warc_ts)) > {gap}
                      THEN 1 ELSE 0 END AS new_sess
          FROM ev
        ),
        sid AS (
          SELECT cell_id, warc_ts,
                 sum(new_sess) OVER (
                   PARTITION BY cell_id ORDER BY warc_ts
                   ROWS UNBOUNDED PRECEDING) AS s
          FROM flagged
        )
        SELECT cell_id,
               min(warc_ts) AS session_start,
               max(warc_ts) AS session_end,
               count(*) AS n_pages
        FROM sid GROUP BY cell_id, s
    """
