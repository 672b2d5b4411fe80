"""The primary input: Common-Crawl-style web pages
(``url string, warc_ts timestamp, html binary, text string, lang string``
— the input_hint schema, BASELINE.json).

Two producers:

- ``pages_from_documents``: deterministic pages derived from the driver's
  ``documents`` table (12 pages per doc). Every expression is a Spark
  built-in whose exact DuckDB twin is emitted by ``pages_sql()`` — this
  keeps the correctness oracle honest (same values, same floats).
- ``synth_pages``: standalone ``spark.range(n)`` generator for benches at
  arbitrary scale, same formulas (FIXTURES.md §1), optional Zipf-style
  skew (20% of pages snapped into 3 hot 1-degree boxes).

Geocoding (url -> lon/lat) is the engine's responsibility, not the
generator's: ``with_geocode`` works on ANY pages table. It is derived
from sha2(url) so it is deterministic, uniform, and exactly expressible
in the oracle SQL. All of it is JVM-side codegen — zero Python per row.

Byte-identity invariant: ``text`` must flow through every operator
untouched; ``text_digest_exprs`` computes the sha2 digests recorded at
ingest and re-verified at sinks (FIXTURES.md §1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SECONDS_PER_YEAR = 31_536_000
EPOCH_2025 = 1_735_689_600  # 2025-01-01T00:00:00Z
REPLICAS = 12

# hot 1-degree boxes for the skewed variant (lon0, lat0)
HOT_BOXES = [(0.0, 0.0), (100.0, 40.0), (-60.0, -20.0)]

# lang thresholds over the hex nibble sha2(url)[8] (0..15):
# en 0-7 (50%), de 8-9, fr 10-11, es 12-13, zh 14, ar 15
_LANGS = [(8, "en"), (10, "de"), (12, "fr"), (14, "es"), (15, "zh"), (16, "ar")]


def _hex2long(col):
    """Spark: hex substring -> bigint."""
    return F.conv(col, 16, 10).cast("long")


def _url_expr(i):
    return F.concat(
        F.lit("https://site"),
        (i % 1000).cast("string"),
        F.lit(".example/p/"),
        i.cast("string"),
    )


def _build_pages(df: DataFrame, i_col: str) -> DataFrame:
    """Attach the input_hint columns to a DataFrame bearing an id column."""
    i = F.col(i_col)
    df = df.withColumn("url", _url_expr(i))
    h = F.sha2(F.col("url"), 256)
    df = df.withColumn("_h", h)
    text = F.concat(F.lit("page "), i.cast("string"), F.lit(" "), F.substring("_h", 1, 32))
    df = df.withColumn("text", text)
    df = df.withColumn(
        "html",
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "UTF-8"),
    )
    secs = _hex2long(F.substring("_h", 1, 8)) % SECONDS_PER_YEAR
    df = df.withColumn("warc_ts", F.timestamp_seconds(F.lit(EPOCH_2025) + secs))
    nib = _hex2long(F.substring("_h", 9, 1))
    expr = None
    for hi, name in _LANGS:
        cond = nib < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    df = df.withColumn("lang", expr.otherwise("ar"))
    return df.select("url", "warc_ts", "html", "text", "lang")


def pages_from_documents(spark: SparkSession, sf_dir: str, replicas: int = REPLICAS) -> DataFrame:
    """Deterministic pages table: ``i = doc_id * replicas + r``."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ids = docs.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
    ids = ids.select((F.col("doc_id") * replicas + F.col("r")).alias("i"))
    return _build_pages(ids, "i")


def synth_pages(
    spark: SparkSession, n: int, partitions: int | None = None, offset: int = 0
) -> DataFrame:
    """Standalone generator for benches: ``spark.range(n)``-driven, same
    formulas. For the Zipf skew variant, chain ``with_geocode(df,
    skew=True)`` (FIXTURES.md §1). ``offset`` shifts the id range, so
    shards drawn with different offsets are disjoint (pages i in
    [offset, offset + n))."""
    ids = spark.range(offset, offset + n, 1, partitions or spark.sparkContext.defaultParallelism)
    return _build_pages(ids.select(F.col("id").alias("i")), "i")


def _page_index_expr():
    # recover i from the url tail (pages tables don't carry i)
    return F.element_at(F.split(F.col("url"), "/"), -1).cast("long")


def with_geocode(pages: DataFrame, skew: bool = False, method: str = "sha2") -> DataFrame:
    """Attach deterministic (lon, lat) to any pages table.

    method='sha2' (default, oracle-parity — DuckDB computes the same):
    lon = int(sha2(url)[9:13], 16) / 0xFFFF * 360 - 180
    lat = int(sha2(url)[13:17], 16) / 0xFFFF * 170 - 85     (FIXTURES.md §1)

    method='stored' trusts materialized lon/lat columns (ingest-time
    geocode); method='auto' uses them when present, else 'sha2'.

    With ``skew=True``, ~20% of pages (u16 % 5 == 0 on the already-
    computed hash halfword — no extra parsing on the hot path) are
    snapped into HOT_BOXES[v16 % 3] + a within-box fraction — the
    physical partitioning stressor for salting (north_rule, FIXTURES.md
    Zipf variant). Tile assignment stays a pure function of (lon, lat)
    either way.
    """
    if method == "auto":
        # operators' default: trust materialized lon/lat when the table
        # carries them (ingest-geocoded — the scale architecture), else
        # compute the oracle-parity sha2 geocode inline.
        if "lon" in pages.columns and "lat" in pages.columns:
            if skew:
                # stored columns carry whatever skew was baked in at
                # ingest; an explicit skew request here is not applied —
                # signal it instead of silently ignoring (ADVICE r2)
                import warnings

                warnings.warn(
                    "geocode method 'auto' is using materialized lon/lat columns; "
                    "skew=True is not applied post-ingest (the stored columns keep "
                    "whatever skew was baked in) — re-ingest with "
                    "with_geocode(skew=True) or pass method='sha2' to recompute",
                    stacklevel=2,
                )
            return pages
        method = "sha2"
    if method == "stored":
        # production architecture: geocode ONCE at ingest and persist
        # (lon, lat) as table columns — the hot path never hashes.
        # Skew is whatever was baked in at ingest time.
        if "lon" not in pages.columns or "lat" not in pages.columns:
            raise ValueError(
                "geocode method 'stored' requires materialized lon/lat columns "
                "(run with_geocode at ingest and persist them)"
            )
        return pages
    if method != "sha2":
        raise ValueError(f"unknown geocode method {method!r}")
    h = F.sha2(F.col("url"), 256)
    u16 = _hex2long(F.substring(h, 10, 4))  # hexdigest[9:13], 1-indexed substr
    v16 = _hex2long(F.substring(h, 14, 4))  # hexdigest[13:17]
    lon = u16 / 65535.0 * 360.0 - 180.0
    lat = v16 / 65535.0 * 170.0 - 85.0
    if skew:
        hot = u16 % 5 == 0
        box = (v16 % 3).cast("int")
        box_lon = F.element_at(F.array(*[F.lit(b[0]) for b in HOT_BOXES]), box + 1)
        box_lat = F.element_at(F.array(*[F.lit(b[1]) for b in HOT_BOXES]), box + 1)
        lon = F.when(hot, box_lon + u16 / 65536.0).otherwise(lon)
        lat = F.when(hot, box_lat + v16 / 65536.0).otherwise(lat)
    return pages.withColumn("lon", lon).withColumn("lat", lat)


def text_digest_exprs(pages: DataFrame) -> DataFrame:
    """(url, digest) pairs for the byte-identity invariant."""
    return pages.select("url", F.sha2(F.col("text"), 256).alias("text_digest"))


# ---------------------------------------------------------------------------
# DuckDB oracle twins. Keep these in lockstep with the Spark expressions
# above — the correctness gate diffs their outputs value-by-value.
# ---------------------------------------------------------------------------

def pages_sql(replicas: int = REPLICAS) -> str:
    """DuckDB CTE body producing the same pages as pages_from_documents.

    Relies on: sha256() hex output identical to Spark sha2( ,256);
    '0x...' VARCHAR->BIGINT casts; naive-UTC timestamp arithmetic
    (Spark session TZ is pinned to UTC).
    """
    return f"""
        SELECT
          'https://site' || CAST(i % 1000 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR) AS url,
          TIMESTAMP '2025-01-01 00:00:00'
            + (CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % {SECONDS_PER_YEAR}) * INTERVAL 1 SECOND AS warc_ts,
          encode('<html><body>' || t || '</body></html>') AS html,
          t AS text,
          CASE
            WHEN CAST(concat('0x', substr(h, 9, 1)) AS BIGINT) < 8 THEN 'en'
            WHEN CAST(concat('0x', substr(h, 9, 1)) AS BIGINT) < 10 THEN 'de'
            WHEN CAST(concat('0x', substr(h, 9, 1)) AS BIGINT) < 12 THEN 'fr'
            WHEN CAST(concat('0x', substr(h, 9, 1)) AS BIGINT) < 14 THEN 'es'
            WHEN CAST(concat('0x', substr(h, 9, 1)) AS BIGINT) < 15 THEN 'zh'
            ELSE 'ar'
          END AS lang
        FROM (
          SELECT i,
                 sha256('https://site' || CAST(i % 1000 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR)) AS h,
                 'page ' || CAST(i AS VARCHAR) || ' '
                   || substr(sha256('https://site' || CAST(i % 1000 AS VARCHAR) || '.example/p/' || CAST(i AS VARCHAR)), 1, 32) AS t
          FROM (
            SELECT doc_id * {replicas} + g.r AS i
            FROM documents, generate_series(0, {replicas - 1}) AS g(r)
          )
        )
    """


def geocode_sql(url_expr: str = "url") -> tuple[str, str]:
    """(lon_sql, lat_sql) DuckDB expressions matching with_geocode."""
    h = f"sha256({url_expr})"
    lon = f"(CAST(concat('0x', substr({h}, 10, 4)) AS BIGINT) / 65535.0 * 360.0 - 180.0)"
    lat = f"(CAST(concat('0x', substr({h}, 14, 4)) AS BIGINT) / 65535.0 * 170.0 - 85.0)"
    return lon, lat
