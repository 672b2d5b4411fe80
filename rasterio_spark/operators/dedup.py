"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: every method is shuffle-bounded by (doc, shingle/band)
cardinality, never O(n^2) over documents — candidate pairs only emerge
from shared buckets. Shingle/token hashes go through sha2 so the exact
same integers are computable in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasterio_spark.operators.shapes import connected_components_pairs

MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
# deterministic (a, b) per permutation; a odd, < 2^31
MINHASH_COEFFS = [(2 * j + 1, (j * j + j + 41) % MINHASH_P) for j in range(16)]
LSH_BANDS = 4  # 16 perms / 4 rows per band


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Universal-hash (a, b) pairs for ``num_perm`` permutations — the
    default 16-perm table extended by the same formula, so production
    widths (128 perms / 16 bands) share the coefficient family."""
    return [(2 * j + 1, (j * j + j + 41) % MINHASH_P) for j in range(num_perm)]


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    keeper (min id) and the duplicate count."""
    h = F.sha2(F.col(text_col), 256)
    return (
        docs.select(h.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def dedup_exact_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
        SELECT sha256({text_col}) AS text_hash,
               min({id_col}) AS keeper_id,
               count(*) AS n_docs
        FROM {table} GROUP BY 1
    """


def _spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition inputs with pathologically few
    partitions (guide §2.5 'input skew': one unsplittable file). A
    single-file corpus otherwise runs the whole shingle+hash map side
    on ONE task regardless of cores. No-op for healthy inputs (at
    scale, scans carry >= cores partitions); rows are tiny text docs,
    so the rebalance shuffle is cheap when it does fire."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < par:
        return df.repartition(par)
    return df


def _exploded_shingles(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, shingle) with the token array projected ONCE per row
    (~n_tokens times less split() work) and degenerate input
    partitioning spread."""
    docs = _spread_small_input(docs)
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("_toks")
    )
    idx = F.sequence(
        F.lit(1), F.greatest(F.size("_toks") - F.lit(n - 1), F.lit(1))
    )
    arr = F.transform(idx, lambda i: F.concat_ws(" ", F.slice("_toks", i, n)))
    return toks.select("doc_id", F.explode(arr).alias("shingle"))


def _shingles_sql(text_col: str, n: int) -> str:
    """DuckDB: same shingle array (1-based inclusive list slicing)."""
    toks = f"string_split({text_col}, ' ')"
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 1)), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )


def shingle_docs(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) distinct pairs."""
    return _exploded_shingles(docs, n, text_col, id_col).distinct()


def cap_shingles(df: DataFrame, key: str, cap: int) -> DataFrame:
    """Drop the rows whose ``key`` value occurs in more than ``cap``
    rows — the hot-key cap before every near-duplicate self-join
    (shingles, LSH buckets, embedding clusters).

    The hot set is tiny (only the boilerplate tail), so the anti-join
    is a broadcast; this is the guard that keeps a self-join on ``key``
    linear at 100 TB — without it one viral trigram in 1% of 10^10 docs
    emits ~10^14 pairs.
    """
    hot = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
        .select(key)
    )
    return df.join(F.broadcast(hot), key, "left_anti")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard >= threshold.

    Plan: shingle -> self-join on shingle (candidates share >= 1) ->
    count shared -> jaccard with per-doc distinct counts. The self-join
    key is the shingle, so cost ~ sum over shingles of df^2.
    ``max_df`` (pass ~1% of the corpus size in production) drops
    shingles in more than that many docs BEFORE the self-join — the
    worst case stays linear at 100 TB. Jaccard denominators use the
    FULL per-doc shingle counts, so with a cap the score is a lower
    bound (shared hot shingles aren't counted) — the standard boiler-
    plate-robust estimate; the DuckDB twin applies the identical cap.
    """
    from rasterio_spark.plans.cache import scoped_persist

    # the distinct shingle table feeds FIVE consumers (per-doc sizes,
    # the hot-shingle aggregation, the anti-join probe, and both sides
    # of the self-join); unpersisted, each one re-runs the scan +
    # explode + distinct (r6: 6 scans / 17 Exchanges in one plan).
    # Persist it once — the same pattern lsh_verified_pairs uses.
    sh = scoped_persist(shingle_docs(docs, n, text_col, id_col))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        sh = cap_shingles(sh, "shingle", max_df)
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6))
        .where(F.col("jaccard") >= threshold)
    )
    return j.select("doc_a", "doc_b", "jaccard")


def ngram_jaccard_sql(
    n: int = 3, threshold: float = 0.5, table: str = "documents", max_df: int | None = None
) -> str:
    sh = f"""
        SELECT DISTINCT doc_id, unnest({_shingles_sql("text", n)}) AS shingle
        FROM {table}
    """
    capped = (
        f"SELECT * FROM sh WHERE shingle NOT IN "
        f"(SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > {max_df})"
        if max_df is not None
        else "SELECT * FROM sh"
    )
    return f"""
        WITH sh AS ({sh}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        capped AS ({capped}),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
          FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT s.doc_a, s.doc_b,
               round(s.shared / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard
        FROM shared s
        JOIN sizes sa ON sa.doc_id = s.doc_a
        JOIN sizes sb ON sb.doc_id = s.doc_b
        WHERE round(s.shared / (sa.n_sh + sb.n_sh - s.shared), 6) >= {threshold}
    """


def _shingle_hash_expr(hash_method: str = "sha2") -> str:
    """Spark: shingle -> nonnegative int hash.

    'sha2' (default) is DuckDB-portable (the oracle computes the same
    integers). 'xxh64' is the production path: one JVM xxhash64 call
    per shingle instead of a MessageDigest allocation — measured ~10x
    cheaper and it scales linearly with cores; use it when no SQL twin
    is needed (bench / real pipelines)."""
    if hash_method == "sha2":
        return "conv(substring(sha2(shingle, 256), 1, 15), 16, 10)"
    if hash_method == "xxh64":
        return "pmod(xxhash64(shingle), 1152921504606846976)"
    raise ValueError(f"unknown hash_method {hash_method!r}")


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "sha2",
    num_perm: int = len(MINHASH_COEFFS),
) -> DataFrame:
    """(doc_id, s0..s{num_perm-1}) — MinHash signature with num_perm
    universal-hash permutations over 60-bit shingle hashes mod p
    (default 16; production near-dup configs run 128).

    Uses the RAW exploded shingles (no distinct): min() is
    duplicate-insensitive, so skipping the dedup drops a full shuffle
    from the signature stage — the partial min-agg combines map-side.
    """
    sh = _exploded_shingles(docs, n, text_col, id_col)
    hp = (F.expr(_shingle_hash_expr(hash_method)).cast("long") % MINHASH_P).alias("hp")
    sh = sh.select("doc_id", hp)
    aggs = [
        F.min((F.lit(a) * F.col("hp") + F.lit(b)) % MINHASH_P).alias(f"s{j}")
        for j, (a, b) in enumerate(minhash_coeffs(num_perm))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_buckets(sig: DataFrame, num_perm: int = len(MINHASH_COEFFS), bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, bucket) — one 64-bit bucket key per LSH band
    (xxhash64 over the band index + that band's signature rows).

    Single-branch plan: the band keys explode from one array instead of
    a bands-way union (which carried the signature aggregation once per
    band unless exchange reuse saved it). Hashed numeric keys (r6)
    replace the old '<band>_<s0>_..._<s7>' strings: the self-join
    shuffles 8 bytes per row instead of ~60-char strings. Distinct band
    contents colliding into one bucket is ~2^-64 per key pair — the
    LSH candidate set is probabilistic by construction, and production
    LSH implementations bucket on hashed band signatures for the same
    reason."""
    if num_perm % bands:
        raise ValueError(f"num_perm {num_perm} must divide into {bands} bands")
    rows_per_band = num_perm // bands
    keys = [
        F.xxhash64(
            F.lit(band),
            *[F.col(f"s{band * rows_per_band + r}") for r in range(rows_per_band)],
        )
        for band in range(bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*keys)).alias("bucket"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    hash_method: str = "sha2",
    num_perm: int = len(MINHASH_COEFFS),
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket
    (default 16 perms -> 4 bands x 4 rows; production width 128/16 is
    one kwarg away and benched as `minhash_lsh_128`). Pure groupBy/join
    — the standard shingle -> minhash -> band -> bucket-join pipeline.

    ``max_bucket`` drops buckets holding more than that many docs
    before the self-join (the bucket-side analogue of the shingle
    df-cap): a degenerate bucket of b docs costs b^2 pairs, so the cap
    bounds the join output at buckets * max_bucket^2. Oversized buckets
    are boilerplate clusters LSH cannot rank anyway — production
    pipelines route them to exact dedup instead."""
    if num_perm % bands:
        raise ValueError(f"num_perm {num_perm} must divide into {bands} bands")
    from rasterio_spark.plans.cache import scoped_persist

    sig = minhash_signatures(docs, n, text_col, id_col, hash_method, num_perm=num_perm)
    # the bucket table feeds the hot-bucket aggregation, the anti-join
    # probe and BOTH self-join sides; unpersisted, each consumer re-runs
    # the whole scan -> shingle -> num_perm-way min-agg pipeline (the
    # static plan carries FOUR copies of it). Persisting (doc_id,
    # bucket) — 16 bytes x bands per doc, far smaller than recomputing
    # the signature agg — materializes it once per action.
    buckets = scoped_persist(lsh_buckets(sig, num_perm=num_perm, bands=bands))
    if max_bucket is not None:
        buckets = cap_shingles(buckets, "bucket", max_bucket)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_ctes(n: int, table: str, max_bucket: int | None) -> str:
    """Shared CTE chain sh -> sig -> buckets -> cand (LSH pairs)."""
    sh = f"""
        SELECT DISTINCT doc_id, unnest({_shingles_sql("text", n)}) AS shingle
        FROM {table}
    """
    hp = f"(CAST(concat('0x', substr(sha256(shingle), 1, 15)) AS BIGINT) % {MINHASH_P})"
    sig_cols = ", ".join(
        f"min(({a} * {hp} + {b}) % {MINHASH_P}) AS s{j}"
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    )
    rows_per_band = len(MINHASH_COEFFS) // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"s{band * rows_per_band + r}" for r in range(rows_per_band)]
        key = " || '_' || ".join([f"'{band}'"] + [f"CAST({c} AS VARCHAR)" for c in cols])
        band_selects.append(f"SELECT doc_id, {key} AS bucket FROM sig")
    buckets = " UNION ALL ".join(band_selects)
    capped = (
        f"SELECT * FROM buckets0 WHERE bucket NOT IN "
        f"(SELECT bucket FROM buckets0 GROUP BY 1 HAVING count(*) > {max_bucket})"
        if max_bucket is not None
        else "SELECT * FROM buckets0"
    )
    return f"""
        sh AS ({sh}),
        sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
        buckets0 AS ({buckets}),
        buckets AS ({capped}),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b
            ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
    """


def minhash_lsh_sql(n: int = 3, table: str = "documents", max_bucket: int | None = None) -> str:
    return f"""
        WITH {_minhash_ctes(n, table, max_bucket)}
        SELECT doc_a, doc_b FROM cand
    """


def lsh_verified_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    hash_method: str = "sha2",
) -> DataFrame:
    """LSH candidates -> EXACT Jaccard verify (the stage that turns the
    candidate generator into a dedup operator): join each candidate
    pair back to the shingle sets, count the intersection, keep pairs
    with true Jaccard >= threshold. Cost is O(candidate pairs x shared
    shingles), never all-pairs."""
    from rasterio_spark.plans.cache import scoped_persist

    cand = minhash_lsh_pairs(docs, n, text_col, id_col, max_bucket, hash_method)
    # one row per doc: its distinct shingle set packed as an array.
    # The old form joined candidates against the EXPLODED shingle table
    # twice (two wide shuffles of pair x shingle rows + a groupBy);
    # packing the set per doc makes the verify two doc-id equi-joins
    # plus a JVM array_intersect per pair — measured ~2x faster at
    # sf0.1 and strictly less shuffle volume at scale (the arrays move
    # once per pair side instead of once per shared shingle).
    # r6: the sets hold xxhash64(shingle) longs, not shingle strings —
    # the agg shuffles 8 bytes/shingle instead of ~20-char strings and
    # array_intersect compares longs; |intersection| and the set sizes
    # (and therefore Jaccard) are unchanged unless two distinct
    # shingles of one candidate pair collide in 64 bits (~1e-16 per
    # pair at 200 shingles/doc). collect_set dedups inside the agg, so
    # the separate distinct() pass is gone too.
    # Persisted (scoped) because both join sides read it.
    sets = scoped_persist(
        _exploded_shingles(docs, n, text_col, id_col)
        .groupBy("doc_id")
        .agg(F.collect_set(F.xxhash64("shingle")).alias("_sh"))
    )
    j = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sa")), "doc_a"
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_sb")), "doc_b"
        )
        .withColumn("shared", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.size("_sa") + F.size("_sb") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return j.select("doc_a", "doc_b", "jaccard")


def dedup_groups(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    hash_method: str = "sha2",
) -> DataFrame:
    """End-to-end near-dup dedup verdict per document:
    (doc_id, group_id, keep) — LSH candidates -> exact-Jaccard verify ->
    connected components -> keeper = min doc_id per component. Docs in
    no near-dup group are their own keeper."""
    pairs = lsh_verified_pairs(docs, n, threshold, text_col, id_col, max_bucket, hash_method)
    labels = connected_components_pairs(pairs)
    base = docs.select(F.col(id_col).alias("doc_id"))
    out = base.join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
    group_id = F.coalesce("label", F.col("doc_id"))
    return out.select(
        "doc_id",
        group_id.alias("group_id"),
        (group_id == F.col("doc_id")).alias("keep"),
    )


def dedup_groups_sql(
    n: int = 3, threshold: float = 0.5, table: str = "documents", max_bucket: int | None = None
) -> str:
    """DuckDB twin of dedup_groups: same LSH + verify SQL, components
    via a recursive min-label-propagation CTE (the global minimum of a
    component is smaller than every other member id, so it reaches all
    members along edges)."""
    return f"""
        WITH RECURSIVE {_minhash_ctes(n, table, max_bucket)},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        shared AS (
          SELECT c.doc_a, c.doc_b, count(*) AS shared
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2
        ),
        verified AS (
          SELECT s.doc_a, s.doc_b
          FROM shared s
          JOIN sizes sa ON sa.doc_id = s.doc_a
          JOIN sizes sb ON sb.doc_id = s.doc_b
          WHERE round(s.shared / (sa.n_sh + sb.n_sh - s.shared), 6) >= {threshold}
        ),
        und AS (
          SELECT doc_a AS s, doc_b AS d FROM verified
          UNION ALL
          SELECT doc_b, doc_a FROM verified
        ),
        reach(node, label) AS (
          SELECT doc_id, doc_id FROM {table}
          UNION
          SELECT u.d, r.label FROM reach r JOIN und u ON u.s = r.node
          WHERE r.label < u.d
        )
        SELECT node AS doc_id, min(label) AS group_id,
               (min(label) = node) AS keep
        FROM reach GROUP BY node
    """


SIMHASH_BITS = 32


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash long): 32-bit SimHash over distinct-token 60-bit
    sha2 hashes; bit j set iff sum over tokens of (bit_j ? +1 : -1) > 0
    (ties at 0 -> bit clear, deterministic)."""
    toks = (
        _spread_small_input(docs)
        .select(F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .distinct()
        .withColumn("h", F.expr("conv(substring(sha2(tok, 256), 1, 15), 16, 10)").cast("long"))
    )
    aggs = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    sig = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return sums.select("doc_id", sig.alias("simhash"))


def simhash_sql(table: str = "documents") -> str:
    h = "CAST(concat('0x', substr(sha256(tok), 1, 15)) AS BIGINT)"
    sums = ", ".join(
        f"sum(((({h} >> {j}) & 1) * 2 - 1)) AS b{j}" for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {2**j}::BIGINT ELSE 0::BIGINT END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM {table}
        ),
        sums AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id)
        SELECT doc_id, ({sig}) AS simhash FROM sums
    """
