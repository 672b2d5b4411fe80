"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products via zip_with + aggregate (sequential fold, JVM-side).
- ``ivf_topk``: IVF-style scale path — coarse-quantize by the ``label``
  partition (or any cluster id column), rank centroids per query, probe
  only ``nprobe`` inverted lists. With nprobe = all clusters it equals
  brute force (that identity is the oracle check).
- ``neardup_pairs``: embedding near-duplicate pairs (cosine >= tau),
  bucket-pruned by cluster to avoid O(n^2).

Similarities are rounded to 6 decimals before ranking so engine-specific
float-fold noise (~1e-15) can't flip an order; ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from rasterio_spark.operators.dedup import cap_shingles


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_unit_norm(df: DataFrame, col: str = "embedding") -> DataFrame:
    a = F.transform(F.col(col), lambda x: x.cast("double"))
    return df.withColumn("_vec", a).withColumn("_norm", _norm(F.col("_vec")))


def cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k neighbors per query id (excluding self):
    (query_id, vec_id, cos_sim, rank)."""
    base = with_unit_norm(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"), "_vec", "_norm"
    )
    queries = base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    cand = base.crossJoin(F.broadcast(queries)).where(F.col("vec_id") != F.col("query_id"))
    cos = F.round(_dot(F.col("_vec"), F.col("_qvec")) / (F.col("_norm") * F.col("_qnorm")), 6)
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("cos_sim", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def cosine_topk_sql(query_ids: list[int], k: int, table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    vec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    return f"""
        WITH base AS (
          SELECT vec_id, {vec} AS v,
                 sqrt(list_dot_product({vec}, {vec})) AS nrm
          FROM {table}
        ),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM base WHERE vec_id IN ({ids})),
        scored AS (
          SELECT q.query_id, b.vec_id,
                 round(list_dot_product(b.v, q.qv) / (b.nrm * q.qnrm), 6) AS cos_sim
          FROM base b CROSS JOIN q WHERE b.vec_id != q.query_id
        )
        SELECT query_id, vec_id, cos_sim,
               CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
               ) AS INT) AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """IVF approximate top-k: centroids = per-cluster mean vector
    (one aggregation); per query rank centroids by cosine and probe the
    nprobe nearest inverted lists only. At 100 TB the probe join is a
    partition-pruned scan when the table is written partitioned by
    cluster id."""
    base = with_unit_norm(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(cluster_col).alias("cluster"), "_vec", "_norm"
    )
    # centroid = per-(cluster, position) mean, reassembled into an array
    # ordered by position — no driver-side action to discover the dim
    # (a .first() here would run a job during plan construction)
    centroids = (
        base.select("cluster", F.posexplode("_vec").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: F.round(s["m"], 9),
            ).alias("_cvec")
        )
    )
    queries = base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    qc = queries.crossJoin(F.broadcast(centroids))
    csim = _dot(F.col("_qvec"), F.col("_cvec")) / (
        F.sqrt(_dot(F.col("_cvec"), F.col("_cvec"))) * F.col("_qnorm")
    )
    wq = W.partitionBy("query_id").orderBy(F.round(csim, 6).desc(), F.col("cluster").asc())
    probes = (
        qc.withColumn("_crank", F.row_number().over(wq))
        .where(F.col("_crank") <= nprobe)
        .select("query_id", "_qvec", "_qnorm", "cluster")
    )
    cand = base.join(F.broadcast(probes), "cluster").where(F.col("vec_id") != F.col("query_id"))
    cos = F.round(_dot(F.col("_vec"), F.col("_qvec")) / (F.col("_norm") * F.col("_qnorm")), 6)
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("cos_sim", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Distributed Lloyd's k-means as pure DataFrame ops — the training
    step the IVF index needs when no cluster column exists.

    init: the k vectors with the smallest ids (deterministic);
    iterate: assign = nearest centroid by squared euclidean (broadcast
    crossJoin with k centroids — O(n*k) rows, k is small; ties break to
    the smaller cluster id via min(struct)); update = per-(cluster,
    position) mean reassembled into arrays (posexplode + groupBy), the
    same shuffle shape as ivf_topk's centroid step. No driver-side data
    moves; each iteration is two shuffles.

    Returns (assignments (vec_id, cluster), centroids (cluster, _cvec)).
    """
    from rasterio_spark.plans.cache import scoped_persist

    # every Lloyd's iteration reads the normalized table TWICE (the
    # assign crossJoin and the centroid update join), so an iters-deep
    # lineage re-runs the scan + normalization 2*iters times; persist
    # it once — values and partitioning are unchanged, so the
    # round(9)-pinned oracle arithmetic is identical.
    base = scoped_persist(
        with_unit_norm(embeddings, vec_col).select(
            F.col(id_col).alias("vec_id"), "_vec"
        )
    )
    # distributed take-ordered for the seeds, then rank the k survivors
    # with array_sort + posexplode (a partial-aggregated global agg over
    # only k rows) — no WindowExec at all, so no unpartitioned-window
    # funnel or warning; a global row_number over the full table would
    # move everything through one partition
    seeds = base.orderBy("vec_id").limit(k)
    cent = (
        seeds.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "_vec"))).alias("_s"))
        .select(F.posexplode("_s").alias("_pos", "_sv"))
        .select(
            F.col("_pos").cast("int").alias("cluster"),
            F.col("_sv._vec").alias("_cvec"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("_vec"), F.col("_cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    assign = None
    for _ in range(iters):
        joined = base.crossJoin(F.broadcast(cent))
        assign = (
            joined.withColumn("_d2", F.round(d2, 9))
            .groupBy("vec_id")
            .agg(
                F.min(F.struct(F.col("_d2"), F.col("cluster"))).getField("cluster").alias("cluster")
            )
        )
        cent = (
            base.join(assign, "vec_id")
            .select("cluster", F.posexplode("_vec").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: F.round(s["m"], 9),
                ).alias("_cvec")
            )
        )
    return assign, cent


def ivf_build(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train-and-assign IVF index from scratch: kmeans_fit clusters the
    vectors, and the returned table carries the learned ``label``
    column ivf_topk probes. At 100 TB, write this table partitioned by
    ``label`` so a probe is a partition-pruned scan:

        ivf_build(emb, k=4096).write.partitionBy("label").parquet(...)
    """
    assign, _ = kmeans_fit(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    base = embeddings.drop("label")  # replace any pre-existing coarse labels
    return base.join(
        assign.select(F.col("vec_id").alias(id_col), F.col("cluster").alias("label")),
        id_col,
    )


def kmeans_assign_sql(k: int, iters: int, table: str = "embeddings") -> str:
    """DuckDB twin of kmeans_fit's assignment output.

    Lloyd's is deterministic by construction here (min-id seeds,
    round(,9) distances and means, min-(d2, cluster) tie-break), so a
    fixed-iteration unrolled CTE chain reproduces the Spark trainer
    exactly: cent0 = k smallest ids, then iters x (assign_i, cent_i).
    Distances fold left-to-right on both engines (Spark F.aggregate /
    DuckDB list_sum over list_zip); cluster means are rounded to 9
    before the next distance pass so cross-engine avg() noise (~1e-16)
    cannot flip an argmin.
    """
    vec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    d2 = (
        "round(list_sum(list_transform(list_zip(b.v, c.cv), "
        "s -> (s[1] - s[2]) * (s[1] - s[2]))), 9)"
    )
    ctes = [
        f"base AS (SELECT vec_id, {vec} AS v FROM {table})",
        f"""cent0 AS (
          SELECT CAST(rn - 1 AS INTEGER) AS cluster, v AS cv FROM (
            SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM base
          ) WHERE rn <= {k}
        )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""assign{i} AS (
          SELECT vec_id, cluster FROM (
            SELECT b.vec_id, c.cluster,
                   row_number() OVER (
                     PARTITION BY b.vec_id ORDER BY {d2} ASC, c.cluster ASC
                   ) AS rk
            FROM base b CROSS JOIN cent{i - 1} c
          ) WHERE rk = 1
        )""")
        if i < iters:
            ctes.append(f"""cent{i} AS (
              SELECT cluster, list(round(m, 9) ORDER BY pos) AS cv FROM (
                SELECT cluster, pos, avg(x) AS m FROM (
                  SELECT a.cluster,
                         unnest(list_transform(b.v, (x, j) -> {{'pos': j, 'x': x}}),
                                recursive := true)
                  FROM assign{i} a JOIN base b USING (vec_id)
                ) GROUP BY cluster, pos
              ) GROUP BY cluster
            )""")
    return f"WITH {', '.join(ctes)} SELECT vec_id, cluster FROM assign{iters}"


def neardup_pairs(
    embeddings: DataFrame, tau: float = 0.9, id_col: str = "vec_id", vec_col: str = "embedding",
    cluster_col: str | None = "label", max_cluster: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cos_sim) pairs with cosine >= tau, a < b.

    With a cluster column the self-join is per-cluster (near-dups land
    in the same coarse cell overwhelmingly often); cluster_col=None
    falls back to the exact full cross join.

    ``max_cluster`` drops clusters larger than that many vectors before
    the self-join (the cluster-side analogue of dedup's ``max_bucket``
    / shingle df-cap): a degenerate cluster of c vectors costs c^2
    pairs, so the cap bounds the join output at clusters*max_cluster^2.
    Oversized clusters mean the quantizer failed for that region —
    production pipelines re-cluster or exact-dedup them instead."""
    base = with_unit_norm(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"),
        (F.col(cluster_col) if cluster_col else F.lit(0)).alias("cluster"),
        "_vec",
        "_norm",
    )
    if max_cluster is not None and cluster_col:
        base = cap_shingles(base, "cluster", max_cluster)
    a = base.alias("a")
    b = base.alias("b")
    cond = (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    cos = F.round(
        _dot(F.col("a._vec"), F.col("b._vec")) / (F.col("a._norm") * F.col("b._norm")), 6
    )
    return (
        a.join(b, cond)
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= tau)
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"), "cos_sim")
    )


def neardup_pairs_sql(
    tau: float = 0.9,
    table: str = "embeddings",
    use_cluster: bool = True,
    max_cluster: int | None = None,
) -> str:
    vec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    cluster = "label" if use_cluster else "0"
    cap = ""
    if max_cluster is not None and use_cluster:
        cap = f"""
          WHERE cluster IN (
            SELECT {cluster} FROM {table} GROUP BY 1 HAVING count(*) <= {max_cluster}
          )
        """
    return f"""
        WITH base0 AS (
          SELECT vec_id, {cluster} AS cluster, {vec} AS v,
                 sqrt(list_dot_product({vec}, {vec})) AS nrm
          FROM {table}
        ),
        base AS (SELECT * FROM base0 {cap})
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
        FROM base a JOIN base b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {tau}
    """


def ivf_topk_pruned_sql(
    query_ids: list[int], k: int, nprobe: int, table: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`ivf_topk` with a REAL pruned probe
    (nprobe < n_clusters): enumerates the same nprobe inverted lists —
    centroids are deterministic (per-(cluster, pos) mean rounded to 9,
    like the engine), centroid ranking rounds to 6 with cluster-asc
    ties, candidates exclude self, final rank is (cos desc, vec_id asc).
    This oracles the ANN value path itself, not just the nprobe=all
    identity (r4 verdict item 7)."""
    ids = ", ".join(str(i) for i in query_ids)
    vec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    return f"""
        WITH base AS (
          SELECT vec_id, label AS cluster, {vec} AS v,
                 sqrt(list_dot_product({vec}, {vec})) AS nrm
          FROM {table}
        ),
        pos_means AS (
          SELECT cluster, pos, avg(x) AS m
          FROM (
            SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS pos
            FROM base
          )
          GROUP BY cluster, pos
        ),
        centroids AS (
          SELECT cluster, list(round(m, 9) ORDER BY pos) AS cvec
          FROM pos_means GROUP BY cluster
        ),
        q AS (
          SELECT vec_id AS query_id, v AS qv, nrm AS qnrm
          FROM base WHERE vec_id IN ({ids})
        ),
        ranked_cent AS (
          SELECT q.query_id, c.cluster, q.qv, q.qnrm,
                 row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(
                     list_dot_product(q.qv, c.cvec)
                       / (sqrt(list_dot_product(c.cvec, c.cvec)) * q.qnrm), 6
                   ) DESC, c.cluster ASC
                 ) AS crank
          FROM q CROSS JOIN centroids c
        ),
        probes AS (
          SELECT query_id, cluster, qv, qnrm FROM ranked_cent WHERE crank <= {nprobe}
        ),
        scored AS (
          SELECT p.query_id, b.vec_id,
                 round(list_dot_product(b.v, p.qv) / (b.nrm * p.qnrm), 6) AS cos_sim
          FROM base b JOIN probes p ON b.cluster = p.cluster
          WHERE b.vec_id != p.query_id
        )
        SELECT query_id, vec_id, cos_sim,
               CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
               ) AS INT) AS rank
        FROM scored
        QUALIFY rank <= {k}
    """
