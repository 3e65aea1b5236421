"""Distributed k-means clustering + SemDeDup-style semantic dedup.

Dremio OSS has no clustering operator — this is part of the added
training-data-pipeline surface (like dedup.py / similarity.py): semantic
clustering of an embedding column is the front half of semantic
deduplication (SemDeDup, Abbas et al. 2023) and of IVF index builds
(`similarity.ivf_topk` notes its first-N quantizer stands in for exactly
this k-means).

Scale design (Lloyd's algorithm on a 1000-executor cluster):
- Centroids are a plan-time constant (K x dim doubles): each iteration
  broadcasts them in a pandas-UDF closure; the corpus is scanned once per
  iteration with ONE numpy matmul per Arrow batch — never an N x K join.
- The only shuffles are the K*dim-sized centroid re-aggregations
  (posexplode -> partial-agg per (cluster, dim)); map-side combine makes
  the exchange rows = partitions * K * dim, independent of corpus size.
- Driver-side state is K x dim floats per iteration — bounded, documented.

Cross-engine determinism (same two-stage trick as similarity._exact_topk):
assignment preselects the top-2 nearest centroids with fast double math,
then decimal(28,12)-exact distances pick the winner, so Spark and the
DuckDB oracle agree bit-for-bit even when two centroids are nearly
equidistant. New centroid means are computed as
cast(decimal_exact_sum as double) / count — double division of identical
doubles — so iteration t+1 starts from identical centroids in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import DEC
from ..localframe import meta_df


def _dist_dec_sql(vec: str, cvec: str):
    """Exact squared-L2 distance between two double-array columns:
    per-dim double subtraction/square, decimal-exact sum — ONE parsed
    expression (a Column/HOF fold costs ~100 py4j round-trips per call
    site per build, re-paid every k-means assignment pass)."""
    return F.expr(
        f"CAST(aggregate(zip_with({vec}, {cvec}, (x, c) -> "
        f"CAST((CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c) "
        f"AS {DEC})), CAST(0 AS {DEC}), "
        f"(acc, x) -> CAST((acc + x) AS {DEC})) AS DOUBLE)")


def _init_centroids(corpus: DataFrame, k: int, id_col: str, vec_col: str):
    """Deterministic seed: the first k vectors by id (k-means++ on a
    sample at production scale; the iteration structure is identical)."""
    import numpy as np

    rows = corpus.orderBy(id_col).limit(k).select(vec_col).collect()
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def _assign(corpus: DataFrame, cents, id_col: str, vec_col: str) -> DataFrame:
    """One Lloyd's assignment pass: vec_id -> (cluster, exact dist).

    Stage 1 ranks all K centroids per row with one numpy matmul per Arrow
    batch (double math); stage 2 re-scores only the 2 nearest with
    decimal-exact arithmetic and keeps the true argmin (ties on cluster id).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    c = cents  # (K, dim) float64, plan-time constant

    def _top2(vs):
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin ignores ||x||^2
        d = -2.0 * (x @ c.T) + (c * c).sum(axis=1)
        top = np.argsort(d, axis=1)[:, :2].astype(np.int32)
        return pd.Series(list(top))

    top2 = pandas_udf(_top2, ArrayType(IntegerType()))
    cand = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        F.explode(top2(F.col(vec_col))).alias("cid"),
    )
    # decimal-exact distance to each of the 2 candidates via a broadcast
    # join with the K-row centroid table (a literal CASE over K inlined
    # centroid arrays costs Catalyst a K x dim expression tree to
    # analyze — planning time, not row time)
    spark = corpus.sparkSession
    cent_df = meta_df(spark, 
        [(i, [float(x) for x in c[i]]) for i in range(len(c))],
        "cid int, cvec array<double>",
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cid"))
    return (
        cand.join(F.broadcast(cent_df), "cid")
        .withColumn("dist", _dist_dec_sql("vec", "cvec"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "vec", "cid", "dist")
    )


def _recompute(assigned: DataFrame, prev, k: int, dim: int):
    """New centroid matrix: per-(cluster, dim) decimal-exact mean.

    posexplode -> two-phase agg; the exchange carries at most
    partitions * K * dim partial rows. The K x dim result is the only
    thing collected. A cluster that lost all members keeps its previous
    centroid (same rule replicated in the SQL oracle)."""
    rows = (
        assigned.select("cid", F.posexplode("vec").alias("i", "x"))
        .groupBy("cid", "i")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast(DEC)).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .collect()
    )
    out = prev.copy()
    for r in rows:
        out[r["cid"], r["i"]] = r["m"]
    return out


def kmeans(
    corpus: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column; returns one row per
    vector: (vec_id, cluster, dist, cluster_n) after `n_iters` rounds.

    Fixed iteration count keeps the job a bounded DAG (production runs
    add a convergence scalar check like dedup.py's cluster loop)."""
    cents = _init_centroids(corpus, k, id_col, vec_col)
    assigned = _assign(corpus, cents, id_col, vec_col)
    for _ in range(n_iters - 1):
        cents = _recompute(assigned, cents, k, dim)
        assigned = _assign(corpus, cents, id_col, vec_col)
    wc = Window.partitionBy("cid")
    return assigned.select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster"),
        F.round("dist", 6).alias("dist"),
        F.count("*").over(wc).cast("bigint").alias("cluster_n"),
    )


def semdedup(
    corpus: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    threshold: float = 0.5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning: k-means cluster the
    corpus, then compare pairs ONLY within a cluster; a vector is dropped
    when a lower-id cluster-mate has cosine similarity above `threshold`.

    The pair join is an equi-join on cluster id — never all-pairs: at 100
    TB you scale K with the corpus so per-cluster membership stays
    bounded, which is exactly the SemDeDup recipe (cluster with k-means,
    dedup inside cells). Returns (vec_id, cluster, keep, dup_of)."""
    import numpy as np
    import pandas as pd

    from .similarity import cosine_sql

    # the assignment frame feeds TWO plan branches (cluster membership
    # for the cell-pair search, and the final keep/dup_of join); persist
    # it so the pandas-UDF assign pass + ranking window run once, not
    # twice.  Sized one row per vector (id, cluster, dist, count) —
    # corpus-metadata, not corpus-content.
    from pyspark.storagelevel import StorageLevel

    assigned = kmeans(corpus, k, n_iters, dim, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK)
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    members = assigned.select("vec_id", "cluster").join(vecs, "vec_id")

    # candidate pairs per cluster as ONE normalized numpy gram matrix per
    # cell (a pair equi-join + interpreted array-HOF cosine costs ~50x at
    # |cell|^2 rows); the 1e-9 guard admits any pair whose float64 cosine
    # could sit on the other side of the threshold, and the decimal-exact
    # rescore below makes the final verdict engine-identical. applyInPandas
    # holds one cell in memory — bounded by the SemDeDup contract of
    # scaling K with the corpus.
    guard = float(threshold) - 1e-9

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}, dtype="int64")
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
        sims = xn @ xn.T
        ia, ib = np.triu_indices(len(ids), k=1)
        hit = sims[ia, ib] > guard
        return pd.DataFrame({"id_a": ids[ia[hit]], "id_b": ids[ib[hit]]})

    cand = members.groupBy("cluster").applyInPandas(
        _cell_pairs, "id_a long, id_b long"
    )
    # decimal-exact rescore of the (few) survivors via broadcast re-joins
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("vec_a"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vec_b"))
    near = (
        a.join(F.broadcast(cand), "id_a")
        .join(b, "id_b")
        .withColumn("cos", cosine_sql("vec_a", "vec_b"))
        .where(F.col("cos") > threshold)
    )
    dup_of = near.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )
