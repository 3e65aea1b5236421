"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus a random-hyperplane
LSH-bucketed variant as the scale path.

Cross-engine determinism: dot products and norms accumulate as
DECIMAL(28,12) (exact, associative) so Spark and DuckDB produce identical
doubles; ranking ties break on neighbor id.

Scale design: the brute-force path is a broadcast join of the (small) query
set against the corpus — O(|Q|·N) with no shuffle of the corpus. The LSH
path buckets both sides by hyperplane-sign bits so candidate generation is
an equi-join on the bucket key; recall is tuned by n_planes/n_tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _h64

DEC = "decimal(28,12)"


# Array folds as single-parse SQL templates: a Column-API fold costs
# ~40-60 py4j round-trips per zip_with/aggregate pair at plan-build
# time.  `a`/`b` are SQL expression strings (usually column names).

def _dot_dec_sql(a: str, b: str) -> str:
    # the accumulator casts back each step: Spark widens decimal
    # addition to (29,12)
    return (
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST((CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS {DEC})), "
        f"CAST(0 AS {DEC}), (acc, x) -> CAST((acc + x) AS {DEC})) "
        f"AS DOUBLE)"
    )


def _norm_dec_sql(a: str) -> str:
    return (
        f"SQRT(CAST(aggregate(transform({a}, x -> "
        f"CAST((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS {DEC})), "
        f"CAST(0 AS {DEC}), (acc, x) -> CAST((acc + x) AS {DEC})) "
        f"AS DOUBLE))"
    )


def cosine_sql(a: str, b: str) -> Column:
    """Exact cosine over decimal-accumulated dot product and norms."""
    return F.expr(
        f"({_dot_dec_sql(a, b)}) / "
        f"(({_norm_dec_sql(a)}) * ({_norm_dec_sql(b)}))"
    )


def _dot_dbl_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        f"(acc, x) -> acc + x)"
    )


def cosine_dbl_sql(a: str, b: str) -> Column:
    """Fast double cosine, for paths with no cross-engine oracle."""
    return F.expr(
        f"({_dot_dbl_sql(a, b)}) / "
        f"SQRT(({_dot_dbl_sql(a, a)}) * ({_dot_dbl_sql(b, b)}))"
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus.

    Plan shape at scale: BroadcastNestedLoopJoin(queries) over a single
    full scan of the corpus — no corpus shuffle; the top-k is a per-query
    window over |Q|·N scored rows, pruned by AQE.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    # a single-file corpus arrives as one input split; the scoring pass is
    # the expensive stage, so fan it out to the session's shuffle width.
    # Project BEFORE the repartition and share ONE subtree between the
    # scoring pass and the rescore join: with identical exchange children
    # ReuseExchange collapses them to a single scan + a single shuffle
    # (projecting after gave each branch its own pushed-down projection —
    # two full-corpus scans AND two full-corpus exchanges), and the
    # mapInPandas below now ships only (id, vector) per row instead of
    # every corpus column (guide §4: pass only what the function needs).
    # the explicit not-null keeps both branches byte-identical: the
    # rescore join infers isnotnull(id) on its side, and an asymmetric
    # filter would block the runtime stage-reuse this shape exists for
    # (null-id corpus rows can never appear in the output either way —
    # the survivor join drops them)
    n_part = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = corpus.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    ).repartition(n_part)
    c = base
    # two-stage scoring: rank the full |Q|x|N| space with cheap double
    # math (codegen-friendly), then decimal-rescore only the top k+buffer
    # survivors so the emitted cos values are bit-stable vs the oracle.
    # The buffer absorbs any double-vs-decimal ordering jitter near the
    # cut (only matters for candidates within ~1e-12 of each other).
    buffer = 8
    # stage 1: all |Q| cosines per corpus row as ONE numpy matmul per
    # Arrow batch (Spark's array HOFs are interpreted — 64-step folds per
    # pair cost ~10x a vectorized batch).  The query set is tiny by this
    # API's contract (it broadcasts), so it ships as a plan-time constant
    # in the UDF closure.  Vectors are dropped before the rank shuffle.
    import numpy as np
    import pandas as pd

    q_rows = q.collect()
    # contract assert: the query set ships in the UDF closure, so it
    # must stay broadcast-sized — fail LOUDLY on misuse instead of
    # OOMing the driver; corpus-sized query sets belong on the ANN
    # paths (lsh_ann / ivf_ann below)
    _MAX_Q = 10_000
    if len(q_rows) > _MAX_Q:
        raise ValueError(
            f"brute_force_topk query set has {len(q_rows)} rows; the "
            f"closure-broadcast contract caps it at {_MAX_Q} — use "
            "lsh_ann/ivf_ann for corpus-scale query sets")
    qids = [r["qid"] for r in q_rows]
    qm = np.stack([np.asarray(r["qvec"], dtype=np.float64) for r in q_rows])
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)

    # batch-local top-(k+buffer) per query via argpartition, so only
    # ~batches x |Q| x (k+buffer) candidate rows reach the rank shuffle
    # (the global top-k is always contained in the union of batch-local
    # top-ks) — a 1M-row explode becomes a few-thousand-row exchange
    n_cand = k + buffer

    def _score_batches(it):
        for pdf in it:
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["nvec"]])
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
            sims = xn @ qn.T  # (rows, |Q|)
            nids = pdf["nid"].to_numpy()
            out_qid, out_nid, out_cos = [], [], []
            top = min(n_cand, len(nids))
            for j, qid in enumerate(qids):
                col = sims[:, j].copy()
                col[nids == qid] = -np.inf  # exclude self
                idx = np.argpartition(-col, top - 1)[:top]
                out_qid += [qid] * len(idx)
                out_nid += list(nids[idx])
                out_cos += list(col[idx])
            yield pd.DataFrame(
                {"qid": out_qid, "nid": out_nid, "cos_fast": out_cos}
            )

    pre = base.mapInPandas(
        _score_batches, "qid long, nid long, cos_fast double"
    ).where(F.col("qid") != F.col("nid"))
    # explicit self-exclusion: the -inf penalty alone leaks the query
    # row back into the top-k when a batch has fewer than k+buffer
    # other candidates (tiny corpora) — the oracle's `qid <> nid`
    wf = Window.partitionBy("qid").orderBy(F.desc("cos_fast"), F.asc("nid"))
    survivors = (
        pre.withColumn("rk0", F.row_number().over(wf))
        .where(F.col("rk0") <= k + buffer)
        .select("qid", "nid")
    )
    # rejoin vectors for the tiny survivor set (broadcast it — joining the
    # other way would shuffle the whole corpus), decimal-rescore
    rescored = (
        c.join(F.broadcast(survivors), "nid")
        .join(F.broadcast(q), "qid")
        .withColumn("cos", cosine_sql("qvec", "nvec"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        rescored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("qid", "nid", F.round("cos", 6).alias("cos"), F.col("rk").cast("bigint").alias("rk"))
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH (scale path)
def _plane_component(plane: int, i: int) -> Column:
    """Deterministic pseudo-random plane component in [-1000, 1000]."""
    return (_h64(F.lit(f"p{plane}:{i}"), 7) % 2001 - 1000).cast("double")


def _plane_mode() -> str:
    """`spark.dremio.ann.planes`: `md5` (default — every entry is an
    md5-derived integer the DuckDB oracle can replay arithmetically,
    which is what makes the ANN path VALUE-checkable, not just
    row-counted) or `gaussian` (the production path: one seeded
    `numpy` standard-normal draw — the textbook random-projection LSH
    plane family, zero hashing).  Either way the matrix is a ONE-TIME
    driver-side plan constant (dim x tables*planes floats shipped in
    the UDF closure); the per-row cost — the Arrow-batched matmul — is
    identical, so this switch trades oracle replayability for
    plane-quality, not CPU."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    try:
        mode = s.conf.get("spark.dremio.ann.planes", "md5") \
            if s is not None else "md5"
    except Exception:  # noqa: BLE001 — session mid-teardown
        mode = "md5"
    return (mode or "md5").lower()


def _plane_matrix(n_tables: int, n_planes: int, dim: int):
    """(dim x n_tables*n_planes) hyperplane matrix; md5 mode keeps
    entries identical to _plane_component (same derivation) so the
    oracle SQL agrees; gaussian mode is a deterministic seeded draw."""
    import hashlib

    import numpy as np

    if _plane_mode() == "gaussian":
        rng = np.random.default_rng(7)
        return rng.standard_normal((dim, n_tables * n_planes))
    m = np.empty((dim, n_tables * n_planes), dtype=np.float64)
    for p in range(n_tables * n_planes):
        for i in range(dim):
            h = int(hashlib.md5(f"7:p{p}:{i}".encode()).hexdigest()[:15], 16)
            m[i, p] = float(h % 2001 - 1000)
    return m


def _bucketed(df: DataFrame, id_alias: str, vec_alias: str, n_tables: int,
              n_planes: int, dim: int, id_col: str, vec_col: str) -> DataFrame:
    """One row per (vector, table) with that table's bucket id.

    All n_tables*n_planes hyperplane dots per vector are ONE numpy matmul
    inside an Arrow-batched pandas UDF (Spark's array higher-order
    functions are interpreted, so 16 folds x 64 lambda steps per row cost
    ~10x a vectorized batch).  The plane matrix is a plan-time constant
    shipped in the UDF closure.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    m = _plane_matrix(n_tables, n_planes, dim)

    def _buckets(vs):
        import numpy as np

        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (x @ m > 0).astype(np.int64)  # (n, tables*planes)
        weights = 2 ** np.arange(n_planes, dtype=np.int64)
        b = bits.reshape(len(vs), n_tables, n_planes) @ weights
        return pd.Series(list(b))

    buckets_udf = pandas_udf(_buckets, ArrayType(LongType()))
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        F.posexplode(buckets_udf(F.col(vec_col))).alias("tbl", "bkt"),
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into n_centroids cells,
    probe the n_probe nearest cells per query, exact-score inside them.

    The coarse quantizer is a deterministic sample (first n_centroids
    vectors by id — at production scale you'd k-means a sample; the
    search structure is identical).  Centroids are a plan-time constant
    (n_centroids x dim floats on the driver); assignment runs as one
    numpy matmul per Arrow batch; candidate generation is an equi-join
    on cell id — cost ≈ |Q| * n_probe * N / n_centroids.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cent_rows = (
        corpus.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    )
    c = np.stack([np.asarray(r[0], dtype=np.float64) for r in cent_rows])
    c_norm = c / np.linalg.norm(c, axis=1, keepdims=True)

    def _nearest(n: int):
        def _f(vs):
            x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            sims = xn @ c_norm.T  # (rows, n_centroids)
            top = np.argsort(-sims, axis=1)[:, :n].astype(np.int32)
            return pd.Series(list(top))

        return pandas_udf(_f, ArrayType(IntegerType()))

    assigned = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        F.element_at(_nearest(1)(F.col(vec_col)), 1).alias("cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        F.explode(_nearest(n_probe)(F.col(vec_col))).alias("cell"),
    )
    cands = (
        assigned.join(F.broadcast(probed), "cell")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "qvec", "nid", "nvec")
        .distinct()
    )
    return _exact_topk(cands, k)


def _exact_topk(cands: DataFrame, k: int, margin: int = 8) -> DataFrame:
    """Per-query top-k with deterministic cross-engine values: bulk-score
    every candidate with double math (codegen-cheap), preselect k+margin,
    then decimal-exact rescore + final rank of only those survivors.
    Double-vs-decimal rank drift is ~1e-13 — far inside the margin — so
    the final top-k equals an all-exact ranking, at double-math cost."""
    w0 = Window.partitionBy("qid").orderBy(F.desc("cos0"), F.asc("nid"))
    pre = (
        cands.withColumn("cos0", cosine_dbl_sql("qvec", "nvec"))
        .withColumn("rk0", F.row_number().over(w0))
        .where(F.col("rk0") <= k + margin)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        pre.withColumn("cos", cosine_sql("qvec", "nvec"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "qid", "nid", F.round("cos", 6).alias("cos"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 4, n_tables: int = 4, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN top-k: score only corpus vectors sharing an LSH bucket with the
    query in at least one hash table (OR-amplification for recall).

    Equi-join on (table, bucket) → shuffle-partitioned by a uniform key;
    each bucket holds ~N/2^n_planes vectors, so cost ≈ n_tables·N·|Q|/2^p
    instead of N·|Q|. Recall < 1.0 by construction (asserted against brute
    force in tests/test_llmops.py); tune n_tables up / n_planes down for
    more recall, the reverse for more pruning."""
    q = _bucketed(queries, "qid", "qvec", n_tables, n_planes, dim, id_col, vec_col)
    c = _bucketed(corpus, "nid", "nvec", n_tables, n_planes, dim, id_col, vec_col)
    cands = (
        c.join(F.broadcast(q), ["tbl", "bkt"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "qvec", "nid", "nvec")
        .distinct()
    )
    return _exact_topk(cands, k)
