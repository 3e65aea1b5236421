"""LLM-pipeline operators vs DuckDB oracle + LSH recall check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dremio_oss_spark.catalog import load
from dremio_oss_spark.operators import similarity as S
from dremio_oss_spark.queries import llmops

from .conftest import SF_SMALL
from .oracle import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_conn(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(llmops.LLMOPS_ORACLE))
def test_llmops_parity(spark, oracle, name):
    df = llmops.LLMOPS_QUERIES[name](spark, SF_SMALL)
    expected = oracle.execute(llmops.LLMOPS_ORACLE[name]).fetchdf()
    problems = compare(df, expected, ordered=False)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_lsh_ann_recall(spark):
    """LSH ANN must be a real approximation: non-empty, subset-scored
    correctly, and with reasonable recall vs brute force."""
    emb = load(spark, SF_SMALL, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r.qid, r.nid) for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {(r.qid, r.nid) for r in S.lsh_topk(emb, queries, k=5).collect()}
    assert approx, "LSH returned nothing"
    # every approx neighbor must at least be a valid non-self pair
    assert all(q != n for q, n in approx)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"implausibly low LSH recall: {recall}"


def test_ivf_ann_recall(spark):
    """IVF probe path returns valid top-k with reasonable recall."""
    from dremio_oss_spark.queries.llmops import llm_ivf_ann, llm_cosine_topk

    exact = {
        (r["qid"], r["nid"])
        for r in llm_cosine_topk(spark, SF_SMALL).collect()
    }
    approx = {(r["qid"], r["nid"]) for r in llm_ivf_ann(spark, SF_SMALL).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"implausibly low IVF recall: {recall}"


def test_ngram_jaccard_df_cap(spark):
    """The document-frequency cap must drop only hot-shingle candidates:
    with a cap above every df the output is identical to uncapped, and a
    stopword-heavy corpus yields strictly fewer candidate pairs capped."""
    from dremio_oss_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, f"the quick brown fox {i} jumps over dog {i}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    base = sorted(
        tuple(r) for r in ngram_jaccard_pairs(df, threshold=0.05).collect()
    )
    hi_cap = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(df, threshold=0.05, max_doc_freq=1000).collect()
    )
    assert base == hi_cap  # cap above every df: exact
    capped = ngram_jaccard_pairs(df, threshold=0.05, max_doc_freq=2).count()
    assert capped <= len(base)  # hot shingles ("the quick brown") pruned


def test_dedup_clusters_transitivity(spark):
    """Connected components over the pair graph: drifted copies collapse
    into ONE cluster with the min doc_id elected canonical; singletons
    keep their own id and size 1."""
    from dremio_oss_spark.operators.dedup import dedup_clusters, minhash_lsh_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    drift1 = base.replace("gamma", "mu", 2)
    drift2 = drift1.replace("kappa", "nu", 2)
    docs = spark.createDataFrame(
        [(1, base), (2, drift1), (3, drift2),
         (4, "totally different words entirely unrelated content here now"),
         (5, base)],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_dedup(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 5) in pairs
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
           for r in dedup_clusters(docs, threshold=0.5).collect()}
    assert got[1] == (1, 4, True)       # canonical of {1,2,3,5}
    assert got[2] == (1, 4, False)
    assert got[3] == (1, 4, False)      # reachable via 2
    assert got[5] == (1, 4, False)      # exact dup of 1
    assert got[4] == (4, 1, True)       # singleton


def test_dedup_clusters_driver_and_distributed_paths_agree(spark):
    """The threshold switch (driverMaxEdges) must be a pure execution
    choice: union-find on the collected pair list and the distributed
    label-propagation loop must produce identical clusters.  A 12-doc
    chain a0~a1~...~a5 (diameter 5) exercises multi-round convergence
    on the distributed side and transitivity on both."""
    from dremio_oss_spark.operators.dedup import dedup_clusters

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon " * 3).split()
    texts = [" ".join(base)]
    for i in range(5):  # each drifts a bit more: chain, not clique
        nxt = list(texts[-1].split())
        for j in range(i * 4, i * 4 + 4):
            nxt[j] = f"w{i}_{j}"
        texts.append(" ".join(nxt))
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(100 + i, f"unique content island {i} " * 10)
             for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        return sorted(
            (r["doc_id"], r["cluster_id"], r["cluster_size"],
             r["is_canonical"])
            for r in dedup_clusters(docs, threshold=0.3).collect())

    key = "spark.dremio.dedup.clusters.driverMaxEdges"
    via_driver = run()                       # default: driver union-find
    spark.conf.set(key, "0")                 # force distributed loop
    try:
        via_distributed = run()
    finally:
        spark.conf.unset(key)
    assert via_driver == via_distributed
    clusters = {c for _, c, s, _ in via_driver if s > 1}
    assert clusters == {0}, "chain must collapse into one cluster"


def test_bm25_and_split_properties(spark):
    """BM25: docs containing more query terms score higher; absent terms
    score 0. Split: hash-based assignment is stable under corpus growth."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.operators.ranking import bm25, top_terms

    docs = spark.createDataFrame(
        [(1, "hash table value hash join"), (2, "hash only once here yes"),
         (3, "nothing relevant at all friend")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25(
        docs, ["hash", "value", "table"]).collect()}
    assert got[1] > got[2] > got[3] == 0.0
    top = {r["doc_id"]: r["term"] for r in top_terms(docs, k=1).collect()}
    assert top[1] == "hash"  # tf=2 beats every tf=1 term

    # split stability: adding docs never moves an existing doc's split
    def splits(n):
        bucket = (
            F.conv(F.substring(F.md5(F.concat(F.lit("split:"),
                   F.col("id").cast("string"))), 1, 7), 16, 10)
            .cast("bigint") % 100
        )
        df = spark.range(n).select(
            "id",
            F.when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").alias("split"),
        )
        return {r["id"]: r["split"] for r in df.collect()}

    small, big = splits(200), splits(400)
    assert all(big[k] == v for k, v in small.items())
    frac = sum(1 for v in big.values() if v == "train") / 400
    assert 0.7 < frac < 0.9


def test_decontamination_flags_overlap(spark):
    """A training doc that shares a 5-gram with the eval set is flagged
    with exact shared-gram and eval-doc counts; disjoint docs are not."""
    from dremio_oss_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different words appear here entirely unrelated"),
         (3, "quick brown fox jumps over someone")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "a quick brown fox jumps over fences daily"),
         (101, "the quick brown fox jumps over the lazy dog indeed")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in decontaminate(train, ev, k=5).collect()}
    assert set(out) == {1, 3}
    assert out[1]["n_eval_docs"] == 2   # overlaps both eval docs
    assert out[3]["n_shared_kgrams"] == 1  # 'quick brown fox jumps over'


def test_kmeans_iterations_tighten_clusters(spark):
    """Lloyd's step must not increase total inertia: 2-iteration
    assignment distances sum <= 1-iteration (init-centroid) distances."""
    from dremio_oss_spark.operators.clustering import kmeans

    emb = load(spark, SF_SMALL, "embeddings")
    one = kmeans(emb, k=8, n_iters=1).agg(F.sum("dist")).first()[0]
    two = kmeans(emb, k=8, n_iters=2).agg(F.sum("dist")).first()[0]
    assert two <= one


def test_semdedup_drops_are_within_cluster_neardups(spark):
    """Every dropped vector must name a lower-id cluster-mate with exact
    cosine above the threshold; every keeper must have none."""
    from dremio_oss_spark.operators.clustering import semdedup
    from dremio_oss_spark.operators.similarity import cosine_sql

    emb = load(spark, SF_SMALL, "embeddings")
    # 0.3 (below the registered query's 0.5) so the small fixture yields
    # a non-empty drop set to validate against
    out = semdedup(emb, k=8, n_iters=2, threshold=0.3)
    dropped = out.where(~F.col("keep"))
    v = emb.select("vec_id", F.col("embedding").alias("vec"))
    checked = (
        dropped.join(v.withColumnRenamed("vec_id", "dup_of").withColumnRenamed("vec", "vec_a"), "dup_of")
        .join(v.withColumnRenamed("vec", "vec_b"), "vec_id")
        .withColumn("cos", cosine_sql("vec_a", "vec_b"))
    )
    rows = checked.collect()
    assert rows, "fixture should contain at least one semantic near-dup"
    assert all(r["cos"] > 0.3 and r["dup_of"] < r["vec_id"] for r in rows)


def test_sql_templates_match_numpy(spark):
    """The single-parse SQL array folds (exact and double cosine, exact
    squared-L2 distance) agree with numpy float64 on every (vector,
    vector) pair of the fixture against its first 20 vectors."""
    import numpy as np

    from dremio_oss_spark.operators.clustering import _dist_dec_sql
    from dremio_oss_spark.operators.similarity import (cosine_dbl_sql,
                                                       cosine_sql)

    emb = load(spark, SF_SMALL, "embeddings")
    a = emb.select("vec_id", F.col("embedding").alias("va"))
    b = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("vid_b"), F.col("embedding").alias("vb"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("cb"))
    rows = a.crossJoin(b).select(
        "va", "vb", cosine_sql("va", "vb").alias("c"),
        cosine_dbl_sql("va", "vb").alias("d"),
        _dist_dec_sql("va", "cb").alias("e")).collect()
    assert rows
    for r in rows:
        va = np.asarray(r.va, dtype=np.float64)
        vb = np.asarray(r.vb, dtype=np.float64)
        cos = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert r.c == pytest.approx(cos, rel=1e-9, abs=1e-9)
        assert r.d == pytest.approx(cos, rel=1e-9, abs=1e-9)
        assert r.e == pytest.approx(float(((va - vb) ** 2).sum()),
                                    rel=1e-9, abs=1e-9)


def test_weighted_mixture_deterministic_and_stable(spark):
    """Mixture resampling: copy counts are a pure function of (id,
    weight) — identical run-over-run, and a doc's fate is unchanged by
    OTHER rows entering the corpus (the stability property rand()
    sampling lacks).  Weight semantics: 0 drops, fractional keeps that
    share in expectation, >1 up-samples with integer copies."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.operators.mixing import weighted_mixture

    from .conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents")
    weights = {"src0": 2.5, "src1": 0.5, "src2": 0.0}
    m1 = weighted_mixture(docs, "source", "doc_id", weights)
    m2 = weighted_mixture(docs, "source", "doc_id", weights)
    r1 = sorted((r["doc_id"], r["copy_idx"]) for r in m1.collect())
    assert r1 == sorted((r["doc_id"], r["copy_idx"]) for r in m2.collect())

    by_src = {r["source"]: r["n"] for r in m1.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    n0 = docs.where("source = 'src0'").count()
    assert "src2" not in by_src                       # weight 0 drops
    assert by_src["src0"] >= 2 * n0                   # >=2 copies each
    assert 0 < by_src["src1"] < docs.where("source = 'src1'").count()

    # stability: restricting the corpus doesn't change survivors' fate
    sub = weighted_mixture(docs.where("doc_id < 100"), "source",
                           "doc_id", weights)
    keep = {d for d, _ in r1 if d < 100}
    assert {r["doc_id"] for r in sub.collect()} == keep


def test_pack_sequences_matches_serial_prefix_sum(spark):
    """The two-phase distributed prefix sum equals a serial cumsum, and
    the packing plan contains no un-partitioned window (the single-task
    scan trap)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.operators.mixing import pack_sequences
    from dremio_oss_spark.operators.text import token_count

    from .conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tok"))
    packed = pack_sequences(docs, "n_tok", "doc_id", context_len=256,
                            num_partitions=5)
    rows = {r["doc_id"]: (r["cum_before"], r["start_chunk"],
                          r["end_chunk"], r["offset_in_chunk"])
            for r in packed.collect()}
    cum = 0
    for r in sorted(docs.collect(), key=lambda x: x["doc_id"]):
        exp = (cum, cum // 256, (cum + r["n_tok"] - 1) // 256, cum % 256)
        assert rows[r["doc_id"]] == exp, (r["doc_id"], rows[r["doc_id"]], exp)
        cum += r["n_tok"]

    plan = packed._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[(.*?)\]", plan):
        assert "partitionBy" not in m.group(1) or "__pid" in plan
    assert "SinglePartition" not in plan


def test_boilerplate_stats_flags_global_repeats(spark):
    """Shingles repeated across > threshold docs count as boilerplate;
    unique content scores ratio 0."""
    from dremio_oss_spark.operators.text import boilerplate_stats

    boiler = "the quick brown fox jumps over the lazy dog"
    rows = [(i, boiler + f" unique tail {i} a b c") for i in range(10)]
    rows += [(100, "entirely novel content with no repeats at all x y z")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_boiler"], float(r["boilerplate_ratio"]))
           for r in boilerplate_stats(docs, df_threshold=5).collect()}
    # the 7 shingles fully inside the shared prefix repeat in 10 docs
    assert all(out[i][0] >= 7 for i in range(10))
    assert out[100] == (0, 0.0)


def test_stratified_sample_exact_k_and_widening_loop(spark):
    """stratified_sample returns EXACTLY the k smallest md5 ranks per
    stratum.  safety=0.01 forces the prefilter cutoff far below
    coverage, so the verified-coverage loop must widen (double) until
    the true top-k are all survivors — proving exactness is enforced by
    the assertion, not by luck of the initial cutoff.  A stratum
    smaller than k is kept whole."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.operators.mixing import stratified_sample

    rows = ([("en", i) for i in range(400)]
            + [("de", i) for i in range(400, 430)]
            + [("fr", 9999)])  # stratum smaller than k
    df = spark.createDataFrame(rows, "lang string, doc_id long")

    got = stratified_sample(df, ["lang"], "doc_id", k=5, safety=0.01)
    by_lang = {r["lang"]: r for r in
               got.groupBy("lang").agg(
                   F.count(F.lit(1)).alias("n"),
                   F.max("sample_rank").alias("mx")).collect()}
    assert by_lang["en"]["n"] == 5 and by_lang["en"]["mx"] == 5
    assert by_lang["de"]["n"] == 5
    assert by_lang["fr"]["n"] == 1 and by_lang["fr"]["mx"] == 1

    # exactness: the kept ids ARE the 5 smallest md5 ranks (reference
    # computed with a plain full-stratum window — the naive plan)
    from pyspark.sql import Window
    ref = (df.withColumn(
               "__h", F.md5(F.concat(F.lit("strat:"), F.col("lang"),
                                     F.lit(":"),
                                     F.col("doc_id").cast("string"))))
           .withColumn("r", F.row_number().over(
               Window.partitionBy("lang").orderBy("__h")))
           .where(F.col("r") <= 5))
    want = {(r["lang"], r["doc_id"]) for r in ref.collect()}
    have = {(r["lang"], r["doc_id"]) for r in got.collect()}
    assert have == want

    # determinism run-over-run
    again = stratified_sample(df, ["lang"], "doc_id", k=5, safety=0.01)
    assert {(r["lang"], r["doc_id"], r["sample_rank"])
            for r in again.collect()} == \
           {(r["lang"], r["doc_id"], r["sample_rank"])
            for r in got.collect()}

    # a NULL stratum samples like any other (the strata joins are
    # null-safe; a plain equi-join would starve it and widen forever)
    withnull = df.union(spark.createDataFrame(
        [(None, 50_000 + i) for i in range(20)],
        "lang string, doc_id long"))
    ns = stratified_sample(withnull, ["lang"], "doc_id", k=5)
    assert ns.where("lang is null").count() == 5


def test_temperature_mixture_flattens_strata(spark):
    """Temperature semantics: T=1 is natural sampling (every weight 1,
    corpus unchanged); T=0.5 upsamples rare strata and downsamples
    dominant ones while preserving the corpus total in expectation
    (sum of n_i * w_i = N by construction, up to the 1e-6 weight
    rounding); deterministic run-over-run."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.operators.mixing import temperature_mixture

    rows = ([("en", i) for i in range(900)]
            + [("yo", 10_000 + i) for i in range(9)])
    df = spark.createDataFrame(rows, "lang string, doc_id long")

    nat = temperature_mixture(df, "lang", "doc_id", temperature=1.0)
    assert nat.count() == 909
    assert nat.agg(F.min("mix_weight"), F.max("mix_weight")) \
        .collect()[0] == (1.0, 1.0)

    t5 = temperature_mixture(df, "lang", "doc_id", temperature=0.5)
    w = {r["lang"]: r["wt"] for r in
         t5.select("lang", F.col("mix_weight").alias("wt"))
         .distinct().collect()}
    assert w["yo"] > 1.0 > w["en"], w          # rare up, dominant down
    # expected total preserved: sum n_i * w_i == N (weight rounding
    # moves it by < strata * 1e-6 * n)
    assert abs(900 * w["en"] + 9 * w["yo"] - 909) < 0.01
    # realized counts near expectation: the fractional part is a
    # per-row hash-Bernoulli, so the realized sum deviates O(sqrt(n))
    # — allow 4 sigma
    import math

    got = {r["lang"]: r["n"] for r in
           t5.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in (("en", 900), ("yo", 9)):
        frac = w[lang] - math.floor(w[lang])
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(got[lang] - n * w[lang]) <= 4 * sigma + 1, (lang, got)
    # determinism
    again = temperature_mixture(df, "lang", "doc_id", temperature=0.5)
    assert sorted(r["doc_id"] for r in again.collect()) == \
           sorted(r["doc_id"] for r in t5.collect())

    # a NULL stratum is a real group, never silently dropped (the
    # weight attach is null-safe)
    withnull = df.union(spark.createDataFrame(
        [(None, 77_000 + i) for i in range(10)],
        "lang string, doc_id long"))
    mixed = temperature_mixture(withnull, "lang", "doc_id",
                                temperature=1.0)
    assert mixed.where("lang is null").count() == 10


def test_chunk_documents_window_rule(spark):
    """Window contract: starts advance by stride; the LAST window is
    the first reaching the end; a short doc emits exactly one chunk;
    no window is fully contained in its predecessor."""
    from dremio_oss_spark.operators.mixing import chunk_documents

    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),   # n=10 > chunk
         (2, " ".join(f"u{i}" for i in range(4))),    # n=4 = chunk
         (3, "a b"),                                  # n=2 < chunk
         (4, " ".join(f"v{i}" for i in range(5)))],   # n=5: tail window
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=4, stride=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    # n=10: n_chunks = ceil(6/2)+1 = 4; every chunk full length
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2, 3]
    assert all(r["chunk_tokens"] == 4 for r in c1)
    # chunk 1 starts at token 2 (stride), overlaps 2 tokens with chunk 0
    assert c1[1]["chunk_text"].split(" ")[0] == "t2"
    # exact fit: one chunk
    assert [r["chunk_idx"] for r in by_doc[2]] == [0]
    # short doc: one short chunk
    assert by_doc[3][0]["chunk_tokens"] == 2
    assert by_doc[3][0]["chunk_text"] == "a b"
    # n=5: n_chunks = ceil(1/2)+1 = 2; the tail window is SHORT (3
    # tokens from start 2) but reaches the end
    c4 = sorted(by_doc[4], key=lambda r: r["chunk_idx"])
    assert [r["chunk_tokens"] for r in c4] == [4, 3]
    assert c4[1]["chunk_text"] == "v2 v3 v4"
    # stride > chunk refuses (gaps would drop tokens)
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, stride=5)


def test_global_shuffle_matches_serial_rank(spark):
    """The two-phase distributed rank equals a plain global row_number
    over the same md5 order, shards are full-sized except the last, and
    the permutation is deterministic per seed and changes with it."""
    from pyspark.sql import Window

    from dremio_oss_spark.operators.mixing import global_shuffle

    df = spark.range(0, 257).select(F.col("id").alias("doc_id"))
    out = global_shuffle(df, "doc_id", seed="7", shard_size=50,
                         num_partitions=5)
    serial = df.withColumn(
        "r", F.row_number().over(Window.orderBy(
            F.md5(F.concat(F.lit("shuf7:"),
                           F.col("doc_id").cast("string"))))) - 1)
    got = {r["doc_id"]: (r["shuffle_rank"], r["shard"])
           for r in out.collect()}
    for r in serial.collect():
        assert got[r["doc_id"]] == (r["r"], r["r"] // 50), r["doc_id"]
    # shard sizes: five full shards of 50, one remainder of 7
    sizes = sorted(n for _, n in
                   out.groupBy("shard").count().collect())
    assert sizes == [7, 50, 50, 50, 50, 50]
    # deterministic per seed; a different seed permutes differently
    again = global_shuffle(df, "doc_id", seed="7", shard_size=50,
                           num_partitions=3)
    assert {r["doc_id"]: r["shuffle_rank"] for r in again.collect()} \
        == {k: v[0] for k, v in got.items()}
    other = global_shuffle(df, "doc_id", seed="8", shard_size=50,
                           num_partitions=5)
    assert {r["doc_id"]: r["shuffle_rank"] for r in other.collect()} \
        != {k: v[0] for k, v in got.items()}


def test_quality_classifier_row_local_and_deterministic(spark):
    """The classifier forward pass is row-local (no shuffle, no Python
    in the plan) and deterministic; empty-ish docs still score."""
    from dremio_oss_spark.operators.text import quality_classifier

    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zzz qqq"), (3, "a")],
        "doc_id long, text string")
    out = df.select("doc_id", *quality_classifier(F.col("text")))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "classifier must not shuffle"
    assert "Python" not in plan and "ArrowEval" not in plan, \
        "classifier must stay JVM-side"
    rows = {r["doc_id"]: r for r in out.collect()}
    again = {r["doc_id"]: r for r in out.collect()}
    for k in rows:
        assert rows[k]["clf_sum"] == again[k]["clf_sum"]
        assert rows[k]["clf_keep"] == (rows[k]["clf_mean"] >= 0)
    # score bounds: |mean| <= 1 by construction
    assert all(abs(r["clf_mean"]) <= 1.0 for r in rows.values())


def test_bigram_lm_scores_reference(spark):
    """Bigram LM scores equal a hand-computed reference on a tiny
    corpus: smoothed in-corpus probabilities, per-doc means, and docs
    shorter than one bigram are excluded."""
    import math

    from dremio_oss_spark.operators.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "z"), (4, "c c")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert 3 not in out  # a single token has no bigram
    # corpus: tokens a*3 b*3 z*1 c*2 -> V=4
    # bigrams: (a,b)x3 (b,a)x1 (c,c)x1
    V = 4

    def lp(cb, cu):
        return round(math.log((cb + 1) / (cu + V)), 9)

    d1 = (lp(3, 3) + lp(1, 3) + lp(3, 3)) / 3  # a-b, b-a, a-b
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["mean_logp"] - round(d1, 6)) < 1e-9
    d4 = lp(1, 2)  # c-c over context c (cu=2)
    assert out[4]["n_bigrams"] == 1
    assert abs(out[4]["mean_logp"] - round(d4, 6)) < 1e-9


def test_span_dedup_first_occurrence_and_edges(spark):
    """Exact-substring dedup: a span repeated across docs keeps its
    first (doc, pos) occurrence; repeats WITHIN one doc count too;
    docs shorter than k pass through with zeros; overlapping duplicate
    spans count distinct positions once."""
    from dremio_oss_spark.operators.dedup import span_dedup

    boiler = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    rows = [
        (1, boiler + " alpha beta"),              # first occurrence
        (2, "intro words here " + boiler),        # cross-doc duplicate
        (3, boiler + " middle " + boiler),        # 2nd span is a dup of doc1's
        (4, "short doc"),                         # < k tokens
        (5, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),    # unique, no dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_dedup(df, k=8).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # doc 1 owns the first occurrences: nothing removed
    assert got[1]["n_dup_spans"] == 0 and got[1]["n_tokens_removed"] == 0
    # doc 2: the 9-token boilerplate yields 2 duplicate 8-gram spans
    # covering 9 distinct positions
    assert got[2]["n_dup_spans"] == 2
    assert got[2]["n_tokens_removed"] == 9
    # doc 3: its SECOND copy duplicates (the first copy in doc 1 wins
    # ... and doc 3's own first copy was itself a dup of doc 1's)
    assert got[3]["n_dup_spans"] >= 2
    assert got[3]["n_tokens_removed"] >= 9
    # short doc: zero spans, zero removed, token count still reported
    assert got[4]["n_tokens"] == 2 and got[4]["n_dup_spans"] == 0
    assert got[5]["n_dup_spans"] == 0


def test_bpe_train_matches_reference_algorithm(spark):
    """The distributed BPE trainer reproduces Sennrich et al.'s
    sequential reference algorithm EXACTLY (same merge sequence, same
    weighted pair counts, same tie-break) on a corpus with ties,
    overlaps (aaa), and multi-merge chains."""
    from collections import Counter

    from dremio_oss_spark.operators.text import bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
        "aaa aaa banana",
    ]

    # independent sequential reference (Sennrich alg. 1)
    def ref_bpe(texts, n_merges, min_count=2):
        words = Counter()
        for t in texts:
            for w in t.lower().split():
                words[w] += 1
        vocab = {tuple(w) + ("</w>",): c for w, c in words.items()}
        out = []
        for rank in range(1, n_merges + 1):
            pairs = Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    pairs[(syms[i], syms[i + 1])] += c
            if not pairs:
                break
            best = min(pairs.items(),
                       key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            (a, b), n = best
            if n < min_count:
                break
            out.append((rank, a, b, a + b, n))
            nv = {}
            for syms, c in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == a
                            and syms[i + 1] == b):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                key = tuple(merged)
                nv[key] = nv.get(key, 0) + c
            vocab = nv
        return out

    expected = ref_bpe(texts, 12)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [(r["rank"], r["left"], r["right"], r["merged"],
            r["pair_count"])
           for r in bpe_train(df, n_merges=12).orderBy("rank").collect()]
    assert got == expected
    # sanity on the shape the corpus implies: 'newest' (x6) drives the
    # earliest merges
    assert expected[0][4] >= 6


def test_bpe_train_distributed_path_matches_driver_path(spark):
    """Both sides of the vocab-size threshold switch produce the
    IDENTICAL merge sequence (driver_max_vocab=0 forces the
    distributed loop)."""
    from dremio_oss_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [("low low lower lowest newest newest news",),
         ("widest wide widen new newer newest",)], "text string")
    a = [tuple(r) for r in
         bpe_train(df, n_merges=8).orderBy("rank").collect()]
    b = [tuple(r) for r in
         bpe_train(df, n_merges=8, driver_max_vocab=0)
         .orderBy("rank").collect()]
    assert a == b and len(a) >= 4


def test_dedup_hash_mode_xxhash64(spark):
    """`spark.dremio.dedup.hash=xxhash64` — the production hash path
    (one JVM hash call per shingle instead of the md5 chain the DuckDB
    oracle replays): identical plan shape, md5 fully absent from the
    signature plan, and exact duplicates still collide into LSH
    candidate pairs (identical docs hash identically under ANY hash)."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_lsh_dedup,
        minhash_signatures,
        shingle_table,
    )
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents").limit(200)
    dup = docs.limit(5).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000))
    both = docs.unionByName(dup)
    spark.conf.set("spark.dremio.dedup.hash", "xxhash64")
    try:
        sig = minhash_signatures(shingle_table(both))
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" in plan and "md5" not in plan
        pairs = {(r["id_a"], r["id_b"])
                 for r in lsh_candidate_pairs(sig).collect()}
        for r in dup.select("doc_id").collect():
            orig = r["doc_id"] - 10_000_000
            assert (orig, r["doc_id"]) in pairs
        # the full pipeline verifies the exact-duplicate pairs at
        # jaccard 1.0 under the production hash
        out = minhash_lsh_dedup(both).collect()
        verified = {(r["id_a"], r["id_b"]): r for r in out}
        for r in dup.select("doc_id").collect():
            key = (r["doc_id"] - 10_000_000, r["doc_id"])
            assert key in verified
    finally:
        spark.conf.unset("spark.dremio.dedup.hash")


def test_simhash_hash_mode_xxhash64(spark):
    """The production hash switch now also covers simhash: under
    `spark.dremio.dedup.hash=xxhash64` the per-token hash is ONE JVM
    xxhash64 (md5 absent from the plan), the banded near-pair plan
    shape is unchanged (no cartesian), and exact duplicates still
    collide at hamming distance 0."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.operators.dedup import (simhash,
                                                  simhash_near_pairs)
    from tests.conftest import SF_SMALL

    docs = load(spark, SF_SMALL, "documents").limit(120)
    dup = docs.limit(4).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000))
    both = docs.unionByName(dup)
    spark.conf.set("spark.dremio.dedup.hash", "xxhash64")
    try:
        sh = simhash(both)
        plan = sh._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" in plan and "md5" not in plan
        # signatures stay in the 60-bit-positive domain (banding math)
        assert all(0 <= r["simhash"] < (1 << 60)
                   for r in sh.limit(50).collect())
        pairs_df = simhash_near_pairs(sh, max_hamming=2)
        pplan = pairs_df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in pplan
        assert "md5" not in pplan
        pairs = {(r["id_a"], r["id_b"]) for r in pairs_df.collect()}
        for r in dup.select("doc_id").collect():
            assert (r["doc_id"] - 10_000_000, r["doc_id"]) in pairs
        # deterministic across sessions (seeded, not RNG-per-run)
        again = {r["doc_id"]: r["simhash"] for r in
                 simhash(both).collect()}
        first = {r["doc_id"]: r["simhash"] for r in sh.collect()}
        assert again == first
    finally:
        spark.conf.unset("spark.dremio.dedup.hash")


def test_simhash_distinct_sig_space_conf_both_settings(spark):
    """`spark.dremio.dedup.simhash.distinctSigMaxSpace` picks the pair
    search: at the default a 16-bit signature space searches distinct
    signatures and expands them back to documents (a union of the
    cross-signature and same-signature arms); at 0 the banded join runs
    over documents directly.  Both return the same pairs."""
    from dremio_oss_spark.operators.dedup import (simhash,
                                                  simhash_near_pairs)

    sh = simhash(load(spark, SF_SMALL, "documents"))
    key = "spark.dremio.dedup.simhash.distinctSigMaxSpace"

    def run():
        df = simhash_near_pairs(sh, max_hamming=3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan, sorted(tuple(r) for r in df.collect())

    sig_plan, via_sigs = run()
    spark.conf.set(key, "0")
    try:
        doc_plan, via_docs = run()
    finally:
        spark.conf.unset(key)
    assert "Union" in sig_plan and "Union" not in doc_plan
    assert via_sigs and via_sigs == via_docs


def test_ann_plane_mode_gaussian(spark):
    """`spark.dremio.ann.planes=gaussian` — the production plane
    family (one seeded normal draw, no hashing; the md5 planes exist
    for DuckDB-replayable oracles): same matrix shape, deterministic,
    and LSH top-k recall vs exact brute force holds on the testdata
    embeddings."""
    import numpy as np

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.operators.similarity import (_plane_matrix,
                                                       brute_force_topk,
                                                       lsh_topk)
    from tests.conftest import SF_SMALL

    spark.conf.set("spark.dremio.ann.planes", "gaussian")
    try:
        m = _plane_matrix(4, 8, 16)
        assert m.shape == (16, 32)
        # seeded: identical across calls; normal-ish: mean ~0, sd ~1
        assert np.allclose(m, _plane_matrix(4, 8, 16))
        assert abs(float(m.mean())) < 0.2 and \
            0.7 < float(m.std()) < 1.3
        corpus = load(spark, SF_SMALL, "embeddings").limit(400)
        queries = corpus.limit(8)
        exact = brute_force_topk(corpus, queries, k=5)
        approx = lsh_topk(corpus, queries, k=5)
        # lsh_topk excludes the self-match; compare on non-self pairs
        e = {(r["qid"], r["nid"]) for r in exact.collect()
             if r["qid"] != r["nid"]}
        a = {(r["qid"], r["nid"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.4, recall
    finally:
        spark.conf.unset("spark.dremio.ann.planes")
