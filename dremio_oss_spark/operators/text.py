"""Text analysis operators for training-data pipelines.

All pure JVM-side expressions (no Python UDFs): token counting, language-ID
heuristic, quality scoring, document fingerprinting. Each is a narrow
DataFrame -> DataFrame transform usable inside any pipeline; the engine-level
query wrappers live in queries/llmops.py.

Scale: every operator is a row-local projection — no shuffle, fully
pipelined into the parquet scan, trivially parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..localframe import meta_df

# tiny per-language stopword sets for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (lowercased).  Trims first: split() emits
    EMPTY tokens for leading/trailing whitespace, which would inflate
    every token-count-derived metric (mean word length, stopword ratio,
    language score) for whitespace-padded docs."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("bigint")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (cross-engine stable)."""
    norm = F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")
    return F.md5(norm)


def _wta_exprs(c: str) -> list[str]:
    """with_text_analysis feature expressions as SQL strings — each is
    ONE parsed F.expr instead of a Column-API chain (every Column
    operator is a py4j round-trip; the old ~50-expression builder cost
    ~0.5 s PER CALL, re-paid by every consumer and every sf1 decade
    row).  Regex literals carry their final pattern with backslashes
    doubled for the SQL escape pass, and double literals are suffixed
    D so 0.4D etc. stay DoubleType."""
    tok = f"split(trim(lower({c})), '\\\\s+')"
    n = f"cast(size({tok}) as bigint)"

    def hits(lang: str) -> str:
        pat = "\\\\b(" + "|".join(LANG_MARKERS[lang]) + ")\\\\b"
        return (f"cast(size(regexp_extract_all(lower({c}), '{pat}', 0)) "
                "as bigint)")

    n_bpe = (f"cast(size(regexp_extract_all({c}, "
             "'[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]', 0)) as bigint)")
    pairs = ", ".join(
        f"struct({hits(lang)} / {n} as score, '{lang}' as lang)"
        for lang in LANG_MARKERS)
    best = f"(array_max(array({pairs})))"
    n_chars = f"cast(length({c}) as bigint)"
    mwl = f"round(({n_chars} - {n} + 1) / {n}, 6)"
    n_punct = (f"cast(size(regexp_extract_all({c}, '[^\\\\w\\\\s]', 0)) "
               "as bigint)")
    punct_ratio = f"round({n_punct} / {n_chars}, 6)"
    stop_ratio = f"round({hits('en')} / {n}, 6)"
    score = (f"round((case when {n} >= 10 and {n} <= 100000 "
             "then 0.4D else 0.0D end) + "
             f"(case when {mwl} >= 2 and {mwl} <= 12 "
             "then 0.3D else 0.0D end) + "
             f"(case when {punct_ratio} < 0.2D then 0.1D else 0.0D end) + "
             f"(case when {stop_ratio} > 0.05D then 0.2D else 0.0D end), 6)")
    fp = f"md5(regexp_replace(trim(lower({c})), '\\\\s+', ' '))"
    return [
        f"{n} as n_tokens",
        f"{n_bpe} as n_bpe_tokens",
        *[f"round({hits(lang)} / {n}, 6) as score_{lang}"
          for lang in LANG_MARKERS],
        (f"case when {best}.score > 0 then {best}.lang "
         "else 'und' end as lang_pred"),
        f"{n_chars} as n_chars2",
        f"{n} as n_words",
        f"{mwl} as mean_word_len",
        f"{punct_ratio} as punct_ratio",
        f"{stop_ratio} as stopword_ratio",
        f"{score} as quality_score",
        f"{fp} as fp",
    ]


def with_text_analysis(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach all text-analysis columns to a documents DataFrame."""
    return df.selectExpr("*", *_wta_exprs(f"`{text_col}`"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    cap: int = 2048,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): the
    rolling-hash document fingerprint used by MOSS-style plagiarism and
    near-dup detection.  Hash every char k-gram of the normalized text,
    slide a window of w consecutive k-gram hashes, keep each window's
    minimum — the selected set is a position-robust fingerprint with a
    guaranteed match on any shared substring of length >= k + w - 1.

    Spark-first: explode positions (bounded by `cap` chars per doc, so the
    blowup is a constant factor, not O(doc size)), hash inside codegen via
    the md5-derived `h64` arithmetic shared with the DuckDB oracle, take
    the window min per doc ordered by position (one shuffle on the doc
    id), and aggregate the distinct-fingerprint summary per doc.  At 100
    TB this is embarrassingly parallel: all work after the explode is
    partition-local to the doc id, and docs >> executors.

    Returns one row per doc with >= 1 complete window:
    (id_col, n_fps, min_fp, max_fp).
    """
    from pyspark.sql import Window

    s = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""), 1, cap
    )
    t = (
        df.select(F.col(id_col), s.alias("s"))
        .withColumn("m", F.length("s") - F.lit(k) + 1)  # number of k-grams
        .where(F.col("m") >= w)  # need at least one complete window
    )
    pos = t.select(
        id_col, "s", "m",
        F.explode(F.sequence(F.lit(1), F.col("m"))).alias("p"),
    )
    h = pos.select(
        id_col, "m", "p",
        F.conv(
            F.substring(F.md5(F.expr(f"substr(s, p, {k})")), 1, 15), 16, 10
        ).cast("bigint").alias("h"),
    )
    win = Window.partitionBy(id_col).orderBy("p").rowsBetween(0, w - 1)
    fps = h.select(
        id_col, "p", "m", F.min("h").over(win).alias("fp")
    ).where(F.col("p") <= F.col("m") - F.lit(w) + 1)
    return fps.groupBy(id_col).agg(
        F.countDistinct("fp").cast("bigint").alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Gopher-style repetition quality filter (Rae et al. 2021 §A1.1):
    duplicate-word ratio, top-word fraction, and duplicate word-k-gram
    ratio per document, plus the keep/drop verdict.  Pretraining corpora
    drop docs dominated by repeated boilerplate; these three signals are
    the standard cheap detectors.

    Plan: tokenize once, explode words and k-grams, two (doc, term)
    count-aggregations folded back to per-doc stats — every shuffle is on
    the doc id (or (doc, term), strictly finer), so the pipeline is
    partition-local per document and scales with corpus size, not
    vocabulary.  The token array is materialized before the transform
    lambda (interpreted-HOF trap, see shingle_table).
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = (
        df.repartition(n_part, id_col)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    )
    wc = (
        base.select(id_col, F.explode("_toks").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    word_stats = wc.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        F.max("c").cast("bigint").alias("top_word_count"),
    )
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri_stats = (
        base.select(id_col, F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_kgrams"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_kgrams"),
        )
    )
    dup_word = F.round(1 - F.col("n_distinct_words") / F.col("n_words"), 6)
    top_frac = F.round(F.col("top_word_count") / F.col("n_words"), 6)
    dup_gram = F.round(
        F.coalesce(1 - F.col("n_distinct_kgrams") / F.col("n_kgrams"), F.lit(0.0)), 6
    )
    return word_stats.join(tri_stats, id_col, "left").select(
        id_col,
        "n_words",
        dup_word.alias("dup_word_ratio"),
        top_frac.alias("top_word_frac"),
        dup_gram.alias("dup_kgram_ratio"),
        (
            # all three Gopher-style repetition signals gate the verdict
            # (a review finding: dup_word_ratio was computed but ignored)
            (dup_word <= 0.7) & (top_frac <= 0.2) & (dup_gram <= 0.5)
        ).alias("keep"),
    )


# PII patterns — RE2/Java-regex common subset (no lookarounds/backrefs) so
# Spark and the DuckDB oracle match byte-for-byte.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"[0-9]{3}-[0-9]{4}-[0-9]{4}"
PII_IPV4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def pii_redact(col: Column) -> list[Column]:
    """Count and redact emails / phone numbers / IPv4s.  Pure JVM regex
    column expressions (no UDFs): counting via regexp_count, redaction by
    chained regexp_replace with disjoint placeholder tokens.  Email is
    replaced first so its dotted domain can't be half-claimed by the IP
    pattern.  Counts are DETECTIONS ON THE RAW TEXT (each pattern counted
    independently); redaction is sequential, so a phone/IP-shaped
    substring INSIDE an email counts once under both patterns but is
    redacted once as <EMAIL> — the counts answer "what did we find",
    not "how many placeholders are in the output"."""
    red = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    return [
        F.regexp_count(col, F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(col, F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count(col, F.lit(PII_IPV4)).cast("bigint").alias("n_ips"),
        F.length(red).cast("bigint").alias("redacted_len"),
        F.md5(red).alias("redacted_fp"),
    ]


def boilerplate_stats(df, text_col: str = "text", id_col: str = "doc_id",
                      df_threshold: int = 25):
    """Cross-corpus BOILERPLATE detection: word 3-gram shingles whose
    document frequency exceeds `df_threshold` are boilerplate (repeated
    headers/footers/navigation in web corpora — the C4/RefinedWeb-style
    global line/most-common-ngram filter, expressed delimiter-free);
    returns per-doc shingle counts and the boilerplate ratio.

    Scale shape: ONE explode into the inverted shingle index, one
    groupBy for global document frequency, one equi-join back — the
    same banded-index economics as the dedup family, no all-pairs
    anywhere.  The boilerplate set join is unhinted (its size depends
    on corpus redundancy; AQE broadcasts it only while small)."""
    from .dedup import shingle_table

    sh = shingle_table(df, text_col, id_col)  # distinct 3-grams per doc
    boiler = (sh.groupBy("shingle")
              .agg(F.count(F.lit(1)).alias("doc_freq"))
              .where(F.col("doc_freq") > df_threshold)
              .select("shingle", F.lit(True).alias("is_boiler")))
    return (sh.join(boiler, "shingle", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.col("is_boiler").isNotNull().cast("bigint"))
                 .alias("n_boiler"))
            .withColumn("boilerplate_ratio",
                        F.round(F.col("n_boiler") / F.col("n_shingles"),
                                6)))


def quality_classifier(col: Column) -> list[Column]:
    """Hashed-unigram LINEAR quality classifier — the fasttext-style
    learned-filter shape (score = w·x over hashed token features) that
    curation pipelines run after the heuristic gates.  The "pretrained"
    weight table is deterministic: w(t) = md5-prefix of 'qw:'+t mapped
    to an INTEGER in [-1000, 1000], so the model is reproducible, the
    doc score is an exact integer sum (order-independent — float
    accumulation order never changes a verdict), and the whole forward
    pass replicates arithmetically in the SQL oracle.  A real deployment
    swaps the hash for a broadcast weight map; the plan shape (row-local
    F.aggregate over the token array, zero shuffles, zero Python) is
    identical.

    Returns [clf_sum (bigint), clf_mean (double, rounded), clf_keep]."""
    toks = tokens(col)
    w_sum = F.aggregate(
        toks, F.lit(0).cast("bigint"),
        lambda acc, t: acc + (
            F.conv(F.substring(
                F.md5(F.concat(F.lit("qw:"), t)), 1, 7), 16, 10)
            .cast("bigint") % 2001 - 1000))
    n = F.size(toks)
    mean = F.round(w_sum.cast("double") / (1000.0 * n), 6)
    return [w_sum.alias("clf_sum"),
            mean.alias("clf_mean"),
            (mean >= 0).alias("clf_keep")]


def bigram_lm_scores(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     alpha: float = 1.0) -> DataFrame:
    """Count-based bigram language-model scoring — the deterministic
    core of PERPLEXITY FILTERING (the CCNet-style curation step; a real
    deployment swaps the corpus counts for a pretrained KenLM table,
    the plan shape is identical): per token position,

        logp_i = ln((c(w_{i-1}, w_i) + alpha) / (c(w_{i-1}) + alpha·V))

    with add-alpha smoothing over the corpus vocabulary V; the doc
    score is the mean logp (higher = more typical text, the filter
    threshold's axis).

    Determinism across engines (the tfidf/bm25 discipline): every log
    computes once per position, quantizes to decimal(18,9), sums
    exactly (order-independent), and only the final mean rounds to 6.

    Scale: ONE explode for unigram counts, ONE for bigram counts (the
    inverted-index shape), two equi-joins back — no all-pairs, no
    driver state; counts tables are vocabulary-sized.

    Plan shape (r14 optimization, guide §5): the vocabulary size rides
    the plan as a broadcast one-row aggregate instead of a separate
    eager count() action, so the unigram explode is planned once (AQE
    stage reuse shares its shuffle with the count join) and the whole
    operator is ONE job — one fewer full corpus tokenize pass.  (A
    doc-distinct-bigram regrouping with multiplicity weights was also
    tried and REVERTED by measurement: on natural text per-doc bigram
    multiplicities are ~1, so the extra (doc,w1,w2) aggregation cost
    exactly what the narrower join saved — total flat, plan heavier.)"""
    toks = tokens(F.col(text_col))
    base = (df.select(id_col, toks.alias("__t"))
            .where(F.size("__t") >= 2))
    uni = (df.select(F.explode(tokens(F.col(text_col))).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("cu")))
    # corpus vocabulary size as a broadcast scalar column (not a
    # separate action): exact in double up to 2^53 distinct tokens,
    # so (cu + alpha·V) is bit-identical to the old literal form.
    # The always-true cu >= 0 consumes cu, which stops column pruning
    # from narrowing this branch's partial aggregate — both uni
    # branches then sit on byte-identical shuffle children and AQE
    # stage reuse runs the tokenize+explode+count pass ONCE
    vc = (uni.where(F.col("cu") >= 0)
          .agg(F.count(F.lit(1)).cast("bigint").alias("_v")))
    bi = base.select(
        id_col,
        F.expr("explode(transform(sequence(1, size(__t) - 1), "
               "i -> struct(__t[i-1] as w1, __t[i] as w2)))").alias("b")
    ).select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bi.join(bcnt, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vc))
        .select(
            id_col,
            F.log((F.col("cb") + F.lit(float(alpha)))
                  / (F.col("cu") + F.lit(float(alpha)) * F.col("_v")))
            .cast("decimal(18,9)").alias("lp")))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round((F.sum("lp") / F.count(F.lit(1)))
                         .cast("double"), 6).alias("mean_logp")))


def bpe_train(df: DataFrame, text_col: str = "text",
              n_merges: int = 20, min_pair_count: int = 2,
              driver_max_vocab: int = 100_000) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al., ACL 2016 —
    the byte-pair-encoding merge-table learner every GPT-style
    tokenizer prep runs over its corpus).

    Spark-first shape, the industrial two-phase layout:
    1. ONE corpus pass builds the WORD FREQUENCY table (lowercased
       whitespace words -> counts; a single shuffle over the 100 TB
       corpus).  Every later step runs on this table, whose size is the
       VOCABULARY (millions of rows at web scale), not the corpus.
    2. The merge loop is a driver-paced iteration over the cached word
       table: adjacent-symbol pairs explode row-locally (weighted by
       word count), the arg-max pair is one tiny agg, and the merge
       applies as a JVM-side F.aggregate fold (leftmost, non-
       overlapping — the reference algorithm's scan order) — no Python
       in any per-row path.

    Deterministic: ties break on (count desc, left asc, right asc).
    Returns the merge table (rank, left, right, merged, pair_count) —
    the artifact a tokenizer ships.

    Threshold switch (the dedup_clusters pattern): when the word table
    fits comfortably on the driver (<= `driver_max_vocab` rows), the
    merge loop runs as the sequential reference algorithm over the
    collected counts — per-merge Spark jobs on a KB-sized frame are
    pure scheduling overhead.  Above it, the distributed loop runs;
    both paths produce the identical merge sequence (pinned in tests).
    """
    sess = df.sparkSession
    words = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                    r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
        # symbols: characters + the end-of-word marker (Sennrich's </w>)
        .select(
            "cnt",
            F.concat(
                F.array_remove(F.split(F.col("w"), ""), ""),
                F.array(F.lit("</w>")),
            ).alias("syms"),
        )
    )
    merges: list[tuple] = []
    # the word table is VOCABULARY-sized; iterating it across the full
    # shuffle width pays task-scheduling overhead per merge — coalesce
    # to a handful of partitions (still distributed at web-scale
    # vocabularies, where callers raise shuffle.partitions anyway)
    cur = words.coalesce(8).persist()
    n_vocab = cur.count()  # materialize before the loop
    if n_vocab <= driver_max_vocab:
        rows = [(tuple(r["syms"]), int(r["cnt"])) for r in cur.collect()]
        cur.unpersist()
        vocab: dict[tuple, int] = {}
        for syms, c in rows:
            vocab[syms] = vocab.get(syms, 0) + c
        for rank in range(1, n_merges + 1):
            pairs: dict[tuple, int] = {}
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    k = (syms[i], syms[i + 1])
                    pairs[k] = pairs.get(k, 0) + c
            if not pairs:
                break
            (a, b), n = min(pairs.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            if n < min_pair_count:
                break
            merges.append((rank, a, b, a + b, n))
            nv: dict[tuple, int] = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                k2 = tuple(out)
                nv[k2] = nv.get(k2, 0) + c
            vocab = nv
        return meta_df(sess, 
            merges or [(0, "", "", "", 0)],
            "rank int, left string, right string, merged string, "
            "pair_count long").where("rank > 0" if not merges
                                     else "true")
    try:
        for rank in range(1, n_merges + 1):
            pairs = (
                cur.where(F.size("syms") >= 2)
                .select(
                    "cnt",
                    F.explode(F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) as l, "
                        "element_at(syms, i + 1) as r))")).alias("p"),
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("n"))
            )
            best = (pairs.orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
                    .first())
            if best is None or best["n"] < min_pair_count:
                break
            left, right, n = best["l"], best["r"], int(best["n"])
            merges.append((rank, left, right, left + right, n))
            # leftmost non-overlapping merge as a JVM fold: append each
            # symbol, collapsing it into the accumulator's tail when
            # (tail, symbol) == (left, right).  The pair rides in as
            # literal COLUMNS so the fold expression TEXT is identical
            # every iteration — Spark's codegen cache then compiles the
            # generated class once instead of once per merge (the cold
            # cost was ~1 s/iteration of Janino compilation)
            nxt = (
                cur.withColumn("__l", F.lit(left))
                .withColumn("__r", F.lit(right))
                .withColumn("__m", F.lit(left + right))
                .select(
                    "cnt",
                    F.expr(
                        "aggregate(syms, cast(array() as array<string>),"
                        " (acc, s) -> if(size(acc) > 0 "
                        "and element_at(acc, -1) = __l and s = __r, "
                        "concat(slice(acc, 1, size(acc) - 1), "
                        "array(__m)), concat(acc, array(s))))"
                    ).alias("syms"),
                ).persist()
            )
            nxt.count()
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return meta_df(sess, 
        merges or [(0, "", "", "", 0)],
        "rank int, left string, right string, merged string, "
        "pair_count long").where("rank > 0" if not merges else "true")
