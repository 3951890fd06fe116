"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting — all native column expressions (whole-stage
codegen over the document/transcript fact tables; zero Python)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omop2obo_spark.functions.text import STOPWORDS, tokens

# tiny per-language function-word profiles for the n-gram/stopword heuristic
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "für", "auf"],
    "fr": ["le", "la", "les", "et", "des", "est", "pour", "dans", "une", "que"],
    "es": ["el", "la", "los", "de", "y", "es", "para", "con", "una", "por"],
}


def whitespace_token_count(col: Column) -> Column:
    """Plain whitespace token count."""
    return F.size(F.filter(F.split(col, r"\s+"), lambda x: x != ""))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-style proxy: count of word pieces + digits + punctuation runs
    (the GPT-2 pretokenizer regex family, simplified to RE2-safe classes)."""
    return F.size(
        F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"), 0)
    )


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality signals: length, token stats, punct/alpha/stopword
    ratios, plus a composite [0,1] quality score."""
    t = F.col(text_col)
    toks = tokens(t)
    # explicit NULL for NULL text rather than bare size(): under legacy
    # (non-ANSI) sessions size(NULL) is -1, which would silently poison
    # percentiles and slip past the coalesce(n_tok, 0) score guard
    n_tok = F.when(t.isNull(), F.lit(None).cast("int")).otherwise(F.size(toks))
    n_chars = F.length(t)
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS[:60]])
    n_stop = F.size(F.array_intersect(toks, stop_arr))
    mean_word = F.when(n_tok > 0, (F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)) / n_tok)).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(0.0)
    score = (
        # coalesce before least: least() skips NULL operands, so a NULL
        # text would otherwise collect the full 0.3 length credit
        F.least(F.coalesce(n_tok, F.lit(0)) / F.lit(50.0), F.lit(1.0)) * 0.3
        + alpha_ratio * 0.3
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.2
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.2
    )
    return docs.select(
        "*",
        n_chars.alias("q_chars"),
        n_tok.alias("q_tokens"),
        F.round(mean_word, 4).alias("q_mean_word_len"),
        F.round(alpha_ratio, 4).alias("q_alpha_ratio"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        F.round(stop_ratio, 4).alias("q_stopword_ratio"),
        F.round(score, 4).alias("q_score"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax over per-language function-word hit
    ratios; 'und' (undetermined) when nothing matches."""
    toks = tokens(F.col(text_col))
    scores = []
    for lang, words in LANG_PROFILES.items():
        arr = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.array_intersect(F.array_distinct(toks), arr))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return docs.withColumn(
        "lang_pred", F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set (robust to reordering/whitespace), plus a rolling polynomial
    hash (order-sensitive variant)."""
    toks = tokens(F.col(text_col))
    sorted_set = F.array_sort(F.array_distinct(toks))
    setprint = F.md5(F.array_join(sorted_set, " "))
    # modulus 2^31-1 keeps acc*1000003 + term < 2^52 — no bigint overflow
    # under ANSI arithmetic
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, x: F.pmod(
            acc * 1000003 + F.pmod(F.abs(F.xxhash64(x)), F.lit(2**31 - 1)),
            F.lit(2**31 - 1),
        ),
    )
    return docs.select(
        id_col, setprint.alias("set_fingerprint"), rolling.alias("rolling_fingerprint")
    )


# PII patterns — RE2-safe (no lookaround), so the same pattern runs in the
# Spark (Java regex) scan and the DuckDB (RE2) oracle. Order matters:
# emails before IPs (an email's domain may contain digits+dots), IPs
# before phones.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data hygiene: replace email/IP/phone/SSN spans with typed
    placeholder tokens and count each category. Pure regexp_replace /
    regexp_count chain — whole-stage codegen, no UDF, order-deterministic.
    """
    t = F.col(text_col)
    counts = []
    out = t
    for name, pat, token in PII_PATTERNS:
        # count on the PRE-replacement text of this stage so categories
        # don't see each other's placeholder tokens; NULL text counts 0
        # (size(NULL) is -1 under legacy sizeOfNull — NOT null, so a
        # coalesce wouldn't catch it — and would skew any downstream
        # sum/threshold over the counts)
        counts.append(
            F.when(t.isNull(), F.lit(0))
            .otherwise(F.size(F.regexp_extract_all(out, F.lit(pat), 0)))
            .alias(f"n_{name}")
        )
        out = F.regexp_replace(out, pat, token)
    return docs.select("*", *counts, out.alias("redacted"))


def top_k_vocabulary(
    docs: DataFrame, k: int = 100, text_col: str = "text", min_count: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: ``(token, n, df, rank)`` — total occurrence count
    and document frequency (distinct docs containing the token), top-k by
    (count desc, token asc). One explode + one groupBy — the standard
    map-side-combined aggregation; ``df`` is a distinct aggregate, which
    Catalyst plans as the two-phase expand (still one logical shuffle on
    the token key). The top-k itself is a bounded
    TakeOrdered (per-partition top-k merged on the driver, k rows), NOT a
    global row_number window — a full-vocabulary window would drag every
    distinct token into one partition at 100 TB. The rank window runs
    only over the k surviving rows."""
    toks = tokens(F.col(text_col))
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("token"))
    counted = (
        exploded.groupBy("token")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(id_col).alias("df"),
        )
        .filter(F.col("n") >= min_count)
    )
    from pyspark.sql.window import Window

    order = [F.desc("n"), F.asc("token")]
    w = Window.orderBy(*order)
    return counted.orderBy(*order).limit(k).withColumn("rank", F.row_number().over(w))


def compression_ratio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style compressibility signal: zlib-compressed size over raw
    UTF-8 size per document. Repetitive/boilerplate text compresses far
    below normal prose; near-1.0 ratios flag high-entropy noise — the
    standard band-pass companion to the n-gram repetition filters.

    Returns ``(id_col, raw_bytes, zlib_bytes, compress_ratio)``; empty or
    null text gets ratio 0.0. The one legitimately non-SQL kernel in the
    textstats family (no zlib in SQL): an Arrow-batched ``mapInPandas``
    pass — no shuffle, one scan, deterministic for a fixed zlib level.
    Pinned by pytest properties (repetitive ≪ prose < random) rather
    than a DuckDB oracle.
    """
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            # id keeps the input column's type (long fixture ids, string
            # conv_ids, ... all work) — a hard-coded LongType would break
            # Arrow conversion for any non-bigint key
            T.StructField(id_col, docs.schema[id_col].dataType),
            T.StructField("raw_bytes", T.LongType()),
            T.StructField("zlib_bytes", T.LongType()),
            T.StructField("compress_ratio", T.DoubleType()),
        ]
    )

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raws, comps, ratios = [], [], []
            for s in pdf[text_col]:
                data = (s or "").encode("utf-8")
                c = len(zlib.compress(data, 6)) if data else 0
                raws.append(len(data))
                comps.append(c)
                ratios.append(round(c / len(data), 6) if data else 0.0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_bytes": raws,
                    "zlib_bytes": comps,
                    "compress_ratio": ratios,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def hashed_embedding(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing document embeddings (the hashing-trick vectorizer,
    Weinberger et al. 2009): every token is hashed into one of ``dim``
    slots with a +/-1 sign from a second hash bit; the document vector is
    the signed count per slot — a deterministic, model-free
    ``array<double>`` that feeds the ANN / embedding-dedup family
    directly from text. Empty/null documents get the zero vector.

    Hashes are md5-prefix based (NOT xxhash64) so the same embedding is
    reproducible in any engine — the SQL oracle rebuilds it bit-exactly.

    Scale shape: explode → two map-side-combined aggregations keyed on
    (doc, slot) then doc; the dense array materializes via
    map_from_entries + a sequence transform — no UDF, no pivot, no
    per-dimension columns.
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    toks = tokens(F.col(text_col))
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("bigint")
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("token")), 9, 1), 16, 10).cast("int") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    slots = (
        docs.select(F.col(id_col), F.explode_outer(toks).alias("token"))
        .select(
            id_col,
            F.when(F.col("token").isNotNull(), F.pmod(h, F.lit(dim))).alias("slot"),
            F.when(F.col("token").isNotNull(), sign).alias("sgn"),
        )
        .groupBy(id_col, "slot")
        .agg(F.sum("sgn").alias("val"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("__m"), i.cast("bigint")), F.lit(0)
        ).cast("double"),
    )
    return (
        slots.groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.filter(
                    F.collect_list(F.struct(F.col("slot"), F.col("val"))),
                    lambda s: s["slot"].isNotNull(),
                )
            ).alias("__m")
        )
        .select(id_col, dense.alias("embedding"))
    )


def unigram_logprob_score(
    docs: DataFrame,
    vocab_k: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality signal: each document's mean unigram
    cross-entropy (nats) under the corpus's OWN top-``vocab_k`` unigram
    distribution; out-of-vocabulary tokens get the floor probability
    ``1/total``. Typical prose scores low, gibberish and boilerplate
    score in the tails — the standard band-pass quality filter when no
    external LM is available.

    Returns ``(id_col, n_tok, xent)``; empty documents score 0.0.
    Log-probs are rounded to 9dp before averaging and the mean to 6dp so
    the score is engine-portable (same rounding in the SQL oracle).

    Scale shape: token counting is one map-side-combined shuffle; the
    vocabulary is a bounded TakeOrdered (k rows — never a full-vocab
    collect or global window); scoring broadcasts the k-row (token,
    logp) dimension and aggregates once on the doc id. The corpus total
    is a single driver scalar.
    """
    import math

    toks = tokens(F.col(text_col))
    exploded = docs.select(F.col(id_col), F.explode_outer(toks).alias("token"))
    counted = (
        exploded.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = counted.agg(F.sum("n")).collect()[0][0] or 1
    vocab = (
        counted.orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_k)
        .select(
            "token",
            F.round(F.log(F.col("n") / F.lit(float(total))), 9).alias("logp"),
        )
    )
    oov_logp = round(math.log(1.0 / total), 9)
    scored = exploded.join(F.broadcast(vocab), on="token", how="left")
    return scored.groupBy(id_col).agg(
        F.count("token").cast("long").alias("n_tok"),
        F.round(
            F.coalesce(
                -F.avg(
                    F.when(
                        F.col("token").isNotNull(),
                        F.coalesce(F.col("logp"), F.lit(oov_logp)),
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("xent"),
    )


def hash_sample(
    docs: DataFrame, rate: float, key_col: str = "doc_id", salt: str = "s0"
) -> DataFrame:
    """Deterministic hash-based sampling: keep rows whose
    ``md5(salt|key)`` prefix falls below ``rate`` of the 32-bit space.

    Unlike ``DataFrame.sample``, the decision is a pure function of the
    key — reproducible across runs, partitionings, and engines (the
    oracle replays the same md5 prefix in SQL), and stable under
    checkpoint/resume: re-running a 100-TB extract samples the same rows.
    Stratify by running once per stratum or salting with the stratum key.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("bigint")
    return docs.filter(bucket < F.lit(int(rate * 2**32)))


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "s0",
    default_rate: float = 1.0,
) -> DataFrame:
    """Domain-mix resampling: per-stratum sampling/repetition rates — the
    op that turns a raw crawl into a training mix ("0.3 epochs of web,
    2.5 epochs of books"). A rate ``r`` emits ``floor(r)`` copies of
    every row plus one extra copy for the deterministic ``frac(r)``
    fraction of keys (same md5-prefix bucket as :func:`hash_sample`), so
    0.25 downsamples, 1.0 passes through, 2.5 upsamples. Returns the
    input columns plus ``copy_idx`` (1..n); rows with zero copies drop.

    Deterministic in the key — reproducible across runs, partitionings
    and engines, stable under checkpoint/resume. Scale shape: the rates
    map is driver-side config compiled into a CASE chain; pure native
    expressions (no join, no shuffle, whole-stage codegen) and the
    explode emits at most ``ceil(r)`` rows per input row.
    """
    bad = {k: v for k, v in rates.items() if v < 0}
    if bad:
        raise ValueError(f"rates must be >= 0, got {bad}")
    if default_rate < 0:
        raise ValueError(f"default_rate must be >= 0, got {default_rate}")
    rate = F.lit(float(default_rate))
    for k in sorted(rates):
        rate = F.when(F.col(strata_col) == k, F.lit(float(rates[k]))).otherwise(rate)
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("bigint")
    n = F.floor(rate).cast("long") + (
        bucket.cast("double") < (rate - F.floor(rate)) * F.lit(float(2**32))
    ).cast("long")
    return (
        docs.withColumn("__n_copies", n)
        .filter(F.col("__n_copies") > 0)
        .select(
            *docs.columns,
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("__n_copies"))).alias("copy_idx"),
        )
    )


def _ares_key(key_col: str, weight_col: str, salt: str) -> Column:
    """Efraimidis–Spirakis A-Res selection key as one deterministic native
    expression: ``round(-ln(u)/w, 9)`` with ``u`` the md5-uniform of
    (salt, key) — ``(bucket + 0.5) / 2^32`` over the first 8 hex digits.

    Shared by :func:`weighted_sample` and :func:`weighted_sample_per_group`
    — the two MUST stay bit-identical (their DuckDB oracles replay this
    exact arithmetic in SQL), so the expression lives in one place. The
    9-decimal rounding keeps the selection boundary engine-stable
    (ln/div differ by ≤1 ulp across libms).
    """
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("bigint")
    u = (bucket.cast("double") + 0.5) / F.lit(float(2**32))
    return F.round(-F.log(u) / F.col(weight_col).cast("double"), 9)


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    salt: str = "w0",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-Res): each row gets the key ``-ln(u)/w`` for a
    deterministic md5-uniform ``u`` of (salt, key); the global ``k``
    smallest keys are the sample. Inclusion probability is proportional
    to weight, yet — unlike ``sampleBy``/rand() — the result is a pure
    function of (salt, keys, weights): reproducible across runs,
    partitionings, and engines, and stable under checkpoint/resume.

    Rows with NULL or non-positive weight are excluded (a zero weight
    can never win; the reference semantics of "weight" admit no
    negatives). Scale shape: the key is a native expression at the scan;
    global top-k compiles to TakeOrderedAndProject (per-partition heaps +
    a k-row driver merge), never a full sort shuffle. ``es_key`` is
    rounded to 9 decimals with a ``key_col`` tie-break so the selection
    boundary is engine-stable (ln/div differ by ≤1 ulp across libms).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    return (
        docs.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("es_key", _ares_key(key_col, weight_col, salt))
        .orderBy("es_key", key_col)
        .limit(k)
    )


def token_budget_mixture(
    docs: DataFrame,
    budgets: dict[str, int],
    token_col: str = "n_tokens",
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix0",
    n_buckets: int = 256,
) -> DataFrame:
    """Token-budget domain mixture: per source, keep a deterministic
    hash-ordered prefix of documents until that source's token budget is
    covered — the budget-driven dual of :func:`stratified_sample`'s
    rate-driven mix ("300B tokens of web, 50B of code"), the op that
    compiles a mixture spec into an actual training corpus.

    A doc is kept iff the cumulative tokens BEFORE it (< in md5 order)
    are under the budget, so the straddling doc is included and every
    listed source covers ≥ its budget when enough data exists. Sources
    absent from ``budgets`` are dropped (the mixture is explicit).

    Scale shape — the naive spelling is one window per source ordered by
    hash, which at 100 TB sorts an entire source inside single window
    partitions. Instead, a two-level distributed prefix sum:
      1. each doc lands in one of ``n_buckets`` md5-prefix RANGE buckets —
         monotone in the hash, so (bucket, hash) order IS global hash
         order, and uniform because the hash is (unlike range-bucketing a
         raw key, no skew risk);
      2. per-(source, bucket) token totals aggregate map-side into a
         ``n_sources x n_buckets`` dim, whose running offsets come from a
         window over that tiny dim;
      3. offsets broadcast-join back and the within-bucket cumsum runs in
         windows bounded to 1/``n_buckets`` of a source.
    Everything is a pure function of (salt, keys, tokens, budgets):
    partition- and engine-independent, checkpoint/resume-stable, and
    replayable by the SQL oracle.
    """
    bad = {s: b for s, b in budgets.items() if b < 0}
    if bad:
        raise ValueError(f"budgets must be >= 0, got {bad}")
    if not 1 <= n_buckets <= 256:
        raise ValueError(f"n_buckets must be in [1, 256], got {n_buckets}")
    from omop2obo_spark.operators.prefix import two_level_prefix

    h = F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string")))
    # range bucket on the first hash byte: floor(byte * n / 256) is
    # monotone in h, so the bucket order concatenates to global h order
    bucket = (F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint") * n_buckets) / F.lit(256)
    keyed = (
        docs.filter(F.col(source_col).isin(list(budgets)))
        .select(
            *docs.columns,
            h.alias("__h"),
            F.floor(bucket).alias("__b"),
            F.coalesce(F.col(token_col).cast("long"), F.lit(0)).alias("__t"),
        )
    )
    scanned = two_level_prefix(
        keyed,
        ["__h", key_col],
        "cum_tokens",
        weight_col="__t",
        group_cols=[source_col],
        inclusive=True,
    )
    budget_expr = F.lit(None).cast("long")
    for s in sorted(budgets):
        budget_expr = F.when(F.col(source_col) == s, F.lit(int(budgets[s])).cast("long")).otherwise(
            budget_expr
        )
    return (
        scanned.filter(F.col("cum_tokens") - F.col("__t") < budget_expr)
        .select(*docs.columns, "cum_tokens")
    )


def corpus_profile(docs: DataFrame, approx: bool = False, rsd: float = 0.05) -> DataFrame:
    """Per-source corpus profile: doc count, distinct-content count,
    whitespace-token percentiles (p50/p95), mean char length.

    ``approx=False`` (default) computes exact distinct counts and exact
    interpolated percentiles — the oracle-checkable twin.  ``approx=True``
    switches to ``approx_count_distinct`` (HyperLogLog++, ``rsd`` relative
    error) and ``percentile_approx`` — the 100-TB path: one pass, bounded
    sketch memory per group, no per-group sort.  The unit test bounds the
    approx twin's error against the exact one.
    """
    from omop2obo_spark.operators.dedup import normalized_text

    t = F.col("text")
    content = F.md5(normalized_text(t))
    n_tok = whitespace_token_count(t)
    base = docs.select("source", content.alias("content_key"), n_tok.alias("n_tok"), F.length(t).alias("n_chars"))
    if approx:
        distinct = F.approx_count_distinct("content_key", rsd)
        p50, p95 = F.percentile_approx("n_tok", 0.5), F.percentile_approx("n_tok", 0.95)
    else:
        distinct = F.countDistinct("content_key")
        p50, p95 = F.percentile("n_tok", F.lit(0.5)), F.percentile("n_tok", F.lit(0.95))
    return base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        distinct.alias("n_distinct"),
        F.round(p50.cast("double"), 6).alias("p50_tokens"),
        F.round(p95.cast("double"), 6).alias("p95_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ngram_n: int = 3,
    dup_ngram_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition quality signals, one row per document:

      * ``dup_line_frac``      — duplicated lines / total non-empty lines
        (occurrences beyond the first count as duplicated)
      * ``dup_line_char_frac`` — character mass of those duplicate line
        occurrences / character mass of all lines
      * ``top_ngram_frac``     — occurrences of the single most frequent
        ``top_ngram_n``-gram / all ``top_ngram_n``-gram occurrences
      * ``dup_ngram_frac``     — occurrences of ``dup_ngram_n``-grams that
        appear more than once / all ``dup_ngram_n``-gram occurrences

    The standard repetition filters of LLM corpus curation (Rae et al.
    2021 "Scaling Language Models" §A1.1); thresholds are the caller's
    policy. A family with no units (no lines / text shorter than n
    tokens) scores 0.0.

    Physical plan: lines and both gram streams are tagged and UNIONed
    into ONE (doc, kind, value) stream, so the whole operator is a single
    shuffle chain — partial-aggregated groupBy(doc, kind, value) counts,
    then a conditional-aggregation groupBy(doc). No joins, no UDFs; at
    100 TB the only wide exchange is keyed on (doc_id, kind, value),
    which is maximally fine-grained and skew-free.
    """
    t = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "),
        lambda x: x != "",
    )

    def grams(n: int) -> Column:
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - n + 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " "))

    lines = F.filter(
        # one-arg lambda on purpose: F.trim has an optional 2nd param, so
        # passing it bare would make transform call trim(x, idx) and strip
        # the index digits off every line
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )

    def stream(kind: str, arr: Column) -> DataFrame:
        return docs.select(
            F.col(id_col), F.lit(kind).alias("kind"), F.explode(arr).alias("value")
        )

    # the 'doc' sentinel keeps empty/whitespace-only documents in the
    # output (all fractions 0.0) without a join back to the corpus
    sentinel = docs.select(
        F.col(id_col), F.lit("doc").alias("kind"), F.lit("").alias("value")
    )
    unioned = (
        sentinel.unionByName(stream("line", lines))
        .unionByName(stream("topg", grams(top_ngram_n)))
        .unionByName(stream("dupg", grams(dup_ngram_n)))
    )
    counts = unioned.groupBy(id_col, "kind", "value").agg(F.count("*").alias("c"))

    def frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, num / den).otherwise(F.lit(0.0)).cast("double")

    line_c = F.when(F.col("kind") == "line", F.col("c"))
    chars = F.length("value")
    agg = counts.groupBy(id_col).agg(
        F.coalesce(F.sum(line_c), F.lit(0)).alias("__nl"),
        F.count(line_c).alias("__dl"),
        F.coalesce(F.sum(line_c * chars), F.lit(0)).alias("__tc"),
        F.coalesce(F.sum((line_c - 1) * chars), F.lit(0)).alias("__dc"),
        F.max(F.when(F.col("kind") == "topg", F.col("c"))).alias("__tgmax"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "topg", F.col("c"))), F.lit(0)
        ).alias("__tgn"),
        F.coalesce(
            F.sum(F.when((F.col("kind") == "dupg") & (F.col("c") > 1), F.col("c"))),
            F.lit(0),
        ).alias("__dgdup"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "dupg", F.col("c"))), F.lit(0)
        ).alias("__dgn"),
    )
    return agg.select(
        id_col,
        frac(F.col("__nl") - F.col("__dl"), F.col("__nl")).alias("dup_line_frac"),
        frac(F.col("__dc"), F.col("__tc")).alias("dup_line_char_frac"),
        frac(F.coalesce(F.col("__tgmax"), F.lit(0)), F.col("__tgn")).alias(
            "top_ngram_frac"
        ),
        frac(F.col("__dgdup"), F.col("__dgn")).alias("dup_ngram_frac"),
    )


def bpe_pair_counts(
    docs: DataFrame, k: int = 30, text_col: str = "text", min_token_chars: int = 2
) -> DataFrame:
    """Tokenizer-induction round zero: count adjacent character pairs
    inside whitespace words across the corpus and rank the top-k merge
    candidates — exactly the statistic the first BPE merge consumes
    (the highest-count pair becomes the first learned merge; repeated
    rounds alternate re-segmentation with this count).

    Returns ``(pair, n, rank)`` ordered by (count desc, pair asc).

    Words come from the same ASCII pretokenizer as
    :func:`top_k_vocabulary` (``tokens()``: lower + split on
    ``functions.text.WORD_SPLIT_PATTERN``) so the pair alphabet is
    engine-portable.

    Scale shape: the pair stream is generated with native HOFs
    (``sequence`` + ``transform`` + ``explode`` — no UDF, stays inside
    whole-stage codegen), partially aggregated map-side on the pair key
    (character-bigram cardinality is tiny, so the combine is near-total),
    and the top-k is a bounded TakeOrdered like
    :func:`top_k_vocabulary` — never a global sort of the corpus.
    """
    words = docs.select(F.explode(tokens(F.col(text_col))).alias("w")).filter(
        F.length("w") >= min_token_chars
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window

    order = [F.desc("n"), F.asc("pair")]
    w = Window.orderBy(*order)
    return counted.orderBy(*order).limit(k).withColumn("rank", F.row_number().over(w))


def hash_split(
    docs: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "split0",
) -> DataFrame:
    """Deterministic N-way train/val/test assignment: the md5 fraction of
    ``salt|key`` lands in one of the cumulative weight bands. The
    generalization of :func:`hash_sample` from keep/drop to labeled
    splits — reproducible across runs, partitionings, and engines, and
    leak-free by construction (a key's split never changes when the
    corpus grows, so yesterday's validation docs cannot drift into
    today's training set).

    ``weights`` must sum to 1 (1e-9 tolerance); returns the input plus a
    ``split`` column. Pure projection — no shuffle.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("bigint")
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < F.lit(int(acc * 2**32))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return docs.withColumn("split", expr)


def linear_quality_score(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    weight_salt: str = "w0",
    round_dp: int = 9,
) -> DataFrame:
    """Model-based quality scoring: a linear classifier over the
    feature-hashed document vector — ``sigmoid(w . x / n_tokens)`` with a
    deterministic md5-derived weight vector (stand-in for trained
    fasttext-style quality weights; swap ``weight_salt`` for a real
    weight table without touching the plan shape).

    Scale shape: :func:`hashed_embedding` provides the (doc, slot, count)
    aggregation; the dot product is a ``zip_with`` + ``aggregate`` over
    the dense array with the weight vector inlined as a literal array —
    the weights are model-side constants, broadcast implicitly in the
    plan, never joined.
    """
    import hashlib

    w = [
        ((int(hashlib.md5(f"{weight_salt}|{j}".encode()).hexdigest()[:8], 16) % 2001) - 1000)
        / 1000.0
        for j in range(dim)
    ]
    emb = hashed_embedding(docs, dim=dim, id_col=id_col, text_col=text_col)
    warr = F.array(*[F.lit(x) for x in w])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), warr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n_tok = F.greatest(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda acc, v: acc + F.abs(v)),
        F.lit(1.0),
    )
    z = dot / n_tok
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return emb.select(id_col, F.round(score, round_dp).alias("quality_score"))


DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("e", "n"), ("a", "t"), ("o", "r"),
)


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_token_chars: int = 2,
    checkpoint_every: int = 16,
) -> list[tuple[str, str, int]]:
    """LEARN a BPE merge table from the corpus (Sennrich-style word-level
    BPE) — the tokenizer-induction loop :func:`bpe_pair_counts` is round
    zero of and :func:`bpe_apply` consumes the artifact of.

    Returns ``[(left, right, pair_count), ...]`` in merge (rank) order;
    may be shorter than ``n_merges`` if the vocabulary runs out of
    repeated pairs.

    Scale shape — the whole training loop runs over the DISTINCT-WORD
    dimension, not the corpus: the fact table is touched exactly once to
    build (word, freq), which for natural text is bounded by vocabulary
    growth (~10^6-10^7 rows at 100 TB — Heaps' law), cached, and then
    each round is one explode+sum aggregate over that dim plus a 1-row
    driver argmax (count desc, pair asc — fully deterministic). Merges
    apply as native literal segment replaces (the same ``_``-boundary
    trick as :func:`bpe_apply`, so only complete segments merge); the
    replace chain grows one node per round and is truncated every
    ``checkpoint_every`` rounds with a localCheckpoint so plan depth and
    re-execution stay bounded. A production 30k-merge run would switch
    the per-round recount to incremental pair-delta updates (only words
    containing the merged pair change); at the ~10^2-merge scale this
    operator targets, the full recount per round is simpler and the
    vocab-dim cost is trivial next to the one corpus scan.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") >= min_token_chars)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            # trailing space kept: the merge pattern needs BOTH segment
            # boundaries (see bpe_apply's token-boundary note)
            F.regexp_replace(F.col("w"), "(.)", "_$1 ").alias("seg"),
            "freq",
        )
        .localCheckpoint()
    )
    merges: list[tuple[str, str, int]] = []
    for rnd in range(n_merges):
        arr = F.split(F.trim(F.col("seg")), " ")
        pair = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - 1),
                lambda i: F.concat(F.element_at(arr, i), F.lit(" "), F.element_at(arr, i + 1)),
            )
        ).alias("pair")
        top = (
            vocab.filter(F.size(arr) > 1)
            .select(pair, "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        left_seg, right_seg = top[0]["pair"].split(" ")
        merges.append((left_seg[1:], right_seg[1:], int(top[0]["n"])))
        vocab = vocab.withColumn(
            "seg",
            F.replace(
                F.col("seg"),
                F.lit(f"{left_seg} {right_seg} "),
                F.lit(f"_{left_seg[1:]}{right_seg[1:]} "),
            ),
        )
        if (rnd + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint()
    return merges


def bpe_apply(
    docs: DataFrame,
    merges: tuple[tuple[str, str], ...] = DEFAULT_BPE_MERGES,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a STATIC BPE merge table — the production tokenizer shape:
    the merge list is a frozen artifact (learned offline, e.g. seeded by
    :func:`bpe_pair_counts`), and encoding is a pure per-row transform.
    Each word is exploded to space-separated characters, then every
    merge (a, b) rewrites ``"a b"`` → ``"ab"`` in rank order via literal
    (non-regex) replace — single-pass, left-to-right, the same
    deterministic semantics in any engine.

    Returns per-doc token accounting: ``(doc_id, n_words, n_chars,
    n_tokens, ratio)`` where n_tokens counts post-merge segments and
    ratio = n_chars / n_tokens (compression the merge table bought).

    Token-boundary safety: each segment is prefixed with ``_`` (outside
    the ``[a-z0-9']`` token alphabet) and followed by a space — including
    the last one — so the literal pattern ``_a _b `` matches only where
    ``a`` AND ``b`` are COMPLETE current segments. The prefix alone is
    not enough: without the trailing space, ``_o _r`` also matches inside
    ``_o _re`` (a segment that merely STARTS with ``r``, e.g. after the
    earlier ``r e`` merge on "more") and silently glues three tokens into
    one. Real BPE merges adjacent tokens, never substrings or prefixes.

    Scale shape: zero joins, zero shuffles before the per-doc aggregate —
    the whole merge chain compiles into one WholeStageCodegen projection
    over the scan (merges are literals, not data), so encoding cost is
    scan-bound at any corpus size. A 50k-merge production table compiles
    the same way (chain depth = vocab size; for very large tables switch
    to a broadcast trie in mapInPandas — same contract).
    """
    w = F.explode(tokens(F.col(text_col))).alias("w")
    seg = F.regexp_replace(F.col("w"), "(.)", "_$1 ")  # trailing space kept
    for a, b in merges:
        seg = F.replace(seg, F.lit(f"_{a} _{b} "), F.lit(f"_{a}{b} "))
    per_word = docs.select(F.col(id_col), w).select(
        id_col,
        F.length("w").alias("__chars"),
        F.size(F.split(F.trim(seg), " ")).alias("__toks"),
    )
    return per_word.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum("__chars").alias("n_chars"),
        F.sum("__toks").alias("n_tokens"),
        F.round(F.sum("__chars") / F.sum("__toks"), 6).alias("ratio"),
    )


# Shared by the Spark expression chain and the DuckDB oracle: Java regex
# and RE2 both accept \x{...} classes, so one pattern string serves both.
ZERO_WIDTH_RE = "[\\x{00ad}\\x{200b}-\\x{200d}\\x{feff}]"
CONTROL_RE = "[\\x{0000}-\\x{0008}\\x{000b}\\x{000c}\\x{000e}-\\x{001f}\\x{007f}]"


def unicode_clean(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Web-corpus text normalization — the first stage of every crawl
    pipeline (mirrors CCNet/Gopher-style cleaners): NFC unicode
    normalization, zero-width/soft-hyphen strip, control-character strip
    (tab/newline/CR survive), CRLF→LF, horizontal-whitespace-run
    collapse, space-around-newline strip, 3+-newline collapse to a
    paragraph break, and edge trim — applied in that fixed order so the
    output is a pure function of the input text, replayable by the SQL
    oracle step for step (DuckDB ``nfc_normalize`` + the same RE2/Java
    dual-compatible patterns).

    Returns all input columns plus ``clean_text`` and ``changed``
    (null-safe: NULL text stays NULL and counts as unchanged).

    Scale shape: zero shuffle — one projection over the scan. NFC is the
    single non-SQL step (no Spark builtin): a vectorized Arrow
    ``pandas_udf`` over ``Series.str.normalize``; everything after it is
    native ``regexp_replace`` inside whole-stage codegen.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # explicit non-string annotations: the module-wide `from __future__
    # import annotations` would stringify hints, and pandas_udf cannot
    # resolve 'pd.Series' against a function-local import
    def _nfc_fn(s):
        return s.str.normalize("NFC")

    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = pandas_udf("string")(_nfc_fn)

    c = _nfc(F.col(text_col))
    c = F.regexp_replace(c, ZERO_WIDTH_RE, "")
    c = F.regexp_replace(c, CONTROL_RE, "")
    c = F.regexp_replace(c, "\r\n|\r", "\n")
    c = F.regexp_replace(c, "[ \t]+", " ")
    c = F.regexp_replace(c, " *\n *", "\n")
    c = F.regexp_replace(c, "\n{3,}", "\n\n")
    c = F.regexp_replace(c, "^[ \n]+|[ \n]+$", "")
    clean = F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(c)
    return docs.select(
        *docs.columns,
        clean.alias("clean_text"),
        (~clean.eqNullSafe(F.col(text_col))).alias("changed"),
    )


def bigram_logprob_score(
    docs: DataFrame,
    vocab_k: int = 10_000,
    bigram_k: int = 50_000,
    lam: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated-bigram LM quality signal — the next rung above
    :func:`unigram_logprob_score` on the CCNet ladder: each document's
    mean cross-entropy (nats) under ``lam * P(w|prev) + (1-lam) * P(w)``
    where both distributions are estimated from the corpus itself.
    ``P(w|prev)`` is the MLE over the top-``bigram_k`` bigram table
    (bigrams outside it score 0 there and fall back to the unigram term
    — the bounded-dimension contract, the bigram analogue of unigram
    OOV); ``P(w)`` is the top-``vocab_k`` unigram MLE with the
    ``1/total`` floor. Repetitive text scores near zero, shuffled-word
    salad scores high under the bigram term while staying mid-range
    under unigrams — which is exactly the signal the unigram filter
    cannot see.

    Returns ``(id_col, n_big, xent2)``; documents with <2 tokens score
    0.0 over 0 bigrams. Per-pair log-probs round to 9dp, the mean to
    6dp, and the interpolation is spelled ``lam*pb + (1-lam)*pu`` in
    both engines so the score is engine-portable.

    Scale shape: bigram pairs come from a zero-shuffle
    ``transform(slice)`` projection (no per-doc window); counting is two
    map-side-combined shuffles (bigram key, then context key); both
    model tables are bounded TakeOrdered dims (top-k bigrams + exact
    context totals semi-joined to those prevs) and broadcast; scoring
    joins are all map-side; one final per-doc aggregate. The corpus
    total is a single driver scalar, as in the unigram op.
    """
    import math

    if not 0.0 < lam < 1.0:
        raise ValueError(f"lam must be in (0, 1), got {lam}")
    toks = tokens(F.col(text_col))
    t = docs.select(F.col(id_col), toks.alias("__toks"))

    exploded = t.select(F.col(id_col), F.explode_outer("__toks").alias("token"))
    counted = (
        exploded.filter(F.col("token").isNotNull()).groupBy("token").agg(F.count("*").alias("n"))
    )
    total = counted.agg(F.sum("n")).collect()[0][0] or 1
    uni = (
        counted.orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_k)
        .select(F.col("token").alias("cur"), (F.col("n") / F.lit(float(total))).alias("pu"))
    )
    pu_oov = 1.0 / total

    pairs = (
        t.filter(F.size("__toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(__toks, 1, size(__toks) - 1),"
                    " (p, i) -> struct(p AS prev, __toks[i + 1] AS cur))"
                )
            ).alias("pr"),
        )
        .select(F.col(id_col), F.col("pr.prev").alias("prev"), F.col("pr.cur").alias("cur"))
    )
    big_counts = pairs.groupBy("prev", "cur").agg(F.count("*").alias("nb"))
    top_big = big_counts.orderBy(F.desc("nb"), "prev", "cur").limit(bigram_k)
    # exact context totals (pre-truncation), bounded to the prevs the
    # broadcast actually needs
    ctx = (
        big_counts.groupBy("prev")
        .agg(F.sum("nb").alias("nc"))
        .join(top_big.select("prev"), on="prev", how="left_semi")
    )
    pb = F.coalesce(F.col("nb") / F.col("nc"), F.lit(0.0))
    pu = F.coalesce(F.col("pu"), F.lit(pu_oov))
    lp = F.round(F.log(F.lit(lam) * pb + F.lit(1.0 - lam) * pu), 9)
    per_doc = (
        pairs.join(F.broadcast(top_big), on=["prev", "cur"], how="left")
        .join(F.broadcast(ctx), on="prev", how="left")
        .join(F.broadcast(uni), on="cur", how="left")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_big"), F.avg(lp).alias("__mean"))
    )
    return docs.select(id_col).join(per_doc, on=id_col, how="left").select(
        id_col,
        F.coalesce(F.col("n_big"), F.lit(0).cast("long")).alias("n_big"),
        F.round(F.coalesce(-F.col("__mean"), F.lit(0.0)), 6).alias("xent2"),
    )


def temperature_mixture(
    docs: DataFrame,
    total_budget: int,
    alpha: float = 0.5,
    token_col: str = "n_tokens",
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix0",
    n_buckets: int = 256,
) -> DataFrame:
    """Temperature-scaled domain mixture (the multilingual-LM sampling
    rule: source share ∝ size^alpha, alpha<1 upweights small domains):
    derive each source's token budget as ``floor(round(total_budget *
    size^alpha / Σ size^alpha, 6))`` from the corpus's OWN per-source
    token totals, then compile the selection with
    :func:`token_budget_mixture`'s deterministic hash-ordered prefix.

    The per-source totals are a dimension-bounded driver aggregate
    (#sources rows — the same bound as the lexicon collects). For
    ``alpha=0.5`` the weight is spelled ``sqrt`` (IEEE correctly-rounded
    in every engine, unlike ``pow``) so the budget arithmetic is
    engine-portable; the round-6 before floor absorbs summation-order
    ulp drift in the denominator. Empty/zero-token sources get no
    budget and are dropped, matching the explicit-mixture contract.
    """
    import math

    if total_budget <= 0:
        raise ValueError(f"total_budget must be positive, got {total_budget}")
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    totals = {
        r[source_col]: r["__t"]
        for r in docs.groupBy(source_col)
        .agg(F.sum(F.coalesce(F.col(token_col).cast("long"), F.lit(0))).alias("__t"))
        .collect()
        if r[source_col] is not None and (r["__t"] or 0) > 0
    }
    if not totals:
        raise ValueError("temperature_mixture: no source has a positive token total")
    w = {
        s: (math.sqrt(float(t)) if alpha == 0.5 else math.pow(float(t), alpha))
        for s, t in totals.items()
    }
    denom = sum(w[s] for s in sorted(w))
    budgets = {
        s: int(math.floor(round(total_budget * w[s] / denom, 6))) for s in sorted(w)
    }
    return token_budget_mixture(
        docs, budgets, token_col=token_col, source_col=source_col,
        key_col=key_col, salt=salt, n_buckets=n_buckets,
    )


def weighted_sample_per_group(
    docs: DataFrame,
    k: int,
    weight_col: str,
    group_cols: list[str],
    key_col: str = "doc_id",
    salt: str = "w0",
) -> DataFrame:
    """Per-group deterministic weighted sampling without replacement:
    :func:`weighted_sample`'s A-Res keys, but the k smallest are taken
    WITHIN each group (source, language, shard...) — the stratified dual
    of the global top-k, e.g. "500 docs per domain, length-weighted".

    Same determinism contract (pure function of (salt, keys, weights));
    the per-group top-k is a ``row_number`` window over the group key —
    one shuffle, bounded to k rows per group on output. Group keys are
    corpus-partition-grain (domains/languages), far coarser than doc
    ids; a single pathological group serializes in its window partition,
    the same boundary as every per-group operator here.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy("es_key", key_col)
    return (
        docs.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("es_key", _ares_key(key_col, weight_col, salt))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents for one term query.

    idf is the Robertson/Sparck-Jones form ln(1 + (N - df + 0.5) /
    (df + 0.5)); per-term score tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    Scale shape: the token stream is FILTERED to the query's terms before
    anything shuffles — only the postings the query touches move (a
    |terms|-element isin over the exploded scan, pushed into the same
    codegen stage); doc length rides along in the explode so no join back
    to a corpus-wide length table; N/avgdl is a 1-row broadcast dim and
    per-term df a <= |terms|-row broadcast dim; top-k is TakeOrdered.
    Scores round to 6dp and order by (rounded score desc, id asc) so the
    ranking is engine-portable.

    Output: ``(id_col, n_matched_terms, score, rank)``, rank 1..k.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    # coalesce BEFORE tokenizing: tokens(NULL) is a NULL array whose
    # F.size is -1 (legacy sizeOfNull), which would poison avgdl
    base = docs.select(
        F.col(id_col), tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks")
    )
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size("__toks")).alias("avgdl"),
    )
    tf = (
        base.select(
            id_col,
            F.size("__toks").cast("double").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl"))
    )
    df_dim = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    per_term = (
        tf.join(F.broadcast(df_dim), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("__s"),
        )
    )
    scored = per_term.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_matched_terms"),
        F.round(F.sum("__s"), 6).alias("score"),
    )
    from pyspark.sql.window import Window

    order = [F.desc("score"), F.asc(id_col)]
    w = Window.orderBy(*order)
    return (
        scored.orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def top_p_vocabulary(
    counts: DataFrame,
    group_col: str,
    token_col: str = "token",
    count_col: str = "n",
    p: float = 0.9,
) -> DataFrame:
    """Nucleus (top-p) truncation of a per-group token distribution:
    keep, per group, the smallest prefix of tokens — ordered by count
    descending, token ascending for determinism — whose cumulative
    probability mass reaches ``p``. The vocabulary-truncation /
    smoothing primitive for per-domain token statistics (the
    distribution analogue of a fixed top-k cut, but mass-adaptive:
    peaked groups keep few tokens, flat groups keep many).

    Inclusion rule pinned: a token is kept iff the mass BEFORE it is
    < p (so the token that crosses the threshold is included, and
    ties on count break by token order, not arbitrarily).

    Output: (group, token, n, share 6dp, cum_share 6dp, rank).
    One group-keyed window over the aggregated count table — the input
    is already one row per (group, token), dimension-scale next to the
    corpus it came from; the corpus-sized aggregation belongs to the
    caller (it is a plain groupBy.count).
    """
    if not 0 < p <= 1:
        raise ValueError(f"p must be in (0, 1], got {p}")
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(count_col).desc(), F.col(token_col).asc()
    )
    tot = Window.partitionBy(group_col)
    # two layers: windows cannot nest in one projection (either engine)
    with_share = counts.select(
        F.col(group_col),
        F.col(token_col),
        F.col(count_col),
        (F.col(count_col) / F.sum(count_col).over(tot)).alias("__share"),
    )
    ranked = with_share.select(
        group_col,
        token_col,
        count_col,
        "__share",
        F.sum("__share")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__cum"),
        F.row_number().over(w).alias("rank"),
    )
    return ranked.filter(F.col("__cum") - F.col("__share") < p).select(
        group_col,
        token_col,
        count_col,
        F.round("__share", 6).alias("share"),
        F.round("__cum", 6).alias("cum_share"),
        "rank",
    )


def doc_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the ``k`` terms that best
    characterize each doc against the corpus — topic tags for curation
    dashboards, index keys for sparse retrieval, dedup-cluster labels.

    Formula (pinned, sklearn's smooth idf): ``idf = ln((N+1)/(df+1)) + 1``
    with df = #docs containing the term; ``score = tf · idf`` rounded
    6dp; per-doc rank by (score desc, term asc) — engine-portable.

    Output: (id, term, tf, score, kw_rank), kw_rank 1..k.

    Scale shape: one (doc, term) aggregate for tf (map-side combined),
    one term-keyed aggregate for df (a vocabulary-scale dim — joined
    back on term; Spark/AQE broadcasts it when it fits, falls back to a
    shuffle join for web-scale vocabularies), then a window bounded by
    each doc's DISTINCT term count. No corpus-wide sort, no all-pairs.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("__df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("__n"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id", "term", "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("__n") + 1) / (F.col("__df") + 1)) + F.lit(1.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= k)
    )


def token_pmi(
    docs: DataFrame,
    window: int = 2,
    min_count: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Skip-gram token PMI: pointwise mutual information for unordered
    token pairs co-occurring within ``window`` positions in a document —
    the collocation / word-association signal an embedding pre-trainer
    or phrase miner consumes (the word-level sibling of
    ``hierarchy.entity_cooccurrence``'s conversation-level entity PMI).

    Distribution (pinned): pairs = all position pairs (i, j) with
    1 ≤ j−i ≤ window; ``p(a,b) = c_ab/T`` over unordered value pairs
    (tok_a ≤ tok_b); unigram ``p(x) = s_x/(2T)`` with s_x = x's slot
    count over both sides of every pair. ``pmi = ln(p(a,b)/(p(a)p(b)))``
    rounded 6dp.

    Output: (tok_a, tok_b, n_pairs, pmi), n_pairs ≥ min_count.

    Scale shape: pair generation is an EQUI-join on (doc, position) —
    the left side offsets each token to its ``window`` target slots, so
    there is no per-doc quadratic self-join and no skew (position keys
    are unique per doc). One (a, b) aggregate with map-side combine;
    slot marginals and the 1-row total broadcast back.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    pos = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("pos", "tok"),
    )
    # left occurrence targets positions pos+1 .. pos+window via explode
    left = pos.select(
        "doc",
        F.col("tok").alias("__tl"),
        F.explode(
            F.array(*[F.col("pos") + F.lit(d) for d in range(1, window + 1)])
        ).alias("pos"),
    )
    pairs = (
        left.join(pos, on=["doc", "pos"])
        .select(
            F.least(F.col("__tl"), F.col("tok")).alias("tok_a"),
            F.greatest(F.col("__tl"), F.col("tok")).alias("tok_b"),
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_pairs"))
    )
    total = pairs.agg(F.sum("n_pairs").alias("__t"))
    slots = (
        pairs.select(F.col("tok_a").alias("tok"), F.col("n_pairs").alias("__c"))
        .unionByName(
            pairs.select(F.col("tok_b").alias("tok"), F.col("n_pairs").alias("__c"))
        )
        .groupBy("tok")
        .agg(F.sum("__c").alias("__s"))
    )
    sa = slots.select(F.col("tok").alias("tok_a"), F.col("__s").alias("__sa"))
    sb = slots.select(F.col("tok").alias("tok_b"), F.col("__s").alias("__sb"))
    return (
        pairs.filter(F.col("n_pairs") >= int(min_count))
        .join(sa, on="tok_a")
        .join(sb, on="tok_b")
        .crossJoin(F.broadcast(total))
        .select(
            "tok_a", "tok_b", "n_pairs",
            F.round(
                F.log(
                    (F.col("n_pairs") * F.lit(4.0) * F.col("__t"))
                    / (F.col("__sa") * F.col("__sb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def trigram_logprob_score(
    docs: DataFrame,
    vocab_k: int = 10_000,
    bigram_k: int = 50_000,
    trigram_k: int = 100_000,
    lam3: float = 0.5,
    lam2: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated-trigram LM quality signal — the top rung of the
    unigram → bigram → trigram ladder: per-document mean cross-entropy
    under ``lam3·P(w|w₋₂w₋₁) + lam2·P(w|w₋₁) + (1−lam3−lam2)·P(w)``,
    all three distributions estimated from the corpus itself. The
    trigram term separates locally-coherent text from bigram salad
    (shuffled clauses that keep plausible word PAIRS) — the signal the
    bigram filter cannot see, exactly as bigram vs unigram.

    Model tables are bounded dims exactly as in
    :func:`bigram_logprob_score`: top-``trigram_k`` trigrams with exact
    (pre-truncation) ``(w₋₂, w₋₁)`` context totals semi-joined to the
    kept trigrams, top-``bigram_k`` bigrams with their context totals,
    top-``vocab_k`` unigrams with the ``1/total`` OOV floor. Outside-
    table trigrams/bigrams contribute 0 to their term and fall through
    the interpolation.

    Returns ``(id_col, n_tri, xent3)``; documents with <3 tokens score
    0.0 over 0 trigrams. Per-position log-probs round 9dp, the mean
    6dp — engine-portable.

    Scale shape: identical to the bigram op — zero-shuffle
    ``transform(slice)`` triple extraction, map-side-combined count
    shuffles, TakeOrdered model dims broadcast, one per-doc aggregate.
    """
    if not (0.0 < lam3 and 0.0 < lam2 and lam3 + lam2 < 1.0):
        raise ValueError(f"need lam3, lam2 > 0 and lam3 + lam2 < 1, got ({lam3}, {lam2})")
    lam1 = 1.0 - lam3 - lam2
    toks = tokens(F.col(text_col))
    t = docs.select(F.col(id_col), toks.alias("__toks"))

    exploded = t.select(F.col(id_col), F.explode_outer("__toks").alias("token"))
    counted = (
        exploded.filter(F.col("token").isNotNull()).groupBy("token").agg(F.count("*").alias("n"))
    )
    total = counted.agg(F.sum("n")).collect()[0][0] or 1
    uni = (
        counted.orderBy(F.desc("n"), F.asc("token"))
        .limit(vocab_k)
        .select(F.col("token").alias("cur"), (F.col("n") / F.lit(float(total))).alias("pu"))
    )
    pu_oov = 1.0 / total

    pairs = (
        t.filter(F.size("__toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(__toks, 1, size(__toks) - 1),"
                    " (p, i) -> struct(p AS prev, __toks[i + 1] AS cur))"
                )
            ).alias("pr"),
        )
        .select(F.col("pr.prev").alias("prev"), F.col("pr.cur").alias("cur"))
    )
    big_counts = pairs.groupBy("prev", "cur").agg(F.count("*").alias("nb"))
    top_big = big_counts.orderBy(F.desc("nb"), "prev", "cur").limit(bigram_k)
    ctx2 = (
        big_counts.groupBy("prev")
        .agg(F.sum("nb").alias("nc"))
        .join(top_big.select("prev"), on="prev", how="left_semi")
    )

    tris = (
        t.filter(F.size("__toks") >= 3)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(__toks, 1, size(__toks) - 2),"
                    " (p, i) -> struct(p AS p2, __toks[i + 1] AS p1, __toks[i + 2] AS cur))"
                )
            ).alias("tr"),
        )
        .select(
            F.col(id_col),
            F.col("tr.p2").alias("p2"),
            F.col("tr.p1").alias("p1"),
            F.col("tr.cur").alias("cur"),
        )
    )
    tri_counts = tris.groupBy("p2", "p1", "cur").agg(F.count("*").alias("nt"))
    top_tri = tri_counts.orderBy(F.desc("nt"), "p2", "p1", "cur").limit(trigram_k)
    ctx3 = (
        tri_counts.groupBy("p2", "p1")
        .agg(F.sum("nt").alias("nc3"))
        .join(top_tri.select("p2", "p1"), on=["p2", "p1"], how="left_semi")
    )

    pt = F.coalesce(F.col("nt") / F.col("nc3"), F.lit(0.0))
    pb = F.coalesce(F.col("nb") / F.col("nc"), F.lit(0.0))
    pu = F.coalesce(F.col("pu"), F.lit(pu_oov))
    lp = F.round(
        F.log(F.lit(lam3) * pt + F.lit(lam2) * pb + F.lit(lam1) * pu), 9
    )
    # rename model-dim keys before joining: the trigram stream already
    # carries p1/cur, and chained joins on same-named columns would be
    # ambiguous
    big_dim = top_big.select(
        F.col("prev").alias("__bp"), F.col("cur").alias("__bc"), "nb"
    )
    ctx2_dim = ctx2.select(F.col("prev").alias("__cp"), "nc")
    uni_dim = uni.select(F.col("cur").alias("__uc"), "pu")
    per_doc = (
        tris.join(F.broadcast(top_tri), on=["p2", "p1", "cur"], how="left")
        .join(F.broadcast(ctx3), on=["p2", "p1"], how="left")
        .join(
            F.broadcast(big_dim),
            on=(F.col("p1") == F.col("__bp")) & (F.col("cur") == F.col("__bc")),
            how="left",
        )
        .join(F.broadcast(ctx2_dim), on=F.col("p1") == F.col("__cp"), how="left")
        .join(F.broadcast(uni_dim), on=F.col("cur") == F.col("__uc"), how="left")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_tri"), F.avg(lp).alias("__mean"))
    )
    return docs.select(id_col).join(per_doc, on=id_col, how="left").select(
        id_col,
        F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
        F.round(F.coalesce(-F.col("__mean"), F.lit(0.0)), 6).alias("xent3"),
    )


def neyman_sample(
    docs: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int,
    key_col: str = "doc_id",
    salt: str = "ney0",
    n_buckets: int = 64,
) -> DataFrame:
    """Neyman-allocation stratified sampling: draw ``total_n`` rows with
    per-stratum sample sizes ``n_h ∝ N_h·σ_h`` — the variance-optimal
    allocation for estimating a mean from a stratified corpus (big or
    noisy strata get more budget; uniform and proportional allocation
    are both strictly worse). The capstone of the sampling family:
    ``hash_sample`` draws a fixed rate, ``stratified_sample`` takes
    caller-given rates, this DERIVES the rates from the corpus's own
    per-stratum dispersion.

    Pinned arithmetic: σ_h from the exact sum formula
    ``sqrt((Σx² − (Σx)²/N)/(N−1))`` (single-row strata get σ = 0);
    ``n_h = min(N_h, floor(round(total_n · N_h σ_h / Σ N_h σ_h, 6)))``
    — the round-6-then-floor absorbs summation-order ulps in the
    denominator exactly as ``temperature_mixture`` does. Selection is
    EXACT-size: each stratum keeps its first ``n_h`` rows in
    ``md5(salt|key)`` order via the two-level prefix scaffold (a
    binomial-rate filter would only hit n_h in expectation). NULL
    values count σ with their rows excluded; NULL strata form their
    own stratum.

    Output: the sampled rows as (key, stratum, alloc_n, stratum_n,
    pos). Deterministic and engine-replayable end to end.
    """
    if total_n < 1:
        raise ValueError(f"total_n must be >= 1, got {total_n}")
    v = F.col(value_col).cast("double")
    g = F.coalesce(F.col(stratum_col).cast("string"), F.lit("__null__"))
    base = docs.select(F.col(key_col).alias("key"), g.alias("grp"), v.alias("__x"))
    stats = base.groupBy("grp").agg(
        F.count("*").alias("N"),
        F.count("__x").alias("nv"),
        F.sum("__x").alias("s1"),
        F.sum(F.col("__x") * F.col("__x")).alias("s2"),
    ).select(
        "grp", "N",
        F.when(
            F.col("nv") >= 2,
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nv"))
                / (F.col("nv") - 1)
            ),
        ).otherwise(F.lit(0.0)).alias("sd"),
    )
    tot = stats.agg(F.sum(F.col("N") * F.col("sd")).alias("__den"))
    alloc = (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "grp",
            F.col("N").alias("stratum_n"),
            F.when(F.col("__den") > 0,
                   F.least(
                       F.col("N"),
                       F.floor(
                           F.round(
                               F.lit(float(total_n)) * F.col("N") * F.col("sd")
                               / F.col("__den"),
                               6,
                           )
                       ),
                   ))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("alloc_n"),
        )
    )
    from omop2obo_spark.operators.prefix import two_level_prefix

    h = F.md5(F.concat_ws("|", F.lit(salt), F.col("key").cast("string")))
    bucket = F.floor(
        (F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint") * n_buckets) / F.lit(256)
    )
    keyed = base.select("key", "grp", h.alias("__h"), bucket.alias("__b"))
    ranked = two_level_prefix(keyed, ["__h", "key"], "pos", group_cols=["grp"])
    return (
        ranked.join(F.broadcast(alloc), on="grp")
        .filter(F.col("pos") < F.col("alloc_n"))
        .select(
            "key",
            F.col("grp").alias("stratum"),
            "alloc_n",
            "stratum_n",
            F.col("pos").cast("long").alias("pos"),
        )
    )


# (python_name, java_class, re2_class) — Java and RE2 spell Unicode script
# classes differently ("IsLatin" vs "Latin"); values agree (probed in tests)
SCRIPT_CLASSES = [
    ("arabic", "IsArabic"),
    ("cyrillic", "IsCyrillic"),
    ("greek", "IsGreek"),
    ("han", "IsHan"),
    ("latin", "IsLatin"),
]


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-script profile: per-doc character counts for the major
    scripts plus the dominant script and its share — the multilingual
    routing signal upstream of language ID (script is cheap and
    unambiguous where function-word profiles need text; a Cyrillic doc
    never reaches the English quality gates). NULL/scriptless docs get
    dominant ``'und'`` and ratio 0.0.

    Ties break toward the alphabetically LAST script name (the struct
    array_max order; the oracle's CASE chain checks in reverse order to
    match). Pure regexp_replace/length projections — zero shuffle,
    whole-stage codegen.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.length(F.regexp_replace(t, rf"[^\p{{{jcls}}}]", "")).cast("long")
        for name, jcls in SCRIPT_CLASSES
    }
    total = sum(counts.values())
    structs = F.array(
        *[
            F.struct(counts[name].alias("n"), F.lit(name).alias("s"))
            for name, _ in SCRIPT_CLASSES
        ]
    )
    best = F.array_max(structs)
    return docs.select(
        "*",
        *[counts[name].alias(f"n_{name}") for name, _ in SCRIPT_CLASSES],
        total.alias("n_script_chars"),
        F.when(total == 0, F.lit("und")).otherwise(best["s"]).alias("dominant_script"),
        F.when(total == 0, F.lit(0.0))
        .otherwise(F.round(best["n"] / total, 6))
        .alias("script_ratio"),
    )


def lexical_richness(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Lexical-richness signals: per-doc type-token ratio and corpus-
    hapax ratio (fraction of the doc's tokens that occur exactly once
    in the WHOLE corpus) — generated/templated text shows low TTR and
    near-zero hapax share, OCR noise shows pathologically high hapax
    share; both complement the repetition and LM-xent gates.

    Output: (id, n_tokens, n_types, ttr, hapax_ratio) — ratios 6dp;
    empty/NULL docs get 0 tokens and 0.0 ratios.

    Scale shape: one (doc, token) aggregate, one token-keyed corpus
    frequency aggregate whose hapax subset joins back on the token key
    (broadcast when it fits — hapax vocab can be large at web scale, so
    NOT forced), one per-doc fold.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok"),
    )
    tf = toks.groupBy("id", "tok").agg(F.count("*").alias("__c"))
    corpus = tf.groupBy("tok").agg(F.sum("__c").alias("__cc"))
    hapax = corpus.filter(F.col("__cc") == 1).select("tok", F.lit(1).alias("__h"))
    per_doc = (
        tf.join(hapax, on="tok", how="left")
        .groupBy("id")
        .agg(
            F.sum("__c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.coalesce(F.col("__h"), F.lit(0)) * F.col("__c")).alias("__nh"),
        )
    )
    return docs.select(F.col(id_col).alias("id")).join(per_doc, on="id", how="left").select(
        "id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_types"), F.lit(0)).cast("long").alias("n_types"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_types") / F.col("n_tokens"), 6))
        .alias("ttr"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.round(F.col("__nh") / F.col("n_tokens"), 6))
        .alias("hapax_ratio"),
    )


def zipf_fit(
    docs: DataFrame, top_k: int = 1000, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Zipf rank-frequency fit over the top-``top_k`` vocabulary: OLS
    slope of ``ln(freq)`` against ``ln(rank)`` — organic language sits
    near slope −1; templated/generated corpora flatten (repetitive
    head) or steepen (tiny effective vocabulary). The token-law
    companion of ``hierarchy.degree_distribution``'s graph power law.

    Output: one row (k, slope, intercept) — exact OLS from integer-
    exact sums over the k-row dimension, rounded 6dp. Rank ties break
    by token (the vocab_topk order), pinned in both engines.

    Scale shape: one map-side-combined token count, a TakeOrdered
    top-k (never a full vocabulary sort), then the rank window and OLS
    fold over the k surviving rows only.
    """
    if top_k < 2:
        raise ValueError(f"top_k must be >= 2, got {top_k}")
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(top_k)
    )
    ranked = counts.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok")))
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    agg = ranked.agg(
        F.count("*").alias("k"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    k, sx, sy, sxy, sxx = (F.col(c) for c in ("k", "sx", "sy", "sxy", "sxx"))
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    return agg.select(
        k.cast("long").alias("k"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / k, 6).alias("intercept"),
    )
