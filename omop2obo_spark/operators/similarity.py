"""TF-IDF cosine-similarity fuzzy-linking tier.

Reproduces the reference's SimilarStringFinder math
(/root/reference/omop2obo/string_similarity.py:206-228, 180-204, 321-326):
sklearn-style TfidfVectorizer semantics — 1–3-gram features over
pre-lemmatized token lists, smooth idf ``ln((1+n)/(1+df)) + 1``, raw tf,
l2 row norm — fit over the union corpus (query strings ∪ ontology
label/definition/synonym strings), cosine = dot product, per-query top-10
with an absolute 0.25 floor, then per-URI max and an exact 75th-percentile
cut (np.percentile linear interpolation == Spark's exact ``percentile``).

This container has no sklearn/scipy, so the vectorizer is reimplemented in
numpy; ``tests/test_similarity.py`` pins the formula with hand-computed
goldens.

Physical strategy (SURVEY.md §4.3):
  * the ontology corpus is tiny → vectorized on the driver, broadcast as a
    dense (rows × vocab) float64 matrix;
  * document frequencies of the *query* corpus are computed distributively
    (explode distinct n-grams → groupBy count) and only merged on the
    driver — at 10^12 turns this is the one driver-side reduce, bounded by
    vocabulary size, and can be swapped for the precomputed-norm variant
    (store per-doc l2 norms Spark-side; broadcast only ontology-vocab idf)
    without touching callers;
  * scoring runs in ``mapInPandas`` — one numpy matmul per Arrow batch, no
    per-row Python in the hot loop beyond n-gram counting (which sklearn
    itself does in Python).
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from omop2obo_spark.functions.normalize import uri_short_id
from omop2obo_spark.functions.text import py_preprocess


def ngrams(tokens: list[str], lo: int = 1, hi: int = 3) -> list[str]:
    """sklearn-compatible word n-grams: space-joined, order of enumeration
    irrelevant (only counts matter)."""
    out = []
    n = len(tokens)
    for k in range(lo, hi + 1):
        for i in range(n - k + 1):
            out.append(" ".join(tokens[i : i + k]))
    return out


def ngrams_expr(tokens):
    """Native 1–3-gram generation (same multiset as :func:`ngrams`) as a
    Catalyst higher-order-function expression — the whole corpus-stats scan
    stays inside whole-stage codegen with zero Python workers."""
    n = F.size(tokens)
    g2 = F.transform(
        F.slice(tokens, F.lit(1), n - 1),
        lambda x, i: F.concat_ws(" ", x, F.element_at(tokens, i + 2)),
    )
    g3 = F.transform(
        F.slice(tokens, F.lit(1), n - 2),
        lambda x, i: F.concat_ws(
            " ", x, F.element_at(tokens, i + 2), F.element_at(tokens, i + 3)
        ),
    )
    empty = F.array().cast(T.ArrayType(T.StringType()))
    return F.concat(
        tokens,
        F.when(n >= 2, g2).otherwise(empty),
        F.when(n >= 3, g3).otherwise(empty),
    )


class TfidfModel:
    """Fitted TF-IDF model: vocabulary, idf vector, ontology matrix."""

    def __init__(self, vocab: dict[str, int], idf: np.ndarray, ont_mat: np.ndarray, ont_ids: list[str]):
        self.vocab = vocab
        self.idf = idf
        self.ont_mat = ont_mat  # (n_ont_rows, |vocab|), l2-normalized
        self.ont_ids = ont_ids  # short ids, e.g. HP_0008181

    def transform_raw(self, token_lists: list[list[str]]) -> np.ndarray:
        """tf·idf rows over this model's vocabulary, NOT l2-normalized."""
        X = np.zeros((len(token_lists), len(self.idf)), dtype=np.float64)
        vocab = self.vocab
        for r, toks in enumerate(token_lists):
            for g in ngrams(toks):
                c = vocab.get(g)
                if c is not None:
                    X[r, c] += 1.0
        X *= self.idf
        return X

    def transform(self, token_lists: list[list[str]]) -> np.ndarray:
        X = self.transform_raw(token_lists)
        norms = np.sqrt((X * X).sum(axis=1, keepdims=True))
        np.divide(X, norms, out=X, where=norms > 0)
        return X


def fit_tfidf(
    ont_corpus: list[tuple[str, list[str]]],
    query_df_counts: dict[str, int],
    n_query_docs: int,
) -> TfidfModel:
    """Fit the model on ontology corpus + query document frequencies.

    ``ont_corpus``: (short_uri, tokens) rows — labels/definitions/synonyms.
    ``query_df_counts``: n-gram → #distinct query docs containing it.
    ``n_query_docs``: number of distinct query docs (md5-deduped, matching
    the reference's md5-keyed corpus dedup, string_similarity.py:141-146).
    """
    df_counts: dict[str, int] = dict(query_df_counts)
    for _id, toks in ont_corpus:
        for g in set(ngrams(toks)):
            df_counts[g] = df_counts.get(g, 0) + 1
    vocab = {g: i for i, g in enumerate(sorted(df_counts))}
    n_docs = n_query_docs + len(ont_corpus)
    idf = np.empty(len(vocab), dtype=np.float64)
    for g, i in vocab.items():
        idf[i] = math.log((1 + n_docs) / (1 + df_counts[g])) + 1.0

    model = TfidfModel(vocab, idf, np.empty((0, 0)), [])
    model.ont_mat = model.transform([toks for _id, toks in ont_corpus])
    model.ont_ids = [i for i, _t in ont_corpus]
    return model


def build_ont_corpus(lexicon: DataFrame) -> list[tuple[str, list[str]]]:
    """Driver-side ontology corpus: one (short_uri, tokens) row per lexicon
    string (label/definition/synonym), preprocessed identically to the
    Spark side. Mirrors string_similarity.py:313-319."""
    rows = (
        lexicon.filter(F.col("kind").isin("label", "definition", "synonym"))
        .select(uri_short_id(F.col("uri")).alias("sid"), "norm_string")
        .collect()
    )
    return [(r.sid, py_preprocess(r.norm_string)) for r in rows]


def query_df_counts(
    queries: DataFrame, tokens_col: str = "tokens", max_docs: int = 100_000
) -> tuple[dict[str, int], int]:
    """Small-scale twin of :func:`distributed_query_stats`: collects the
    full query-corpus gram vocabulary to the driver, so it is ONLY safe on
    bounded inputs (unit tests, driver-side dictionary corpora). The
    pipeline's scale path is :func:`distributed_query_stats`, which
    collects nothing unbounded — the ``max_docs`` guard makes reaching for
    this one at fact-table scale an immediate, actionable error rather
    than a driver OOM an hour in.

    Dedup is by the token sequence itself (equivalent to the reference's
    md5-of-tokens corpus key).
    """
    distinct_docs = queries.select(F.col(tokens_col).alias("toks")).where(F.size("toks") > 0).distinct()
    n_docs = distinct_docs.count()
    if n_docs > max_docs:
        raise ValueError(
            f"query_df_counts collects the gram vocabulary of {n_docs} distinct "
            f"docs (> max_docs={max_docs}) to the driver; use "
            "distributed_query_stats for unbounded corpora"
        )

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _grams(toks: pd.Series) -> pd.Series:  # once per *distinct* doc
        return toks.apply(lambda t: list(set(ngrams(list(t)))))

    counts = (
        distinct_docs.select(F.explode(_grams("toks")).alias("g"))
        .groupBy("g")
        .count()
        .collect()
    )
    return {r.g: int(r["count"]) for r in counts}, n_docs


def _ont_doc_freqs(ont_corpus: list[tuple[str, list[str]]]) -> dict[str, int]:
    """n-gram → number of ontology strings containing it."""
    return Counter(g for _id, toks in ont_corpus for g in set(ngrams(toks)))


def distributed_query_stats(
    queries: DataFrame,
    ont_corpus: list[tuple[str, list[str]]],
    tokens_col: str = "tokens",
) -> tuple[DataFrame, dict[str, int], int]:
    """Scale-path replacement for :func:`query_df_counts`: NOTHING
    unbounded is collected to the driver.

    The full union-corpus TF-IDF math (idf fit over query ∪ ontology
    corpus, string_similarity.py:321-326) factors into
      * the per-query l2 norm |x| — needs the idf of EVERY query n-gram,
        computed HERE Spark-side (explode → tf → distributed df join →
        Σ(tf·idf)²) and returned as a (doc_key, norm) DataFrame;
      * the dot products x·o — only n-grams inside the ontology vocabulary
        contribute, so only THOSE document frequencies (bounded by the
        ontology vocab size, not the corpus) are collected for the
        broadcast model.

    cosine(x, o) = (x·o)/(|x|·|o|) is then exactly the reference's score.

    Returns (norms_df(doc_key, norm), ont_vocab_query_df, n_query_docs)
    where doc_key = md5 of the joined token list.

    Shuffle budget (the 100 TB concern): gram generation is a native
    higher-order-function expression (:func:`ngrams_expr`) — the scan
    stays in whole-stage codegen with no Python workers — and the
    groupBy(k, g) tf count partial-aggregates map-side, so only
    (k, g, tf) rows (not raw gram occurrences) ever shuffle. ``repartition
    ("g")`` then places ONE exchange shared by both per-gram consumers:
    ``dfq`` aggregates over the existing hash distribution (no second
    exchange) and the norms join co-locates with it.

    The deduped doc table and the gram-partitioned tf table each feed
    multiple consumers (n_docs count + explode; per-gram document
    frequencies, the ontology-vocab collect, and the norms join), so both
    are ``persist()``-ed (MEMORY_AND_DISK, spillable) to run the
    dedup/explode lineage exactly once instead of once per consumer.
    The cached frames are attached to the returned norms DataFrame as
    ``norms.cached_inputs``; callers that know when scoring has fully
    executed (e.g. the pipeline's mappings checkpoint) should unpersist
    them.
    """
    spark = queries.sparkSession
    # dedup on the md5 corpus key (the reference's key, F7) BEFORE the
    # gram explode: the distinct shuffles fixed 32-char keys instead of
    # hashing full token arrays, and n_docs becomes a count of this cached
    # table — the previous shape paid a whole extra shuffle of the (k, g,
    # tf) table (|docs| × |grams| rows) just to count distinct keys.
    key = F.md5(F.concat_ws("\x01", F.col(tokens_col)))
    docs_k = (
        queries.select(key.alias("k"), F.col(tokens_col).alias("toks"))
        .where(F.size("toks") > 0)
        .dropDuplicates(["k"])
        .persist()
    )
    n_docs = docs_k.count()

    tf = (
        docs_k.select("k", F.explode(ngrams_expr(F.col("toks"))).alias("g"))
        .groupBy("k", "g")
        .agg(F.count("*").alias("tf"))
        .repartition("g")
        .persist()
    )
    # groupBy over the existing hash-by-g distribution: no extra exchange
    dfq = tf.groupBy("g").agg(F.count("*").alias("dfq")).persist()  # docs-per-gram

    # ontology-side dfs (driver-side: ont corpus is small by construction)
    ont_df_counts = _ont_doc_freqs(ont_corpus)
    ont_df_df = spark.createDataFrame(
        list(ont_df_counts.items()) or [("", 0)], "g string, dfo long"
    )

    # job 1 materializes BOTH caches: query dfs for the (bounded) ontology
    # vocabulary only
    ont_vocab_rows = dfq.join(
        F.broadcast(ont_df_df.select("g")), on="g", how="leftsemi"
    ).collect()
    ont_vocab_query_df = {r.g: int(r.dfq) for r in ont_vocab_rows}

    n_total = n_docs + len(ont_corpus)
    idf = F.log((1.0 + n_total) / (1.0 + F.col("dfq") + F.coalesce(F.col("dfo"), F.lit(0)))) + 1.0
    norms = (
        tf.join(dfq, on="g")
        .join(F.broadcast(ont_df_df), on="g", how="left")
        .withColumn("w", F.col("tf") * idf)
        .groupBy("k")
        .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    )
    norms.cached_inputs = [tf, dfq, docs_k]
    return norms, ont_vocab_query_df, n_docs


def fit_tfidf_ont_vocab(
    ont_corpus: list[tuple[str, list[str]]],
    ont_vocab_query_df: dict[str, int],
    n_query_docs: int,
) -> TfidfModel:
    """Fit a model restricted to the ontology vocabulary (the only grams
    that contribute to x·o), with idf still computed over the FULL union
    corpus (query dfs from :func:`distributed_query_stats`). Pairs with
    per-doc norms for exact cosine parity with :func:`fit_tfidf`."""
    df_counts = _ont_doc_freqs(ont_corpus)
    vocab = {g: i for i, g in enumerate(sorted(df_counts))}
    n_docs = n_query_docs + len(ont_corpus)
    idf = np.empty(len(vocab), dtype=np.float64)
    for g, i in vocab.items():
        idf[i] = math.log((1 + n_docs) / (1 + df_counts[g] + ont_vocab_query_df.get(g, 0))) + 1.0
    model = TfidfModel(vocab, idf, np.empty((0, 0)), [])
    model.ont_mat = model.transform([toks for _id, toks in ont_corpus])
    model.ont_ids = [i for i, _t in ont_corpus]
    return model


SIM_SCHEMA = T.StructType(
    [
        T.StructField("mention_id", T.StringType()),
        T.StructField("sim_uri", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def similarity_scores(
    spark: SparkSession,
    queries: DataFrame,
    model: TfidfModel,
    id_col: str = "mention_id",
    tokens_col: str = "tokens",
    top_n: int = 10,
    floor: float = 0.25,
    norm_col: str | None = None,
) -> DataFrame:
    """Cosine top-``top_n`` per query with absolute ``floor`` — the
    similarity_search step (string_similarity.py:206-228, :264).

    With ``norm_col`` set, ``queries`` carries a precomputed full-vocab l2
    norm per row (the :func:`distributed_query_stats` scale path) and the
    model only spans the ontology vocabulary: rows are scored as
    (x_raw·o)/|x| instead of normalizing inside the batch.
    Returns long rows (mention_id, sim_uri short id, score).
    """
    bc = spark.sparkContext.broadcast(model)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m: TfidfModel = bc.value
        ont_t = m.ont_mat.T
        ids = np.array(m.ont_ids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if norm_col is not None:
                X = m.transform_raw([list(t) for t in pdf[tokens_col]])
                norms = pdf[norm_col].to_numpy(dtype=np.float64)[:, None]
                np.divide(X, norms, out=X, where=norms > 0)
            else:
                X = m.transform([list(t) for t in pdf[tokens_col]])
            S = X @ ont_t  # (batch, n_ont_rows)
            # round(9) BEFORE the top-k cut: float dot products depend on
            # summation order (BLAS builds / engines differ in the last
            # ulp), and an unrounded tie at the top_n boundary would make
            # the selected candidate set run-dependent. 9 decimals is far
            # below the 0.25-floor / percentile semantics and far above
            # the ~1e-15 accumulation drift — scores are bit-stable and
            # engine-portable (the DuckDB oracle reproduces them exactly).
            S = np.round(S, 9)
            k = min(top_n, S.shape[1])
            out_id, out_uri, out_s = [], [], []
            for r in range(S.shape[0]):
                # stable argsort: ties at the boundary break by corpus-row
                # index, deterministically
                cols = np.argsort(-S[r], kind="stable")[:k]
                scores = S[r, cols]
                keep = scores >= floor
                out_id.extend([pdf[id_col].iloc[r]] * int(keep.sum()))
                out_uri.extend(ids[cols[keep]].tolist())
                out_s.extend(scores[keep].tolist())
            yield pd.DataFrame({"mention_id": out_id, "sim_uri": out_uri, "score": out_s})

    sel = [id_col, tokens_col] + ([norm_col] if norm_col else [])
    return queries.select(*sel).mapInPandas(score_batches, SIM_SCHEMA)


def filter_similarity_matches(scores: DataFrame, percentile: float = 75.0) -> DataFrame:
    """Per-URI max + exact per-mention percentile cut + round(3) — the
    filters_matches step (string_similarity.py:180-204), natively.

    Keeps rows with per-URI-max score >= percentile(scores of the mention).
    Output adds ``rank`` (desc score order — the reference's result order).
    """
    per_uri = Window.partitionBy("mention_id", "sim_uri")
    w_mention = Window.partitionBy("mention_id")
    deduped = (
        scores.withColumn("mx", F.max("score").over(per_uri))
        .filter(F.col("score") == F.col("mx"))
        .dropDuplicates(["mention_id", "sim_uri"])
        .drop("mx")
    )
    cut = deduped.withColumn("p", F.expr(f"percentile(score, {percentile / 100.0})").over(w_mention))
    kept = cut.filter(F.col("score") >= F.col("p")).drop("p")
    return kept.withColumn("score", F.round("score", 3)).withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("mention_id").orderBy(F.desc("score"), F.asc("sim_uri"))),
    )
