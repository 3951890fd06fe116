"""Analysis statistics: chi-square contingency tests with post-hoc pairwise
comparisons, and grouped min-max scaling.

Mirrors the reference's analysis tail
(/root/reference/resources/analyses/analytic_utils.py:199-297):

* ``chisq_and_posthoc_corrected`` — omnibus chi-square over a cross-tab plus
  a 2xC chi-square per row pair, Bonferroni-corrected (analytic_utils.py:199)
* ``get_asterisks_for_pval`` — p-value significance stars (analytic_utils.py:170)
* ``min_max_scaler`` — per-list (x-min)/(max-min) scaling (analytic_utils.py:289)

Spark-first shape: the only large input is the fact table feeding the
contingency counts — that groupBy is the one real shuffle and it scales to
any corpus size.  The contingency matrix itself is (r x c) with r, c =
category cardinalities (single digits in the reference), so the pairwise
test fan-out stays a declarative self-join over a tiny dimension; nothing
row-count-dependent ever reaches the driver.

The chi-square statistic matches scipy.stats.chi2_contingency semantics,
including the Yates continuity correction applied exactly when dof == 1
(observed shifted 0.5 toward expected).  P-values use a pure-Python
regularized upper incomplete gamma (series + continued fraction, the
classical Numerical Recipes formulation) because the sandbox has no scipy;
accuracy is ~1e-12, verified against fixed reference values in tests.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from omop2obo_spark.operators.prefix import two_level_prefix

# ---------------------------------------------------------------------------
# contingency counts
# ---------------------------------------------------------------------------


def contingency_cells(
    df: DataFrame, row_col: str, col_col: str, weight_col: str | None = None
) -> DataFrame:
    """Dense contingency cells ``(row_col, col_col, n)`` with zero-filled
    holes.

    The groupBy over the fact table is the scalable part; the dense
    completion is a cross join of two tiny distinct dimensions (categorical
    cardinalities), broadcast by AQE.

    ``weight_col`` accepts PRE-AGGREGATED counts — the shape contingency
    data actually arrives in at scale (an upstream job's count table, or a
    published analysis fixture like the reference's
    tests/data/chi_square_test_data.txt) — summed instead of row-counted.

    NULL categories count as their own ``'__null__'`` bucket (like
    :func:`psi_drift`): the dense completion joins on equality, where a
    raw NULL key would never match its own count row and ``fillna`` would
    silently zero it out of the statistic.
    """
    agg = F.sum(F.col(weight_col)) if weight_col else F.count("*")
    counts = df.select(
        F.coalesce(F.col(row_col).cast("string"), F.lit("__null__")).alias(row_col),
        F.coalesce(F.col(col_col).cast("string"), F.lit("__null__")).alias(col_col),
        *([F.col(weight_col)] if weight_col else []),
    ).groupBy(row_col, col_col).agg(agg.alias("n"))
    rows = counts.select(row_col).distinct()
    cols = counts.select(col_col).distinct()
    return (
        rows.crossJoin(F.broadcast(cols))
        .join(counts, [row_col, col_col], "left")
        .fillna(0, ["n"])
    )


def _chi2_terms(n, e, dof):
    """Per-cell chi-square contribution; Yates shift (0.5 toward expected)
    exactly when dof == 1, matching scipy's correction=True."""
    diff = F.abs(n - e)
    # scipy shifts observed by min(0.5, |o-e|) toward expected (the shift is
    # CLAMPED — a cell already within 0.5 of expected contributes exactly 0,
    # never a positive overshoot), so the squared term is max(|o-e|-0.5, 0)^2
    shifted = F.greatest(diff - F.lit(0.5), F.lit(0.0))
    corrected = shifted * shifted
    plain = diff * diff
    return F.when(dof == 1, corrected / e).otherwise(plain / e)


def chi_square_pairs(
    df: DataFrame, row_col: str, col_col: str, weight_col: str | None = None
) -> DataFrame:
    """Omnibus + all-pairs chi-square statistics over the
    ``row_col`` x ``col_col`` contingency of ``df``.

    Output: ``(comparison, chi2, dof, n)`` — one ``'omnibus'`` row for the
    full table and one row per unordered row-category pair (named
    ``'<a>-<b>'`` like the reference's ``'-'.join(comb)``).  Statistics
    only; see :func:`chisq_posthoc_corrected` for p-values + correction.

    Columns absent from BOTH rows of a pair are dropped before the pairwise
    test (their expected count would be zero; scipy raises on those), so
    each pair's dof is its own surviving-column count minus one.
    """
    # Not cached: the cells plan is consumed exactly twice (omnibus +
    # pairwise) and recomputing it is one small groupBy + broadcast cross
    # join, whereas a .cache() here pins storage for the life of a
    # long-running session with no owner to unpersist it.
    cells = contingency_cells(df, row_col, col_col, weight_col=weight_col)

    # -- omnibus ------------------------------------------------------------
    w_all = Window.partitionBy()
    w_row = Window.partitionBy(row_col)
    w_col = Window.partitionBy(col_col)
    omni = (
        cells.withColumn("g", F.sum("n").over(w_all))
        .withColumn("rt", F.sum("n").over(w_row))
        .withColumn("ct", F.sum("n").over(w_col))
        .withColumn("e", F.col("rt") * F.col("ct") / F.col("g"))
    )
    omni_dims = omni.select(
        F.countDistinct(row_col).alias("nr"), F.countDistinct(col_col).alias("nc")
    )
    omni_stat = (
        omni.crossJoin(F.broadcast(omni_dims))
        .withColumn("dof", (F.col("nr") - 1) * (F.col("nc") - 1))
        .groupBy("dof")
        .agg(
            F.round(F.sum(_chi2_terms(F.col("n"), F.col("e"), F.col("dof"))), 6).alias("chi2"),
            F.sum("n").alias("n"),
        )
        .select(
            F.lit("omnibus").alias("comparison"),
            "chi2",
            F.col("dof").cast("long").alias("dof"),
            "n",
        )
    )

    # -- pairwise -----------------------------------------------------------
    a = cells.select(
        F.col(row_col).alias("row_a"), F.col(col_col).alias("c"), F.col("n").alias("na")
    )
    b = cells.select(
        F.col(row_col).alias("row_b"), F.col(col_col).alias("c"), F.col("n").alias("nb")
    )
    pair_cells = (
        a.join(b, "c")
        .filter(F.col("row_a") < F.col("row_b"))
        .filter(F.col("na") + F.col("nb") > 0)  # drop cols absent from both rows
    )
    w_pair = Window.partitionBy("row_a", "row_b")
    pc = (
        pair_cells.withColumn("rt_a", F.sum("na").over(w_pair))
        .withColumn("rt_b", F.sum("nb").over(w_pair))
        .withColumn("g", F.col("rt_a") + F.col("rt_b"))
        .withColumn("ncols", F.count("*").over(w_pair))
        .withColumn("dof", F.col("ncols") - 1)
        .withColumn("ct", F.col("na") + F.col("nb"))
        .withColumn("e_a", F.col("rt_a") * F.col("ct") / F.col("g"))
        .withColumn("e_b", F.col("rt_b") * F.col("ct") / F.col("g"))
    )
    pair_stat = (
        pc.withColumn(
            "term",
            _chi2_terms(F.col("na"), F.col("e_a"), F.col("dof"))
            + _chi2_terms(F.col("nb"), F.col("e_b"), F.col("dof")),
        )
        .groupBy("row_a", "row_b", "dof")
        .agg(F.round(F.sum("term"), 6).alias("chi2"), F.sum("ct").alias("n"))
        .select(
            F.concat_ws("-", "row_a", "row_b").alias("comparison"),
            "chi2",
            F.col("dof").cast("long").alias("dof"),
            "n",
        )
    )
    return omni_stat.unionByName(pair_stat)


# ---------------------------------------------------------------------------
# p-values (pure-Python regularized incomplete gamma; no scipy in sandbox)
# ---------------------------------------------------------------------------


def _gammainc_upper_reg(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) via the classical
    series / continued-fraction split (Numerical Recipes gammp/gammq)."""
    if x < 0 or a <= 0:
        raise ValueError("gammainc domain")
    if x == 0:
        return 1.0
    if x < a + 1.0:
        # lower series, then Q = 1 - P
        ap, s, delta = a, 1.0 / a, 1.0 / a
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            s += delta
            if abs(delta) < abs(s) * 1e-15:
                break
        p = s * math.exp(-x + a * math.log(x) - math.lgamma(a))
        return max(0.0, 1.0 - p)
    # continued fraction (modified Lentz)
    tiny = 1e-300
    b0, c, d = x + 1.0 - a, 1e300, 1.0 / max(x + 1.0 - a, tiny)
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b0 += 2.0
        d = an * d + b0
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = b0 + an / (c if abs(c) > tiny else tiny)
        h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def chi2_sf(x: float, dof: int) -> float:
    """Survival function of the chi-square distribution (scipy
    ``chi2.sf(x, dof)`` twin)."""
    if x <= 0:
        return 1.0
    return _gammainc_upper_reg(dof / 2.0, x / 2.0)


def asterisks_for_pval(p: float) -> str:
    """Significance stars, byte-identical to the reference's
    get_asterisks_for_pval (analytic_utils.py:170-196)."""
    if p > 0.05:
        return "ns"
    if p < 1e-4:
        return "****"
    if p < 1e-3:
        return "***"
    if p < 1e-2:
        return "**"
    return "*"


def chisq_posthoc_corrected(
    df: DataFrame,
    row_col: str,
    col_col: str,
    alpha: float = 0.05,
    weight_col: str | None = None,
) -> list[dict]:
    """Reference chisq_and_posthoc_corrected twin (analytic_utils.py:199):
    pairwise chi-square p-values with Bonferroni correction over the
    ``row_col`` x ``col_col`` contingency of ``df``.

    Returns a list of dicts ``{comparison, chi2, dof, original_pvalue,
    corrected_pvalue, reject_h0, p_text}`` sorted by comparison (plus the
    omnibus row first).  The collect here is legitimate: the pairwise frame
    has C(r, 2) rows where r is a categorical cardinality — a dimension, not
    data — while all counting happened distributed in chi_square_pairs.
    """
    stats = chi_square_pairs(df, row_col, col_col, weight_col=weight_col).collect()
    omni = [r for r in stats if r["comparison"] == "omnibus"]
    pairs = sorted(
        (r for r in stats if r["comparison"] != "omnibus"), key=lambda r: r["comparison"]
    )
    m = len(pairs)
    out = []
    for r in omni + pairs:
        p = chi2_sf(r["chi2"], r["dof"])
        if r["comparison"] == "omnibus":
            corrected, reject = p, p <= alpha
        else:
            # statsmodels multipletests(method='bonferroni'):
            # corrected = min(p*m, 1), reject = p <= alpha/m
            corrected = min(p * m, 1.0)
            reject = p <= alpha / m
        out.append(
            {
                "comparison": r["comparison"],
                "chi2": r["chi2"],
                "dof": r["dof"],
                "original_pvalue": p,
                "corrected_pvalue": corrected,
                "reject_h0": reject,
                "p_text": asterisks_for_pval(corrected),
            }
        )
    return out


# ---------------------------------------------------------------------------
# min-max scaling
# ---------------------------------------------------------------------------


def min_max_scale(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "scaled",
    micro_units: bool = False,
) -> DataFrame:
    """Per-group (x - min) / (max - min) scaling — the distributed twin of
    the reference's min_max_scaler (analytic_utils.py:289), which scales
    each score list independently with sklearn's MinMaxScaler.

    Matches sklearn's zero-range behavior: a constant group scales to 0.0.
    One shuffle on ``group_col``; group-level min/max windows carry no
    payload so the window form holds up to very large groups.

    ``micro_units=True`` emits ``floor(scaled * 1e6)`` as a long instead of
    a rounded double — the oracle-stable form: ``round(double, 6)`` can
    land exactly on a .5 rounding boundary (e.g. when the group range is a
    power of two) where Spark's HALF_UP, DuckDB's nearbyint, and Python's
    banker's rounding all disagree.
    """
    w = Window.partitionBy(group_col)
    lo = F.min(value_col).over(w)
    rng = F.max(value_col).over(w) - lo
    if micro_units:
        scaled = F.when(rng == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                (F.col(value_col) - lo).cast("double") * F.lit(1000000.0)
                / rng.cast("double")
            )
        )
        return df.withColumn(out_col, scaled.cast("long"))
    scaled = F.when(rng == 0, F.lit(0.0)).otherwise(
        (F.col(value_col) - lo).cast("double") / rng.cast("double")
    )
    return df.withColumn(out_col, F.round(scaled, 6))


# ---------------------------------------------------------------------------
# training-eval metrics: exact AUC, calibration/ECE, PSI drift
# ---------------------------------------------------------------------------


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    lo: float = 0.0,
    hi: float = 1.0,
    n_buckets: int = 256,
) -> DataFrame:
    """Exact ROC-AUC of a binary classifier (quality model, dedup scorer)
    over an arbitrarily large frame — the Mann-Whitney rank-sum
    formulation with exact tie handling:

        AUC = sum_s  np(s) * (2 * cum_nn_below(s) + nn(s))  /  (2 * P * N)

    where the sum runs over DISTINCT scores. The numerator is an integer,
    so the result is a rational number both engines compute bit-identically
    (one double division at the end).

    Scale shape: one map-side-combined groupBy on the score value, then a
    two-level prefix sum for the cumulative negative count — scores are
    range-bucketed by value (``lo``/``hi`` bound the score domain, e.g.
    [0,1] for probabilities; out-of-range clamps into the edge buckets),
    per-bucket totals broadcast as offsets, and the within-bucket window
    sees only ~1/``n_buckets`` of the distinct scores. No global sort, no
    single-partition window, NULL scores/labels excluded. Output: one row
    (auc, n_pos, n_neg).
    """
    if hi <= lo:
        raise ValueError(f"hi must exceed lo, got [{lo}, {hi}]")
    if not 1 <= n_buckets <= 100_000:
        raise ValueError(f"n_buckets out of range: {n_buckets}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    per_score = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("score"))
        .agg(
            F.sum(y).cast("bigint").alias("np"),
            F.sum(1 - y).cast("bigint").alias("nn"),
        )
    )
    bucket = F.least(
        F.greatest(
            F.floor((F.col("score") - F.lit(lo)) / F.lit(hi - lo) * n_buckets).cast("bigint"),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )
    keyed = per_score.withColumn("__b", bucket)
    cum = two_level_prefix(keyed, ["score"], "cum_nn_below", weight_col="nn")
    # the Mann-Whitney numerator is ~2*n_pos*n_neg, which blows past int64
    # at ~2e9 rows per class — well inside the target scale. decimal(38,0)
    # keeps the sum EXACT to 1e38 (n ~ 1e18 per class) and at fixture scale
    # yields bit-identical doubles to the old int64 path, so oracles hold.
    term = F.col("np").cast("decimal(38,0)") * (
        2 * F.col("cum_nn_below") + F.col("nn")
    ).cast("decimal(38,0)")
    return cum.agg(
        (
            F.sum(term).cast("double")
            / (2.0 * F.sum("np") * F.sum("nn"))
        ).alias("auc"),
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_dp: int = 9,
) -> DataFrame:
    """Reliability diagram cells for a probability-scored classifier:
    equi-width bins over [0, 1], per bin the count, mean predicted score
    (confidence) and mean label (accuracy), and the |conf - acc| gap —
    the per-bin form of expected calibration error; ``ECE`` is then
    ``sum(n/total * gap)`` (one more aggregate, see q_calibration).

    One map-side-combined groupBy on the bin id; means are 9-dec-rounded
    so cross-engine float-sum order can't cross a compare boundary.
    NULL scores/labels excluded; scores clamp into the edge bins.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    b = F.least(
        F.greatest(F.floor(s * n_bins).cast("bigint"), F.lit(0)), F.lit(n_bins - 1)
    )
    out = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(s), round_dp).alias("conf"),
            F.round(F.avg(y), round_dp).alias("acc"),
        )
    )
    return out.withColumn("gap", F.round(F.abs(F.col("conf") - F.col("acc")), round_dp))


def psi_drift(
    baseline: DataFrame,
    actual: DataFrame,
    cat_col: str,
    eps: float = 1e-6,
    round_dp: int = 9,
) -> DataFrame:
    """Population stability index terms between two corpus snapshots over
    a categorical column (source, language, quality bin): per category,
    baseline share ``p``, actual share ``q`` (both floored at ``eps`` so
    one-sided categories stay finite — the standard PSI convention), and
    the term ``(p - q) * ln(p / q)``; total PSI is ``sum(term)``
    (>0.25 = major shift in the usual reading).

    Scale shape: one map-side-combined count per side on the coarse
    category key, full-outer joined on the category dimension (tiny);
    totals enter as 1-row broadcast cross-joins. NULL categories count as
    their own bucket (drift in missingness is drift).
    """
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")

    def shares(frame: DataFrame, name: str) -> DataFrame:
        c = frame.groupBy(
            F.coalesce(F.col(cat_col).cast("string"), F.lit("__null__")).alias("cat")
        ).agg(F.count("*").alias("__n"))
        tot = c.agg(F.sum("__n").alias("__t"))
        return c.crossJoin(F.broadcast(tot)).select(
            "cat", (F.col("__n") / F.col("__t")).alias(name)
        )

    joined = shares(baseline, "p").join(shares(actual, "q"), on="cat", how="full")
    p = F.greatest(F.coalesce(F.col("p"), F.lit(0.0)), F.lit(float(eps)))
    q = F.greatest(F.coalesce(F.col("q"), F.lit(0.0)), F.lit(float(eps)))
    return joined.select(
        "cat",
        F.round(p, round_dp).alias("p"),
        F.round(q, round_dp).alias("q"),
        F.round((p - q) * F.log(p / q), round_dp).alias("psi_term"),
    )


def table_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-column data-quality profile in ONE aggregation pass:
    ``(column, n_rows, n_nonnull, n_distinct, min_str, max_str)`` — the
    ingest-time sanity report (null explosions, cardinality collapses,
    out-of-range keys) a pipeline should check before spending cluster
    time on a new snapshot.

    min/max are computed on the native type and THEN cast to string for
    the uniform output schema (string-casting first would order "10"
    before "9"). ``approx=False`` uses exact countDistinct — Spark plans
    multi-column distinct aggregates via an Expand (input duplicated per
    profiled column), exact but column-count-amplified; ``approx=True``
    switches to HyperLogLog++ sketches (``rsd`` relative error) — a true
    single pass with bounded memory, the 100-TB default. NULL handling:
    ``n_distinct`` counts distinct non-null values (both engines'
    ``count(distinct)`` convention).
    """
    cols = list(columns) if columns is not None else list(df.columns)
    if not cols:
        raise ValueError("table_profile needs at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")

    def distinct_of(c: str) -> Column:
        return (
            F.approx_count_distinct(c, rsd) if approx else F.countDistinct(c)
        )

    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.col(c)).alias(f"__c{i}"),
            distinct_of(c).alias(f"__d{i}"),
            F.min(F.col(c)).cast("string").alias(f"__lo{i}"),
            F.max(F.col(c)).cast("string").alias(f"__hi{i}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("long").alias("n_rows"),
                F.col(f"__c{i}").cast("long").alias("n_nonnull"),
                F.col(f"__d{i}").cast("long").alias("n_distinct"),
                F.col(f"__lo{i}").alias("min_str"),
                F.col(f"__hi{i}").alias("max_str"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


def set_prf(
    predicted: DataFrame,
    truth: DataFrame,
    group_col: str = "pred",
) -> DataFrame:
    """Set-level precision / recall / F1 between two keyed tables — the
    north rule's acceptance metric (emitted triples vs the reference's
    triple set at P/R >= 0.95) as a first-class operator, grouped so a
    regression localizes to the predicate family that caused it.

    Both inputs are taken as SETS over all their columns (duplicates
    collapse; the columns must match). Output: one row per distinct
    ``group_col`` value plus a ``__all__`` micro-total row, with
    ``tp / fp / fn / precision / recall / f1`` (6dp). Conventions
    pinned: precision NULL when tp+fp = 0, recall NULL when tp+fn = 0,
    f1 NULL unless precision + recall > 0; NULL key values compare
    NULL-safe (an identical NULL-carrying row on both sides is a tp),
    and a genuinely-NULL ``group_col`` keeps its own NULL-keyed row,
    disambiguated from the grand total by the grouping bit.

    Scale: one distinct per side, then membership flags via union +
    groupBy on the composite row key (skew-free — triple identity; NO
    join, and the max-flags reduce map-side), then a rollup
    aggregation. Never collects; comparing two 10^12-triple tables is
    exactly this plan.
    """
    keys = list(predicted.columns)
    if list(truth.columns) != keys:
        raise ValueError(f"column mismatch: {keys} vs {list(truth.columns)}")
    # union + groupBy instead of a full-outer join: groupBy keys compare
    # NULL-safe (a NULL-carrying row present on both sides is a tp, where
    # EqualTo join keys would split it into fp+fn), and the membership
    # flags reduce map-side — one shuffle on the composite key total
    marked = predicted.distinct().select(
        *keys, F.lit(1).alias("__p"), F.lit(0).alias("__t")
    ).unionByName(
        truth.distinct().select(*keys, F.lit(0).alias("__p"), F.lit(1).alias("__t"))
    )
    per_key = marked.groupBy(*keys).agg(
        F.max("__p").alias("__p"), F.max("__t").alias("__t")
    )
    agg = per_key.rollup(group_col).agg(
        F.sum(((F.col("__p") == 1) & (F.col("__t") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("__p") == 1) & (F.col("__t") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("__p") == 0) & (F.col("__t") == 1)).cast("long")).alias("fn"),
        F.grouping(group_col).alias("__g"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    out = agg.select(
        # grouping bit, not coalesce: a real NULL group value must stay a
        # NULL-keyed row, distinct from the grand total
        F.when(F.col("__g") == 1, F.lit("__all__"))
        .otherwise(F.col(group_col))
        .alias(group_col),
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        prec.alias("__prec"),
        rec.alias("__rec"),
    )
    f1 = F.when(
        F.col("__prec") + F.col("__rec") > 0,
        F.round(2 * F.col("__prec") * F.col("__rec") / (F.col("__prec") + F.col("__rec")), 6),
    )
    return out.select(
        group_col, "tp", "fp", "fn", "precision", "recall", f1.alias("f1")
    )


def grouped_linreg(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares fit of y on x from sufficient
    statistics — trend detection over 10^12 rows as ONE map-side-
    combinable aggregation (n, Σx, Σy, Σx², Σy², Σxy), never a per-group
    solver or a second pass.

    Engine-portability contract: ``x`` and ``y`` must be INTEGER-valued
    columns (epoch seconds, cents, counts). Integer sums are exact and
    order-independent, so both engines hold identical values before the
    closed-form division — float sums would make the result depend on
    partition addition order. Callers with decimal y scale it first
    (e.g. cents). The squared/cross products and their sums run in
    DECIMAL(38,0) — still exact and order-independent, and raw epoch
    seconds (x² ≈ 3·10¹⁸) cannot silently wrap the way an int64 sum
    would after three rows.

    Output per key: ``n``, ``slope``, ``intercept``, ``r2`` (6dp).
    NULL slope/intercept when the x-variance is 0 (vertical / single
    point), NULL r2 when either variance is 0.
    """
    xd = F.col(x_col).cast("decimal(19,0)")
    yd = F.col(y_col).cast("decimal(19,0)")
    agged = df.groupBy(F.col(key_col)).agg(
        F.count("*").alias("n"),
        F.sum(F.col(x_col).cast("long")).alias("sx"),
        F.sum(F.col(y_col).cast("long")).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    # the n·Σx² − (Σx)² differences CANCEL: at epoch-second magnitude the
    # minuends sit near 5e19 where double ulp is ~8e3, so subtracting in
    # double quantizes the (small) variance away. Do the differences in
    # exact decimal; only the already-small results cross into double.
    nd = F.col("n").cast("decimal(20,0)")
    sxd = F.col("sx").cast("decimal(20,0)")
    syd = F.col("sy").cast("decimal(20,0)")
    vx = (nd * F.col("sxx") - sxd * sxd).cast("double")
    vy = (nd * F.col("syy") - syd * syd).cast("double")
    cov = (nd * F.col("sxy") - sxd * syd).cast("double")
    n = F.col("n").cast("double")
    slope = F.when(vx != 0, cov / vx)
    intercept = F.when(vx != 0, (F.col("sy") - (cov / vx) * F.col("sx")) / n)
    r2 = F.when((vx != 0) & (vy != 0), (cov * cov) / (vx * vy))
    return agged.select(
        key_col,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Welch's t-test (A/B metric comparison)
# ---------------------------------------------------------------------------


def welch_t_test(df: DataFrame, group_col: str, metric_col: str) -> DataFrame:
    """Welch's unequal-variance t statistic for every unordered pair of
    groups — the A/B experiment readout for a continuous metric next to
    :func:`chi_square_pairs`'s categorical one.

    Per pair (a < b): ``t = (mean_a − mean_b) / sqrt(v_a/n_a + v_b/n_b)``
    and the Welch–Satterthwaite ``df``. Variance is spelled as the exact
    sum formula ``(Σx² − (Σx)²/n)/(n−1)`` — the IDENTICAL expression
    tree on both engines so the oracle hash holds (a var_samp builtin
    would pull in engine-specific streaming merges). Groups with n < 2
    or zero pooled variance are dropped (no defined t).

    Output: (group_a, group_b, n_a, n_b, mean_a, mean_b, t_stat, df_w)
    — floats rounded 6dp. Statistics only; see :func:`welch_posthoc`
    for p-values + Bonferroni correction.

    Scale shape: ONE aggregate over the fact table (sum/sum-sq/count
    per group, map-side combined); the pair fan-out is a self-join over
    the group DIMENSION (C(g,2) rows). Nothing row-count-dependent
    reaches the driver.
    """
    x = F.col(metric_col).cast("double")
    g = (
        df.filter(x.isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("s1"),
            F.sum(x * x).alias("s2"),
        )
        .filter(F.col("n") >= 2)
        .select(
            "grp", "n",
            (F.col("s1") / F.col("n")).alias("m"),
            (
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("v"),
        )
    )
    a = g.select(
        F.col("grp").alias("group_a"), F.col("n").alias("n_a"),
        F.col("m").alias("__ma"), F.col("v").alias("__va"),
    )
    b = g.select(
        F.col("grp").alias("group_b"), F.col("n").alias("n_b"),
        F.col("m").alias("__mb"), F.col("v").alias("__vb"),
    )
    se_a = F.col("__va") / F.col("n_a")
    se_b = F.col("__vb") / F.col("n_b")
    return (
        a.join(b, on=F.col("group_a") < F.col("group_b"))
        .filter(se_a + se_b > 0)
        .select(
            "group_a", "group_b", "n_a", "n_b",
            F.round("__ma", 6).alias("mean_a"),
            F.round("__mb", 6).alias("mean_b"),
            F.round((F.col("__ma") - F.col("__mb")) / F.sqrt(se_a + se_b), 6).alias("t_stat"),
            F.round(
                (se_a + se_b) * (se_a + se_b)
                / (se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1)),
                6,
            ).alias("df_w"),
        )
    )


def _betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) via the classical continued
    fraction (Numerical Recipes betai/betacf), ~1e-12 accuracy."""
    if not 0.0 <= x <= 1.0:
        raise ValueError("betainc domain")
    if x == 0.0 or x == 1.0:
        return x
    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)

    def betacf(a: float, b: float, x: float) -> float:
        tiny = 1e-300
        qab, qap, qam = a + b, a + 1.0, a - 1.0
        c, d = 1.0, 1.0 - qab * x / qap
        d = 1.0 / (d if abs(d) > tiny else tiny)
        h = d
        for m in range(1, 500):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / (c if abs(c) > tiny else tiny)
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / (c if abs(c) > tiny else tiny)
            delta = d * c
            h *= delta
            if abs(delta - 1.0) < 1e-15:
                break
        return h

    if x < (a + 1.0) / (a + b + 2.0):
        return front * betacf(a, b, x) / a
    # front is symmetric under (a, b, x) -> (b, a, 1-x)
    return 1.0 - front * betacf(b, a, 1.0 - x) / b


def t_sf_two_sided(t: float, df: float) -> float:
    """Two-sided p-value of Student's t: ``I_{df/(df+t²)}(df/2, 1/2)``
    (scipy ``2*t.sf(|t|, df)`` twin; df may be fractional — Welch)."""
    if df <= 0:
        raise ValueError("df must be positive")
    if t == 0:
        return 1.0
    return _betainc_reg(df / 2.0, 0.5, df / (df + t * t))


def welch_posthoc(
    df: DataFrame, group_col: str, metric_col: str, alpha: float = 0.05,
    method: str = "bonferroni",
) -> list[dict]:
    """Welch pairwise p-values with multiple-testing correction — the
    continuous-metric twin of :func:`chisq_posthoc_corrected`. The
    collect is C(g, 2) dimension rows; all counting stayed distributed.

    ``method``: ``'bonferroni'`` (corrected = min(p·m, 1), reject at
    alpha/m — the reference's convention) or ``'fdr_bh'``
    (:func:`bh_adjust`, reject at adjusted p <= alpha).
    """
    if method not in ("bonferroni", "fdr_bh"):
        raise ValueError(f"unknown method {method!r}")
    pairs = sorted(
        welch_t_test(df, group_col, metric_col).collect(),
        key=lambda r: (r["group_a"], r["group_b"]),
    )
    m = len(pairs)
    raw = [t_sf_two_sided(r["t_stat"], r["df_w"]) for r in pairs]
    if method == "fdr_bh":
        adj = bh_adjust(raw)
    out = []
    for i, r in enumerate(pairs):
        p = raw[i]
        if method == "bonferroni":
            corrected, reject = min(p * m, 1.0), p <= alpha / m
        else:
            corrected = adj[i]
            reject = corrected <= alpha
        out.append(
            {
                "comparison": f"{r['group_a']}-{r['group_b']}",
                "t_stat": r["t_stat"],
                "df_w": r["df_w"],
                "original_pvalue": p,
                "corrected_pvalue": corrected,
                "reject_h0": reject,
                "p_text": asterisks_for_pval(corrected),
            }
        )
    return out


# ---------------------------------------------------------------------------
# grouped percent-rank normalization
# ---------------------------------------------------------------------------


def grouped_percent_rank(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """SQL ``percent_rank() OVER (PARTITION BY group ORDER BY value)``
    — the quantile normalization that puts heterogeneous quality scores
    on one [0, 1] scale before blending — computed WITHOUT per-group
    windows. ``Window.partitionBy(source)`` drags each source (a
    fact-scale population when groups are corpus partitions like
    source/language) into ONE task; here the row order comes from the
    shared two-level prefix scaffold (equi-width value buckets within
    each group), tie handling from a (group, value) min-rank aggregate,
    so the result matches percent_rank's tie semantics exactly:
    ``(rank − 1) / (n − 1)``, ties sharing the rank of their first row,
    single-row groups pinned to 0.0.

    NULL values are excluded (no defined rank — pinning them would
    change every other row's n). Output: input columns + ``pct_rank``
    (rounded 9dp).
    """
    gcols = list(group_cols or [])
    v = F.col(value_col).cast("double")
    clean = df.filter(v.isNotNull())
    bounds = (
        clean.groupBy(*gcols).agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
        if gcols
        else clean.agg(F.min(v).alias("__lo"), F.max(v).alias("__hi"))
    )
    joined = (
        clean.join(F.broadcast(bounds), on=gcols) if gcols
        else clean.crossJoin(F.broadcast(bounds))
    )
    span = F.col("__hi") - F.col("__lo")
    b = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("__lo")) / span * n_buckets).cast("bigint"),
            F.lit(n_buckets - 1),
        )
    )
    keyed = joined.withColumn("__b", b).drop("__lo", "__hi")
    ranked = two_level_prefix(
        keyed, [v.asc(), F.col(id_col).asc()], "__rn", group_cols=gcols
    )
    # percent_rank tie semantics: every row of a tied value takes the
    # rank of the value's FIRST row
    vmin = ranked.groupBy(*gcols, value_col).agg(F.min("__rn").alias("__vrn"))
    n_dim = (
        clean.groupBy(*gcols).agg(F.count("*").alias("__n"))
        if gcols
        else clean.agg(F.count("*").alias("__n"))
    )
    # vmin has one row per distinct (group, value) — fact-scale for a
    # continuous value column, so no broadcast hint: AQE picks the join
    # strategy from the observed size (contrast n_dim below, which is
    # group-cardinality-bounded and safe to broadcast).
    out = ranked.join(vmin, on=[*gcols, value_col]).drop("__rn")
    out = out.join(F.broadcast(n_dim), on=gcols) if gcols else out.crossJoin(F.broadcast(n_dim))
    return (
        out.withColumn(
            "pct_rank",
            F.when(F.col("__n") <= 1, F.lit(0.0)).otherwise(
                F.round(F.col("__vrn") / (F.col("__n") - 1), 9)
            ),
        )
        .drop("__vrn", "__n", "__b")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals
# ---------------------------------------------------------------------------


def poisson1_thresholds(max_k: int = 6) -> list[float]:
    """Cumulative Poisson(1) CDF thresholds P(X <= k) for k = 0..max_k-1,
    used to invert a uniform draw into a bootstrap weight. Driver-
    computed and baked into the plan as literals; the oracle imports the
    identical floats, so the weight function is bit-identical across
    engines. Draws beyond the last threshold clamp to ``max_k``
    (P ~ 5e-5 at the default — negligible bootstrap bias)."""
    cum, term, out = 0.0, math.exp(-1.0), []
    for k in range(max_k):
        cum += term
        out.append(cum)
        term /= (k + 1)
    return out


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    n_replicates: int = 200,
    alpha: float = 0.05,
    salt: str = "boot",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bootstrap confidence interval for the MEAN of ``value_col`` via
    the Poisson bootstrap — the distributed formulation (Chamandy et
    al., Google 2012): instead of materializing B resamples, every row
    draws a deterministic Poisson(1) weight per replicate
    (``md5(salt|b|id)`` → uniform → inverted CDF), and each replicate's
    mean is ``Σ w·x / Σ w`` — ONE map-side-combined aggregate produces
    all B replicate means; the corpus never reshuffles and never
    duplicates.

    Deterministic end to end: weights are a pure function of
    (salt, replicate, id), replicate means round to 9dp before the
    percentile cut, the CI is the exact interpolated
    [alpha/2, 1−alpha/2] percentile over the B means. NULL values are
    excluded.

    Output: one row (n, mean, ci_lo, ci_hi, n_replicates) — floats 6dp.

    Scale shape: the per-row replicate fan-out is map-side only (the
    exploded (b, w·x, w) stream partial-aggregates to B rows per
    partition before the one B-row shuffle); the percentile runs over
    the B-row dimension.
    """
    if n_replicates < 2:
        raise ValueError(f"n_replicates must be >= 2, got {n_replicates}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    th = poisson1_thresholds()
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        F.col(id_col).alias("id"), v.alias("__x")
    )
    b = F.col("b")
    u = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(salt), b.cast("string"), F.col("id").cast("string"))), 1, 15),
            16, 10,
        ).cast("double")
        / F.lit(float(16 ** 15))
    )
    w = sum(
        (u >= F.lit(t)).cast("int") for t in th
    )  # #thresholds below u == inverse CDF (clamped at len(th))
    rep = base.select(
        "id", "__x",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_replicates)))).alias("b"),
    ).select(b.alias("b"), (w * F.col("__x")).alias("__wx"), w.alias("__w"))
    means = (
        rep.groupBy("b")
        .agg(F.round(F.sum("__wx") / F.sum("__w"), 9).alias("__m"))
    )
    lo, hi = alpha / 2.0, 1.0 - alpha / 2.0
    ci = means.agg(
        F.percentile(F.col("__m"), F.array(F.lit(lo), F.lit(hi))).alias("__ci"),
        F.count("*").alias("__nb"),
    )
    stats = base.agg(
        F.count("*").alias("n"), F.round(F.avg("__x"), 6).alias("mean")
    )
    return stats.crossJoin(F.broadcast(ci)).select(
        "n", "mean",
        F.round(F.element_at("__ci", 1), 6).alias("ci_lo"),
        F.round(F.element_at("__ci", 2), 6).alias("ci_hi"),
        F.col("__nb").cast("long").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic:
    ``D = sup_x |F_a(x) − F_b(x)|`` over the empirical CDFs — the
    distribution-level A/B test completing the family (Welch = means,
    chi-square = categories, PSI = binned drift; KS sees ANY
    distributional difference, exactly). NULL values excluded.

    Output: one row (n_a, n_b, ks_stat) — D rounded 6dp (each CDF point
    is a single exact-integer division, so D is bit-identical across
    engines). The p-value (Kolmogorov asymptotic series, no closed SQL
    form) lives in :func:`ks_pvalue`, pytest-gated.

    Scale shape: one aggregate to the distinct-VALUE dimension (per
    value: side counts), then the two cumulative counts ride the shared
    two-level prefix scaffold (equi-width value buckets — never a
    single-partition value sort), and the sup is a plain max aggregate.
    """
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.filter(v.isNotNull() & g.isin(group_a, group_b)).select(
        v.alias("__v"),
        (g == group_a).cast("long").alias("__a"),
        (g == group_b).cast("long").alias("__b"),
    )
    per_val = base.groupBy("__v").agg(
        F.sum("__a").alias("__na"), F.sum("__b").alias("__nb")
    )
    totals = per_val.agg(
        F.sum("__na").alias("__ta"), F.sum("__nb").alias("__tb")
    )
    bounds = per_val.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("__v") - F.col("__lo")) / span * n_buckets).cast("bigint"),
            F.lit(n_buckets - 1),
        )
    )
    keyed = per_val.crossJoin(F.broadcast(bounds)).withColumn("__b_", bucket)
    cum_a = two_level_prefix(
        keyed.withColumnRenamed("__b_", "__b"),
        [F.col("__v").asc()], "__ca", weight_col="__na", inclusive=True,
    )
    cum_ab = two_level_prefix(
        cum_a, [F.col("__v").asc()], "__cb", weight_col="__nb", inclusive=True,
    )
    return (
        cum_ab.crossJoin(F.broadcast(totals))
        .select(
            (F.abs(F.col("__ca") / F.col("__ta") - F.col("__cb") / F.col("__tb"))).alias("__d"),
            "__ta", "__tb",
        )
        .agg(
            F.max("__ta").cast("long").alias("n_a"),
            F.max("__tb").cast("long").alias("n_b"),
            F.round(F.max("__d"), 6).alias("ks_stat"),
        )
    )


def ks_pvalue(d: float, n_a: int, n_b: int, terms: int = 100) -> float:
    """Asymptotic two-sample KS p-value: ``Q(λ) = 2 Σ (−1)^{k−1}
    e^{−2k²λ²}`` with ``λ = D·sqrt(n_a·n_b/(n_a+n_b))`` (the classical
    Smirnov limit, scipy ``ks_2samp(mode='asymp')`` family)."""
    if not 0.0 <= d <= 1.0:
        raise ValueError(f"D must be in [0, 1], got {d}")
    if n_a < 1 or n_b < 1:
        raise ValueError("sample sizes must be >= 1")
    lam = d * math.sqrt(n_a * n_b / (n_a + n_b))
    if lam == 0.0:
        return 1.0
    s = 0.0
    for k in range(1, terms + 1):
        s += (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
    return max(0.0, min(1.0, 2.0 * s))


def bh_adjust(pvals: list[float]) -> list[float]:
    """Benjamini-Hochberg FDR-adjusted p-values (statsmodels
    ``multipletests(method='fdr_bh')`` twin): sort ascending, adjusted
    ``p_(i) = min_{k >= i} p_(k)·m/k`` (monotone from the top), clamp to
    1, return in the ORIGINAL order. The modern default for many-pair
    post-hoc families where Bonferroni is needlessly conservative."""
    m = len(pvals)
    if m == 0:
        return []
    order = sorted(range(m), key=lambda i: pvals[i])
    adj = [0.0] * m
    running = 1.0
    for rank in range(m - 1, -1, -1):
        i = order[rank]
        running = min(running, pvals[i] * m / (rank + 1))
        adj[i] = running
    return adj


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) statistic with tie-corrected
    normal approximation — the RANK-based two-sample test completing
    the family (Welch = means under normality, KS = any distributional
    difference, M-W = stochastic dominance, robust to outliers and
    monotone transforms). NULL values excluded.

    Pinned arithmetic (scipy ``mannwhitneyu(method='asymptotic',
    use_continuity=False)`` semantics): ties take average ranks;
    ``U_a = R_a − n_a(n_a+1)/2``; ``z = (U_a − n_a n_b/2) / σ`` with
    the tie-corrected ``σ = sqrt(n_a n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))))``.
    Output: one row (n_a, n_b, u_stat, z) — z rounded 6dp, U exact
    (integer-valued under average ranks ×2; emitted as double). The
    p-value (normal tail, no closed SQL form) lives in
    :func:`mw_pvalue`, pytest-gated.

    Scale shape: identical to :func:`ks_two_sample` — one aggregate to
    the distinct-value dimension, cumulative pooled counts via the
    two-level prefix scaffold, one final 1-row aggregate.
    """
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.filter(v.isNotNull() & g.isin(group_a, group_b)).select(
        v.alias("__v"),
        (g == group_a).cast("long").alias("__a"),
        (g == group_b).cast("long").alias("__b"),
    )
    per_val = base.groupBy("__v").agg(
        F.sum("__a").alias("__na"), F.sum("__b").alias("__nb")
    ).withColumn("__n", F.col("__na") + F.col("__nb"))
    bounds = per_val.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("__v") - F.col("__lo")) / span * n_buckets).cast("bigint"),
            F.lit(n_buckets - 1),
        )
    )
    keyed = per_val.crossJoin(F.broadcast(bounds)).withColumn("__b_", bucket)
    cum = two_level_prefix(
        keyed.withColumnRenamed("__b_", "__b"),
        [F.col("__v").asc()], "__cum", weight_col="__n", inclusive=False,
    )
    # average rank of a tied value = #below + (t + 1)/2
    rank = F.col("__cum") + (F.col("__n") + 1) / 2.0
    agg = cum.agg(
        F.sum("__na").alias("na"),
        F.sum("__nb").alias("nb"),
        F.sum(F.col("__na") * rank).alias("ra"),
        F.sum(F.col("__n") * F.col("__n") * F.col("__n") - F.col("__n")).alias("tt"),
    )
    na, nb, ra, tt = F.col("na"), F.col("nb"), F.col("ra"), F.col("tt")
    n = na + nb
    u_a = ra - na * (na + 1) / 2.0
    sigma = F.sqrt(
        na * nb / 12.0 * ((n + 1) - tt / (n * (n - 1)))
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        # U is a multiple of 0.5 under average ranks; round-2 erases the
        # summation-order ulps of the rank-sum before hashing
        F.round(u_a, 2).alias("u_stat"),
        F.round((u_a - na * nb / 2.0) / sigma, 6).alias("z"),
    )


def mw_pvalue(z: float) -> float:
    """Two-sided normal-approximation p-value for the Mann-Whitney z:
    ``erfc(|z|/sqrt(2))``."""
    return math.erfc(abs(z) / math.sqrt(2.0))


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit profile vs Benford's law — the classic
    fabricated-/synthetic-data smell test for numeric columns (organic
    multiplicative data follows ``P(d) = log10(1 + 1/d)``; uniform
    generators and hand-entered numbers don't). Zero and NULL values
    are excluded; negatives profile by |value|.

    Output: one row per digit 1-9 — (digit, n, share, benford_p,
    abs_dev) rounded 6dp — plus the digit-0 row carrying the totals is
    NOT emitted; digits absent from the data appear with n = 0 so the
    profile always has exactly 9 rows.

    Digit extraction is ``floor(v / 10^floor(log10 v))`` clamped to
    [1, 9]: the clamp absorbs the boundary where log10 of an exact
    power of ten lands one ulp low. One map-side-combined 9-key
    aggregate; the digit dimension completes via a literal range.
    """
    import math

    v = F.abs(F.col(value_col).cast("double"))
    digit = F.least(
        F.greatest(
            F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int"),
            F.lit(1),
        ),
        F.lit(9),
    )
    counts = (
        df.filter(v.isNotNull() & (v > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("n"))
    )
    digits = df.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    total = counts.agg(F.sum("n").alias("__t"))
    share = F.col("n") / F.col("__t")
    bp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        digits.join(counts, on="digit", how="left")
        .fillna(0, ["n"])
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            F.round(share, 6).alias("share"),
            F.round(bp, 6).alias("benford_p"),
            F.round(F.abs(share - bp), 6).alias("abs_dev"),
        )
    )


def corpus_concentration(
    df: DataFrame, group_col: str, weight_col: str | None = None
) -> DataFrame:
    """Concentration/diversity metrics of a categorical mix — the
    pretraining-mixture audit ("is the corpus one domain wearing a
    trenchcoat?"): Herfindahl-Hirschman index ``Σ s_i²`` (1/HHI =
    effective number of sources), Gini coefficient of the share
    distribution, and Shannon entropy in nats. ``weight_col`` weights
    by e.g. token counts instead of rows; NULL groups are their own
    group.

    Output: one row (n_groups, hhi, gini, entropy), floats 6dp.
    ``gini = (2·Σ i·w_(i)) / (n·Σw) − (n+1)/n`` over ascending-sorted
    weights (the classic discrete form; 0 = perfectly even).

    Scale shape: ONE map-side-combined aggregate to the group
    dimension; the rank window and the final fold run over that
    dimension only (group cardinality, not corpus rows).
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    g = F.coalesce(F.col(group_col).cast("string"), F.lit("__null__"))
    per = df.groupBy(g.alias("grp")).agg(F.sum(w).alias("__w"))
    ranked = per.withColumn(
        "__i", F.row_number().over(Window.orderBy(F.col("__w").asc(), F.col("grp").asc()))
    )
    tot = per.agg(F.sum("__w").alias("__t"))
    joined = ranked.crossJoin(F.broadcast(tot))
    share = F.col("__w") / F.col("__t")
    return joined.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.round(F.sum(share * share), 6).alias("hhi"),
        F.round(
            F.lit(2.0) * F.sum(F.col("__i") * share) / F.count("*")
            - (F.count("*") + 1) / F.count("*"),
            6,
        ).alias("gini"),
        F.round(-F.sum(share * F.log(share)), 6).alias("entropy"),
    )


def ks_exponential(
    df: DataFrame, value_col: str, n_buckets: int = 256
) -> DataFrame:
    """One-sample Kolmogorov-Smirnov against a FITTED exponential:
    ``D = sup_x max(|F_n(x) − F(x)|, |F_n(x⁻) − F(x)|)`` with
    ``F(x) = 1 − e^(−x/mean)`` — the arrival-process sanity check
    (Poisson arrivals ⇒ exponential inter-arrival gaps; a D far above
    ~1.36/√n says the event stream is bursty or machine-generated).
    Both sides of each empirical step are checked, as the one-sample
    test requires. NULL and negative values are excluded.

    Output: one row (n, mean, ks_stat) — floats 6dp.

    Scale shape: same as :func:`ks_two_sample` — distinct-value
    dimension, inclusive cumulative counts via the two-level prefix
    scaffold, one max fold.
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull() & (v >= 0)).select(v.alias("__v"))
    per_val = base.groupBy("__v").agg(F.count("*").alias("__n"))
    stats = per_val.agg(
        F.sum("__n").alias("__t"),
        F.sum(F.col("__v") * F.col("__n")).alias("__s"),
    )
    bounds = per_val.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("__v") - F.col("__lo")) / span * n_buckets).cast("bigint"),
            F.lit(n_buckets - 1),
        )
    )
    keyed = per_val.crossJoin(F.broadcast(bounds)).withColumn("__b", bucket)
    cum = two_level_prefix(keyed, [F.col("__v").asc()], "__c", weight_col="__n", inclusive=True)
    joined = cum.crossJoin(F.broadcast(stats))
    mean = F.col("__s") / F.col("__t")
    f_theo = F.lit(1.0) - F.exp(-F.col("__v") / mean)
    d = F.greatest(
        F.abs(F.col("__c") / F.col("__t") - f_theo),
        F.abs((F.col("__c") - F.col("__n")) / F.col("__t") - f_theo),
    )
    return joined.agg(
        F.max("__t").cast("long").alias("n"),
        F.round(F.max(F.col("__s") / F.col("__t")), 6).alias("mean"),
        F.round(F.max(d), 6).alias("ks_stat"),
    )


def value_histogram(
    df: DataFrame, value_col: str, n_bins: int = 20
) -> DataFrame:
    """Equi-width histogram of a numeric column — the plain EDA
    primitive: bins from the column's own [min, max] (1-row broadcast),
    max value clamped into the last bin, empty bins present with
    n = 0 so the frame always has exactly ``n_bins`` rows. NULLs
    excluded; a constant column puts everything in bin 0.

    Output: (bin, lo, hi, n, share) — bounds and share rounded 6dp.

    Scale shape: one bounds aggregate + one codegen bin projection +
    one n_bins-key map-side-combined count; the bin dimension completes
    via a literal range.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(v.alias("__v"))
    bounds = base.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    b = F.when(span <= 0, F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("__v") - F.col("__lo")) / span * n_bins).cast("int"),
            F.lit(n_bins - 1),
        )
    )
    counts = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy(b.alias("bin"))
        .agg(F.count("*").alias("n"))
    )
    spark = df.sparkSession
    bins = spark.range(0, n_bins).select(F.col("id").cast("int").alias("bin"))
    total = counts.agg(F.sum("n").alias("__t"))
    return (
        bins.join(counts, on="bin", how="left")
        .fillna(0, ["n"])
        .crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(total))
        .select(
            "bin",
            F.round(F.col("__lo") + F.col("bin") * (F.col("__hi") - F.col("__lo")) / n_bins, 6).alias("lo"),
            F.round(F.col("__lo") + (F.col("bin") + 1) * (F.col("__hi") - F.col("__lo")) / n_bins, 6).alias("hi"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("__t"), 6).alias("share"),
        )
    )
