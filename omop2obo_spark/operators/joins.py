"""Join strategies: broadcast dictionary joins and an explicit salted join
for skewed keys.

All of the reference's merges are equality hash joins (SURVEY.md §2.3).
The ontology-lexicon side is always small → broadcast. When the dimension
is too big to broadcast (full MRCONSO at production scale) the join
shuffles, and Zipf-skewed keys ("pain"-class surface forms at 10^12 turns)
produce straggler partitions; ``salted_join`` splits each hot key across
``salt_buckets`` shuffle partitions by salting the fact side with a
deterministic hash and exploding the dimension side, trading a k-times
replication of the (small) dimension rows for even partition sizes.

AQE's skew-join handling covers sort-merge joins after the fact; explicit
salting is still the right tool when we *know* the skew ahead of time and
want even map-side partitions from the start.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "inner"
) -> DataFrame:
    """Broadcast-hash join with an explicit hint (never rely on stats for
    dictionary tables — Iceberg/Parquet size estimates can overshoot)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt_buckets: int | None = None,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Join a dictionary-sized ``dim``: broadcast, or — with
    ``salt_buckets``, for a dim above the broadcast budget — a shuffle join
    that salts the fact side's skewed keys (:func:`salted_join`)."""
    if salt_buckets is None:
        return broadcast_join(fact, dim, on, how)
    return salted_join(
        fact, dim, on=on, salt_buckets=salt_buckets, fact_salt_cols=salt_cols, how=how
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    salt_buckets: int = 32,
    fact_salt_cols: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join on ``on`` (one key column or several).

    The fact side gets ``salt = pmod(xxhash64(<stable cols>), k)`` (stable
    columns, not rand(), so retries/resume are deterministic); the dim side
    is exploded k times. Join key becomes (on, salt): each hot key's rows
    spread over k shuffle partitions.

    Args:
        fact: large, potentially skewed side.
        dim: small-to-medium side (replicated k×; must fit k× in the
            shuffle, which holds for dictionary-scale tables).
        on: equality key column name(s) (must exist on both sides).
        salt_buckets: k.
        fact_salt_cols: columns used to derive the deterministic salt;
            defaults to the join key + all fact columns' hash — pass the
            row-identity columns (e.g. conv_id, turn_idx, mention_idx).
    """
    # salting is only sound when unmatched DIM rows never surface: the dim
    # side is replicated once per salt bucket, so right/full joins would
    # emit every unmatched dim row k times (and null-padded phantom rows
    # for matched keys' unused salts)
    allowed = {"inner", "left", "leftouter", "left_outer",
               "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti"}
    if how.lower().replace(" ", "") not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: dim-side replication "
            "corrupts right/full joins; supported: inner/left/semi/anti"
        )
    salt_src = fact_salt_cols or fact.columns
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in salt_src]), F.lit(salt_buckets)).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    keys = [on] if isinstance(on, str) else list(on)
    out = salted_fact.join(salted_dim, on=[*keys, "__salt"], how=how)
    return out.drop("__salt")


def skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
    target_rows_per_task: int = 5_000_000,
) -> DataFrame:
    """Key-skew diagnostic for a planned join/groupBy key: the ``top_n``
    hottest keys with absolute count, corpus share, multiple of the
    average key frequency, and the ``salt_buckets`` value that would
    bound each key's heaviest shuffle partition to
    ``target_rows_per_task`` rows — i.e. the number to hand
    :func:`salted_join` (size the target to what one task should sort
    or hash-probe in memory).

    Run this BEFORE committing to a plain shuffle join at a new data
    scale: skew that is invisible at test SF (x_avg ~ 1) and ruinous at
    10^12 rows shows up here as a constant-size report. NULL keys count
    as their own ``'__null__'`` key — NULL-heavy fact tables are the
    classic surprise straggler.

    Scale shape: one map-side-combinable count per key, totals via a
    1-row broadcast cross join, and a TakeOrderedAndProject top-n
    (per-partition heaps + an n-row driver merge) — never a full sort.
    Ties at the cut break on the key string, so the report is a pure
    function of the data.
    """
    if top_n <= 0:
        raise ValueError(f"top_n must be positive, got {top_n}")
    if target_rows_per_task <= 0:
        raise ValueError(
            f"target_rows_per_task must be positive, got {target_rows_per_task}"
        )
    counts = df.groupBy(
        F.coalesce(F.col(key_col).cast("string"), F.lit("__null__")).alias("key")
    ).agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.sum("n").alias("__rows"), F.count("*").alias("__keys")
    )
    nd = F.col("n").cast("double")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.round(nd / F.col("__rows"), 9).alias("share"),
            F.round(nd * F.col("__keys") / F.col("__rows"), 6).alias("x_avg"),
            F.ceil(nd / F.lit(float(target_rows_per_task))).cast("bigint").alias("salt_buckets"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(top_n)
    )


def join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental maintenance of an inner equi-join under INSERTS:

        Δ(A ⋈ B) = (ΔA ⋈ B_old) ∪all (A_old ⋈ ΔB) ∪all (ΔA ⋈ ΔB)

    — the join-side companion of :func:`aggregate.aggregate_state`
    (together they maintain a materialized join-aggregate view without
    ever rescanning history). Bag semantics (union ALL: a joined row
    appears once per contributing pair, exactly like the full rejoin).
    Insert-only by contract — deletes/updates need retraction records
    and are out of scope here; the test pins the defining algebraic
    property (A∪ΔA) ⋈ (B∪ΔB) == (A⋈B) ∪all Δ(A⋈B) exactly.

    Scale: the two cross terms shuffle one FULL side against a DELTA
    side — on a bucketed/pre-partitioned base table (sources/writers.py:
    save_bucketed_tables) the full side's exchange is already on disk,
    so each micro-batch pays only the delta's shuffle; ΔA ⋈ ΔB is
    delta-sized on both sides.
    """
    cols = a_old.columns + [c for c in b_old.columns if c not in on]
    parts = (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )
    return parts.select(*cols)
