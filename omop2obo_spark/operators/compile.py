"""Canonicalization: compile link candidates into final per-entity,
per-ontology mappings with category tiers and formatted evidence.

This is the Spark-native replacement for the reference's single-threaded
aggregates_mapping_results row loop
(/root/reference/omop2obo/utils/data_utils.py:551-622 — the step its
authors flag as taking "up to several hours" and needing parallelization,
:557,:575-576). Everything here is one groupBy per side (exact, sim) plus
window functions — no Python in the path.

Semantics reproduced:
  * concept-over-ancestor level preference: if any concept-level exact link
    exists, ancestor-level links are dropped (compiles_mapping_content
    ``if exact_uri: break``, data_utils.py:438-449);
  * similarity short-circuit: any 1.0 → keep only 1.0s; elif any ≥
    threshold → keep those; else keep all (filters_mapping_content,
    data_utils.py:407-418);
  * mapping categories (assigns_mapping_category, data_utils.py:518-548):
    similarity → >1 match = 'Automatic Constructor - Concept' else 'Manual
    Exact - Concept Similarity'; exact → ancestor evidence present =
    '- Ancestor' only when ALL of ANCESTOR_CODE/ANCESTOR_SYNONYM/
    ANCESTOR_LABEL appear in the evidence (the reference's `any(x not in)`
    dead-branch quirk, :537-541) else '- Concept', plural by #distinct URIs;
  * formatted evidence (formats_mapping_evidence, data_utils.py:458-515):
    ``OBO_DbXref-OMOP_<LVL>_CODE:<prefix>_<id>``,
    ``OBO_<LABEL|synonymType>-OMOP_<LVL>_<LABEL|SYNONYM>:<string>``,
    ``CONCEPT_SIMILARITY:<URI>_<score>`` — golden values per
    tests/test_data_utils.py:457-562.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2obo_spark.config import (
    CAT_AUTO_CONSTRUCTOR_ANCESTOR,
    CAT_AUTO_CONSTRUCTOR_CONCEPT,
    CAT_AUTO_EXACT_ANCESTOR,
    CAT_AUTO_EXACT_CONCEPT,
    CAT_MANUAL_EXACT_SIMILARITY,
)
from omop2obo_spark.functions.normalize import uri_short_id


def format_exact_evidence(links: DataFrame, level_col: str = "LEVEL") -> DataFrame:
    """Add ``FMT_EVIDENCE`` per link row (native expressions)."""
    lvl = F.upper(F.col(level_col))
    ev = F.col("EVIDENCE")
    # dbxref: 'OBO_<type>-OMOP_<LVL>_CODE:<prefix>_<id>' — prefix is the
    # first ':' component of the tail-after-last-underscore of the raw
    # evidence, id is the last ':' component (data_utils.py:486-492).
    tail = F.element_at(F.split(ev, "_"), -1)
    dbx_fmt = F.concat(
        F.lit("OBO_"), F.col("MATCH_SUBTYPE"), F.lit("-OMOP_"), lvl, F.lit("_CODE:"),
        F.element_at(F.split(tail, ":"), 1), F.lit("_"), F.element_at(F.split(ev, ":"), -1),
    )
    # string: 'OBO_<LABEL|synType>-OMOP_<LVL>_<LABEL|SYNONYM>:<string>'
    obo_side = F.when(F.col("MATCH_KIND") == "label", F.lit("LABEL")).otherwise(F.col("MATCH_SUBTYPE"))
    omop_side = F.when(F.lower(F.col("CODE_COLUMN")).contains("label"), F.lit("LABEL")).otherwise(
        F.lit("SYNONYM")
    )
    str_fmt = F.concat(
        F.lit("OBO_"), obo_side, F.lit("-OMOP_"), lvl, F.lit("_"), omop_side, F.lit(":"),
        F.element_at(F.split(ev, ":"), -1),
    )
    # Reference evidence validation (formats_mapping_evidence,
    # data_utils.py:497-507): label/synonym evidence only counts when the
    # clinical surface is in THIS ontology's label/synonym dict resolving to
    # a URI in the result list. Direct links satisfy that by construction
    # (the surface's dict URI IS the link URI, which joins the list);
    # closure-EXPANDED links (marked ``__expanded`` by the pipeline) map
    # their surface to the CHILD concept, which is absent exactly when the
    # group is ancestor-only (concept rows otherwise displace expansions) —
    # so expanded STR evidence never validates and is nulled here. DbXref
    # evidence has no dictionary check in the reference and always counts.
    if "__expanded" in links.columns:
        str_fmt = F.when(F.col("__expanded"), F.lit(None)).otherwise(str_fmt)
    return links.withColumn(
        "FMT_EVIDENCE", F.when(F.col("MATCH_KIND") == "dbxref", dbx_fmt).otherwise(str_fmt)
    )


def compile_exact_mappings(links: DataFrame, key_cols: list[str], level_col: str = "LEVEL") -> DataFrame:
    """Aggregate exact-tier links → one row per (key, ONT_TYPE).

    Output: key cols + ONT_TYPE + AGG_URI, AGG_LABEL, AGG_MAPPING,
    AGG_EVIDENCE (the reference's AGGREGATED_<ONT>_* block).
    """
    fmt = format_exact_evidence(links, level_col)
    grp = [*key_cols, "ONT_TYPE"]

    # ONE aggregation pass: collect each group's links once (sorted by the
    # block/tier/src/evidence order — dbxref block before string block,
    # matching the reference's DBXREF-before-STR column iteration), then
    # derive the concept-over-ancestor preference, the three ordered
    # concats, and the category from the collected array with higher-order
    # functions. The previous implementation computed the preference with
    # a window over (key, ONT_TYPE) followed by a groupBy on the same keys
    # — two full sort/shuffle passes over the exact-links table where one
    # suffices (and the object-heavy aggregation is this pipeline's
    # scaling bottleneck — see BENCH/BASELINE.md).
    # Struct fields are exactly what the aggregation consumes — the full
    # URI is NOT shuffled (uri_short determines it under a single ontology
    # namespace; n_uri counts distinct short ids). Every byte here is
    # multiplied by the whole link-table shuffle.
    pair = F.struct(
        F.when(F.col("MATCH_KIND") == "dbxref", F.lit(0)).otherwise(F.lit(1)).alias("blk"),
        F.col("tier_rank").alias("tier_rank"),
        F.col("src_rank").alias("src_rank"),
        F.col("EVIDENCE").alias("ev"),
        uri_short_id(F.col("URI")).alias("uri_short"),
        (F.col(level_col) == "concept").alias("is_concept"),
        F.col("LABEL").alias("label"),
        F.col("FMT_EVIDENCE").alias("fmt"),
    )
    agg = fmt.groupBy(*grp).agg(F.array_sort(F.collect_list(pair)).alias("__links"))

    arr = F.col("__links")
    has_concept = F.exists(arr, lambda x: x["is_concept"])
    kept_arr = F.when(has_concept, F.filter(arr, lambda x: x["is_concept"])).otherwise(arr)
    agg = agg.withColumn("__kept", kept_arr)

    def joined(field: str):
        vals = F.transform(F.col("__kept"), lambda x: x[field])
        return F.array_join(
            F.array_distinct(F.filter(vals, lambda v: v.isNotNull() & (v != ""))), " | "
        )

    # filter nulls BEFORE array_distinct: countDistinct semantics ignore
    # null, but array_distinct counts null as a distinct value — a group
    # with one real URI plus a null-URI link must stay 'Automatic Exact'
    n_uri = F.size(
        F.array_distinct(
            F.filter(F.transform(F.col("__kept"), lambda x: x["uri_short"]), lambda v: v.isNotNull())
        )
    )
    # Reference-exact ancestor detection (data_utils.py:537-541): the
    # reference's `elif any(x not in map_evidence ...)` check sends a group
    # to the '- Concept' categories unless ALL THREE markers
    # (ANCESTOR_CODE, ANCESTOR_SYNONYM, ANCESTOR_LABEL) appear in the
    # compiled evidence string — an ancestor-only group evidenced by, say,
    # dbxref alone is labeled '- Concept' by the reference's actual code
    # even though its docstring implies otherwise. Reproduced faithfully
    # (like the J9 column-splitter quirk) so emitted category triples match
    # the reference's output; verified differentially against the
    # reference's own aggregates_mapping_results in
    # tests/test_reference_differential.py.
    evid_str = joined("fmt")
    anc = (
        evid_str.contains("ANCESTOR_CODE")
        & evid_str.contains("ANCESTOR_SYNONYM")
        & evid_str.contains("ANCESTOR_LABEL")
    )
    category = (
        F.when(~anc & (n_uri > 1), CAT_AUTO_CONSTRUCTOR_CONCEPT)
        .when(~anc, CAT_AUTO_EXACT_CONCEPT)
        .when(n_uri > 1, CAT_AUTO_CONSTRUCTOR_ANCESTOR)
        .otherwise(CAT_AUTO_EXACT_ANCESTOR)
    )
    return agg.select(
        *grp,
        joined("uri_short").alias("AGG_URI"),
        joined("label").alias("AGG_LABEL"),
        joined("fmt").alias("AGG_EVIDENCE"),
        category.alias("AGG_MAPPING"),
        # a group whose every evidence element failed validation emits
        # nothing — the reference's `if ext_evid != ''` gate
        # (data_utils.py:597-600). No-op unless expanded-STR suppression
        # fired (every direct link always carries formatted evidence).
    ).filter(F.col("AGG_EVIDENCE") != "")


def compile_similarity_mappings(
    sim: DataFrame,
    labels: DataFrame,
    key_cols: list[str],
    threshold: float = 0.25,
) -> DataFrame:
    """Aggregate similarity-tier matches → one row per (key, ONT_TYPE).

    ``sim`` columns: key cols + sim_uri (short id) + score (rounded 3) +
    rank (desc-score order). ``labels``: (URI, LABEL) dimension.
    Output: key cols + ONT_TYPE + SIM_URI, SIM_LABEL, SIM_MAPPING,
    SIM_EVIDENCE (the reference's SIMILARITY_<ONT>_* block).
    """
    with_ont = sim.withColumn("ONT_TYPE", F.element_at(F.split(F.col("sim_uri"), "_"), 1))
    grp = [*key_cols, "ONT_TYPE"]

    short_labels = labels.select(uri_short_id(F.col("URI")).alias("sim_uri"), F.col("LABEL"))
    labeled = (
        with_ont.join(F.broadcast(short_labels), on="sim_uri", how="left")
        .withColumn("LABEL", F.coalesce(F.col("LABEL"), F.col("sim_uri")))
        .withColumn(
            "__evid",
            F.concat(F.lit("CONCEPT_SIMILARITY:"), F.col("sim_uri"), F.lit("_"),
                     F.round(F.col("score"), 3).cast("string")),
        )
    )
    # ONE aggregation pass (same fusion as compile_exact_mappings): collect
    # each group's matches sorted by (rank, sim_uri), then apply the 1.0
    # short-circuit / threshold-keep / keep-all rule to the collected array
    # instead of a window pass before the groupBy.
    pair = F.struct(
        F.col("rank").alias("rank"),
        F.col("sim_uri").alias("sim_uri"),
        F.col("score").alias("score"),
        F.col("LABEL").alias("label"),
        F.col("__evid").alias("evid"),
    )
    agg = labeled.groupBy(*grp).agg(F.array_sort(F.collect_list(pair)).alias("__m"))
    mx = F.array_max(F.transform(F.col("__m"), lambda x: x["score"]))
    kept_arr = (
        F.when(mx == 1.0, F.filter(F.col("__m"), lambda x: x["score"] == 1.0))
        .when(mx >= threshold, F.filter(F.col("__m"), lambda x: x["score"] >= threshold))
        .otherwise(F.col("__m"))
    )
    agg = agg.withColumn("__kept", kept_arr)

    def joined(field: str):
        vals = F.transform(F.col("__kept"), lambda x: x[field])
        return F.array_join(
            F.array_distinct(F.filter(vals, lambda v: v.isNotNull() & (v != ""))), " | "
        )

    category = F.when(F.size(F.col("__kept")) > 1, CAT_AUTO_CONSTRUCTOR_CONCEPT).otherwise(
        CAT_MANUAL_EXACT_SIMILARITY
    )
    return agg.select(
        *grp,
        joined("sim_uri").alias("SIM_URI"),
        joined("label").alias("SIM_LABEL"),
        joined("evid").alias("SIM_EVIDENCE"),
        category.alias("SIM_MAPPING"),
    )


def wide_mapping_layout(
    mappings: DataFrame,
    key_cols: list[str],
    onts: list[str],
    base: DataFrame | None = None,
) -> DataFrame:
    """Pivot compile output into the reference's wide per-ontology block
    layout: 8 columns per ontology —
    ``AGGREGATED_<ONT>_{URI,LABEL,MAPPING,EVIDENCE}`` then
    ``SIMILARITY_<ONT>_{URI,LABEL,MAPPING,EVIDENCE}``
    (/root/reference/main.py:100-145, data_utils.py:608-615).

    ``mappings`` is :func:`compile_mappings` output (one row per key ×
    ONT_TYPE). ``base`` (optional) is the original entity table to re-attach
    (the reference's J8 left-join back to the clinical frame); pass e.g. the
    mention table. Missing blocks stay null, like the reference's
    ``[None] * 4`` rows. One shuffle (the pivot groupBy); block columns are
    ordered exact-before-similarity per ontology, matching the reference's
    column construction order.
    """
    ont_vals = [o.upper() for o in onts]
    # symmetric block guards: exact-only compile output has no SIM_*
    # columns, similarity-only output has no AGG_* columns — pivot only
    # the blocks that exist instead of raising on the missing side
    has_agg = "AGG_URI" in mappings.columns
    has_sim = "SIM_URI" in mappings.columns
    if not has_agg and not has_sim:
        raise ValueError(
            "wide_mapping_layout: mappings has neither AGG_* nor SIM_* columns"
        )
    blocks = ([("AGGREGATED", "AGG")] if has_agg else []) + (
        [("SIMILARITY", "SIM")] if has_sim else []
    )
    aggs = [
        F.first(f"{src}_{field}").alias(f"{block}__{field}")
        for block, src in blocks
        for field in ["URI", "LABEL", "MAPPING", "EVIDENCE"]
    ]
    pivoted = mappings.groupBy(*key_cols).pivot("ONT_TYPE", ont_vals).agg(*aggs)
    # spark names multi-agg pivot columns `<ont>_<alias>`; rewrite to the
    # reference layout `<BLOCK>_<ONT>_<FIELD>` in deterministic block order
    ordered = [*key_cols]
    for ont in ont_vals:
        for block, _src in blocks:
            for field in ["URI", "LABEL", "MAPPING", "EVIDENCE"]:
                src = f"{ont}_{block}__{field}"
                ordered.append(F.col(src).alias(f"{block}_{ont}_{field}"))
    out = pivoted.select(*ordered)
    if base is not None:
        out = base.join(out, on=key_cols, how="left")
    return out


def compile_mappings(
    exact_links: DataFrame | None,
    sim: DataFrame | None,
    labels: DataFrame,
    key_cols: list[str],
    threshold: float = 0.25,
) -> DataFrame:
    """Full-outer merge of exact and similarity blocks per (key, ONT_TYPE)."""
    parts = []
    if exact_links is not None:
        parts.append(compile_exact_mappings(exact_links, key_cols))
    if sim is not None:
        parts.append(compile_similarity_mappings(sim, labels, key_cols, threshold))
    if len(parts) == 1:
        return parts[0]
    return parts[0].join(parts[1], on=[*key_cols, "ONT_TYPE"], how="full_outer")
