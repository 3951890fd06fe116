"""Context-channel tests (round 5): the synonym ("also known as") and
family-history (ancestor) clinical channels, the closure-expansion evidence
validation, and the rich-fixture helpers behind the corpus-mode P/R gate.

Reference semantics being mirrored:
  * clinical SYNONYM input column → OMOP_<LVL>_SYNONYM evidence
    (formats_mapping_evidence, data_utils.py:500-507);
  * clinical ANCESTOR_* channel: codes/strings run through the same tiers
    AT ancestor level, not re-expanded (clinical_concept_annotator.py:348-361);
  * label/synonym evidence validates against the ontology dictionaries —
    a surface from ANOTHER ontology contributes no evidence
    (data_utils.py:497-507), so ancestor-only cross-ontology STR groups
    emit nothing while dbxref groups emit the partial-marker '- Concept'
    quirk category (data_utils.py:537-541).
"""

import pytest
from pyspark.sql import functions as F

from omop2obo_spark import fixtures as FX
from omop2obo_spark.fixtures import lexicon_data as L
from omop2obo_spark.fixtures.generators import vocab_map_dict
from omop2obo_spark.operators.compile import compile_mappings
from omop2obo_spark.plans.mention import detect_mentions, flag_phrase_context
from omop2obo_spark.plans.pipeline import run_pipeline

OBO = L.OBO
FH = "family history of subdural hemorrhage also known as subdural bleeding coded as snomedct_us:95453001"


def _transcripts(spark, rows):
    return spark.createDataFrame(
        [(c, t, x) for c, t, x in rows], "conv_id string, turn_idx int, text string"
    )


def _run(spark, rows, ctx=True, ancestors=None):
    t = _transcripts(spark, rows)
    return run_pipeline(
        spark, t, FX.lexicon_df(spark), vocab_map_dict(),
        mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
        ancestors=FX.ancestors_df(spark) if ancestors is None else ancestors,
        with_similarity=False, dims=FX.cached_dims(spark),
        context_channels=ctx,
    )


def _turn_agg(spark, res):
    m = compile_mappings(
        res.exact_links, None, FX.cached_dims(spark).labels, ["conv_id", "turn_idx"]
    )
    return {(r.conv_id, r.turn_idx, r.ONT_TYPE): r for r in m.collect()}


def test_flag_phrase_context_exact_prefix_only(spark):
    t = _transcripts(
        spark,
        [("c1", 0, "the disease also known as wet lung is present"),
         ("c2", 0, "patient reported wet lung today")],
    )
    dims = FX.cached_dims(spark)
    mentions = detect_mentions(t, dims.strings.select(F.col("CODE").alias("surface")))
    out = flag_phrase_context(t, mentions.filter(F.col("kind") == "term"),
                              "also known as", "flag")
    rows = {r.conv_id: r.flag for r in out.collect()}
    assert rows["c1"] is True
    assert rows["c2"] is False


def test_fh_turn_yields_exact_ancestor_category(spark):
    """One concept's label+synonym+code under the FH cue → ancestor-only
    group with all three ANCESTOR markers and one URI → the reference's
    'Automatic Exact - Ancestor' branch, end-to-end through detection."""
    res = _run(spark, [("c1", 0, FH)])
    links = res.exact_links.collect()
    assert links and all(r.LEVEL == "ancestor" for r in links)
    assert {r.CODE_COLUMN for r in links} == {
        "ANCESTOR_LABEL", "ANCESTOR_SYNONYM", "ANCESTOR_CODE"
    }
    agg = _turn_agg(spark, res)[("c1", 0, "HP")]
    assert agg.AGG_MAPPING == "Automatic Exact - Ancestor"
    assert agg.AGG_URI == "HP_0100309"
    for marker in ("ANCESTOR_CODE", "ANCESTOR_LABEL", "ANCESTOR_SYNONYM"):
        assert marker in agg.AGG_EVIDENCE
    assert "OMOP_ANCESTOR_SYNONYM:subdural_bleeding" in agg.AGG_EVIDENCE


def test_fh_multi_concept_yields_constructor_ancestor(spark):
    text = ("family history of subdural hemorrhage also known as "
            "extradural hematoma coded as snomedct_us:85828009")
    res = _run(spark, [("c1", 0, text)])
    agg = _turn_agg(spark, res)[("c1", 0, "HP")]
    assert agg.AGG_MAPPING == "Automatic Constructor - Ancestor"
    assert sorted(agg.AGG_URI.split(" | ")) == [
        "HP_0002960", "HP_0100309", "HP_0100310"
    ]


def test_synonym_channel_without_fh_stays_concept_level(spark):
    res = _run(spark, [("c1", 0, "patient reported subdural hemorrhage also known as subdural bleeding")])
    links = {r.CODE_COLUMN for r in res.exact_links.filter(F.col("LEVEL") == "concept").collect()}
    assert "MENTION_SYNONYM" in links and "MENTION_LABEL" in links
    agg = _turn_agg(spark, res)[("c1", 0, "HP")]
    assert agg.AGG_MAPPING == "Automatic Exact - Concept"
    assert "OMOP_CONCEPT_SYNONYM:subdural_bleeding" in agg.AGG_EVIDENCE


def test_context_channels_off_is_inert(spark):
    """Default mode must not react to the cue phrases: everything links at
    concept level with MENTION_LABEL, exactly as before round 5."""
    res = _run(spark, [("c1", 0, FH)], ctx=False)
    direct = res.exact_links.filter(F.col("LEVEL") == "concept").collect()
    assert direct and all(
        r.CODE_COLUMN in ("MENTION_LABEL", "TURN_CODE", "UMLS_CODE", "UMLS_CUI")
        for r in direct
    )
    assert not any("SYNONYM" in r.CODE_COLUMN for r in direct)


def test_cross_ontology_expanded_str_evidence_is_suppressed(spark):
    """A cross-ontology ancestor-only group fed by STRING matches emits
    nothing (the reference's dictionary validation rejects a surface from
    another ontology → ext_evid == '' → [None]*4); the same group fed by a
    DBXREF code emits the partial-marker '- Concept' quirk category."""
    overlay = spark.createDataFrame(
        [(OBO + "HP_0100309", OBO + "MONDO_0005737")], "uri string, ancestor_uri string"
    )
    # string-only mention: MONDO group would hold only expanded STR rows
    res = _run(spark, [("c1", 0, "patient reported subdural hemorrhage")],
               ctx=False, ancestors=overlay)
    agg = _turn_agg(spark, res)
    assert ("c1", 0, "HP") in agg and ("c1", 0, "MONDO") not in agg
    # dbxref mention: MONDO ancestor evidence is code-only -> quirk Concept
    res2 = _run(spark, [("c1", 0, "coded as snomedct_us:95453001")],
                ctx=False, ancestors=overlay)
    agg2 = _turn_agg(spark, res2)
    mondo = agg2[("c1", 0, "MONDO")]
    assert mondo.AGG_MAPPING == "Automatic Exact - Concept"
    assert mondo.AGG_URI == "MONDO_0005737"
    assert "ANCESTOR_CODE" in mondo.AGG_EVIDENCE
    assert "ANCESTOR_LABEL" not in mondo.AGG_EVIDENCE


def test_fh_context_triples_eligibility():
    """The rich-fixture surfaces must resolve uniquely: labels unique and
    not synonyms, synonyms unique and not labels, codes non-UMLS, unique,
    and absent from MRCONSO (else the UMLS tiers would add URIs and break
    the Exact-Ancestor single-URI construction)."""
    fh = L.fh_context_triples()
    assert set(fh) == {"hp", "mondo"}
    labels = {c[2].lower() for c in L.CONCEPTS}
    syns = {s.lower() for c in L.CONCEPTS for s, _t in c[4]}
    for ont, triples in fh.items():
        assert len(triples) >= 3  # constructor turns need 3 distinct concepts
        for lab, syn, code in triples:
            assert lab in labels and lab not in syns
            assert syn in syns and syn not in labels
            assert not code.startswith("umls:")


def test_cross_ontology_overlay_is_cross_ont_and_deterministic():
    ov = L.cross_ontology_overlay()
    assert ov == L.cross_ontology_overlay()
    hp = {L.OBO + sid for ont, sid, *_ in L.CONCEPTS if ont == "hp"}
    mondo = {L.OBO + sid for ont, sid, *_ in L.CONCEPTS if ont == "mondo"}
    for u, a in ov:
        assert (u in hp and a in mondo) or (u in mondo and a in hp)
    # some children carry TWO cross-ont ancestors (constructor coverage)
    from collections import Counter

    assert max(Counter(u for u, _a in ov).values()) == 2
