"""Reference wide-output layout + input-config permutations.

Mirrors the reference's output contract:
  * wide per-ontology blocks ``AGGREGATED_<ONT>_*`` / ``SIMILARITY_<ONT>_*``
    (/root/reference/main.py:100-145, data_utils.py:608-615)
  * the 4 input configurations (±UMLS, ±ancestors) exercised by
    tests/test_clinical_concept_annotator.py:310-362
  * the umls double-merge flag's row expansion (:228-264)
  * LexiconDims last-write-wins precedence (data_utils.py:278-302, U3)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omop2obo_spark import fixtures as FX
from omop2obo_spark.fixtures.generators import transcripts_df, vocab_map_dict
from omop2obo_spark.operators.compile import wide_mapping_layout
from omop2obo_spark.operators.linking import LexiconDims
from omop2obo_spark.plans.pipeline import KEY_COLS, run_pipeline

ONTS = ["hp", "mondo"]
BLOCK_FIELDS = ["URI", "LABEL", "MAPPING", "EVIDENCE"]


@pytest.fixture(scope="module")
def small_inputs(spark):
    tr = transcripts_df(spark, n_convs=30, turns_per_conv=5)
    return tr, FX.lexicon_df(spark), vocab_map_dict()


def _run(spark, small_inputs, umls: bool, ancestors: bool, **kw):
    tr, lex, vm = small_inputs
    return run_pipeline(
        spark, tr, lex, vm,
        mrconso=FX.mrconso_df(spark) if umls else None,
        mrsty=FX.mrsty_df(spark) if umls else None,
        ancestors=FX.ancestors_df(spark) if ancestors else None,
        with_similarity=False, **kw,
    )


def test_wide_layout_columns_exact_only(spark, small_inputs):
    res = _run(spark, small_inputs, umls=True, ancestors=True)
    wide = wide_mapping_layout(res.mappings, KEY_COLS, ONTS)
    expected = list(KEY_COLS) + [
        f"AGGREGATED_{o.upper()}_{f}" for o in ONTS for f in BLOCK_FIELDS
    ]
    assert sorted(wide.columns) == sorted(expected)
    # column ORDER follows the reference: per-ont block, URI→LABEL→MAPPING→EVIDENCE
    hp_block = [c for c in wide.columns if c.startswith("AGGREGATED_HP_")]
    assert hp_block == [f"AGGREGATED_HP_{f}" for f in BLOCK_FIELDS]
    row = wide.filter(F.col("AGGREGATED_HP_URI").isNotNull()).first()
    assert row is not None
    assert row["AGGREGATED_HP_MAPPING"].startswith("Automatic")


def test_wide_layout_includes_similarity_blocks(spark, small_inputs):
    tr, lex, vm = small_inputs
    res = run_pipeline(
        spark, tr, lex, vm, mrconso=None, mrsty=None, ancestors=None,
        with_similarity=True,
    )
    wide = wide_mapping_layout(res.mappings, KEY_COLS, ONTS)
    for o in ONTS:
        for f in BLOCK_FIELDS:
            assert f"SIMILARITY_{o.upper()}_{f}" in wide.columns
    sim_row = wide.filter(F.col("SIMILARITY_HP_URI").isNotNull()).first()
    assert sim_row is not None
    assert "CONCEPT_SIMILARITY:" in sim_row["SIMILARITY_HP_EVIDENCE"]


@pytest.mark.parametrize("umls,ancestors", [(True, True), (True, False), (False, True), (False, False)])
def test_config_permutations(spark, small_inputs, umls, ancestors):
    """All 4 input configurations run end-to-end; UMLS adds semantic-type
    output and ananke links, ancestors add ancestor-level evidence."""
    res = _run(spark, small_inputs, umls=umls, ancestors=ancestors)
    triples = res.triples.persist()
    assert triples.count() > 0
    sem = triples.filter(F.col("pred") == "omop2obo:hasSemanticType").count()
    anc_ev = res.exact_links.filter(F.col("LEVEL") == "ancestor").count()
    assert (sem > 0) == umls
    assert (anc_ev > 0) == ancestors
    triples.unpersist()


def test_double_merge_expands_rows(spark, small_inputs):
    """The pipeline's UMLS tier runs merge 2, which pulls in SABs absent
    from the source codes (the reference's 66-vs-3 row expansion,
    test_clinical_concept_annotator.py:228-264). MRCONSO here carries a
    second SAB for the same CUI whose code exists in the dbxref dim —
    reachable ONLY through the CUI expansion, so the mention must link
    through it. The single-merge contrast is
    tests/test_operators.py::test_umls_annotate_double_merge_expands."""
    from datetime import datetime

    from omop2obo_spark.fixtures.generators import TRANSCRIPTS_SCHEMA

    _, lex, vm = small_inputs
    tr = spark.createDataFrame(
        [("c1", 0, "user", "coded as snomedct_us:190787008 in the source system",
          None, datetime(2026, 1, 1))],
        TRANSCRIPTS_SCHEMA,
    )
    mr = spark.createDataFrame(
        [("C0000744", "ENG", "SNOMEDCT_US", "190787008"),
         ("C0000744", "ENG", "UMLS", "C0000744")],
        "CUI string, LANG string, SAB string, CODE string",
    )
    res = run_pipeline(spark, tr, lex, vm, mrconso=mr, mrsty=FX.mrsty_df(spark),
                       ancestors=None, with_similarity=False)
    codes = {r.CODE for r in res.exact_links.select("CODE").distinct().collect()}
    assert "umls:c0000744" in codes  # only reachable via merge 2


def test_lexicon_precedence_last_write_wins(spark):
    """Duplicate keys resolve by src_rank (higher wins), matching
    merge_dictionaries' precedence-to-later-sources semantics."""
    rows = [
        ("hp", "label", "old label", "http://purl.obolibrary.org/obo/HP_1", None, 0),
        ("hp", "label", "new label", "http://purl.obolibrary.org/obo/HP_1", None, 1),
        ("hp", "dbxref", "UMLS:C1", "http://purl.obolibrary.org/obo/HP_1", "DbXref", 0),
        ("hp", "dbxref", "UMLS:C1", "http://purl.obolibrary.org/obo/HP_1", "ExactMatch", 1),
    ]
    lex = spark.createDataFrame(
        rows, "ont string, kind string, norm_string string, uri string, subtype string, src_rank int"
    )
    dims = LexiconDims.from_lexicon(lex, vocab_map_dict())
    labels = {r.URI: r.LABEL for r in dims.labels.collect()}
    assert labels["http://purl.obolibrary.org/obo/HP_1"] == "new label"
    dbx = dims.dbxref.collect()
    assert len(dbx) == 1 and dbx[0].DBX_TYPE == "ExactMatch"


def test_lexicon_precedence_deterministic_without_rank(spark):
    """Without src_rank, ties resolve by max value — stable across runs."""
    rows = [
        ("hp", "label", "alpha", "http://purl.obolibrary.org/obo/HP_2", None),
        ("hp", "label", "beta", "http://purl.obolibrary.org/obo/HP_2", None),
    ]
    lex = spark.createDataFrame(
        rows, "ont string, kind string, norm_string string, uri string, subtype string"
    )
    for _ in range(2):
        dims = LexiconDims.from_lexicon(lex, vocab_map_dict())
        labels = [r.LABEL for r in dims.labels.collect()]
        assert labels == ["beta"]


def test_wide_layout_similarity_only(spark):
    """compile_mappings(exact_links=None, sim=...) output has only SIM_*
    blocks — wide_mapping_layout must pivot it instead of raising on the
    missing AGG_* columns (symmetric with the exact-only path)."""
    import pytest
    from pyspark.sql import functions as F

    from omop2obo_spark.operators.compile import wide_mapping_layout

    sim_only = spark.createDataFrame(
        [("m1", "HP", "obo:HP_1", "lbl", "cat", "ev")],
        "mention_id string, ONT_TYPE string, SIM_URI string, SIM_LABEL string, "
        "SIM_MAPPING string, SIM_EVIDENCE string",
    )
    out = wide_mapping_layout(sim_only, ["mention_id"], ["hp"])
    assert out.columns == [
        "mention_id",
        "SIMILARITY_HP_URI", "SIMILARITY_HP_LABEL",
        "SIMILARITY_HP_MAPPING", "SIMILARITY_HP_EVIDENCE",
    ]
    row = out.collect()[0]
    assert row.SIMILARITY_HP_URI == "obo:HP_1"

    neither = spark.createDataFrame([("m1", "HP")], "mention_id string, ONT_TYPE string")
    with pytest.raises(ValueError, match="neither"):
        wide_mapping_layout(neither, ["mention_id"], ["hp"])
