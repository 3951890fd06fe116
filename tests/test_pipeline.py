"""End-to-end pipeline tests on the deterministic synthetic transcripts.

The expected links are computed with a tiny Python oracle that replays the
reference's matching semantics (lower-cased exact label/synonym match,
normalized-code dbxref match) over the same fixture — the P/R gate of
BASELINE.md, aimed at exact agreement.
"""

import pytest
from pyspark.sql import functions as F

from omop2obo_spark import fixtures as FX
from omop2obo_spark.fixtures import lexicon_data as L
from omop2obo_spark.fixtures.generators import vocab_map_dict
from omop2obo_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def result(spark):
    t = FX.transcripts_df(spark, 60, 8)
    res = run_pipeline(
        spark, t, FX.lexicon_df(spark), vocab_map_dict(),
        mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
        ancestors=FX.ancestors_df(spark),
    )
    yield res, t


def _python_oracle_exact(turns):
    """Reference-semantics oracle: (conv, turn) → set of linked class URIs
    from exact label/synonym containment and dbxref code containment."""
    labels = {c[2].lower(): L.OBO + c[1] for c in L.CONCEPTS}
    syns = {s.lower(): L.OBO + c[1] for c in L.CONCEPTS for (s, _t) in c[4]}
    dbx = {}
    for c in L.CONCEPTS:
        for code, _t in c[5]:
            prefix, cid = code.split(":", 1)
            vm = vocab_map_dict()
            dbx[f"{vm.get(prefix, prefix)}:{cid.lower()}"] = L.OBO + c[1]
    import re

    vm = vocab_map_dict()
    expected = {}
    terms = {**labels, **syns}
    for r in turns:
        uris = set()
        text = r.text.lower()
        toks = [x for x in re.split(r"[^a-z0-9']+", text) if x]
        # longest-match-wins, like the engine: collect all matched spans,
        # drop spans strictly contained in a longer matched span
        spans = []
        for n in range(1, 5):
            for i in range(len(toks) - n + 1):
                g = " ".join(toks[i : i + n])
                if g in terms:
                    spans.append((i, n, terms[g]))
        for i, n, uri in spans:
            contained = any(
                (j <= i and j + m >= i + n and m > n) for j, m, _u in spans
            )
            if not contained:
                uris.add(uri)
        for m in re.findall(r"\b([a-z][a-z0-9_.\-]*:[a-z0-9][a-z0-9.\-]*)", text):
            prefix, cid = m.split(":", 1)
            norm = f"{vm.get(prefix, prefix)}:{cid.lower()}"
            if norm in dbx:
                uris.add(dbx[norm])
        if uris:
            expected[(r.conv_id, r.turn_idx)] = uris
    return expected


def test_exact_tier_matches_python_oracle(result):
    res, t = result
    expected = _python_oracle_exact(t.collect())
    got = {}
    rows = (
        res.exact_links.filter(
            (F.col("LEVEL") == "concept")
            & (F.col("CODE_COLUMN").isin("MENTION_LABEL", "TURN_CODE"))
        )
        .select("conv_id", "turn_idx", "URI")
        .collect()
    )
    for r in rows:
        got.setdefault((r.conv_id, r.turn_idx), set()).add(r.URI)
    # precision & recall of the direct tiers vs the oracle
    tp = sum(len(got.get(k, set()) & v) for k, v in expected.items())
    fp = sum(len(us - expected.get(k, set())) for k, us in got.items())
    fn = sum(len(v - got.get(k, set())) for k, v in expected.items())
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"


def test_triples_are_deduped_and_well_formed(result):
    res, _ = result
    triples = res.triples
    assert triples.count() == triples.dropDuplicates(["subj", "pred", "obj"]).count()
    bad = triples.filter(
        F.col("subj").isNull() | F.col("pred").isNull() | F.col("obj").isNull()
        | ~F.col("subj").startswith("transcript:")
    )
    assert bad.count() == 0
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert "omop2obo:hasExactMapping" in preds
    assert "omop2obo:mentionOf" in preds
    assert "omop2obo:hasMappingCategory" in preds


def test_similarity_tier_links_near_miss_turns(result):
    res, _ = result
    sims = res.sim_matches.collect()
    assert len(sims) > 0
    assert all(0.25 <= r.score <= 1.0 for r in sims)


def test_ancestor_links_present_with_ancestor_category(result):
    res, _ = result
    anc = res.exact_links.filter(F.col("LEVEL") == "ancestor")
    assert anc.count() > 0
    # a turn mentioning only 'eczema' maps via ancestor to skin disorder
    m = res.mappings.filter(F.col("AGG_MAPPING").contains("Ancestor"))
    # ancestor categories only appear when no concept-level link exists for
    # that (mention, ont); with concept links always present here, ancestor
    # rows are folded away — so assert the preference rather than presence
    concept_mentions = {
        (r.conv_id, r.turn_idx, r.mention_id, r.ONT_TYPE)
        for r in res.exact_links.filter(F.col("LEVEL") == "concept")
        .select("conv_id", "turn_idx", "mention_id", "ONT_TYPE").collect()
    }
    for r in m.collect():
        assert (r.conv_id, r.turn_idx, r.mention_id, r.ONT_TYPE) not in concept_mentions


def test_pipeline_is_deterministic(spark):
    t = FX.transcripts_df(spark, 20, 5)
    kwargs = dict(
        mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
        ancestors=FX.ancestors_df(spark), with_similarity=False,
    )
    a = run_pipeline(spark, t, FX.lexicon_df(spark), vocab_map_dict(), **kwargs)
    b = run_pipeline(spark, t.repartition(7), FX.lexicon_df(spark), vocab_map_dict(), **kwargs)
    ta = sorted((r.subj, r.pred, r.obj) for r in a.triples.collect())
    tb = sorted((r.subj, r.pred, r.obj) for r in b.triples.collect())
    assert ta == tb


def test_similarity_corpus_stats_caches_released(spark, monkeypatch):
    """The three corpus-stats caches distributed_query_stats persists
    (docs_k, tf, dfq) are released once the mappings checkpoint has run
    the scoring, not held for the session lifetime."""
    from omop2obo_spark.plans import pipeline

    captured = []
    real = pipeline.distributed_query_stats

    def spy(*a, **k):
        out = real(*a, **k)
        captured.extend(out[0].cached_inputs)
        return out

    monkeypatch.setattr(pipeline, "distributed_query_stats", spy)
    run_pipeline(
        spark, FX.transcripts_df(spark, 15, 4), FX.lexicon_df(spark), vocab_map_dict(),
        with_similarity=True,
    )
    assert len(captured) == 3
    for df in captured:
        level = df.storageLevel
        assert not (level.useMemory or level.useDisk), level


def test_run_pipeline_accepts_ancestor_closure_output(spark):
    """ancestor_closure emits (uri, ancestor_uri, depth); _expand_ancestors
    must project the closure to its key columns instead of letting depth
    ride into the unionByName with the concept-level links."""
    t = FX.transcripts_df(spark, 12, 4)
    with_depth = FX.ancestors_df(spark).withColumn("depth", F.lit(1))
    res_a = run_pipeline(
        spark, t, FX.lexicon_df(spark), vocab_map_dict(),
        ancestors=with_depth, with_similarity=False,
    )
    res_b = run_pipeline(
        spark, t, FX.lexicon_df(spark), vocab_map_dict(),
        ancestors=FX.ancestors_df(spark), with_similarity=False,
    )
    a = sorted(map(tuple, res_a.triples.collect()))
    b = sorted(map(tuple, res_b.triples.collect()))
    assert a == b and a
