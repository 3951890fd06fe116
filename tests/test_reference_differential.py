"""Differential test: run the REFERENCE'S OWN canonicalization code
(/root/reference/omop2obo/utils/data_utils.py:551-622,
``aggregates_mapping_results``) next to our Spark compile on the same
randomized fixture and require cell-exact wide-layout equality plus
triple-set P/R >= 0.95 (the north rule's parity criterion).

The reference module needs ``more_itertools`` and ``tqdm`` which this
container does not ship; both are shimmed with behavior-equivalent
stdlib stand-ins (``unique_everseen`` = first-occurrence dedup over
hashables, ``tqdm`` = identity) BEFORE import. The reference code is
imported and executed, never copied.

Fixture constraints (documented reference quirks the generator stays
inside of, so that both engines are exercised on the reference's
well-defined behavior):

* <= 1 label-evidence element and <= 1 synonym-evidence element per
  (concept, ont, level) — ``formats_mapping_evidence`` RESETS
  ``lab_evid``/``syn_evid`` on every evidence element
  (data_utils.py:495,501), so only the last element of each kind
  survives in the reference;
* synonym-matches-ontology-SYNONYM links only occur for concepts with
  exactly one clinical synonym — the reference checks the WHOLE joined
  synonym string against the synonym dict (``clin_syn.lower() in
  ont_syns`` at data_utils.py:506) instead of the individual synonym;
* a clinical string matches an ontology label XOR an ontology synonym,
  never both — when both sub-branches fire the relative order depends
  on Python set iteration (data_utils.py:495-509);
* dbxref prefixes carry no underscore — the reference derives the
  prefix via ``x.split('_')[-1]`` (data_utils.py:489).
"""

from __future__ import annotations

import importlib.util
import random
import sys
import types

import pandas as pd
import pytest
from pyspark.sql import functions as F

from omop2obo_spark.operators.compile import compile_mappings, wide_mapping_layout

REF_DATA_UTILS = "/root/reference/omop2obo/utils/data_utils.py"

ONTS = ["HP", "MONDO"]
WORDS = [
    "lung", "skin", "heart", "renal", "pain", "vascular", "chronic",
    "acute", "disorder", "syndrome", "lesion", "atrophy", "edema",
    "stenosis", "fibrosis", "anomaly", "hypoplasia", "necrosis",
]
PREFIXES = ["snomed", "msh", "umls", "icd9cm"]
SCORE_GRID = [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0]

LINK_SCHEMA = (
    "CONCEPT_ID string, LEVEL string, CODE string, CODE_COLUMN string, URI string, "
    "ONT_TYPE string, LABEL string, EVIDENCE string, MATCH_KIND string, "
    "MATCH_SUBTYPE string, src_rank int, tier_rank int"
)


def _load_reference_data_utils():
    """Import the reference module with stdlib shims for its two missing deps."""
    if "more_itertools" not in sys.modules:
        mi = types.ModuleType("more_itertools")

        def unique_everseen(iterable):
            seen = set()
            for x in iterable:
                if x not in seen:
                    seen.add(x)
                    yield x

        mi.unique_everseen = unique_everseen
        sys.modules["more_itertools"] = mi
    if "tqdm" not in sys.modules:
        tq = types.ModuleType("tqdm")
        tq.tqdm = lambda it, total=None: it
        sys.modules["tqdm"] = tq
    spec = importlib.util.spec_from_file_location("ref_data_utils", REF_DATA_UTILS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


try:
    ref = _load_reference_data_utils()
except (FileNotFoundError, OSError):  # pragma: no cover
    ref = None

pytestmark = pytest.mark.skipif(ref is None, reason="reference repo not present")


def _uri(short: str) -> str:
    return "http://purl.obolibrary.org/obo/" + short


def _fmt_score(s: float) -> str:
    # grid scores render identically under python str() and spark's
    # double->string cast ('1.0', '0.875', ...)
    return str(float(s))


def _make_lexicon(rng: random.Random):
    """Per ont: classes with label, 0-2 synonyms, 1-2 dbxrefs."""
    lex = {}
    used_strings = set()

    def fresh_string():
        while True:
            s = " ".join(rng.sample(WORDS, rng.randint(2, 3)))
            if s not in used_strings:
                used_strings.add(s)
                return s

    code_counter = [1000]
    for ont in ONTS:
        classes = []
        for i in range(14):
            short = f"{ont}_{7000000 + i}"
            dbxrefs = []
            for _ in range(rng.randint(1, 2)):
                code_counter[0] += 1
                dbxrefs.append(f"{rng.choice(PREFIXES)}:{code_counter[0]}")
            classes.append(
                {
                    "short": short,
                    "label": fresh_string(),
                    "synonyms": [fresh_string() for _ in range(rng.randint(0, 2))],
                    "dbxrefs": dbxrefs,
                }
            )
        lex[ont] = classes
    return lex


def _ont_data(lex) -> dict:
    out = {}
    for ont, classes in lex.items():
        label, syn, syntype, dbx, dbxt = {}, {}, {}, {}, {}
        for c in classes:
            label[c["label"]] = _uri(c["short"])
            for s in c["synonyms"]:
                syn[s] = _uri(c["short"])
                syntype[s] = "hasExactSynonym"
            for d in c["dbxrefs"]:
                dbx[d] = _uri(c["short"])
                dbxt[d] = "DbXref"
        out[ont.lower()] = {
            "label": label, "synonym": syn, "synonym_type": syntype,
            "dbxref": dbx, "dbxref_type": dbxt,
        }
    return out


def _make_concepts(rng: random.Random, lex, n=48):
    """Concepts with links derived EXACTLY by the matching rules both
    engines implement, plus similarity candidates. Returns (concepts,
    links, sims): concepts drive the reference's wide input frame."""
    concepts, links, sims = [], [], []
    for i in range(n):
        cid = str(100000 + i)
        con = {
            "CONCEPT_ID": cid, "label": None, "synonyms": [],
            "anc_label": None, "anc_synonym": None,
            # per (level, ont): dbxref codes -> class
            "codes": [], "anc_codes": [],
        }
        scenario = rng.random()
        clinks = []

        def add_dbxref(level, n_classes):
            col = "CONCEPT_SOURCE_CODE" if level == "concept" else "ANCESTOR_SOURCE_CODE"
            ev_lvl = "CONCEPT" if level == "concept" else "ANCESTOR"
            for ont in ONTS:
                if rng.random() < 0.6:
                    for c in rng.sample(lex[ont], min(n_classes, len(lex[ont]))):
                        code = rng.choice(c["dbxrefs"])
                        (con["codes"] if level == "concept" else con["anc_codes"]).append(code)
                        clinks.append(
                            dict(cid=cid, level=level, code=code, code_column=col,
                                 uri=_uri(c["short"]), ont=ont, label=c["label"],
                                 evidence=f"{ev_lvl}_DBXREF_{code}",
                                 kind="dbxref", subtype="DbXref"))

        def add_label_match(level):
            # clinical label string equals a class label (kind=label) or,
            # for single-synonym concepts, a class synonym (kind=synonym)
            ont = rng.choice(ONTS)
            c = rng.choice(lex[ont])
            via_syn = rng.random() < 0.3 and c["synonyms"]
            s = rng.choice(c["synonyms"]) if via_syn else c["label"]
            if level == "concept":
                con["label"] = s
                col, ev = "CONCEPT_SOURCE_LABEL", f"CONCEPT_SOURCE_LABEL:{s}"
            else:
                con["anc_label"] = s
                col, ev = "ANCESTOR_LABEL", f"ANCESTOR_LABEL:{s}"
            clinks.append(
                dict(cid=cid, level=level, code=s, code_column=col,
                     uri=_uri(c["short"]), ont=ont, label=c["label"], evidence=ev,
                     kind="synonym" if via_syn else "label",
                     subtype="hasExactSynonym" if via_syn else "LABEL"))

        def add_synonym_match(level):
            ont = rng.choice(ONTS)
            c = rng.choice(lex[ont])
            via_syn = rng.random() < 0.3 and c["synonyms"]
            s = rng.choice(c["synonyms"]) if via_syn else c["label"]
            if level == "concept":
                # via-ont-synonym only valid when it is the ONLY clinical
                # synonym (reference whole-string quirk); via-ont-label can
                # ride alongside non-matching filler synonyms
                con["synonyms"] = [s] if via_syn else [s, " ".join(rng.sample(WORDS, 4))]
                col, ev = "CONCEPT_SYNONYM", f"CONCEPT_SYNONYM:{s}"
            else:
                con["anc_synonym"] = s
                col, ev = "ANCESTOR_SYNONYM", f"ANCESTOR_SYNONYM:{s}"
            clinks.append(
                dict(cid=cid, level=level, code=s, code_column=col,
                     uri=_uri(c["short"]), ont=ont, label=c["label"], evidence=ev,
                     kind="synonym" if via_syn else "label",
                     subtype="hasExactSynonym" if via_syn else "LABEL"))

        if scenario < 0.12:
            pass  # totally unlinked concept
        elif scenario < 0.30:  # dbxref-only, concept level
            add_dbxref("concept", rng.randint(1, 2))
        elif scenario < 0.45:  # strings only
            add_label_match("concept")
            if rng.random() < 0.6:
                add_synonym_match("concept")
        elif scenario < 0.62:  # dbxref + strings
            add_dbxref("concept", 1)
            add_label_match("concept")
        elif scenario < 0.74:  # ancestor-only, dbxref flavor (quirk: '- Concept')
            add_dbxref("ancestor", rng.randint(1, 2))
        elif scenario < 0.84:  # ancestor-only, fully evidenced ('- Ancestor' reachable)
            ont = rng.choice(ONTS)
            c = rng.choice(lex[ont])
            code = rng.choice(c["dbxrefs"])
            con["anc_codes"].append(code)
            clinks.append(dict(cid=cid, level="ancestor", code=code,
                               code_column="ANCESTOR_SOURCE_CODE", uri=_uri(c["short"]),
                               ont=ont, label=c["label"],
                               evidence=f"ANCESTOR_DBXREF_{code}",
                               kind="dbxref", subtype="DbXref"))
            con["anc_label"] = c["label"]
            clinks.append(dict(cid=cid, level="ancestor", code=c["label"],
                               code_column="ANCESTOR_LABEL", uri=_uri(c["short"]),
                               ont=ont, label=c["label"],
                               evidence=f"ANCESTOR_LABEL:{c['label']}",
                               kind="label", subtype="LABEL"))
            if c["synonyms"]:
                s = c["synonyms"][0]
                con["anc_synonym"] = s
                clinks.append(dict(cid=cid, level="ancestor", code=s,
                                   code_column="ANCESTOR_SYNONYM", uri=_uri(c["short"]),
                                   ont=ont, label=c["label"],
                                   evidence=f"ANCESTOR_SYNONYM:{s}",
                                   kind="synonym", subtype="hasExactSynonym"))
        else:  # concept beats ancestor
            add_dbxref("concept", 1)
            add_dbxref("ancestor", 1)

        # similarity candidates (independent of exact tier)
        for ont in ONTS:
            if rng.random() < 0.45:
                k = rng.randint(1, 4)
                cands = rng.sample(lex[ont], k)
                branch = rng.random()
                if branch < 0.3:
                    scores = [1.0] + rng.sample(SCORE_GRID[:-1], k - 1)
                elif branch < 0.8:
                    scores = rng.sample(SCORE_GRID[1:-1], min(k, 6))[:k]
                else:  # all below threshold -> reference keep-all branch
                    scores = [0.125] if k == 1 else rng.sample([0.125, 0.063, 0.188], min(k, 3))
                pairs = sorted(zip(cands, scores[: len(cands)]),
                               key=lambda p: (-p[1], p[0]["short"]))
                for r, (c, s) in enumerate(pairs, start=1):
                    sims.append(dict(cid=cid, sim_uri=c["short"], score=s, rank=r,
                                     label=c["label"]))

        # canonical deterministic order: the order both engines must agree
        # on is (block, tier, src, evidence) — dbxref block first, then
        # label-column evidence, then synonym-column evidence
        def sort_key(lk):
            blk = 0 if lk["kind"] == "dbxref" else 1
            tier = 0 if "label" in lk["code_column"].lower() else (
                1 if lk["code_column"].endswith("SYNONYM") else 0)
            return (blk, tier, lk["evidence"])

        clinks.sort(key=sort_key)
        for j, lk in enumerate(clinks):
            blk = 0 if lk["kind"] == "dbxref" else 1
            lk["tier_rank"] = 0 if blk == 0 else (
                0 if "label" in lk["code_column"].lower() else 1)
            lk["src_rank"] = j
        links.extend(clinks)
        concepts.append(con)
    return concepts, links, sims


def _reference_wide_frame(concepts, links, sims) -> pd.DataFrame:
    """Pack the shared long fixture into the reference's wide input layout
    (the shape main.py:100-145 feeds aggregates_mapping_results)."""
    by_cid = {c["CONCEPT_ID"]: {"links": [], "sims": []} for c in concepts}
    for lk in links:
        by_cid[lk["cid"]]["links"].append(lk)
    for s in sims:
        by_cid[s["cid"]]["sims"].append(s)

    rows = []
    for con in concepts:
        cid = con["CONCEPT_ID"]
        row = {
            "CONCEPT_ID": cid,
            "CONCEPT_LABEL": con["label"] or "",
            "CONCEPT_SOURCE_LABEL": con["label"] or "",
            "CONCEPT_SYNONYM": " | ".join(con["synonyms"]),
            "ANCESTOR_LABEL": con["anc_label"] or "",
            "ANCESTOR_SYNONYM": con["anc_synonym"] or "",
        }
        for ont in ONTS:
            for lvl_name, lvl in [("CONCEPT", "concept"), ("ANCESTOR", "ancestor")]:
                for blk_name, kinds in [("DBXREF", {"dbxref"}), ("STR", {"label", "synonym"})]:
                    sel = [lk for lk in by_cid[cid]["links"]
                           if lk["ont"] == ont and lk["level"] == lvl and lk["kind"] in kinds]
                    sel.sort(key=lambda lk: lk["src_rank"])
                    base = f"{lvl_name}_{blk_name}_{ont}"
                    row[base + "_URI"] = " | ".join(lk["uri"] for lk in sel)
                    row[base + "_LABEL"] = " | ".join(lk["label"] for lk in sel)
                    row[base + "_EVIDENCE"] = " | ".join(lk["evidence"] for lk in sel)
            ss = sorted([s for s in by_cid[cid]["sims"] if s["sim_uri"].startswith(ont + "_")],
                        key=lambda s: s["rank"])
            row[f"{ont}_SIM_ONT_URI"] = " | ".join(s["sim_uri"] for s in ss)
            row[f"{ont}_SIM_ONT_LABEL"] = " | ".join(s["label"] for s in ss)
            row[f"{ont}_SIM_ONT_EVIDENCE"] = " | ".join(
                f"{s['sim_uri']}_{_fmt_score(s['score'])}" for s in ss)
        rows.append(row)
    return pd.DataFrame(rows)


def _spark_wide(spark, concepts, links, sims) -> pd.DataFrame:
    link_rows = [
        (lk["cid"], lk["level"], lk["code"], lk["code_column"], lk["uri"], lk["ont"],
         lk["label"], lk["evidence"], lk["kind"], lk["subtype"], lk["src_rank"],
         lk["tier_rank"])
        for lk in links
    ]
    links_df = spark.createDataFrame(link_rows, LINK_SCHEMA) if link_rows else None
    sim_rows = [(s["cid"], s["sim_uri"], float(s["score"]), s["rank"]) for s in sims]
    sim_df = (
        spark.createDataFrame(sim_rows, "CONCEPT_ID string, sim_uri string, score double, rank int")
        if sim_rows else None
    )
    label_rows = sorted({(lk["uri"], lk["label"]) for lk in links}
                        | {(_uri(s["sim_uri"]), s["label"]) for s in sims})
    labels_df = spark.createDataFrame(label_rows, "URI string, LABEL string")
    mappings = compile_mappings(links_df, sim_df, labels_df, ["CONCEPT_ID"], threshold=0.25)
    base = spark.createDataFrame([(c["CONCEPT_ID"],) for c in concepts], "CONCEPT_ID string")
    wide = wide_mapping_layout(mappings, ["CONCEPT_ID"], ONTS, base=base)
    return wide.toPandas()


def _norm(v):
    if v is None or (isinstance(v, float) and pd.isna(v)) or v == "":
        return None
    return v


@pytest.fixture(scope="module")
def differential(spark):
    rng = random.Random(20260818)
    lex = _make_lexicon(rng)
    concepts, links, sims = _make_concepts(rng, lex)
    ref_in = _reference_wide_frame(concepts, links, sims)
    ref_out = ref.aggregates_mapping_results(
        ref_in.copy(), [o.lower() for o in ONTS], _ont_data(lex), {}, 0.25
    )
    ours = _spark_wide(spark, concepts, links, sims)
    return ref_out.set_index("CONCEPT_ID"), ours.set_index("CONCEPT_ID"), concepts


BLOCK_COLS = [
    f"{blk}_{ont}_{field}"
    for ont in ONTS
    for blk in ("AGGREGATED", "SIMILARITY")
    for field in ("URI", "LABEL", "MAPPING", "EVIDENCE")
]


def test_wide_layout_cell_exact_vs_reference_code(differential):
    ref_out, ours, concepts = differential
    assert len(ref_out) == len(ours) == len(concepts)
    mismatches = []
    for cid in ref_out.index:
        for col in BLOCK_COLS:
            rv, ov = _norm(ref_out.at[cid, col]), _norm(ours.at[cid, col])
            if rv != ov:
                mismatches.append((cid, col, rv, ov))
    assert not mismatches, f"{len(mismatches)} cell mismatches, first 5: {mismatches[:5]}"


def test_triple_pr_vs_reference_code(differential):
    """North-rule criterion: (subj, pred, obj) triple set P/R >= 0.95 vs the
    reference's emitted mappings (here: exact equality, P = R = 1.0)."""
    ref_out, ours, _ = differential

    def triples(frame):
        out = set()
        for cid in frame.index:
            for ont in ONTS:
                for blk, pred in (("AGGREGATED", "hasExactMapping"),
                                  ("SIMILARITY", "hasSimilarityMapping")):
                    uris = _norm(frame.at[cid, f"{blk}_{ont}_URI"])
                    cat = _norm(frame.at[cid, f"{blk}_{ont}_MAPPING"])
                    if uris:
                        for u in uris.split(" | "):
                            out.add((cid, pred, u))
                    if cat:
                        out.add((cid, "hasMappingCategory:" + blk + ":" + ont, cat))
        return out

    ref_t, our_t = triples(ref_out), triples(ours)
    tp = len(ref_t & our_t)
    precision = tp / len(our_t) if our_t else 1.0
    recall = tp / len(ref_t) if ref_t else 1.0
    assert len(ref_t) > 100  # the fixture must actually exercise the pipeline
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.3f} R={recall:.3f}; ours-only={sorted(our_t - ref_t)[:5]} "
        f"ref-only={sorted(ref_t - our_t)[:5]}"
    )
    # and in fact the sets are identical
    assert precision == 1.0 and recall == 1.0


def test_context_channel_triples_match_reference_code(spark):
    """Round-5 CI pin for the context channels (the --rich tool run's core
    claim): the pipeline with ``context_channels=True`` over hand-built
    family-history / synonym / two-label / cross-ontology turns, packed
    into the reference's wide layout and aggregated by the REFERENCE'S OWN
    ``aggregates_mapping_results``, emits the identical triple set — and
    the reference output contains all four AGGREGATED categories, so the
    Exact/Constructor x Concept/Ancestor branch parity is exercised
    end-to-end through real mention detection, not via constructed links."""
    import importlib.util as ilu
    import os

    tool_path = os.path.join(
        os.path.dirname(__file__), "..", "tools", "pr_vs_reference.py"
    )
    spec = ilu.spec_from_file_location("pr_tool", tool_path)
    tool = ilu.module_from_spec(spec)
    spec.loader.exec_module(tool)

    from omop2obo_spark import fixtures as FX
    from omop2obo_spark.fixtures import lexicon_data as L
    from omop2obo_spark.fixtures.generators import vocab_map_dict
    from omop2obo_spark.operators.compile import compile_mappings, wide_mapping_layout
    from omop2obo_spark.plans.pipeline import run_pipeline

    fh = L.fh_context_triples()
    h1, h2, h3 = fh["hp"][:3]
    m1 = fh["mondo"][0]
    rows = [
        ("c1", 0, f"family history of {h1[0]} also known as {h1[1]} coded as {h1[2]}"),
        ("c2", 0, f"family history of {h1[0]} also known as {h2[1]} coded as {h3[2]}"),
        ("c3", 0, f"patient reported {h1[0]} and also {h2[0]}"),
        ("c4", 0, f"patient reported {m1[0]}"),
        ("c5", 0, f"coded as {h1[2]}"),
        ("c6", 0, "no clinical content in this turn"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    ancestors = FX.ancestors_df(spark).unionByName(
        spark.createDataFrame(
            L.cross_ontology_overlay(), "uri string, ancestor_uri string"
        )
    )
    res = run_pipeline(
        spark, t, FX.lexicon_df(spark), vocab_map_dict(),
        mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
        ancestors=ancestors, with_similarity=False,
        dims=FX.cached_dims(spark), context_channels=True,
    )

    links_pdf = res.exact_links.toPandas()
    sims_pdf = pd.DataFrame(
        columns=["conv_id", "turn_idx", "mention_id", "sim_uri", "score", "rank"]
    )
    lex_pdf = FX.lexicon_df(spark).toPandas()
    ref_in = tool.pack_reference_input(links_pdf, sims_pdf)
    ref_out = ref.aggregates_mapping_results(
        ref_in.copy(), [o.lower() for o in ONTS], tool.build_ont_data(lex_pdf), {}, 0.25
    ).set_index("CONCEPT_ID")

    empty_sim = spark.createDataFrame(
        [], "conv_id string, turn_idx int, sim_uri string, score double, rank int"
    )
    mappings = compile_mappings(
        res.exact_links, empty_sim, FX.cached_dims(spark).labels,
        ["conv_id", "turn_idx"],
    )
    base = spark.createDataFrame(
        [(k.rsplit(":", 1)[0], int(k.rsplit(":", 1)[1])) for k in ref_in["CONCEPT_ID"]],
        "conv_id string, turn_idx int",
    )
    ours = wide_mapping_layout(mappings, ["conv_id", "turn_idx"], ONTS, base=base).toPandas()
    ours["CONCEPT_ID"] = ours["conv_id"] + ":" + ours["turn_idx"].astype(str)
    ours = ours.set_index("CONCEPT_ID")

    ref_t, our_t = tool.triples(ref_out), tool.triples(ours)
    assert ref_t == our_t, (
        f"ours-only={sorted(our_t - ref_t)[:5]} ref-only={sorted(ref_t - our_t)[:5]}"
    )
    cats = {o for _c, p, o in ref_t if p.startswith("hasMappingCategory:AGGREGATED")}
    assert {
        "Automatic Exact - Concept", "Automatic Constructor - Concept",
        "Automatic Exact - Ancestor", "Automatic Constructor - Ancestor",
    } <= cats, cats
