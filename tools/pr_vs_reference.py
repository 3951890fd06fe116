"""End-to-end triple P/R vs the REFERENCE'S OWN compile code at corpus scale.

The differential pytest suite (tests/test_reference_differential.py) proves
cell-exact parity on a constrained unit fixture. This tool runs the same
reference-executed comparison END TO END on the sf-generator corpus: the
full Spark pipeline (mention detection -> exact linking -> UMLS/dbxref ->
ancestors -> TF-IDF similarity -> compile) produces its link/sim
intermediates at e.g. sf0.01, those intermediates are packed into the
reference's wide input layout (the shape main.py:100-145 builds), the
reference's ``aggregates_mapping_results`` (data_utils.py:551-622) runs on
them, and the two engines' emitted triple sets are compared — the north
rule's P/R >= 0.95 criterion at corpus scale.

Packing is a pure schema adapter (documented column mapping, no semantic
change): transcript keys (conv_id, turn_idx) become the reference's
CONCEPT_ID, and the transcript-flavored string-match evidence
``MENTION_LABEL:<surface>`` is re-prefixed to the reference's level-keyed
``{CONCEPT|ANCESTOR}_LABEL:<surface>`` (the reference derives the level
from ``evidence.split('_')[0]``, data_utils.py:486).

Evidence CELLS can legitimately differ on multi-mention turns: the
reference resets ``lab_evid`` per evidence element (data_utils.py:495 —
only the LAST label evidence survives) while the Spark compile keeps one
formatted evidence per link; the TRIPLE set (URIs + categories) is
invariant to that quirk, which is exactly why the north rule is stated
over triples. The tool reports triple P/R plus per-cell agreement for the
URI/MAPPING columns (evidence columns reported separately).

The Spark side (the pipeline runs, the turn-level compile, the triple
extraction) lives in ``tools/triple_sets.py``, which also pins the sets as
goldens; this tool adds only the reference side.

Usage: python tools/pr_vs_reference.py [--rich] [sf_dir | --fixture N_CONCEPTS]
(default sf0.01). Prints one JSON line.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import triple_sets as TS  # noqa: E402  (puts the repo root on sys.path)

REF_DATA_UTILS = "/root/reference/omop2obo/utils/data_utils.py"
ONTS = TS.ONTS


def load_reference_data_utils():
    """Import the reference module, shimming its two missing deps
    (same stdlib shims as tests/test_reference_differential.py)."""
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


def build_ont_data(lex_pdf):
    """Reference ont_data dict from the lexicon dimension, with dbxref keys
    vocab-normalized + id-lowercased exactly like the pipeline's dict-level
    code normalization (reference clinical_concept_annotator.py:259)."""
    from omop2obo_spark.fixtures.generators import vocab_map_dict

    vm = vocab_map_dict()
    out = {}
    for ont in ONTS:
        sub = lex_pdf[lex_pdf["ont"] == ont.lower()]
        label, syn, syntype, dbx, dbxt = {}, {}, {}, {}, {}
        for _, r in sub.iterrows():
            if r["kind"] == "label":
                label[r["norm_string"]] = r["uri"]
            elif r["kind"] == "synonym":
                syn[r["norm_string"]] = r["uri"]
                syntype[r["norm_string"]] = r["subtype"]
            elif r["kind"] == "dbxref":
                raw = r["norm_string"]
                prefix, num = raw.split(":")[0], raw.split(":")[-1].lower()
                code = f"{vm.get(prefix, vm.get(prefix.lower(), prefix.lower()))}:{num}"
                dbx[code] = r["uri"]
                dbxt[code] = r["subtype"]
        out[ont.lower()] = {
            "label": label, "synonym": syn, "synonym_type": syntype,
            "dbxref": dbx, "dbxref_type": dbxt,
        }
    return out


def pack_reference_input(links_pdf, sims_pdf):
    """Pack pipeline link/sim intermediates into the reference wide frame."""
    import pandas as pd

    def key(r):
        return f"{r['conv_id']}:{r['turn_idx']}"

    by_key: dict[str, dict] = {}

    def cell(k):
        return by_key.setdefault(k, {"links": [], "sims": []})

    for _, r in links_pdf.iterrows():
        cell(key(r))["links"].append(r)
    for _, r in sims_pdf.iterrows():
        cell(key(r))["sims"].append(r)

    def clin_suffix(lk):
        # the clinical channel a string surface came from: CODE_COLUMN
        # carries MENTION_SYNONYM / ANCESTOR_SYNONYM for "also known as"
        # mentions (run_pipeline context_channels) — the reference's
        # CONCEPT_SYNONYM / ANCESTOR_SYNONYM input columns
        return "SYNONYM" if "SYNONYM" in str(lk["CODE_COLUMN"]).upper() else "LABEL"

    rows = []
    for k in sorted(by_key):
        links, sims = by_key[k]["links"], by_key[k]["sims"]
        row = {"CONCEPT_ID": k}
        # clin string columns per level+channel (distinct surfaces,
        # first-seen order)
        for lvl_name, lvl in [("CONCEPT", "concept"), ("ANCESTOR", "ancestor")]:
            for suffix in ("LABEL", "SYNONYM"):
                surfs = []
                for lk in links:
                    if (
                        lk["LEVEL"] == lvl
                        and lk["MATCH_KIND"] != "dbxref"
                        and clin_suffix(lk) == suffix
                    ):
                        if lk["CODE"] not in surfs:
                            surfs.append(lk["CODE"])
                row[f"{lvl_name}_{suffix}"] = " | ".join(surfs)
        for ont in ONTS:
            for lvl_name, lvl in [("CONCEPT", "concept"), ("ANCESTOR", "ancestor")]:
                for blk_name, is_dbx in [("DBXREF", True), ("STR", False)]:
                    sel = [
                        lk for lk in links
                        if lk["ONT_TYPE"] == ont and lk["LEVEL"] == lvl
                        and (lk["MATCH_KIND"] == "dbxref") == is_dbx
                    ]
                    # mirror compile_exact_mappings' array_sort order
                    # (tier_rank, src_rank, EVIDENCE); blk is the column
                    sel.sort(key=lambda lk: (lk["tier_rank"], lk["src_rank"], lk["EVIDENCE"]))
                    base = f"{lvl_name}_{blk_name}_{ont}"
                    evs = []
                    for lk in sel:
                        ev = lk["EVIDENCE"]
                        if not is_dbx:
                            # schema adapter: level+channel-prefix the
                            # string-match evidence (reference reads the
                            # level from evidence.split('_')[0] and the
                            # clinical channel from the LABEL/SYNONYM token)
                            ev = f"{lvl_name}_{clin_suffix(lk)}:{ev.split(':')[-1]}"
                        evs.append(ev)
                    row[base + "_URI"] = " | ".join(lk["URI"] for lk in sel)
                    row[base + "_LABEL"] = " | ".join(lk["LABEL"] for lk in sel)
                    row[base + "_EVIDENCE"] = " | ".join(evs)
            ss = [s for s in sims if s["sim_uri"].startswith(ont + "_")]
            ss.sort(key=lambda s: (s["rank"], s["sim_uri"]))
            row[f"{ont}_SIM_ONT_URI"] = " | ".join(s["sim_uri"] for s in ss)
            row[f"{ont}_SIM_ONT_LABEL"] = " | ".join(s["label"] for s in ss)
            row[f"{ont}_SIM_ONT_EVIDENCE"] = " | ".join(
                f"{s['sim_uri']}_{str(float(round(s['score'], 3)))}" for s in ss
            )
        rows.append(row)
    return pd.DataFrame(rows)


def main(sf_dir: str, rich: bool = False) -> dict:
    from pyspark.sql import functions as F

    from omop2obo_spark import fixtures as FX
    from omop2obo_spark.session import get_spark

    ref = load_reference_data_utils()
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    res = TS.corpus_result(spark, sf_dir, rich=rich)
    links_pdf = res.exact_links.toPandas()
    sim = res.sim_matches
    lab_dim = FX.lexicon_df(spark).filter(F.col("kind") == "label").select(
        F.element_at(F.split("uri", "/"), -1).alias("sim_uri"),
        F.col("norm_string").alias("label"),
    )
    sims_pdf = (
        sim.join(lab_dim, on="sim_uri", how="left")
        .withColumn("label", F.coalesce("label", "sim_uri"))
        .toPandas()
    )
    lex_pdf = FX.lexicon_df(spark).toPandas()

    ref_in = pack_reference_input(links_pdf, sims_pdf)
    ref_out = ref.aggregates_mapping_results(
        ref_in.copy(), [o.lower() for o in ONTS], build_ont_data(lex_pdf), {}, 0.25
    ).set_index("CONCEPT_ID")

    keys = ref_in[["CONCEPT_ID"]].copy()
    base = spark.createDataFrame(
        [(k.rsplit(":", 1)[0], int(k.rsplit(":", 1)[1])) for k in keys["CONCEPT_ID"]],
        "conv_id string, turn_idx int",
    )
    ours = TS.turn_wide(spark, res, base=base)

    ref_t, our_t = TS.wide_triples(ref_out), TS.wide_triples(ours)
    tp = len(ref_t & our_t)
    precision = tp / len(our_t) if our_t else 1.0
    recall = tp / len(ref_t) if ref_t else 1.0

    # per-cell agreement on URI/MAPPING (triple-bearing) and EVIDENCE cells
    cell_cols = [f"{blk}_{ont}_{f}" for ont in ONTS
                 for blk in ("AGGREGATED", "SIMILARITY") for f in ("URI", "MAPPING")]
    evid_cols = [f"{blk}_{ont}_EVIDENCE" for ont in ONTS
                 for blk in ("AGGREGATED", "SIMILARITY")]

    def agreement(cols):
        total = same = 0
        for cid in ref_out.index:
            for c in cols:
                total += 1
                if TS.norm(ref_out.at[cid, c]) == TS.norm(ours.at[cid, c]):
                    same += 1
        return same / total if total else 1.0

    cats: dict[str, int] = {}
    for _, p, o in ref_t:
        if p.startswith("hasMappingCategory:AGGREGATED"):
            cats[o] = cats.get(o, 0) + 1

    out = {
        "sf_dir": sf_dir,
        "mode": "rich" if rich else "default",
        "n_keys": int(len(ref_in)),
        "ref_triples": len(ref_t),
        "our_triples": len(our_t),
        "true_positives": tp,
        "precision": round(precision, 6),
        "recall": round(recall, 6),
        "uri_mapping_cell_agreement": round(agreement(cell_cols), 6),
        "evidence_cell_agreement": round(agreement(evid_cols), 6),
        "aggregated_category_distribution": cats,
        "ours_only_sample": sorted(our_t - ref_t)[:5],
        "ref_only_sample": sorted(ref_t - our_t)[:5],
    }
    spark.stop()
    return out


def main_fixture(n_concepts: int, seed: int = TS.FIXTURE_SEED) -> dict:
    """Scaled randomized-fixture P/R: the differential suite's generator
    (all six mapping-category branches, dbxref/label/synonym/ancestor/
    similarity scenarios) grown from 48 to ``n_concepts`` concepts, both
    engines run, triple P/R reported. Complements the corpus-scale run —
    the synthetic transcripts corpus is category-degenerate (every linked
    turn maps 1 URI in 1 ontology), while this exercises the full branch
    matrix at scale."""
    from omop2obo_spark.session import get_spark

    mod, lex, concepts, links, sims = TS.fixture_inputs(n_concepts, seed)
    ref_in = mod._reference_wide_frame(concepts, links, sims)
    ref_out = mod.ref.aggregates_mapping_results(
        ref_in.copy(), [o.lower() for o in mod.ONTS], mod._ont_data(lex), {}, 0.25
    ).set_index("CONCEPT_ID")

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    ours = mod._spark_wide(spark, concepts, links, sims).set_index("CONCEPT_ID")

    ref_t, our_t = TS.wide_triples(ref_out), TS.wide_triples(ours)
    tp = len(ref_t & our_t)
    cats = {}
    for _, p, o in ref_t:
        if p.startswith("hasMappingCategory"):
            cats[o] = cats.get(o, 0) + 1
    out = {
        "mode": "fixture", "n_concepts": n_concepts,
        "ref_triples": len(ref_t), "our_triples": len(our_t),
        "true_positives": tp,
        "precision": round(tp / len(our_t), 6) if our_t else 1.0,
        "recall": round(tp / len(ref_t), 6) if ref_t else 1.0,
        "category_distribution": cats,
        "ours_only_sample": sorted(our_t - ref_t)[:5],
        "ref_only_sample": sorted(ref_t - our_t)[:5],
    }
    spark.stop()
    return out


if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if a != "--rich"]
    rich = "--rich" in sys.argv[1:]
    if argv and argv[0] == "--fixture":
        if len(argv) < 2 or not argv[1].isdigit():
            sys.exit("usage: pr_vs_reference.py [--rich] [sf_dir | --fixture N_CONCEPTS]")
        print(json.dumps(main_fixture(int(argv[1]))))
    else:
        sf = argv[0] if argv else "/root/testdata/sf0.01"
        print(json.dumps(main(sf, rich=rich)))
