"""The engine's comparable triple sets, and their pinned goldens.

Each set is what ``tools/pr_vs_reference.py`` compares with the
reference's own compile: the pipeline's links and similarity matches,
compiled at TURN granularity (the reference's CONCEPT_ID is the turn),
pivoted to the wide per-ontology layout and read back as
``(CONCEPT_ID, pred, obj)`` triples. The five pinned sets are

* ``default_sf0.001`` / ``default_sf0.01``: the flagship pipeline
  (``__spark_entry__._pipeline_result``, TF-IDF tier on);
* ``rich_sf0.001`` / ``rich_sf0.01``: rich corpus mode (two-label and
  family-history turns, context channels, cross-ontology overlay);
* ``fixture_3000``: the randomized differential fixture grown to 3,000
  concepts (direct link construction, compile only).

At round 5 each set equalled the reference's (P = R = 1.0), so a golden
carries that parity forward without a reference checkout. Goldens change
only in a change that is meant to change the triples.

Usage:
    python tools/triple_sets.py --check    # recompute, compare, print counts
    python tools/triple_sets.py --write    # regenerate tests/goldens/*.tsv.gz
"""

from __future__ import annotations

import gzip
import importlib.util
import io
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import SF_DIR  # noqa: E402

GOLDEN_DIR = os.path.join(ROOT, "tests", "goldens")
# the generated sf corpora sit side by side (TESTDATA.md); bench.py knows
# where its sf0.1 input is
TESTDATA = os.path.dirname(os.path.normpath(SF_DIR))
ONTS = ["HP", "MONDO"]
FIXTURE_SEED = 20260821
FIXTURE_CONCEPTS = 3000

# name -> (kind, argument)
SETS = {
    "default_sf0.001": ("default", "sf0.001"),
    "default_sf0.01": ("default", "sf0.01"),
    "rich_sf0.001": ("rich", "sf0.001"),
    "rich_sf0.01": ("rich", "sf0.01"),
    f"fixture_{FIXTURE_CONCEPTS}": ("fixture", FIXTURE_CONCEPTS),
}


def norm(v):
    import pandas as pd

    if v is None or (isinstance(v, float) and pd.isna(v)) or v == "":
        return None
    return v


def wide_triples(frame) -> set[tuple[str, str, str]]:
    """(key, pred, obj) set from a wide frame indexed by CONCEPT_ID — same
    extraction as
    tests/test_reference_differential.py::test_triple_pr_vs_reference_code."""
    out = set()
    for cid in frame.index:
        for ont in ONTS:
            for blk, pred in (("AGGREGATED", "hasExactMapping"),
                              ("SIMILARITY", "hasSimilarityMapping")):
                uris = norm(frame.at[cid, f"{blk}_{ont}_URI"])
                cat = norm(frame.at[cid, f"{blk}_{ont}_MAPPING"])
                if uris:
                    for u in uris.split(" | "):
                        out.add((cid, pred, u.split("/")[-1]))
                if cat:
                    out.add((cid, "hasMappingCategory:" + blk + ":" + ont, cat))
    return out


def corpus_result(spark, sf_dir: str, rich: bool = False):
    """The pipeline run behind a corpus set (default or rich mode)."""
    if not rich:
        import __spark_entry__ as entry

        return entry._pipeline_result(spark, sf_dir, with_similarity=True)
    # rich corpus mode: two-label turns (multi-concept keys) + the
    # cross-ontology ancestor overlay, so ALL FOUR AGGREGATED category
    # branches (Exact/Constructor x Concept/Ancestor) fire end-to-end
    # through mention detection. The flagship text/oracle is untouched —
    # this path builds its own pipeline run.
    from omop2obo_spark import fixtures as FX
    from omop2obo_spark.fixtures import lexicon_data as LD
    from omop2obo_spark.fixtures.generators import (
        transcripts_from_documents,
        vocab_map_dict,
    )
    from omop2obo_spark.plans.pipeline import run_pipeline

    transcripts = transcripts_from_documents(spark, sf_dir, rich_mentions=True)
    ancestors = FX.ancestors_df(spark).unionByName(
        spark.createDataFrame(LD.cross_ontology_overlay(), "uri string, ancestor_uri string")
    )
    return run_pipeline(
        spark, transcripts, FX.lexicon_df(spark), vocab_map_dict(),
        mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
        ancestors=ancestors, with_similarity=True, dims=FX.cached_dims(spark),
        context_channels=True,
    )


def turn_wide(spark, res, base=None):
    """``res``'s links and matches compiled per TURN, as a wide pandas
    frame indexed by CONCEPT_ID (``conv_id:turn_idx``).

    Turn granularity is the reference's: its CONCEPT_ID is the turn, so a
    multi-mention turn aggregates ALL its links/sims into one evidence set
    (compile_mappings is generic over key_cols — the pipeline's own
    mention-level compile serves the triple graph, this turn-level pass
    serves reference parity). ``base`` (conv_id, turn_idx) adds rows for
    keys with no mapping.
    """
    from omop2obo_spark import fixtures as FX
    from omop2obo_spark.operators.compile import compile_mappings, wide_mapping_layout

    keys = ["conv_id", "turn_idx"]
    mappings = compile_mappings(
        res.exact_links, res.sim_matches, FX.cached_dims(spark).labels, keys, 0.25
    )
    ours = wide_mapping_layout(mappings, keys, ONTS, base=base).toPandas()
    ours["CONCEPT_ID"] = ours["conv_id"] + ":" + ours["turn_idx"].astype(str)
    return ours.set_index("CONCEPT_ID")


def differential_module():
    """tests/test_reference_differential.py as a module: the randomized
    fixture generator. It imports without the reference checkout."""
    spec = importlib.util.spec_from_file_location(
        "ref_diff", os.path.join(ROOT, "tests", "test_reference_differential.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixture_inputs(n_concepts: int, seed: int = FIXTURE_SEED):
    """(module, lexicon, concepts, links, sims) of the scaled fixture."""
    mod = differential_module()
    rng = random.Random(seed)
    lex = mod._make_lexicon(rng)
    concepts, links, sims = mod._make_concepts(rng, lex, n=n_concepts)
    return mod, lex, concepts, links, sims


def triple_set(spark, name: str) -> set[tuple[str, str, str]]:
    """Recompute the named set of :data:`SETS`."""
    kind, arg = SETS[name]
    if kind == "fixture":
        mod, _lex, concepts, links, sims = fixture_inputs(arg)
        return wide_triples(mod._spark_wide(spark, concepts, links, sims).set_index("CONCEPT_ID"))
    res = corpus_result(spark, os.path.join(TESTDATA, arg), rich=kind == "rich")
    return wide_triples(turn_wide(spark, res))


def aggregated_categories(triples) -> dict[str, int]:
    cats: dict[str, int] = {}
    for _, p, o in triples:
        if p.startswith("hasMappingCategory:AGGREGATED"):
            cats[o] = cats.get(o, 0) + 1
    return cats


def golden_path(name: str) -> str:
    return os.path.join(GOLDEN_DIR, f"{name}.tsv.gz")


def encode(triples) -> bytes:
    """Sorted tab-separated lines, gzipped with a fixed header (mtime 0,
    no file name) so the same set always gives the same bytes."""
    text = "".join("\t".join(t) + "\n" for t in sorted(triples)).encode()
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0, filename="") as gz:
        gz.write(text)
    return buf.getvalue()


def read_golden(name: str) -> set[tuple[str, str, str]]:
    with gzip.open(golden_path(name), "rt") as f:
        return {tuple(line.rstrip("\n").split("\t")) for line in f}


def main(argv: list[str]) -> int:
    from omop2obo_spark.session import get_spark

    if len(argv) != 1 or argv[0] not in ("--check", "--write"):
        sys.exit("usage: triple_sets.py --check | --write")
    write = argv[0] == "--write"
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    ok = True
    for name in SETS:
        got = triple_set(spark, name)
        line = {"set": name, "triples": len(got),
                "aggregated_categories": aggregated_categories(got)}
        if write:
            os.makedirs(GOLDEN_DIR, exist_ok=True)
            with open(golden_path(name), "wb") as f:
                f.write(encode(got))
        else:
            want = read_golden(name)
            line["equal"] = got == want
            line["missing"] = len(want - got)
            line["extra"] = len(got - want)
            ok = ok and line["equal"]
        print(json.dumps(line), flush=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
