"""Dump annotated physical plans for the flagship queries → BENCH/PLANS.md.

Regenerate after plan-shape changes:  python tools/dump_plans.py
The same shapes are ASSERTED in tests/test_plans.py; this file is the
human-readable evidence trail (what the optimizer actually chose and why
that is the plan we want at 100 TB).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query name → what a reviewer should notice in the plan
NOTES = {
    "q_kg_triples": (
        "Each mention is linked by ONE BroadcastHashJoin into the link "
        "dimension (every linking tier, built once, as a LocalTableScan: "
        "no job to build the broadcast side, no SortMergeJoin anywhere); "
        "the only wide exchanges are the per-mention compile groupBy and "
        "the final triple distinct — both keyed on high-cardinality, "
        "skew-free ids."
    ),
    "q_hierarchy_rollup": (
        "The ancestor closure joins as a broadcast (tiny dimension); the "
        "rollup aggregates partially before the single exchange on the "
        "low-cardinality class key."
    ),
    "q_pack_sequences": (
        "Exactly one exchange (hashpartitioning on bucket) feeding "
        "FlatMapGroupsInPandas — the sequential greedy pass is the only "
        "Python in the plan, Arrow-batched per bucket."
    ),
    "q_asof_join": (
        "Union + window over (key, ts) — ONE exchange; no range/nested-"
        "loop join appears even though the semantics are temporal."
    ),
    "q_hash_sample": (
        "The md5-threshold filter runs inside WholeStageCodegen on top of "
        "the parquet scan; column pruning reaches the reader (ReadSchema "
        "lists only the projected columns)."
    ),
    "q_paragraph_dedup": (
        "NO Window over the normalized-paragraph key (a corpus-wide "
        "footer would make it a one-partition straggler): the winner is a "
        "map-side-combined min(struct) HashAggregate, joined back on the "
        "skew-free (doc_id, idx) key; paragraph text rides only the final "
        "uniform reassembly exchange on doc_id."
    ),
    "q_contamination": (
        "The benchmark n-gram vocabulary builds inside a BroadcastExchange "
        "(dimension-sized by construction) and the corpus gram stream "
        "joins map-side — the only corpus-wide exchange is the per-doc "
        "aggregation; no SortMergeJoin."
    ),
    "q_embedding_dedup_lsh": (
        "Band self-join and candidate dedup exchange ONLY (band, id) "
        "rows — embeddings never ride the candidate shuffles; surviving "
        "unique pairs fetch each side's (vector, norm) by id join and pay "
        "a single dot-product HOF each (norms hoisted per vector)."
    ),
    "q_ann_quantized": (
        "Int8 quantization + cosine ranking stays entirely inside "
        "WholeStageCodegen native HOFs (no Python eval node anywhere); "
        "the query side broadcasts, the vector table is a single scan "
        "that never shuffles — at 100 TB this scan also reads 4x fewer "
        "bytes than the float path."
    ),
    "q_k_hop": (
        "Each BFS round is a BroadcastHashJoin of the edge table against "
        "the (small) frontier — the fact-scale edge table is never "
        "sort-merged or re-sorted per round; the visited set advances "
        "through localCheckpoint so lineage stays bounded at any k."
    ),
    "q_triple_diff": (
        "Two left-anti joins on the full (subj, pred, obj) key plus "
        "per-predicate counts with map-side partial aggregation "
        "(partial_count before each exchange) — the diff of two 100 TB "
        "graph builds moves only predicate-keyed count rows after the "
        "anti-join shuffles."
    ),
    "q_stratified_sample": (
        "Zero exchanges, zero joins: the rates map compiles into a CASE "
        "chain, the md5 bucket and sequence/explode all run inside "
        "WholeStageCodegen over the scan."
    ),
    "q_triple_validity": (
        "The transcript side is pruned to (conv_id, turn_idx, rel-seconds) "
        "before the turn-key join — the shuffle moves ids plus one bigint, "
        "never text (ReadSchema shows the 3-column projection); min/max/"
        "count partial-aggregate (partial_min/partial_max) before the "
        "single triple-key exchange."
    ),
    "q_triangles": (
        "Ordered-edge enumeration: two equi-joins (wedge + closing) and "
        "one left join for zero-triangle vertices — no CartesianProduct, "
        "no direction-doubled union before the wedge join; per-vertex "
        "counts partial-aggregate after the 3-corner explode."
    ),
    "q_set_similarity": (
        "The exact Jaccard self-join goes through the rare-prefix "
        "candidate join, not the full shingle co-occurrence: the shingle-"
        "frequency count is one token-vocab-scale exchange, the rank "
        "window is doc-bounded, and the verify join touches only "
        "candidate pairs."
    ),
    "q_communities": (
        "Each LPA round is one BroadcastHashJoin of the adjacency against "
        "the label vector plus a (node, label) count and a per-node "
        "row_number — the adjacency is never re-sorted; labels are the "
        "only moving table, localCheckpoint-ed per round."
    ),
}


def main() -> int:
    import __spark_entry__ as entry
    from omop2obo_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = dict(entry.queries())

    def kg_uncached(spark, sf_dir):
        # bypass entry's session cache (it localCheckpoints, which would
        # show a bare RDD scan here) so the full linking plan is visible
        from omop2obo_spark import fixtures as FX
        from omop2obo_spark.fixtures.generators import (
            transcripts_from_documents, vocab_map_dict,
        )
        from omop2obo_spark.plans.pipeline import run_pipeline

        res = run_pipeline(
            spark, transcripts_from_documents(spark, sf_dir),
            FX.lexicon_df(spark), vocab_map_dict(),
            mrconso=FX.mrconso_df(spark), mrsty=FX.mrsty_df(spark),
            ancestors=FX.ancestors_df(spark), with_similarity=False,
            persist=False,
        )
        return res.triples

    qs["q_kg_triples"] = kg_uncached

    def k_hop_unchecked(spark, sf_dir):
        # checkpoint=False so the per-round join shape is visible instead
        # of the final checkpoint scan; the edge table is materialized
        # first (as in production, where it is a stored graph table) so
        # the dossier shows the BFS rounds, not the upstream pipeline
        from omop2obo_spark.operators.hierarchy import entity_cooccurrence, k_hop

        # edges come from the entry registry's CACHED pipeline result, not
        # the deliberately-uncached kg_uncached above — the k_hop section
        # dumps the BFS rounds over a checkpointed edge table either way,
        # and reusing the cache avoids paying the full linking pipeline a
        # second time per dossier regeneration
        import __spark_entry__ as _entry

        edges = entity_cooccurrence(
            _entry._pipeline_result(spark, sf_dir).triples
        ).localCheckpoint(eager=True)
        from pyspark.sql import functions as F

        nodes = (
            edges.select(F.col("ent_a").alias("ent"))
            .union(edges.select(F.col("ent_b").alias("ent")))
            .distinct()
        )
        seeds = nodes.filter(F.col("ent").startswith("obo:MONDO_"))
        return k_hop(edges, seeds, k=2, checkpoint=False)

    qs["q_k_hop"] = k_hop_unchecked
    out = [
        "# PLANS — annotated physical plans of the flagship queries",
        "",
        f"Generated by `python tools/dump_plans.py` at `{SF_DIR}`; the same",
        "shapes are asserted in `tests/test_plans.py`.",
        "",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, SF_DIR)
        # execute THIS DataFrame's own queryExecution first: AQE finalizes
        # join strategies at runtime, so the executed plan below is the
        # FINAL adaptive plan (isFinalPlan=true), not the static candidate.
        # toLocalIterator streams partitions instead of materializing the
        # whole result on the driver (collect() at a larger SF_DIR OOMs) —
        # a separate action like a noop write would NOT finalize df's own
        # plan, so it must be consumed through the DataFrame itself.
        for _ in df.toLocalIterator():
            pass
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        if len(lines) > 100:
            lines = lines[:100] + [f"... ({len(plan.splitlines()) - 100} more lines)"]
        out += [f"## {name}", "", note, "", "```", *lines, "```", ""]
    spark.stop()
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
