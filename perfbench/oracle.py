"""Output check: every run's sink against the DuckDB replay of the pipeline.

``fixtures/kg_oracle.py`` re-states ``run_pipeline(...).triples`` over
``transcripts_from_documents`` in SQL. It runs here over the same
``documents`` table the job reads, and each run's ``GraphSink`` output is
compared with it as a set of ``(subj, pred, obj)``.
"""

from __future__ import annotations

import glob
import os

import duckdb

from omop2obo_spark.config import PRED_MENTION_OF, PRED_SEMTYPE


class Oracle:
    def __init__(self, docs_dir: str, include_sim: bool):
        from omop2obo_spark.fixtures.kg_oracle import kg_triples_sql

        self.con = duckdb.connect()
        self.con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        self.con.execute("SET memory_limit='2GB'")
        self.con.execute("SET preserve_insertion_order=false")
        self.con.execute(f"SET temp_directory='{os.path.join(os.path.dirname(docs_dir), 'duckdb-tmp')}'")
        path = os.path.join(docs_dir, "documents.parquet")
        self.con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(
            "CREATE TABLE expected AS SELECT DISTINCT subj, pred, obj FROM ("
            + kg_triples_sql(include_sim=include_sim) + ")")
        self.size = self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def load_sink(self, name: str, triples_dir: str) -> tuple[int, int, int]:
        """Load a sink as table ``name``; returns (rows, files, bytes)."""
        files = sorted(glob.glob(os.path.join(triples_dir, "part_id=*", "*.parquet")))
        if not files:
            self.con.execute(f"CREATE OR REPLACE TABLE {name} "
                             "(subj VARCHAR, pred VARCHAR, obj VARCHAR)")
            return 0, 0, 0
        listed = ", ".join(f"'{f}'" for f in files)
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS "
                         f"SELECT subj, pred, obj FROM read_parquet([{listed}])")
        rows = self.con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        return rows, len(files), sum(os.path.getsize(f) for f in files)

    def sym_diff(self, a: str, b: str) -> int:
        return self.con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT SELECT * FROM {b}))"
            f" + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT SELECT * FROM {a}))"
        ).fetchone()[0]

    def mention_stats(self, name: str) -> dict:
        """Mentions by kind, and the mapping-family triples."""
        total, code, term = self.con.execute(f"""
            SELECT count(*), count(*) FILTER (WHERE subj LIKE '%:code:%'),
                   count(*) FILTER (WHERE subj LIKE '%:term:%')
            FROM {name} WHERE pred = '{PRED_MENTION_OF}'""").fetchone()
        mapping = self.con.execute(
            f"SELECT count(*) FROM {name} WHERE pred NOT IN ('{PRED_MENTION_OF}', '{PRED_SEMTYPE}')"
        ).fetchone()[0]
        return {"mentions": total, "code_mentions": code, "term_mentions": term,
                "mapping_triples": mapping}


def check_reps(oracle: Oracle, reps: list[dict], expected_turns: int, turns_in: int) -> dict:
    """Compare every rep's sink with the oracle (and, when several batch
    layouts ran, the layouts with each other)."""
    per_rep = []
    for r in reps:
        name = f"rep{r['rep']}"
        rows, files, nbytes = oracle.load_sink(name, r["sink"])
        per_rep.append({"rep": r["rep"], "rows": rows, "files": files, "bytes": nbytes,
                        "triple_diff": oracle.sym_diff(name, "expected"),
                        "stats": oracle.mention_stats(name)})
    layouts = {}
    for r in reps:
        layouts.setdefault(r["batch_partitions"], f"rep{r['rep']}")
    names = list(layouts.values())
    layout_diff = sum(oracle.sym_diff(names[0], n) for n in names[1:])
    triple_diff = max(p["triple_diff"] for p in per_rep)
    summary = {"triple_diff": triple_diff, "turns_as_stated": turns_in == expected_turns}
    if len(names) > 1:
        summary["layout_triple_diff"] = layout_diff
    return {
        "correct": triple_diff == 0 and layout_diff == 0 and turns_in == expected_turns,
        "per_rep": per_rep, "summary": summary,
    }
