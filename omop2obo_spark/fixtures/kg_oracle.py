"""DuckDB-SQL mirror of the full transcripts→triples pipeline.

Builds ONE self-contained SQL string that reproduces, stage by stage, what
``plans.pipeline.run_pipeline(..., with_similarity=False)`` emits over
``transcripts_from_documents``:

    documents → deterministic transcripts → code/term mention detection →
    code normalization → UMLS double-merge annotate → dbxref + ananke +
    exact-string linking → ancestor expansion → canonicalization (ordered
    first-occurrence concat, category, formatted evidence) → triples.

Dimension tables (lexicon strings/dbxrefs/labels, ancestor closure,
prepared MRCONSO, MRSTY) are tiny and deterministic, so they are
precomputed HERE in Python — with the same semantics as the Spark
operators (`operators/linking.py`) — and inlined as VALUES. Fact-side
transforms (tokenization, span generation, source-code normalization)
are expressed in portable SQL.

This is the correctness oracle for the flagship `q_kg_triples` query: the
driver executes it in DuckDB and hash-compares against the Spark result.
Reference semantics mirrored throughout are cited in the Spark operators;
this module only re-states them in SQL.
"""

from __future__ import annotations

import re

from omop2obo_spark.fixtures import lexicon_data as L
from omop2obo_spark.fixtures.generators import portable_hash_sql, vocab_map_dict

# ---------------------------------------------------------------------------
# Python replicas of the dimension-side transforms (dims are literal and
# tiny — the reference also preprocesses its lexicons offline)
# ---------------------------------------------------------------------------


def py_normalize_code(code: str, vm: dict[str, str]) -> str | None:
    """Python replica of functions.normalize.normalize_source_codes
    (reference: data_utils.py:236-275) for dimension prep."""
    pat = "[_:|/]" if ("http" in code and "_" in code) else "[:|/]"
    segs = [x for x in re.split(pat, code) if x != ""]
    if not segs:
        return None
    seg = segs[-1]
    stripped = code.rstrip(seg)  # char-set strip, same as the Spark regex
    prefix = stripped[:-1] if stripped else ""
    prefix = vm.get(prefix, prefix)
    return f"{prefix}:{seg.lower()}"


def prepared_mrconso() -> list[tuple[str, str, str]]:
    """Replica of operators.linking.prepare_mrconso over the fixture rows:
    (CUI, SAB, normalized CODE)."""
    vm = vocab_map_dict()
    seen = set()
    out = []
    for cui, lang, sab, code in L.MRCONSO_ROWS:
        if code == "NOCODE" or lang != "ENG" or (cui, sab, code) in seen:
            continue
        seen.add((cui, sab, code))
        c = f"{sab}:{code.lower()}"
        parts = c.split(":")
        if len(parts) > 2:
            c = ":".join(parts[1:])
        out.append((cui, sab, py_normalize_code(c, vm)))
    return out


def dim_rows() -> dict[str, list[tuple]]:
    """All inline dimensions, with LexiconDims' deterministic resolution."""
    vm = vocab_map_dict()
    labels: dict[str, str] = {}
    strings: dict[tuple[str, str, str], str | None] = {}
    dbxref: dict[tuple[str, str], tuple[str, str]] = {}
    for ont, sid, label, _definition, syns, dbxs, _anc in L.CONCEPTS:
        uri = L.OBO + sid
        lab = label.lower()
        labels[uri] = max(labels.get(uri, lab), lab)
        k = (lab, uri, "label")
        strings.setdefault(k, None)
        for syn, styp in syns:
            k = (syn.lower(), uri, "synonym")
            prev = strings.get(k)
            strings[k] = styp if prev is None else max(prev, styp)
        for code, dtyp in dbxs:
            nk = (py_normalize_code(code, vm), uri)
            prev = dbxref.get(nk)
            cand = (dtyp, code)
            dbxref[nk] = cand if prev is None else max(prev, cand)

    # transitive ancestor closure — the same shared builder the Spark
    # fixture table uses (lexicon_data.closure_pairs)
    closure = L.closure_pairs()

    return {
        "labels": sorted(labels.items()),
        "strings": sorted((c, u, k, t) for (c, u, k), t in strings.items()),
        "dbxref": sorted((c, u, t) for (c, u), (t, _raw) in dbxref.items()),
        "closure": sorted(closure),
        "mrconso": prepared_mrconso(),
        "mrsty": list(L.MRSTY_ROWS),
    }


# ---------------------------------------------------------------------------
# SQL assembly
# ---------------------------------------------------------------------------


def _q(v) -> str:
    if v is None:
        return "NULL"
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows, alias: str, cols: list[str]) -> str:
    body = ", ".join("(" + ", ".join(_q(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS {alias}({', '.join(cols)})"


def _vocab_case(expr: str) -> str:
    """CASE mapping a prefix through the vocab map (alias → canonical)."""
    vm = vocab_map_dict()
    whens = " ".join(f"WHEN {_q(a)} THEN {_q(p)}" for a, p in sorted(vm.items()))
    return f"(CASE {expr} {whens} ELSE {expr} END)"


def _arr(values: list[str]) -> str:
    return "[" + ", ".join(_q(v) for v in values) + "]"


def _normalize_sql(raw: str) -> str:
    """SQL replica of normalize_source_codes over column expr ``raw``
    (expects the caller to wrap in a subquery exposing ``{raw}`` once)."""
    seg = (
        f"CASE WHEN contains({raw}, 'http') AND contains({raw}, '_') "
        f"THEN list_filter(string_split_regex({raw}, '[_:|/]'), x -> x <> '')[-1] "
        f"ELSE list_filter(string_split_regex({raw}, '[:|/]'), x -> x <> '')[-1] END"
    )
    return seg


def _sim_tier_ctes() -> str:
    """CTE block replaying the TF-IDF similarity tier over UNLINKED turns
    (pipeline stage 2e + compile_similarity_mappings), reusing the
    sim_oracle building blocks: ontology gram tf/df inlined, query-side
    preprocessing + factorized cosine in SQL. Produces ``s_mappings``
    (conv_id, turn_idx, mention_id, ont_type, sim_uri, sim_label,
    sim_evidence, sim_category)."""
    # all shared pieces come from sim_oracle's builders: the ontology-side
    # TF/DF VALUES, the preprocessing chain, and the span enumeration are
    # ONE definition across the standalone and integrated sim oracles
    from omop2obo_spark.fixtures.sim_oracle import (
        ont_tf_df_values,
        preprocess_toks_sql,
        span_branches_sql,
    )

    ont_tf_v, ont_df_v, n_ont = ont_tf_df_values()
    span_branches = span_branches_sql("s_dd", alias_prefix="su")

    return f""",
s_q AS (
    SELECT conv_id, turn_idx,
           conv_id || ':' || turn_idx::VARCHAR || ':sim:0' AS mention_id,
           {preprocess_toks_sql("text")} AS toks
    FROM tr
),
s_q2 AS MATERIALIZED (SELECT * FROM s_q WHERE len(toks) > 0),
s_dd AS MATERIALIZED (SELECT DISTINCT toks FROM s_q2),
s_nq AS (SELECT count(*) AS n FROM s_dd),
s_spans AS (
{span_branches}
),
s_dgrams AS MATERIALIZED (SELECT toks, gram, count(*) AS tf FROM s_spans GROUP BY toks, gram),
s_qdf AS (
    SELECT gram, count(*) AS dfq
    FROM (SELECT DISTINCT toks, gram FROM s_dgrams) GROUP BY gram
),
s_ont_tf AS (SELECT * FROM (VALUES {ont_tf_v}) AS t(rid, sid, gram, tf)),
s_ont_df AS (SELECT * FROM (VALUES {ont_df_v}) AS t(gram, dfo)),
s_alldf AS (
    SELECT coalesce(q.gram, o.gram) AS gram,
           coalesce(q.dfq, 0) + coalesce(o.dfo, 0) AS df
    FROM s_qdf q FULL OUTER JOIN s_ont_df o ON q.gram = o.gram
),
s_idf AS MATERIALIZED (
    SELECT gram, ln((1.0 + s_nq.n + {n_ont}) / (1.0 + df)) + 1.0 AS idf
    FROM s_alldf, s_nq
),
s_ovec AS MATERIALIZED (
    SELECT o.rid, o.sid, o.gram, o.tf * s_idf.idf AS w
    FROM s_ont_tf o JOIN s_idf USING (gram)
),
s_onorm AS (SELECT rid, sqrt(sum(w * w)) AS nrm FROM s_ovec GROUP BY rid),
s_linked AS (SELECT DISTINCT conv_id, turn_idx FROM all_links),
s_unl AS (
    SELECT q.* FROM s_q2 q
    LEFT JOIN s_linked lt USING (conv_id, turn_idx)
    WHERE lt.conv_id IS NULL
),
s_qvec AS MATERIALIZED (
    SELECT u.mention_id, g.gram, g.tf * s_idf.idf AS w
    FROM s_unl u JOIN s_dgrams g USING (toks) JOIN s_idf USING (gram)
),
s_qn AS (SELECT mention_id, sqrt(sum(w * w)) AS nrm FROM s_qvec GROUP BY mention_id),
s_dots AS (
    SELECT q.mention_id, o.rid, o.sid, sum(q.w * o.w) AS dp
    FROM s_qvec q JOIN s_ovec o USING (gram)
    GROUP BY q.mention_id, o.rid, o.sid
),
s_scored AS MATERIALIZED (
    SELECT d.mention_id, d.rid, d.sid,
           round(d.dp / (s_qn.nrm * s_onorm.nrm), 9) AS score
    FROM s_dots d JOIN s_qn USING (mention_id) JOIN s_onorm USING (rid)
),
s_topk AS (
    SELECT mention_id, sid, score FROM (
        SELECT *, row_number() OVER (PARTITION BY mention_id
                       ORDER BY score DESC, rid ASC) AS rk
        FROM s_scored
    ) WHERE rk <= 10 AND score >= 0.25
),
s_peruri AS MATERIALIZED (
    SELECT mention_id, sid, max(score) AS score
    FROM s_topk GROUP BY mention_id, sid
),
s_pct AS (
    SELECT mention_id, quantile_cont(score, 0.75) AS p
    FROM s_peruri GROUP BY mention_id
),
s_kept AS (
    SELECT u.mention_id, u.sid, round(u.score, 3) AS score
    FROM s_peruri u JOIN s_pct USING (mention_id)
    WHERE u.score >= s_pct.p
),
s_ranked AS MATERIALIZED (
    SELECT mention_id, sid, score,
           row_number() OVER (PARTITION BY mention_id
                              ORDER BY score DESC, sid ASC) AS rank
    FROM s_kept
),
-- compile_similarity_mappings: group by (mention, ont), 1.0 short-circuit,
-- ordered first-occurrence concat, category
s_rows AS (
    SELECT string_split(mention_id, ':')[1] AS conv_id,
           string_split(mention_id, ':')[2]::INT AS turn_idx,
           mention_id,
           string_split(sid, '_')[1] AS ont_type,
           sid, score, rank,
           coalesce(lab.label, sid) AS label,
           'CONCEPT_SIMILARITY:' || sid || '_' || round(score, 3)::VARCHAR AS evid
    FROM s_ranked
    LEFT JOIN (SELECT string_split(uri, '/')[-1] AS lsid, label FROM {{LABELS_V}}) lab
      ON s_ranked.sid = lab.lsid
),
s_grp AS (
    SELECT *, max(score) OVER (PARTITION BY mention_id, ont_type) AS mx,
           row_number() OVER (PARTITION BY mention_id, ont_type
                              ORDER BY rank, sid) AS rn
    FROM s_rows
),
s_keptg AS MATERIALIZED (
    SELECT * FROM s_grp
    WHERE CASE WHEN mx = 1.0 THEN score = 1.0
               WHEN mx >= 0.25 THEN score >= 0.25
               ELSE TRUE END
),
s_agg_uri AS (
    SELECT conv_id, turn_idx, mention_id, ont_type,
           string_agg(v, ' | ' ORDER BY fo) AS sim_uri
    FROM (SELECT conv_id, turn_idx, mention_id, ont_type, sid AS v, min(rn) AS fo
          FROM s_keptg WHERE sid IS NOT NULL AND sid <> '' GROUP BY 1, 2, 3, 4, 5)
    GROUP BY 1, 2, 3, 4
),
s_agg_label AS (
    SELECT conv_id, turn_idx, mention_id, ont_type,
           string_agg(v, ' | ' ORDER BY fo) AS sim_label
    FROM (SELECT conv_id, turn_idx, mention_id, ont_type, label AS v, min(rn) AS fo
          FROM s_keptg WHERE label IS NOT NULL AND label <> '' GROUP BY 1, 2, 3, 4, 5)
    GROUP BY 1, 2, 3, 4
),
s_agg_ev AS (
    SELECT conv_id, turn_idx, mention_id, ont_type,
           string_agg(v, ' | ' ORDER BY fo) AS sim_evidence
    FROM (SELECT conv_id, turn_idx, mention_id, ont_type, evid AS v, min(rn) AS fo
          FROM s_keptg WHERE evid IS NOT NULL AND evid <> '' GROUP BY 1, 2, 3, 4, 5)
    GROUP BY 1, 2, 3, 4
),
s_meta AS (
    SELECT conv_id, turn_idx, mention_id, ont_type, count(*) AS n_kept
    FROM s_keptg GROUP BY 1, 2, 3, 4
),
s_mappings AS MATERIALIZED (
    SELECT m.conv_id, m.turn_idx, m.mention_id, m.ont_type,
           u.sim_uri, l.sim_label, e.sim_evidence,
           CASE WHEN m.n_kept > 1 THEN 'Automatic Constructor - Concept'
                ELSE 'Manual Exact - Concept Similarity' END AS sim_category
    FROM s_meta m
    JOIN s_agg_uri u USING (conv_id, turn_idx, mention_id, ont_type)
    LEFT JOIN s_agg_label l USING (conv_id, turn_idx, mention_id, ont_type)
    LEFT JOIN s_agg_ev e USING (conv_id, turn_idx, mention_id, ont_type)
)"""


def kg_triples_sql(
    include_sim: bool = False,
    final_select: str | None = None,
    recursive: bool = False,
) -> str:
    """The full pipeline oracle: DuckDB SQL producing
    (conv_id, turn_idx, subj, pred, obj) — same rows as
    run_pipeline(...).triples over transcripts_from_documents.
    ``include_sim=True`` adds the TF-IDF similarity tier over unlinked
    turns (with_similarity=True semantics). ``final_select`` overrides the
    terminal SELECT (default: the triple union) so other oracles — e.g.
    the wide mapping layout — can reuse the full CTE pipeline."""
    dims = dim_rows()
    labels_v = _values(dims["labels"], "labdim", ["uri", "label"])
    strings_v = _values(dims["strings"], "strdim", ["code", "uri", "kind", "syn_type"])
    dbx_v = _values(dims["dbxref"], "dbxdim", ["code", "uri", "dbx_type"])
    closure_v = _values(dims["closure"], "closure", ["curi", "ancestor_uri"])
    mrconso_v = _values(dims["mrconso"], "mr", ["cui", "sab", "ucode"])
    mrsty_v = _values(dims["mrsty"], "styv", ["cui", "sty"])

    labels_arr = _arr([c[2].lower() for c in L.CONCEPTS])
    codes_arr = _arr([d.lower() for c in L.CONCEPTS for (d, _t) in c[5]])
    near_arr = _arr(L.near_miss_labels())
    n_lab = len(L.CONCEPTS)
    n_code = sum(len(c[5]) for c in L.CONCEPTS)
    n_near = sum(1 for c in L.CONCEPTS if " " in c[2])
    ont_keys = sorted({c[0] for c in L.CONCEPTS})
    ont_in = ", ".join(_q(o) for o in ont_keys)

    ph42 = portable_hash_sql("doc_id", "i", 42)
    ph1 = portable_hash_sql("doc_id", "i", 1)
    ph2 = portable_hash_sql("doc_id", "i", 2)
    ph3 = portable_hash_sql("doc_id", "i", 3)

    if include_sim:
        sim_triple_ctes = _sim_tier_ctes().replace("{LABELS_V}", labels_v) + """,
s_uri_triples AS (
    SELECT conv_id, turn_idx, 'transcript:' || mention_id AS subj,
           CASE WHEN starts_with(sim_category, 'Automatic Constructor')
                THEN 'omop2obo:hasConstructorMapping'
                ELSE 'omop2obo:hasSimilarityMapping' END AS pred,
           'obo:' || u AS obj
    FROM s_mappings, UNNEST(string_split(sim_uri, ' | ')) AS stu(u)
    WHERE sim_uri IS NOT NULL AND sim_uri <> ''
),
s_meta_triples AS (
    SELECT conv_id, turn_idx, 'transcript:' || mention_id AS subj,
           'omop2obo:hasMappingCategory' AS pred, sim_category AS obj
    FROM s_mappings WHERE sim_uri IS NOT NULL AND sim_uri <> ''
    UNION ALL
    SELECT conv_id, turn_idx, 'transcript:' || mention_id,
           'omop2obo:hasEvidence', sim_evidence
    FROM s_mappings WHERE sim_uri IS NOT NULL AND sim_uri <> ''
)"""
        sim_triple_parts = (
            "\n    UNION ALL SELECT * FROM s_uri_triples"
            "\n    UNION ALL SELECT * FROM s_meta_triples"
        )
    else:
        sim_triple_ctes = ""
        sim_triple_parts = ""

    # term-mention n-gram spans, n = 1..4 (config.MAX_TERM_TOKENS)
    span_branches = "\n        UNION ALL\n".join(
        f"""        SELECT conv_id, turn_idx, i - 1 AS pos, {n} AS len,
               array_to_string(t[i:i+{n - 1}], ' ') AS surface
        FROM ttoks, UNNEST(range(1, greatest(len(t) - {n} + 2, 1))) AS u{n}(i)
        WHERE len(t) >= {n}"""
        for n in range(1, 5)
    )

    norm_seg = _normalize_sql("surface")
    uri_short = "string_split(uri, '/')[-1]"

    def ont_type_of(col: str) -> str:
        return f"string_split(string_split({col}, '/')[-1], '_')[1]"

    with_kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
{with_kw}
-- stage 0: deterministic transcripts from documents (generators.transcripts_from_documents)
doctoks AS (
    SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents
),
tr AS MATERIALIZED (
    SELECT printf('conv_%08d', doc_id) AS conv_id,
           i::INT AS turn_idx,
           CASE WHEN ({ph42}) % 10 = 4
                THEN 'patient note ' || ({near_arr})[(({ph3}) % {n_near}) + 1]
                ELSE array_to_string(t[i*12+1 : i*12+12], ' ') ||
                     CASE WHEN ({ph42}) % 10 <= 2
                          THEN ' patient reported ' || ({labels_arr})[(({ph1}) % {n_lab}) + 1]
                          WHEN ({ph42}) % 10 = 3
                          THEN ' coded as ' || ({codes_arr})[(({ph2}) % {n_code}) + 1]
                          ELSE '' END
           END AS text
    FROM doctoks, UNNEST(range(0, greatest(len(t) // 12, 1))) AS u(i)
),
-- stage 1a: code mentions (plans.mention.detect_code_mentions)
code_mentions AS MATERIALIZED (
    SELECT conv_id, turn_idx,
           conv_id || ':' || turn_idx::VARCHAR || ':code:' || (i - 1)::VARCHAR AS mention_id,
           arr[i] AS surface
    FROM (
        -- KNOWN LATENT DIVERGENCE on non-ASCII text: DuckDB's RE2 \\b is
        -- ASCII-only while Spark's Java \\b is unicode-aware, so e.g.
        -- 'médecin:paris' would yield 'decin:paris' here but nothing in
        -- Spark. The generated transcripts are ASCII by construction
        -- (documents fixture text), so the two sides agree on every
        -- input this oracle is run against; revisit if the generator
        -- ever injects non-ASCII.
        SELECT conv_id, turn_idx,
               regexp_extract_all(lower(text), '\\b([a-z][a-z0-9_.\\-]*:[a-z0-9][a-z0-9.\\-]*)', 1) AS arr
        FROM tr
    ), UNNEST(range(1, len(arr) + 1)) AS uc(i)
),
-- stage 1b: term mentions (detect_term_mentions: spans + dict join + longest-match-wins)
ttoks AS (
    SELECT conv_id, turn_idx,
           list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS t
    FROM tr
),
spans AS (
{span_branches}
),
tmatched AS MATERIALIZED (
    SELECT s.conv_id, s.turn_idx, s.pos, s.len, s.surface
    FROM spans s JOIN (SELECT DISTINCT code AS surface FROM {strings_v}) d
      ON s.surface = d.surface
),
tkept AS (
    SELECT a.* FROM tmatched a
    WHERE NOT EXISTS (
        SELECT 1 FROM tmatched b
        WHERE b.conv_id = a.conv_id AND b.turn_idx = a.turn_idx
          AND b.pos <= a.pos AND b.pos + b.len >= a.pos + a.len AND b.len > a.len
    )
),
term_mentions AS MATERIALIZED (
    SELECT conv_id, turn_idx,
           conv_id || ':' || turn_idx::VARCHAR || ':term:' || pos::VARCHAR AS mention_id,
           surface
    FROM tkept
),
-- stage 2a: normalize + stack code mentions. The normalized code is the
-- pipeline's link key; the stacking is operators.linking.build_link_dim's,
-- replayed here per mention (2a-2d: the link dimension's tiers)
codenorm AS (
    SELECT conv_id, turn_idx, mention_id, surface,
           CASE WHEN seg IS NULL THEN NULL
                ELSE {_vocab_case("substr(rtrim(surface, seg), 1, greatest(length(rtrim(surface, seg)) - 1, 0))")}
                     || ':' || lower(seg) END AS code
    FROM (SELECT *, {norm_seg} AS seg FROM code_mentions)
),
stack0 AS (
    SELECT conv_id, turn_idx, mention_id, code, 'TURN_CODE' AS code_column, 0 AS src_rank
    FROM codenorm WHERE code IS NOT NULL
    UNION ALL
    SELECT conv_id, turn_idx, mention_id, upper(string_split(code, ':')[-1]), 'UMLS_CUI', 1
    FROM codenorm WHERE code LIKE 'umls:c%'
),
-- stage 2b: UMLS double-merge annotate (operators.linking.umls_annotate)
ids AS (
    SELECT DISTINCT conv_id, turn_idx, mention_id, code
    FROM stack0 WHERE code_column = 'TURN_CODE'
),
m1 AS (
    SELECT ids.conv_id, ids.turn_idx, ids.mention_id, ids.code, mr.cui, mr.sab, mr.ucode
    FROM ids JOIN {mrconso_v} ON ids.code = mr.ucode
),
m2 AS (
    SELECT m1.conv_id, m1.turn_idx, m1.mention_id, m1.code, mr.cui, mr.sab, mr.ucode
    FROM m1 JOIN {mrconso_v} ON m1.cui = mr.cui
),
umls_map AS MATERIALIZED (
    SELECT DISTINCT m.conv_id, m.turn_idx, m.mention_id, m.code, m.cui, m.sab, m.ucode, styv.sty AS sem
    FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2) m
    LEFT JOIN {mrsty_v} ON m.cui = styv.cui
),
stack AS MATERIALIZED (
    SELECT conv_id, turn_idx, mention_id, code, code_column, min(src_rank) AS src_rank
    FROM (
        SELECT * FROM stack0
        UNION ALL
        SELECT conv_id, turn_idx, mention_id, ucode, 'UMLS_CODE', 2 FROM umls_map WHERE ucode IS NOT NULL
        UNION ALL
        SELECT conv_id, turn_idx, mention_id, cui, 'UMLS_CUI', 3 FROM umls_map
    )
    GROUP BY 1, 2, 3, 4, 5
),
-- semantic-type ordered first-occurrence concat (ordered_concat_agg)
sem_rows AS (
    SELECT DISTINCT conv_id, turn_idx, mention_id, cui, sem
    FROM umls_map WHERE sem IS NOT NULL AND sem <> ''
),
sem_rn AS (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, mention_id ORDER BY cui, sem) AS rn
    FROM sem_rows
),
semagg AS (
    SELECT conv_id, turn_idx, mention_id, string_agg(sem, ' | ' ORDER BY fo) AS semstr
    FROM (
        SELECT conv_id, turn_idx, mention_id, sem, min(rn) AS fo
        FROM sem_rn GROUP BY 1, 2, 3, 4
    )
    GROUP BY 1, 2, 3
),
-- stage 2c: dbxref tier (direct + ananke) — operators.linking.dbxref_link
dbx_direct AS (
    SELECT s.conv_id, s.turn_idx, s.mention_id, s.code, s.code_column, s.src_rank,
           0 AS tier_rank, dbxdim.uri, coalesce(dbxdim.dbx_type, 'DbXref') AS match_subtype
    FROM stack s JOIN {dbx_v} ON s.code = dbxdim.code
),
ontside AS (
    SELECT DISTINCT lower(replace(string_split(uri, '/')[-1], '_', ':')) AS ont_code, uri
    FROM (SELECT dbxdim.uri AS uri FROM {dbx_v})
),
ananke AS (
    SELECT DISTINCT s.conv_id, s.turn_idx, s.mention_id,
           'umls:' || uo.cui AS code, s.code_column, s.src_rank,
           1 AS tier_rank, os.uri, 'DbXref' AS match_subtype
    FROM stack s
    JOIN (SELECT cui, ucode FROM {mrconso_v} WHERE string_split(ucode, ':')[1] IN ({ont_in})) uo
      ON s.code = uo.cui
    JOIN ontside os ON uo.ucode = os.ont_code
),
dbx_links AS (
    SELECT DISTINCT b.conv_id, b.turn_idx, b.mention_id, b.code, b.code_column,
           b.uri, {ont_type_of("b.uri")} AS ont_type, labdim.label,
           'CONCEPT_DBXREF_' || b.code AS evidence,
           'dbxref' AS match_kind, b.match_subtype, b.src_rank, b.tier_rank
    FROM (SELECT * FROM dbx_direct UNION ALL SELECT * FROM ananke) b
    LEFT JOIN {labels_v} ON b.uri = labdim.uri
),
-- stage 2d: exact string tier — operators.linking.exact_string_link (the
-- pipeline keys it by the lower-cased surface)
str_links AS (
    SELECT DISTINCT m.conv_id, m.turn_idx, m.mention_id, m.surface AS code,
           'MENTION_LABEL' AS code_column, sd.uri, {ont_type_of("sd.uri")} AS ont_type, labdim.label,
           'MENTION_LABEL:' || replace(m.surface, ' ', '_') AS evidence,
           sd.kind AS match_kind, coalesce(sd.syn_type, 'LABEL') AS match_subtype,
           0 AS src_rank, CASE WHEN sd.kind = 'label' THEN 0 ELSE 1 END AS tier_rank
    FROM term_mentions m
    JOIN (SELECT code, uri, kind, syn_type FROM {strings_v}) sd ON m.surface = sd.code
    LEFT JOIN {labels_v} ON sd.uri = labdim.uri
),
concept_links AS MATERIALIZED (
    SELECT *, 'concept' AS level FROM dbx_links
    UNION ALL
    SELECT *, 'concept' AS level FROM str_links
),
-- stage 2e: ancestor expansion — pipeline._expand_ancestors
anc_links AS (
    SELECT DISTINCT l.conv_id, l.turn_idx, l.mention_id, l.code,
           regexp_replace(l.code_column, '^(TURN|MENTION|CONCEPT)_', 'ANCESTOR_') AS code_column,
           closure.ancestor_uri AS uri,
           string_split(string_split(closure.ancestor_uri, '/')[-1], '_')[1] AS ont_type,
           coalesce(al.label, l.label) AS label,
           regexp_replace(l.evidence, '^CONCEPT_', 'ANCESTOR_') AS evidence,
           l.match_kind, l.match_subtype, l.src_rank, l.tier_rank, 'ancestor' AS level
    FROM concept_links l
    JOIN {closure_v} ON l.uri = closure.curi
    LEFT JOIN (SELECT uri AS auri, label FROM {labels_v}) al ON closure.ancestor_uri = al.auri
),
all_links AS MATERIALIZED (
    SELECT * FROM concept_links UNION ALL SELECT * FROM anc_links
),
-- stage 3: canonicalization — operators.compile.compile_exact_mappings
fmtlinks AS (
    SELECT *,
           CASE WHEN match_kind = 'dbxref' THEN
               'OBO_' || match_subtype || '-OMOP_' || upper(level) || '_CODE:' ||
               string_split(string_split(evidence, '_')[-1], ':')[1] || '_' ||
               string_split(evidence, ':')[-1]
           ELSE
               'OBO_' || (CASE WHEN match_kind = 'label' THEN 'LABEL' ELSE match_subtype END) ||
               '-OMOP_' || upper(level) || '_' ||
               (CASE WHEN contains(lower(code_column), 'label') THEN 'LABEL' ELSE 'SYNONYM' END) ||
               ':' || string_split(evidence, ':')[-1]
           END AS fmt,
           CASE WHEN match_kind = 'dbxref' THEN 0 ELSE 1 END AS blk,
           {uri_short} AS uri_short,
           (level = 'concept') AS is_concept
    FROM all_links
),
srt AS MATERIALIZED (
    SELECT *,
           row_number() OVER (PARTITION BY conv_id, turn_idx, mention_id, ont_type
               ORDER BY blk, tier_rank, src_rank, evidence, uri_short, is_concept, label, fmt) AS rn,
           bool_or(is_concept) OVER (PARTITION BY conv_id, turn_idx, mention_id, ont_type) AS has_c
    FROM fmtlinks
),
kept AS MATERIALIZED (SELECT * FROM srt WHERE is_concept OR NOT has_c),
agg_uri AS (
    SELECT conv_id, turn_idx, mention_id, ont_type, string_agg(v, ' | ' ORDER BY fo) AS agg_uri
    FROM (SELECT conv_id, turn_idx, mention_id, ont_type, uri_short AS v, min(rn) AS fo
          FROM kept WHERE uri_short IS NOT NULL AND uri_short <> '' GROUP BY 1, 2, 3, 4, 5)
    GROUP BY 1, 2, 3, 4
),
agg_label AS (
    SELECT conv_id, turn_idx, mention_id, ont_type, string_agg(v, ' | ' ORDER BY fo) AS agg_label
    FROM (SELECT conv_id, turn_idx, mention_id, ont_type, label AS v, min(rn) AS fo
          FROM kept WHERE label IS NOT NULL AND label <> '' GROUP BY 1, 2, 3, 4, 5)
    GROUP BY 1, 2, 3, 4
),
agg_ev AS (
    SELECT conv_id, turn_idx, mention_id, ont_type, string_agg(v, ' | ' ORDER BY fo) AS agg_evidence
    FROM (SELECT conv_id, turn_idx, mention_id, ont_type, fmt AS v, min(rn) AS fo
          FROM kept WHERE fmt IS NOT NULL AND fmt <> '' GROUP BY 1, 2, 3, 4, 5)
    GROUP BY 1, 2, 3, 4
),
meta AS (
    SELECT conv_id, turn_idx, mention_id, ont_type,
           count(DISTINCT uri_short) AS n_uri
    FROM kept GROUP BY 1, 2, 3, 4
),
-- '- Ancestor' only when ALL THREE markers appear in the compiled evidence
-- (the reference's any-not-in dead-branch quirk, data_utils.py:537-541)
mappings AS MATERIALIZED (
    SELECT meta.conv_id, meta.turn_idx, meta.mention_id, meta.ont_type,
           agg_uri.agg_uri, agg_label.agg_label, agg_ev.agg_evidence,
           CASE WHEN NOT (coalesce(agg_ev.agg_evidence, '') LIKE '%ANCESTOR_CODE%'
                          AND coalesce(agg_ev.agg_evidence, '') LIKE '%ANCESTOR_SYNONYM%'
                          AND coalesce(agg_ev.agg_evidence, '') LIKE '%ANCESTOR_LABEL%')
                     AND n_uri > 1 THEN 'Automatic Constructor - Concept'
                WHEN NOT (coalesce(agg_ev.agg_evidence, '') LIKE '%ANCESTOR_CODE%'
                          AND coalesce(agg_ev.agg_evidence, '') LIKE '%ANCESTOR_SYNONYM%'
                          AND coalesce(agg_ev.agg_evidence, '') LIKE '%ANCESTOR_LABEL%')
                     THEN 'Automatic Exact - Concept'
                WHEN n_uri > 1 THEN 'Automatic Constructor - Ancestor'
                ELSE 'Automatic Exact - Ancestor' END AS category
    FROM meta
    JOIN agg_uri USING (conv_id, turn_idx, mention_id, ont_type)
    LEFT JOIN agg_label USING (conv_id, turn_idx, mention_id, ont_type)
    LEFT JOIN agg_ev USING (conv_id, turn_idx, mention_id, ont_type)
),
-- stage 4: triples — plans.pipeline.build_triples
uri_triples AS (
    SELECT conv_id, turn_idx, 'transcript:' || mention_id AS subj,
           CASE WHEN starts_with(category, 'Automatic Constructor') THEN 'omop2obo:hasConstructorMapping'
                WHEN category = 'Manual Exact - Concept Similarity' THEN 'omop2obo:hasSimilarityMapping'
                ELSE 'omop2obo:hasExactMapping' END AS pred,
           'obo:' || u AS obj
    FROM mappings, UNNEST(string_split(agg_uri, ' | ')) AS tu(u)
    WHERE agg_uri IS NOT NULL AND agg_uri <> ''
),
meta_triples AS (
    SELECT conv_id, turn_idx, 'transcript:' || mention_id AS subj,
           'omop2obo:hasMappingCategory' AS pred, category AS obj
    FROM mappings WHERE agg_uri IS NOT NULL AND agg_uri <> ''
    UNION ALL
    SELECT conv_id, turn_idx, 'transcript:' || mention_id,
           'omop2obo:hasEvidence', agg_evidence
    FROM mappings WHERE agg_uri IS NOT NULL AND agg_uri <> ''
),
mention_triples AS (
    SELECT conv_id, turn_idx, 'transcript:' || mention_id AS subj,
           'omop2obo:mentionOf' AS pred,
           'transcript:' || conv_id || ':' || turn_idx::VARCHAR AS obj
    FROM (SELECT conv_id, turn_idx, mention_id FROM code_mentions
          UNION ALL SELECT conv_id, turn_idx, mention_id FROM term_mentions)
),
sem_triples AS (
    SELECT conv_id, turn_idx, 'transcript:' || mention_id AS subj,
           'omop2obo:hasSemanticType' AS pred, semstr AS obj
    FROM semagg WHERE semstr <> ''
){sim_triple_ctes}
{final_select or f'''SELECT DISTINCT conv_id, turn_idx, subj, pred, obj
FROM (
    SELECT * FROM uri_triples
    UNION ALL SELECT * FROM meta_triples
    UNION ALL SELECT * FROM mention_triples
    UNION ALL SELECT * FROM sem_triples{sim_triple_parts}
)'''}
"""


def graph_stats_sql() -> str:
    """Oracle for per-predicate statistics over the materialized graph
    (exact tiers): triple count + distinct subject/object cardinality per
    predicate — the first query a consumer runs against the graph tables.
    Aggregates over the DISTINCT triple set, exactly the rows the
    pipeline's triple sink receives."""
    return kg_triples_sql(
        final_select="""SELECT pred,
       count(*) AS n_triples,
       count(DISTINCT subj) AS n_subj,
       count(DISTINCT obj) AS n_obj
FROM (
    SELECT DISTINCT conv_id, turn_idx, subj, pred, obj
    FROM (
        SELECT * FROM uri_triples
        UNION ALL SELECT * FROM meta_triples
        UNION ALL SELECT * FROM mention_triples
        UNION ALL SELECT * FROM sem_triples
    )
)
GROUP BY pred"""
    )


def wide_mappings_sql(onts: tuple[str, ...] = ("HP", "MONDO")) -> str:
    """Oracle for the reference's wide per-ontology block layout
    (main.py:100-145, data_utils.py:608-615): one row per mention key,
    ``AGGREGATED_<ONT>_{URI,LABEL,MAPPING,EVIDENCE}`` conditional-
    aggregated from the compile output — the SQL dual of
    operators.compile.wide_mapping_layout over the exact tiers."""
    blocks = []
    for ont in onts:
        for field, src in [("URI", "agg_uri"), ("LABEL", "agg_label"),
                           ("MAPPING", "category"), ("EVIDENCE", "agg_evidence")]:
            blocks.append(
                f"max(CASE WHEN ont_type = '{ont}' THEN {src} END)"
                f' AS "AGGREGATED_{ont}_{field}"'
            )
    cols = ",\n       ".join(blocks)
    return kg_triples_sql(
        final_select=(
            "SELECT conv_id, turn_idx, mention_id,\n       "
            + cols
            + "\nFROM mappings GROUP BY conv_id, turn_idx, mention_id"
        )
    )


def hierarchy_rollup_sql() -> str:
    """Oracle for the concept-ancestor hierarchy rollup: the distinct
    mapping-triple set (hasExactMapping/hasConstructorMapping — exactly
    the rows ``uri_triples`` yields) expanded through the ancestor
    closure, counting distinct conversations and links per rolled-up
    class."""
    dims = dim_rows()
    cl = _values(dims["closure"], "cl", ["curi", "ancestor_uri"])
    return kg_triples_sql(
        final_select=f"""SELECT cls,
       count(DISTINCT conv_id) AS n_convs,
       count(*) AS n_links
FROM (
    SELECT conv_id, obj AS cls
    FROM (SELECT DISTINCT conv_id, turn_idx, subj, pred, obj FROM uri_triples)
    UNION ALL
    SELECT t.conv_id, 'obo:' || string_split(cl.ancestor_uri, '/')[-1] AS cls
    FROM (SELECT DISTINCT conv_id, turn_idx, subj, pred, obj FROM uri_triples) t
    JOIN {cl} ON 'obo:' || string_split(cl.curi, '/')[-1] = t.obj
)
GROUP BY cls"""
    )
