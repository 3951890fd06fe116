"""Property-based (hypothesis) parity tests.

The package keeps two implementations of every scalar transform in
lock-step: a native Spark column expression (runs in whole-stage codegen
over the fact table) and a plain-Python mirror (runs on the tiny
driver-side ontology corpus).  The golden-vector tests in
``test_functions.py``/``test_similarity.py`` pin known cases; these
tests let hypothesis search the input space for divergence — regex
dialect differences (Java vs Python ``\\s``/``\\w``/alternation order),
substring arithmetic off-by-ones, trim-charset edge cases in the
two-arg ``rtrim`` of ``normalize_source_codes``.

Each hypothesis example generates a BATCH of rows and runs ONE Spark job
over the batch, so the search pays Spark's per-job latency once per
example instead of once per row.
"""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from omop2obo_spark.fixtures.generators import literal_df
from omop2obo_spark.functions.normalize import normalize_source_codes
from omop2obo_spark.functions.text import preprocess_tokens_expr, py_preprocess
from omop2obo_spark.operators.similarity import ngrams, ngrams_expr

PROP_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# --- text preprocessing parity -------------------------------------------

# The preprocessing domain: clinical-ish prose plus the characters that
# historically expose regex-dialect drift (non-ASCII to fold, mixed
# whitespace, apostrophe stopwords, digits/underscores for \w).
_TEXT_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyz" "ABCDEFGHIJKLMNOPQRSTUVWXYZ" "0123456789_"
    " \t\n" "'-;,.!()/" "éàüµ°"
)
_texts = st.lists(
    st.text(alphabet=_TEXT_ALPHABET, max_size=60), min_size=1, max_size=25
)


@PROP_SETTINGS
@given(texts=_texts)
def test_preprocess_spark_python_parity_property(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r.t for r in df.select(preprocess_tokens_expr(F.col("text")).alias("t")).collect()]
    assert got == [py_preprocess(t) for t in texts]


# --- n-gram generation parity --------------------------------------------

_token_lists = st.lists(
    st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=4), max_size=8),
    min_size=1,
    max_size=20,
)


@PROP_SETTINGS
@given(token_lists=_token_lists)
def test_ngrams_expr_matches_python_property(spark, token_lists):
    df = spark.createDataFrame([(t,) for t in token_lists], "toks array<string>")
    got = [r.g for r in df.select(ngrams_expr(F.col("toks")).alias("g")).collect()]
    assert got == [ngrams(t) for t in token_lists]


# --- source-code normalization parity ------------------------------------


def _py_normalize(code: str, vocab_map: dict[str, str]) -> str | None:
    """Python model of the reference's prefix normalization
    (/root/reference/omop2obo/utils/data_utils.py:236-275): split on
    separators (plus ``_`` for URLs containing one), take the last
    non-empty segment, ``str.rstrip`` its *character set* off the raw
    value, drop one separator char, map the remaining prefix through the
    vocab map, and reattach the lower-cased segment."""
    pat = r"[_:|/]" if ("http" in code and "_" in code) else r"[:|/]"
    segs = [s for s in re.split(pat, code) if s]
    if not segs:
        return None
    seg = segs[-1]
    prefix = code.rstrip(seg)[:-1]
    prefix = vocab_map.get(prefix, prefix)
    return f"{prefix}:{seg.lower()}"


_seg = st.text(alphabet="abcdefghijklmnopqrstuvwxyzABCDEFG0123456789.-", min_size=1, max_size=10)
_sep = st.sampled_from([":", "/", "|", "_"])


@st.composite
def _identifier(draw):
    """prefix(sep segment)+ — the reference's identifier domain, including
    URL-shaped values (``http`` + ``_`` flips the split pattern)."""
    head = draw(st.sampled_from(["http", "https", ""])) or draw(_seg)
    parts = draw(st.lists(st.tuples(_sep, _seg), min_size=1, max_size=4))
    return head + "".join(s + t for s, t in parts)


@PROP_SETTINGS
@given(codes=st.lists(_identifier(), min_size=1, max_size=25))
def test_normalize_source_codes_parity_property(spark, codes):
    vocab = {"snomedct_us": "snomed", "http://linkedlifedata.com/resource/umls/id": "umls"}
    df = spark.createDataFrame([(c,) for c in codes], "CODE string")
    got = [r.n for r in df.select(normalize_source_codes(F.col("CODE"), vocab).alias("n")).collect()]
    assert got == [_py_normalize(c, vocab) for c in codes]


# --- connected components vs a union-find reference model ----------------


def _uf_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Reference model: classic union-find, min id as representative."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in parent}


_pair_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=60,
)


@PROP_SETTINGS
@given(pairs=_pair_lists)
def test_dedup_clusters_matches_union_find(spark, pairs):
    from omop2obo_spark.operators.dedup import dedup_clusters

    norm = [(min(a, b), max(a, b)) for a, b in pairs]
    df = literal_df(spark, norm, "a long, b long")
    got = {r.doc_id: r.component for r in dedup_clusters(df).collect()}
    assert got == _uf_components(norm)


# --- packing invariants ----------------------------------------------------

_token_rows = st.lists(st.integers(0, 30), min_size=1, max_size=40)


@PROP_SETTINGS
@given(tokens=_token_rows, budget=st.integers(5, 25))
def test_pack_sequences_invariants(spark, tokens, budget):
    from omop2obo_spark.operators.pack import pack_sequences

    rows = [(i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_sequences(df, budget=budget, n_buckets=3).collect()
    assert sorted(r.doc_id for r in out) == [i for i, _ in rows]  # nothing lost
    by_pack: dict[tuple, list] = {}
    for r in out:
        by_pack.setdefault((r.bucket, r.pack_idx), []).append(r)
    for rows_in_pack in by_pack.values():
        total = sum(r.n_tokens for r in rows_in_pack)
        # a pack only exceeds the budget when a single oversized doc owns it
        assert total <= budget or len(rows_in_pack) == 1


# --- as-of join vs pure-Python reference ---------------------------------

_asof_ts = st.one_of(st.none(), st.integers(0, 50))
_asof_left = st.lists(
    st.tuples(st.integers(1, 3), _asof_ts), min_size=1, max_size=12
)
_asof_right = st.lists(
    st.tuples(st.integers(1, 3), _asof_ts, st.integers(0, 99)),
    min_size=0, max_size=12,
)


@PROP_SETTINGS
@given(left=_asof_left, right=_asof_right,
       direction=st.sampled_from(["backward", "forward"]),
       tolerance=st.one_of(st.none(), st.integers(0, 20)))
def test_asof_join_matches_python_reference(spark, left, right, direction, tolerance):
    """asof_join over random keys/timestamps (including NULL ts on both
    sides) must match a direct Python implementation of the documented
    semantics: nearest state at-or-before/after per key, NULL-ts probes
    and states never match, tolerance nulls far matches. Right side is
    deduplicated per (key, ts) first, per the operator's tie contract."""
    from datetime import datetime, timezone

    from omop2obo_spark.operators.temporal import asof_join

    def dt(s):
        return None if s is None else datetime(2026, 1, 1, tzinfo=timezone.utc) \
            .replace(hour=0).fromtimestamp(1767225600 + s, tz=timezone.utc)

    # dedup right per (k, ts): keep max payload (deterministic winner)
    best: dict[tuple, int] = {}
    for k, ts, v in right:
        key = (k, ts)
        if key not in best or v > best[key]:
            best[key] = v
    rrows = [(k, ts, v) for (k, ts), v in best.items()]

    ldf = spark.createDataFrame(
        [(i, k, dt(ts)) for i, (k, ts) in enumerate(left)],
        "row_id long, k long, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, dt(ts), v) for k, ts, v in rrows], "k long, rts timestamp, v long"
    )
    got = {
        r.row_id: r.v
        for r in asof_join(
            ldf, rdf, "k", "k", "ts", "rts", ["v"],
            direction=direction, tolerance_sec=tolerance,
        ).collect()
    }

    for i, (k, ts) in enumerate(left):
        if ts is None:
            expect = None
        else:
            if direction == "backward":
                cands = [(rts, v) for rk, rts, v in rrows
                         if rk == k and rts is not None and rts <= ts]
                pick = max(cands) if cands else None
            else:
                cands = [(rts, v) for rk, rts, v in rrows
                         if rk == k and rts is not None and rts >= ts]
                pick = min(cands) if cands else None
            expect = None if pick is None else pick[1]
            if expect is not None and tolerance is not None and abs(pick[0] - ts) > tolerance:
                expect = None
        assert got[i] == expect, (i, k, ts, direction, tolerance, got[i], expect)


# --- exact dedup NULL-singleton contract ---------------------------------

_dedup_docs = st.lists(
    st.one_of(st.none(), st.text(alphabet="ab \t", max_size=6)),
    min_size=1, max_size=15,
)


@PROP_SETTINGS
@given(texts=_dedup_docs)
def test_exact_dedup_matches_python_reference(spark, texts):
    """Random docs incl. NULLs and whitespace-only text: groups must equal
    the Python reference — normalized-text equality, NULL text a singleton."""
    import re as _re

    from omop2obo_spark.operators.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.canonical_id, r.group_size) for r in exact_dedup(df).collect()}

    def norm(t):
        return _re.sub(r"\s+", " ", t.lower()).strip()

    groups: dict[object, list[int]] = {}
    for i, t in rows:
        key = ("null", i) if t is None else ("txt", norm(t))
        groups.setdefault(key, []).append(i)
    for members in groups.values():
        head = min(members)
        for m in members:
            assert got[m] == (head, len(members)), (texts, m, got[m])


# --- salted join ≡ plain join under random skew ---------------------------

_fact_rows = st.lists(
    st.tuples(st.integers(0, 99), st.sampled_from(["hot", "hot", "hot", "a", "b", "c"])),
    min_size=1, max_size=40,
)
_dim_rows = st.lists(
    st.tuples(st.sampled_from(["hot", "a", "b", "z"]), st.integers(0, 9)),
    min_size=0, max_size=8,
)


@PROP_SETTINGS
@given(fact=_fact_rows, dim=_dim_rows,
       how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
       buckets=st.integers(1, 6))
def test_salted_join_equals_plain_join_property(spark, fact, dim, how, buckets):
    """Salting is a physical rewrite: for every supported join type, any
    salt-bucket count, random skew, and duplicate dim keys, the multiset
    of result rows must equal the plain join's."""
    from omop2obo_spark.operators.joins import salted_join

    fdf = literal_df(spark, fact, "id long, k string")
    ddf = literal_df(spark, dim, "k string, v long")
    salted = salted_join(fdf, ddf, "k", salt_buckets=buckets,
                         fact_salt_cols=["id"], how=how)
    plain = fdf.join(F.broadcast(ddf), on="k", how=how)
    key = sorted(salted.columns)
    a = sorted(tuple(r[c] for c in key) for r in salted.collect())
    b = sorted(tuple(r[c] for c in key) for r in plain.collect())
    assert a == b, (how, buckets, a, b)


# --- pivot conflict guard --------------------------------------------------

_pivot_rows = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from(["A", "B"]),
              st.one_of(st.none(), st.sampled_from(["x", "y"]))),
    min_size=1, max_size=15,
)


@PROP_SETTINGS
@given(rows=_pivot_rows)
def test_unstack_columns_guard_property(spark, rows):
    """unstack_columns raises exactly when some (index, column) cell holds
    >1 distinct non-null value; otherwise it matches the per-cell unique
    non-null value (or NULL)."""
    import pytest as _pytest

    from omop2obo_spark.operators.reshape import unstack_columns

    df = spark.createDataFrame(rows, "idx long, col string, val string")
    cells: dict[tuple, set] = {}
    for i, c, v in rows:
        if v is not None:
            cells.setdefault((i, c), set()).add(v)
    conflict = any(len(s) > 1 for s in cells.values())
    if conflict:
        with _pytest.raises(Exception, match="duplicate entries"):
            unstack_columns(df, "idx", "col", "val", ["A", "B"]).collect()
    else:
        got = {r.idx: (r.A, r.B) for r in
               unstack_columns(df, "idx", "col", "val", ["A", "B"]).collect()}
        for i in {i for i, _c, _v in rows}:
            a = next(iter(cells.get((i, "A"), {None})))
            b = next(iter(cells.get((i, "B"), {None})))
            assert got[i] == (a, b), (rows, i, got[i])


# --- context_spans vs a direct-scan model ----------------------------------


@given(
    data=st.lists(  # one conversation: token count per turn
        st.integers(min_value=0, max_value=12), min_size=1, max_size=12
    ),
    budget=st.integers(min_value=0, max_value=30),
)
@PROP_SETTINGS
def test_context_spans_property(spark, data, budget):
    """For ANY token-length profile and budget, the window-frame
    formulation must equal the quadratic direct scan (greedy-maximal
    preceding span), including zero-token free-riders and budget 0."""
    from omop2obo_spark.operators.transcript import context_spans

    rows = [("c", i, "t " * n if n else "") for i, n in enumerate(data)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        r["turn_idx"]: (r["n_ctx_turns"], r["ctx_tokens"], r["first_ctx_turn_idx"])
        for r in context_spans(df, budget=budget).collect()
    }
    for i in range(len(data)):
        total, n = 0, 0
        for j in range(i - 1, -1, -1):
            if total + data[j] > budget:
                break
            total += data[j]
            n += 1
        assert got[i] == (n, total, i - n), (i, data, budget, got[i])


# --- Bloom pre-screen parity with the plain anti-join -----------------------


@given(
    corpus_texts=st.lists(
        st.sampled_from(["alpha beta", "gamma", "delta eps", "zeta", ""]),
        min_size=0, max_size=5,
    ),
    new_texts=st.lists(
        st.sampled_from(["alpha beta", "gamma", "NEW thing", "other new", "", None]),
        min_size=1, max_size=6,
    ),
    m_bits=st.sampled_from([32, 64, 1 << 12]),
)
@PROP_SETTINGS
def test_dedup_against_bloom_property(spark, corpus_texts, new_texts, m_bits):
    """For ANY corpus/new split and filter size (including saturated
    32-bit filters where nearly everything false-positives), the Bloom
    split must keep exactly the docs the plain exact anti-join keeps."""
    from omop2obo_spark.operators.dedup import dedup_against, dedup_against_bloom

    schema = "doc_id long, text string"
    corpus = literal_df(spark, [(100 + i, t) for i, t in enumerate(corpus_texts)], schema)
    new = literal_df(spark, list(enumerate(new_texts)), schema)
    want = sorted(r["doc_id"] for r in dedup_against(new, corpus).collect())
    got = sorted(
        r["doc_id"]
        for r in dedup_against_bloom(new, corpus, m_bits=m_bits).collect()
    )
    assert got == want, (corpus_texts, new_texts, m_bits)


# --- edit-distance join losslessness -------------------------------------

_ed_corpora = st.lists(
    st.text(alphabet="abcx ", max_size=10), min_size=2, max_size=20
)


from tests.conftest import py_levenshtein as _py_lev


@PROP_SETTINGS
@given(texts=_ed_corpora, k=st.integers(min_value=0, max_value=3),
       q=st.integers(min_value=1, max_value=3))
def test_edit_distance_join_lossless_property(spark, texts, k, q):
    """hypothesis searches for a corpus where the ED-Join prefix filter
    drops a true pair (short/long boundary, repeated grams, tiny
    alphabets forcing hot grams)."""
    import itertools

    from omop2obo_spark.operators.dedup import edit_distance_join

    docs = literal_df(spark, list(enumerate(texts)), "doc_id: long, text: string")
    got = {
        (r.a, r.b, r.dist)
        for r in edit_distance_join(docs, max_dist=k, q=q).collect()
    }
    want = {
        (a, b, _py_lev(ta, tb))
        for (a, ta), (b, tb) in itertools.combinations(enumerate(texts), 2)
        if _py_lev(ta, tb) <= k
    }
    assert got == want
