"""Distributed concept-hierarchy operators.

The north star names "concept-ancestor hierarchy expansion" as a pipeline
tier; the reference consumes a pre-built ancestor list per class
(/root/reference/omop2obo/utils/ontology_utils.py:229-266 walks rdflib
``subClassOf`` parents one class at a time on the driver). Here the
closure itself is a distributed operator: parent EDGES in, transitive
ancestor CLOSURE out, so a pipeline can start from the raw ``subClassOf``
edge table (``sources/owl_prep.py:extract_hierarchy_edges``) instead of a
pre-materialized closure.

Algorithm: iterative doubling on the (min, +) path semiring. Round k
holds every (descendant, ancestor) pair whose shortest path is at most
2^k edges, with the exact shortest depth — a pair present after round k
is reachable by some path of <= 2^k edges, hence its true shortest path
is <= 2^k, and the min-fold over all splits into two <= 2^(k-1) halves is
exact. Convergence is therefore detected by row count alone (pairs only
get added, never re-priced), one scalar driver read per round,
O(log diameter) rounds total: HP-style ontologies are ~15 levels deep =
4 rounds.

100 TB design note: the closure is a DIMENSION computation — ontology
class counts (10^4..10^6) are far below fact scale, so each round's
self-join + min-aggregation shuffles only dimension rows. The closure is
then broadcast into the fact-side ancestor expansion
(plans/pipeline.py:_expand_ancestors); transcript rows never shuffle for
hierarchy expansion. Worst-case closure size is quadratic in class count
(pathological deep chains); real ontology DAGs are shallow and sparse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ancestor_closure(
    edges: DataFrame,
    child_col: str = "uri",
    parent_col: str = "parent_uri",
    max_rounds: int = 20,
) -> DataFrame:
    """Transitive closure of a parent-edge table.

    Input: one row per direct ``(child, parent)`` edge (a class may have
    several parents — DAGs are fine; cycles terminate too, since the pair
    universe is finite, but yield self-ancestors).

    Output: ``(uri, ancestor_uri, depth)`` — every ancestor reachable
    from every node, ``depth`` = fewest edges on any path (1 = direct
    parent). Matches a recursive-CTE ``MIN(depth) GROUP BY pair`` oracle
    exactly.

    ``max_rounds`` bounds adversarial chains: the closure horizon after
    r rounds is 2^r edges, so the default covers diameter 2^20.
    ``localCheckpoint`` per round keeps the lineage O(1) — without it
    Catalyst re-analyzes a plan that doubles in depth every round.
    """
    r = (
        edges.select(
            F.col(child_col).alias("uri"), F.col(parent_col).alias("ancestor_uri")
        )
        .where(F.col(child_col).isNotNull() & F.col(parent_col).isNotNull())
        .distinct()
        .withColumn("depth", F.lit(1))
        .localCheckpoint(eager=True)
    )
    n = r.count()
    for _ in range(max_rounds):
        if n == 0:
            break
        left = r.select(
            "uri", F.col("ancestor_uri").alias("__mid"), F.col("depth").alias("__d1")
        )
        right = r.select(
            F.col("uri").alias("__mid"),
            "ancestor_uri",
            F.col("depth").alias("__d2"),
        )
        composed = left.join(right, "__mid").select(
            "uri", "ancestor_uri", (F.col("__d1") + F.col("__d2")).alias("depth")
        )
        nxt = (
            r.unionByName(composed)
            .groupBy("uri", "ancestor_uri")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=True)
        )
        m = nxt.count()
        r = nxt
        if m == n:  # fixpoint: doubling added no pair → no longer path exists
            break
        n = m
    return r


def entity_cooccurrence(
    triples: DataFrame,
    preds: tuple[str, ...] = (
        "omop2obo:hasExactMapping",
        "omop2obo:hasConstructorMapping",
    ),
    min_count: int = 1,
) -> DataFrame:
    """Entity co-mention graph over the materialized triples: two ontology
    entities are connected when one conversation maps to both; edges carry
    the co-mention count and PMI — log((c_ab·N)/(c_a·c_b)) over
    conversation counts — the association-strength signal downstream KG
    analytics (related-concept suggestion, embedding pre-training) reads.

    Returns ``(ent_a, ent_b, n_convs, pmi)`` with ``ent_a < ent_b`` and
    ``n_convs >= min_count``; PMI is rounded to 6dp (engine-portable).

    Scale shape: the per-conversation entity sets are bounded (a
    conversation mentions few distinct entities), so the conv-keyed
    self-join explodes per-conv pairs, not corpus pairs; the pair counts
    partial-aggregate map-side on the (a, b) key, and the per-entity
    count dimension (the ontology vocabulary) broadcasts back for the
    PMI arithmetic. No driver materialization beyond one scalar N.
    """
    ents = (
        triples.filter(F.col("pred").isin(*preds))
        .select("conv_id", F.col("obj").alias("ent"))
        .distinct()
    )
    # four consumers (the scalar N below, per-entity counts, both self-join
    # sides) would each re-execute the upstream triples lineage — often the
    # full pipeline plan; materialize the small (conv, ent) projection once
    ents = ents.localCheckpoint(eager=True)
    n_total = ents.select("conv_id").distinct().count()
    per_ent = ents.groupBy("ent").agg(F.count("*").alias("c"))
    l = ents.select("conv_id", F.col("ent").alias("ent_a"))
    r = ents.select("conv_id", F.col("ent").alias("ent_b"))
    pairs = (
        l.join(r, on="conv_id")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(F.count("*").alias("n_convs"))
        .filter(F.col("n_convs") >= min_count)
    )
    ca = per_ent.select(F.col("ent").alias("ent_a"), F.col("c").alias("__ca"))
    cb = per_ent.select(F.col("ent").alias("ent_b"), F.col("c").alias("__cb"))
    return (
        pairs.join(F.broadcast(ca), on="ent_a")
        .join(F.broadcast(cb), on="ent_b")
        .select(
            "ent_a", "ent_b", "n_convs",
            F.round(
                F.log(
                    (F.col("n_convs") * F.lit(float(n_total)))
                    / (F.col("__ca") * F.col("__cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def cap_hub_adjacency(
    edges: DataFrame, max_degree: int, salt: str = "hubcap"
) -> DataFrame:
    """Deterministic hub-degree capping for the wedge-based analytics
    (triangles / neighbor_jaccard / adamic_adar / k_hop): every node
    keeps at most ``max_degree`` incident edges, an edge surviving only
    if BOTH endpoints keep it. Super-connector wedges grow
    quadratically in degree — this is the documented upstream fix those
    operators' docstrings defer to, as its own composable operator.

    Selection is a pure function of (salt, node, neighbor): per node,
    incident edges rank by ``md5(salt|node|neighbor)`` (neighbor
    tie-break) and the first ``max_degree`` survive — reproducible
    across runs, partitionings, and engines, and refreshable by salt
    (a different salt draws an independent sample for variance checks).

    Input/output: canonical ``(ent_a, ent_b)`` edges (a < b), output a
    subset with each endpoint's ORIGINAL degree attached — downstream
    estimators need the uncapped degree for bias correction.

    Scale shape: one window over the directed adjacency, partitioned
    per node — the hub's partition is its degree, one linear pass (the
    quadratic blowup this prevents is in the WEDGE join downstream, not
    here); the mutual-keep resolution is an aggregate on the edge key.
    """
    if max_degree < 1:
        raise ValueError(f"max_degree must be >= 1, got {max_degree}")
    adj = _adjacency(edges)
    h = F.md5(F.concat_ws("|", F.lit(salt), F.col("node"), F.col("nbr")))
    w = Window.partitionBy("node").orderBy(h, F.col("nbr"))
    ranked = adj.select(
        "node", "nbr",
        F.row_number().over(w).alias("__rk"),
        F.count("*").over(Window.partitionBy("node")).alias("__deg"),
    )
    sides = ranked.select(
        F.least(F.col("node"), F.col("nbr")).alias("ent_a"),
        F.greatest(F.col("node"), F.col("nbr")).alias("ent_b"),
        (F.col("__rk") <= F.lit(int(max_degree))).cast("int").alias("__keep"),
        F.when(F.col("node") < F.col("nbr"), F.col("__deg")).alias("__da"),
        F.when(F.col("node") >= F.col("nbr"), F.col("__deg")).alias("__db"),
    )
    return (
        sides.groupBy("ent_a", "ent_b")
        .agg(
            F.min("__keep").alias("__both"),
            F.max("__da").alias("deg_a"),
            F.max("__db").alias("deg_b"),
        )
        .filter(F.col("__both") == 1)
        .select("ent_a", "ent_b", "deg_a", "deg_b")
    )


def scc_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """Strongly connected components of a directed graph: nodes are in
    one SCC iff they reach each other. The companion of
    :func:`cycle_members` — that op certifies WHETHER the hierarchy has
    cycles; this one names each mutual-reachability group so a curation
    queue can collapse or repair it as a unit (an SCC in a subClassOf
    graph is one logically-equivalent class set).

    Method: mutual reachability over the pair closure —
    :func:`ancestor_closure` (iterative doubling, fixpoint-terminated,
    cycle-safe) gives reach pairs; an equi-join of the closure with its
    own reverse keeps pairs reaching BOTH ways; per node the SCC id is
    the minimum mutual partner (itself for singletons).

    Output: (node, scc_id, scc_size) — every node of the edge list,
    singletons included with size 1.

    Scale shape: inherits the closure's constraint — the reach-pair
    materialization is for DIMENSION-scale graphs (ontology/schema
    hierarchies), not fact-scale; the mutual join and the size
    aggregate are pair-table equi-joins on skew-free composite keys.
    """
    closure = ancestor_closure(edges, src_col, dst_col, max_rounds)
    pairs = closure.select(
        F.col("uri").alias("node"), F.col("ancestor_uri").alias("x")
    )
    rev = pairs.select(F.col("node").alias("__rn"), F.col("x").alias("__rx"))
    mutual = pairs.join(
        rev, (F.col("x") == F.col("__rn")) & (F.col("node") == F.col("__rx"))
    ).select("node", "x")
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
    )
    mins = mutual.groupBy("node").agg(F.min("x").alias("__mx"))
    labeled = nodes.join(mins, on="node", how="left").select(
        "node",
        F.least(F.col("node"), F.coalesce(F.col("__mx"), F.col("node"))).alias("scc_id"),
    )
    sizes = labeled.groupBy("scc_id").agg(F.count("*").alias("scc_size"))
    return labeled.join(sizes, on="scc_id").select("node", "scc_id", "scc_size")


def sameas_bridge(
    dbxrefs: DataFrame,
    uri_col: str = "uri",
    ont_col: str = "ont",
    code_col: str = "code",
    max_group: int = 64,
) -> DataFrame:
    """Cross-ontology entity resolution: classes from DIFFERENT ontologies
    that share a normalized dbxref code are merged into ``owl:sameAs``
    candidate triples — the KG-construction face of the reference's
    dbxref machinery (the reference resolves clinical codes against one
    ontology's dbxref dict at a time, ontology_utils.py:88-137; bridging
    the dictionaries against EACH OTHER is how a multi-ontology graph
    gets its inter-ontology identity edges).

    Input: one row per ``(uri, ont, code)`` dbxref assertion (codes
    already normalized by F1/F2). Output:
    ``(subj, pred, obj, n_shared_codes)`` with ``pred = 'owl:sameAs'``,
    ``subj/obj = 'obo:<short-id>'``, ``subj``'s ontology strictly before
    ``obj``'s (each cross-ont pair emitted once), and the count of
    distinct codes supporting the merge.

    Scale shape: one dimension-scale shuffle on the code key, then the
    pair expansion happens INSIDE each code group (groupBy +
    collect_set, never a self-join of the dbxref table with itself —
    a popular code's group is bounded by ``max_group``, so a hub code
    like a heavily-xref'd UMLS CUI cannot explode quadratically;
    oversize groups are dropped, the standard guard for identity hubs
    that carry no discriminating signal). The pair table that leaves
    the operator is already aggregated.
    """
    from omop2obo_spark.functions.normalize import uri_short_id

    members = (
        dbxrefs.select(
            F.col(code_col).alias("code"),
            F.struct(
                F.col(ont_col).alias("ont"),
                uri_short_id(F.col(uri_col)).alias("sid"),
            ).alias("m"),
        )
        .distinct()
        .groupBy("code")
        .agg(F.array_sort(F.collect_set("m")).alias("mem"))
        .filter((F.size("mem") >= 2) & (F.size("mem") <= max_group))
    )
    pairs = (
        members.select("code", F.explode("mem").alias("a"), F.col("mem"))
        .select("code", "a", F.explode("mem").alias("b"))
        .filter(F.col("a.ont") < F.col("b.ont"))
    )
    return (
        pairs.groupBy(
            F.concat(F.lit("obo:"), F.col("a.sid")).alias("subj"),
            F.concat(F.lit("obo:"), F.col("b.sid")).alias("obj"),
        )
        .agg(F.countDistinct("code").alias("n_shared_codes"))
        .select("subj", F.lit("owl:sameAs").alias("pred"), "obj", "n_shared_codes")
    )


def _adjacency(edges: "DataFrame") -> "DataFrame":
    """(node, nbr) rows in both directions from canonical (ent_a, ent_b)
    edges — the shared preamble of every wedge/degree analytic
    (neighbor_jaccard / adamic_adar / label_propagation /
    deterministic_walks / cap_hub_adjacency). No distinct: canonical
    inputs are already deduplicated (see :func:`symmetrize_edges` for
    the deduplicating variant on arbitrary edge lists)."""
    return edges.select(
        F.col("ent_a").alias("node"), F.col("ent_b").alias("nbr")
    ).unionByName(
        edges.select(F.col("ent_b").alias("node"), F.col("ent_a").alias("nbr"))
    )


def symmetrize_edges(
    edges: "DataFrame", src_col: str, dst_col: str
) -> "DataFrame":
    """Undirected view of an edge list: both directions, deduplicated —
    the shared preamble of pagerank / k_core / any undirected analytic."""
    return (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "ent_a",
    dst_col: str = "ent_b",
    damping: float = 0.85,
    iterations: int = 3,
    round_dp: int = 9,
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list (e.g. the
    :func:`entity_cooccurrence` graph) — which ontology entities sit at
    the center of the corpus's co-mention structure. Deterministic by
    construction (fixed iteration count, terminal rounding), so it can be
    oracle-checked against unrolled SQL.

    Input edges are symmetrized and deduplicated; every node incident to
    an edge has out-degree >= 1, so there are no dangling nodes and the
    per-iteration update is exactly
    ``r'(v) = (1-d)/n + d * sum_{u->v} r(u)/deg(u)``.

    Scale shape: the edge table keeps its partitioning across all
    iterations; the rank and degree vectors are node-cardinality
    (dimension scale for an ontology-entity graph) and broadcast into
    the join, so each iteration costs one fact-side shuffle (the
    groupBy on the destination) and no edge re-partitioning.
    ``localCheckpoint`` per iteration keeps lineage O(1) like
    :func:`ancestor_closure`.
    """
    und = symmetrize_edges(edges, src_col, dst_col)
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    if checkpoint:
        und, deg = und.localCheckpoint(eager=True), deg.localCheckpoint(eager=True)
    n = deg.count()
    if n == 0:
        return deg.select(F.col("src").alias("ent"), F.lit(0.0).alias("rank"))
    base = (1.0 - damping) / n
    ranks = deg.select("src", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contribs = (
            und.join(F.broadcast(ranks.join(F.broadcast(deg), on="src")), on="src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("in_sum"))
        )
        ranks = (
            deg.select("src")
            .join(F.broadcast(contribs.withColumnRenamed("dst", "src")), on="src", how="left")
            .select(
                "src",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))).alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("src").alias("ent"), F.round("rank", round_dp).alias("rank"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str],
    src_col: str = "ent_a",
    dst_col: str = "ent_b",
    damping: float = 0.85,
    iterations: int = 3,
    round_dp: int = 9,
    checkpoint: bool = True,
) -> DataFrame:
    """Personalized PageRank: the :func:`pagerank` power iteration with
    the teleport mass restarting at ``seeds`` instead of uniformly —
    "which entities are structurally close to THESE concepts", the
    related-concept expansion query behind ontology-gap review and
    query-expansion retrieval. Update:
    ``r'(v) = (1-d)·s(v) + d·Σ_{u→v} r(u)/deg(u)`` with ``s`` uniform
    over the seed set (seeds absent from the graph contribute nothing
    and get no row — they have no edges to carry mass).

    Deterministic (fixed iterations, terminal rounding) and
    oracle-checkable by unrolled SQL, like the global variant. Output:
    (ent, rank) for every graph node; mass concentrates near the seeds.

    Scale shape: identical to :func:`pagerank` — edge table keeps its
    partitioning, rank/degree vectors broadcast, one destination-keyed
    shuffle per iteration; the seed vector is a plan literal.
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    seed_set = sorted(set(seeds))
    und = symmetrize_edges(edges, src_col, dst_col)
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    if checkpoint:
        und, deg = und.localCheckpoint(eager=True), deg.localCheckpoint(eager=True)
    if deg.count() == 0:
        return deg.select(F.col("src").alias("ent"), F.lit(0.0).alias("rank"))
    seed_arr = F.array(*[F.lit(s) for s in seed_set])
    s_v = F.when(
        F.array_contains(seed_arr, F.col("src")), F.lit(1.0 / len(seed_set))
    ).otherwise(F.lit(0.0))
    ranks = deg.select("src", s_v.alias("rank"))
    for _ in range(iterations):
        contribs = (
            und.join(F.broadcast(ranks.join(F.broadcast(deg), on="src")), on="src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("in_sum"))
        )
        ranks = (
            deg.select("src")
            .join(F.broadcast(contribs.withColumnRenamed("dst", "src")), on="src", how="left")
            .select(
                "src",
                (
                    F.lit(1.0 - damping) * s_v
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("src").alias("ent"), F.round("rank", round_dp).alias("rank"))


def triple_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Graph release regression: per-predicate added/removed triple counts
    between two materialized graphs (two pipeline runs, two engine
    versions, before/after an ontology release). The check a production
    KG pipeline runs before promoting a new build — a predicate whose
    count swings unexpectedly is the first regression signal.

    Input frames need (subj, pred, obj); triples are compared as sets.
    Returns ``(pred, n_added, n_removed)`` for every predicate present
    in either side (zeros included).

    Scale shape: two anti-joins on the full triple key followed by
    map-side-combined per-predicate counts — the triple tables shuffle
    once each on (subj, pred, obj); no driver materialization.
    """
    b = before.select("subj", "pred", "obj").distinct()
    a = after.select("subj", "pred", "obj").distinct()
    key = ["subj", "pred", "obj"]
    added = a.join(b, on=key, how="left_anti").groupBy("pred").agg(
        F.count("*").alias("n_added")
    )
    removed = b.join(a, on=key, how="left_anti").groupBy("pred").agg(
        F.count("*").alias("n_removed")
    )
    preds = a.select("pred").union(b.select("pred")).distinct()
    return (
        preds.join(added, on="pred", how="left")
        .join(removed, on="pred", how="left")
        .select(
            "pred",
            F.coalesce("n_added", F.lit(0)).alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    src_col: str = "ent_a",
    dst_col: str = "ent_b",
    checkpoint: bool = True,
) -> DataFrame:
    """K-hop neighborhood extraction: BFS over the undirected entity
    graph from a seed set, returning ``(ent, hop)`` with hop = shortest
    distance from any seed (0 for the seeds themselves), bounded at k.
    The subgraph-extraction primitive behind "show me everything within
    two hops of these entities" — the first interactive query against a
    materialized KG.

    Exactly k rounds; each round joins the edge table against the
    current frontier. The frontier of a seed query is small relative to
    the graph, so it broadcasts; the edge table keeps its partitioning
    across rounds (one hash exchange on src, reused). Visited-set
    subtraction is an anti-join on the entity key. For frontier sizes
    approaching the graph itself, drop the broadcast hint and let AQE
    pick the join side.
    """
    und = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
    )
    visited = seeds.select(F.col("ent"), F.lit(0).alias("hop")).distinct()
    frontier = visited.select("ent")
    for i in range(1, k + 1):
        nxt = (
            und.join(F.broadcast(frontier), und.src == frontier.ent)
            .select(F.col("dst").alias("ent"))
            .distinct()
            # visited is bounded by the neighborhood size (same broadcast
            # assumption as the frontier) — hint it so the subtraction is
            # never a sort-merge join over the expansion
            .join(F.broadcast(visited.select("ent")), on="ent", how="left_anti")
            .withColumn("hop", F.lit(i))
        )
        visited = visited.union(nxt)
        if checkpoint:
            # bound lineage per round (k rounds of join-on-join otherwise)
            visited = visited.localCheckpoint(eager=True)
        frontier = visited.filter(F.col("hop") == i).select("ent")
    return visited


def propagate_sameas(
    triples: DataFrame,
    sameas: DataFrame,
    mapping_preds: tuple[str, ...] = (
        "omop2obo:hasExactMapping",
        "omop2obo:hasConstructorMapping",
    ),
    pred_out: str = "omop2obo:hasInferredMapping",
) -> DataFrame:
    """Mapping propagation through the identity layer: compose
    ``(mention) -[hasExactMapping]-> X`` with ``X -[owl:sameAs]-> Y`` to
    infer ``(mention) -[hasInferredMapping]-> Y`` — how a graph built
    against one ontology gains cross-ontology coverage from the sameAs
    bridge without re-running entity linking.

    ``sameas`` needs (subj, pred, obj) rows with pred='owl:sameAs' (the
    :func:`sameas_bridge` output); the equivalence is applied in both
    directions. Pairs where ANY mapping edge (subj→Y) already exists are
    dropped — inference never duplicates an asserted mapping.

    Scale shape: the sameAs table is dimension-scale (bounded by the
    ontologies, not the corpus) and broadcasts; the mapping triples scan
    once through the broadcast join; the anti-join against asserted
    (subj, obj) pairs is keyed on high-cardinality skew-free subj.
    """
    eq = sameas.filter(F.col("pred") == "owl:sameAs").select("subj", "obj")
    eq = (
        eq.union(eq.select(F.col("obj").alias("subj"), F.col("subj").alias("obj")))
        .distinct()
        .select(F.col("subj").alias("__x"), F.col("obj").alias("__y"))
    )
    maps = triples.filter(F.col("pred").isin(*mapping_preds))
    inferred = (
        maps.join(F.broadcast(eq), maps.obj == F.col("__x"))
        .select("subj", F.lit(pred_out).alias("pred"), F.col("__y").alias("obj"))
        .distinct()
    )
    asserted = maps.select("subj", "obj")
    return inferred.join(asserted, on=["subj", "obj"], how="left_anti")


def canonicalize_entities(triples: DataFrame, sameas: DataFrame) -> DataFrame:
    """Entity canonicalization through the identity layer: connected
    components over the ``owl:sameAs`` graph (reusing
    ``operators.dedup.dedup_clusters`` — min-label propagation with
    pointer jumping, driver union-find cutover for small pair graphs),
    then every triple's subj/obj rewritten to its component's minimum
    entity id. The north rule's "canonicalizes entities" face: after
    the sameAs bridge merges HP/MONDO/CHEBI duplicates, the graph speaks
    ONE id per real-world entity.

    Returns the triples with subj/obj rewritten (other columns pass
    through) and exact duplicates created by the merge collapsed.

    Scale shape: the sameAs component map is dimension-scale (bounded by
    the ontologies) and broadcasts into two left joins over the triple
    scan; the only wide exchange is the final distinct on the rewritten
    triple key.
    """
    from omop2obo_spark.operators.dedup import dedup_clusters

    pairs = sameas.filter(F.col("pred") == "owl:sameAs").select(
        F.col("subj").alias("a"), F.col("obj").alias("b")
    )
    comp = dedup_clusters(pairs)
    cmap = comp.select(F.col("doc_id").alias("__ent"), F.col("component").alias("__canon")).filter(
        F.col("__ent") != F.col("__canon")
    )
    out = triples
    for c in ("subj", "obj"):
        m = cmap.select(F.col("__ent").alias(c), F.col("__canon").alias(f"__c_{c}"))
        out = out.join(F.broadcast(m), on=c, how="left")
    rewritten = out.select(
        *[
            F.coalesce(F.col(f"__c_{c}"), F.col(c)).alias(c) if c in ("subj", "obj") else F.col(c)
            for c in triples.columns
        ]
    )
    return rewritten.distinct()


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-entity triangle participation + local clustering coefficient
    over an undirected edge list with canonical ``ent_a < ent_b`` rows
    (the shape :func:`entity_cooccurrence` emits). Triangle density is
    the standard cohesion signal for a co-mention graph — high-clustering
    entities sit inside tight concept communities, zero-clustering hubs
    are promiscuous connectors (often linker noise worth auditing).

    Returns (ent, degree, n_triangles, clustering) for every vertex;
    clustering = 2·T / (deg·(deg−1)) rounded to 6dp, 0 when deg < 2.

    Scale shape: the classic ordered-edge enumeration — because rows are
    canonical a<b, joining (a,b)⋈(b,c) yields each wedge a<b<c exactly
    once, and the closing (a,c) equi-join confirms each triangle exactly
    once (no division by 6, no direction blowup). Both joins shuffle on
    single entity keys; skewed hubs are the known hot spot and the
    standard mitigation (degree-ordered orientation, which this IS —
    ordering by id approximates it) bounds wedge counts. Per-vertex
    counts partial-aggregate map-side after a 3-corner explode.
    """
    e = edges.select("ent_a", "ent_b")
    bc = e.select(F.col("ent_a").alias("ent_b"), F.col("ent_b").alias("ent_c"))
    wedges = e.join(bc, on="ent_b").select("ent_a", "ent_b", "ent_c")
    closing = e.select("ent_a", F.col("ent_b").alias("ent_c"))
    tri = wedges.join(closing, on=["ent_a", "ent_c"])
    corners = tri.select(
        F.explode(F.array("ent_a", "ent_b", "ent_c")).alias("ent")
    )
    per_tri = corners.groupBy("ent").agg(F.count("*").alias("n_triangles"))
    deg = (
        e.select(F.col("ent_a").alias("ent"))
        .unionByName(e.select(F.col("ent_b").alias("ent")))
        .groupBy("ent")
        .agg(F.count("*").alias("degree"))
    )
    return deg.join(per_tri, on="ent", how="left").select(
        "ent",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                (F.lit(2.0) * F.coalesce(F.col("n_triangles"), F.lit(0)))
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def neighbor_jaccard(edges: DataFrame, min_shared: int = 1) -> DataFrame:
    """Structural entity similarity: Jaccard overlap of neighbor sets for
    every entity pair sharing ≥ ``min_shared`` neighbors in the
    co-mention graph — "entities used in the same contexts", the
    graph-native dual of embedding cosine, feeding synonym-candidate
    and ontology-gap review queues.

    Returns (ent_a, ent_b, shared, jaccard) with ent_a < ent_b;
    jaccard = shared / (deg_a + deg_b − shared), rounded to 6dp.

    Scale shape: the wedge formulation — adjacency in both directions,
    self-joined on the shared neighbor, so each co-neighbor pair is
    counted once per common neighbor and aggregated map-side; never an
    all-pairs product. Degree is a vertex-cardinality dimension that
    broadcasts back twice. Hub neighbors quadratically inflate wedges
    (same hot spot as triangles); cap or sample hub adjacency upstream
    when a corpus has super-connectors.
    """
    adj = _adjacency(edges)
    l = adj.select(F.col("node").alias("ent_a"), "nbr")
    r = adj.select(F.col("node").alias("ent_b"), "nbr")
    pairs = (
        l.join(r, on="nbr")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= int(min_shared))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("__d"))
    da = deg.select(F.col("node").alias("ent_a"), F.col("__d").alias("__da"))
    db = deg.select(F.col("node").alias("ent_b"), F.col("__d").alias("__db"))
    return (
        pairs.join(F.broadcast(da), on="ent_a")
        .join(F.broadcast(db), on="ent_b")
        .select(
            "ent_a",
            "ent_b",
            "shared",
            F.round(
                F.col("shared")
                / (F.col("__da") + F.col("__db") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(edges: DataFrame, min_shared: int = 1) -> DataFrame:
    """Adamic-Adar link-prediction score over the co-mention graph: for
    every entity pair sharing >= ``min_shared`` neighbors,
    ``AA(a,b) = sum over common neighbors z of 1/ln(deg(z))`` — common
    neighbors count, but RARE shared contexts count more (the classic
    "log-weighted common neighbors" signal). The companion of
    :func:`neighbor_jaccard`: Jaccard normalizes by the pair's own
    degrees, Adamic-Adar by the informativeness of each shared
    neighbor; together they feed the missing-link review queue.

    Returns (ent_a, ent_b, shared, aa_score, linked) with ent_a <
    ent_b; ``linked`` marks pairs already directly connected (the
    candidate set for link PREDICTION is ``NOT linked``, kept as a flag
    so callers can also rank existing edges). aa_score rounded 6dp.

    Scale shape: identical wedge formulation to :func:`neighbor_jaccard`
    — adjacency self-joined on the shared neighbor (never all-pairs),
    per-neighbor degree broadcast onto the wedge BEFORE aggregation so
    the 1/ln(d) weights partial-sum map-side. A common neighbor always
    has degree >= 2 (it touches both endpoints), so ln(d) > 0 — no
    division guard needed. Hub neighbors inflate wedges exactly as in
    triangles/jaccard; cap hub adjacency upstream for super-connectors.
    """
    adj = _adjacency(edges)
    deg_n = adj.groupBy(F.col("node").alias("nbr")).agg(F.count("*").alias("__dn"))
    l = adj.select(F.col("node").alias("ent_a"), "nbr").join(
        F.broadcast(deg_n), on="nbr"
    )
    r = adj.select(F.col("node").alias("ent_b"), "nbr")
    pairs = (
        l.join(r, on="nbr")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(
            F.count("*").alias("shared"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("__dn"))), 6).alias("aa_score"),
        )
        .filter(F.col("shared") >= int(min_shared))
    )
    direct = edges.select("ent_a", "ent_b", F.lit(True).alias("__e"))
    return (
        pairs.join(direct, on=["ent_a", "ent_b"], how="left")
        .select(
            "ent_a", "ent_b", "shared", "aa_score",
            F.coalesce(F.col("__e"), F.lit(False)).alias("linked"),
        )
    )


def cooccurrence_drift(
    triples: DataFrame,
    transcripts: DataFrame,
    origin: str = "2026-01-01 00:00:00",
    preds: tuple[str, ...] = (
        "omop2obo:hasExactMapping",
        "omop2obo:hasConstructorMapping",
    ),
) -> DataFrame:
    """Concept-association drift between the early and late half of the
    corpus: each conversation is stamped with the time of its first
    mapping assertion, the corpus splits at the integer midpoint of those
    stamps, and every co-mentioned entity pair reports its early-half vs
    late-half conversation counts plus the delta — the signal a curation
    team watches for topic/distribution shift between crawl snapshots.

    Returns (ent_a, ent_b, n_early, n_late, delta) with ent_a < ent_b;
    all counts are integers (engine-portable), delta = n_late − n_early.

    Scale shape: one turn-key join to attach time, one conv-keyed
    aggregate for the stamp, a 1-row bounds broadcast for the midpoint,
    then the same conv-bounded pair self-join as entity_cooccurrence with
    two conditional counts folded into a single map-side-combined
    aggregation — drift costs one extra scalar join over the plain
    co-occurrence graph, never a second pass.
    """
    from omop2obo_spark.operators.temporal import ts_rel_seconds

    turn_ts = transcripts.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        ts_rel_seconds(F.col("ts"), origin).alias("__rel_s"),
    )
    maps = triples.filter(F.col("pred").isin(*preds)).select(
        "conv_id", "turn_idx", F.col("obj").alias("ent")
    )
    conv_time = (
        maps.join(turn_ts, on=["conv_id", "turn_idx"])
        .groupBy("conv_id")
        .agg(F.min("__rel_s").alias("__t"))
    )
    bounds = conv_time.agg(F.min("__t").alias("__mn"), F.max("__t").alias("__mx"))
    halves = conv_time.crossJoin(F.broadcast(bounds)).select(
        "conv_id",
        (
            F.col("__t")
            <= F.col("__mn") + F.floor((F.col("__mx") - F.col("__mn")) / F.lit(2))
        ).alias("__early"),
    )
    ents = maps.select("conv_id", "ent").distinct().join(halves, on="conv_id")
    l = ents.select("conv_id", F.col("ent").alias("ent_a"), "__early")
    r = ents.select("conv_id", F.col("ent").alias("ent_b"))
    return (
        l.join(r, on="conv_id")
        .filter(F.col("ent_a") < F.col("ent_b"))
        .groupBy("ent_a", "ent_b")
        .agg(
            F.sum(F.when(F.col("__early"), 1).otherwise(0)).alias("n_early"),
            F.sum(F.when(F.col("__early"), 0).otherwise(1)).alias("n_late"),
        )
        .withColumn("delta", F.col("n_late") - F.col("n_early"))
    )


def resnik_similarity(
    triples: DataFrame,
    closure: DataFrame,
    preds: tuple[str, ...] = (
        "omop2obo:hasExactMapping",
        "omop2obo:hasConstructorMapping",
    ),
) -> DataFrame:
    """Information-content semantic similarity (Resnik 1995) between
    co-mentioned ontology entities, with IC estimated from this corpus's
    own mapping assertions — the ontology-aware upgrade over raw
    co-occurrence counts: two rare siblings sharing a specific ancestor
    score high, entities related only through the root score ~0.

    IC(c) = −ln(n_c / N) where n_c counts mapping assertions to c or any
    descendant (reflexive rollup through ``closure``) and N is the total
    assertion count; sim(a, b) = max IC over common reflexive ancestors,
    6dp. Pairs come from the co-mention graph (ent_a < ent_b); pairs with
    no common ancestor are omitted.

    Scale shape: the closure is ontology-dimension scale and broadcasts
    everywhere; assertion counts partial-aggregate map-side; the pair ×
    ancestor expansion is (pairs × bounded ancestor-set size), grouped
    straight back down on the pair key. The fact table is touched once.
    """
    maps = triples.filter(F.col("pred").isin(*preds)).select(F.col("obj").alias("ent"))
    # three consumers (the scalar N, the rollup counts join, self_only)
    # would each re-run the triples lineage; materialize the one-column
    # assertion projection once before the eager count
    maps = maps.localCheckpoint(eager=True)
    n_total = maps.count()
    # reflexive ancestor table at the triples' short-id granularity
    refl = closure.select("ent", "anc").unionByName(
        closure.select("ent").distinct().select("ent", F.col("ent").alias("anc"))
    ).distinct()
    # every mapped entity also contributes itself even if the closure
    # doesn't know it (dbxref-only classes outside the parent forest)
    self_only = maps.select("ent").distinct().select("ent", F.col("ent").alias("anc"))
    refl = refl.unionByName(self_only).distinct()
    counts = (
        maps.join(F.broadcast(refl), on="ent")
        .groupBy("anc")
        .agg(F.count("*").alias("__n"))
    )
    ic = counts.select(
        "anc",
        F.round(-F.log(F.col("__n") / F.lit(float(n_total))), 6).alias("__ic"),
    )
    pairs = entity_cooccurrence(triples, preds=preds).select("ent_a", "ent_b")
    anc_ic = refl.join(F.broadcast(ic), on="anc")
    a_side = anc_ic.select(F.col("ent").alias("ent_a"), "anc", "__ic")
    b_side = anc_ic.select(F.col("ent").alias("ent_b"), "anc")
    return (
        pairs.join(F.broadcast(a_side), on="ent_a")
        .join(F.broadcast(b_side), on=["ent_b", "anc"])
        .groupBy("ent_a", "ent_b")
        .agg(F.max("__ic").alias("resnik"))
    )


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation with fully
    deterministic tie-breaks: every node starts labeled with its own id;
    each round it adopts the most frequent label among its neighbors,
    ties broken by smallest label (isolated nodes keep their label).
    Fixed ``iterations`` and synchronous updates make the output a pure
    function of the graph — no RNG, no visit-order dependence — so an
    unrolled-CTE SQL twin reproduces it bit-for-bit (async LPA, the
    textbook variant, is order-dependent and unverifiable).

    Input: canonical ``ent_a < ent_b`` undirected edges. Output:
    (ent, community) after ``iterations`` rounds.

    Scale shape: per round, one join of the adjacency against the
    current label vector (dimension scale for an entity graph —
    broadcast) and one (node, label) count + per-node argmax window.
    The adjacency keeps its partitioning across rounds; labels are the
    only moving table. localCheckpoint per round keeps lineage O(1)
    exactly as in :func:`pagerank`.
    """
    adj = _adjacency(edges)
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("community")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("node").orderBy(F.col("__c").desc(), F.col("community").asc())
    for _ in range(int(iterations)):
        nbr_labels = adj.join(
            F.broadcast(labels.select(F.col("node").alias("nbr"), "community")),
            on="nbr",
        ).select("node", "community")
        counts = nbr_labels.groupBy("node", "community").agg(F.count("*").alias("__c"))
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "community")
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("node").alias("ent"), "community")


def deterministic_walks(edges: DataFrame, walk_len: int = 3) -> DataFrame:
    """DeepWalk-style graph walks made reproducible: one ``walk_len``-step
    walk from every vertex, where the hop taken at step s from node v is
    v's (ascending-sorted) neighbor at index ``md5(v || ':' || s) mod
    degree(v)`` — a hash-seeded walk corpus for skip-gram embedding
    pre-training that any engine regenerates bit-identically (true RNG
    walks cannot be oracle-verified or resumed deterministically).

    Returns ``(start, path)`` with path = '->'-joined node sequence of
    length walk_len + 1.

    Scale shape: the ranked adjacency (neighbor row_number per node) is
    built once — one doc-bounded window over the edge table — and each
    step is one equi-join of the walk frontier against it on
    (node, rank); the frontier carries (start, cur, path) only. Steps
    are walk_len sequential joins, each shuffle keyed on the current
    node — at graph scale this is the standard distributed walk shape
    (vs GraphX's Pregel, same volume per superstep).
    """
    adj = _adjacency(edges)
    w = Window.partitionBy("node").orderBy("nbr")
    deg = adj.groupBy("node").agg(F.count("*").alias("__d"))
    ranked = adj.withColumn("__rn", F.row_number().over(w))
    walks = deg.select(
        F.col("node").alias("start"),
        F.col("node").alias("cur"),
        F.col("node").alias("path"),
    )
    for s in range(int(walk_len)):
        cur_deg = walks.join(deg.select(F.col("node").alias("cur"), "__d"), on="cur")
        idx = (
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.col("cur"), F.lit(f":{s}"))), 1, 15),
                    16, 10,
                ).cast("bigint"),
                F.col("__d"),
            )
            + F.lit(1)
        )
        stepped = cur_deg.withColumn("__idx", idx).join(
            ranked.select(
                F.col("node").alias("cur"),
                F.col("__rn").alias("__idx"),
                F.col("nbr").alias("__next"),
            ),
            on=["cur", "__idx"],
        )
        walks = stepped.select(
            "start",
            F.col("__next").alias("cur"),
            F.concat(F.col("path"), F.lit("->"), F.col("__next")).alias("path"),
        )
    return walks.select("start", "path")


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    round_dp: int = 9,
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) over a DIRECTED edge
    list — the directed complement of :func:`pagerank`. On the mapping
    graph (source concept -> ontology class) hubs are concepts that map
    onto many authoritative classes and authorities are classes that
    well-connected concepts map onto.

    Each iteration: ``a(v) = sum_{u->v} h(u)`` then L1-normalize,
    ``h(u) = sum_{u->v} a(v)`` then L1-normalize. L1 (not the textbook
    L2) keeps the update rational in the inputs, so the unrolled SQL
    twin agrees to terminal rounding. Output: (ent, hub, auth) with 0.0
    for pure sinks/sources (e.g. in a bipartite graph every src has
    auth 0). Deterministic: fixed iterations + terminal rounding.

    Scale shape: the (deduplicated) edge table keeps its partitioning
    across all iterations; hub/authority vectors are node-cardinality,
    broadcast into the edge joins; normalization totals enter as 1-row
    broadcast cross-joins (never a driver collect); per iteration the
    cost is one groupBy on dst + one on src. ``localCheckpoint`` per
    iteration bounds lineage like :func:`pagerank`.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    if checkpoint:
        e = e.localCheckpoint(eager=True)
    hubs = e.select("src").distinct().select("src", F.lit(1.0).alias("h"))
    auth = None
    for _ in range(iterations):
        a_raw = (
            e.join(F.broadcast(hubs), on="src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a_raw"))
        )
        a_sum = a_raw.agg(F.sum("a_raw").alias("__s"))
        auth = a_raw.crossJoin(F.broadcast(a_sum)).select(
            "dst", (F.col("a_raw") / F.col("__s")).alias("a")
        )
        if checkpoint:
            auth = auth.localCheckpoint(eager=True)
        h_raw = (
            e.join(F.broadcast(auth), on="dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h_raw"))
        )
        h_sum = h_raw.agg(F.sum("h_raw").alias("__s"))
        hubs = h_raw.crossJoin(F.broadcast(h_sum)).select(
            "src", (F.col("h_raw") / F.col("__s")).alias("h")
        )
        if checkpoint:
            hubs = hubs.localCheckpoint(eager=True)
    return (
        hubs.select(F.col("src").alias("ent"), F.col("h"))
        .join(auth.select(F.col("dst").alias("ent"), F.col("a")), on="ent", how="full")
        .select(
            "ent",
            F.round(F.coalesce("h", F.lit(0.0)), round_dp).alias("hub"),
            F.round(F.coalesce("a", F.lit(0.0)), round_dp).alias("auth"),
        )
    )


def cycle_members(
    edges: DataFrame,
    child_col: str = "uri",
    parent_col: str = "parent_uri",
    max_rounds: int = 20,
) -> DataFrame:
    """DAG validation for hierarchy inputs: every node on a directed
    cycle, with its shortest cycle length.

    The closure tier assumes ``subClassOf`` edges form a DAG (the
    reference takes rdflib's word for it — ontology_utils.py walks
    parents without a cycle guard and would loop forever on a cyclic
    input). A production KG pipeline has to VALIDATE that before
    running closure/rollup, because a single bad edge in a curated
    ontology release silently turns "ancestors of X" into "everything
    on X's cycle". Empty result == certified DAG.

    A node is on a cycle iff the transitive closure contains its self
    pair, and :func:`ancestor_closure`'s min-fold depth of that pair is
    exactly the shortest cycle length through the node (iterative
    doubling prices every pair exactly on first appearance — see the
    module docstring). So this is one filter over the closure: no new
    distributed algorithm, same O(log diameter) rounds at dimension
    scale, and the same recursive-CTE oracle shape with a
    ``uri = ancestor_uri`` terminal filter.

    Output: ``(uri, cycle_len)``, one row per cycle node.
    """
    cl = ancestor_closure(edges, child_col=child_col, parent_col=parent_col,
                          max_rounds=max_rounds)
    return cl.filter(F.col("uri") == F.col("ancestor_uri")).select(
        "uri", F.col("depth").alias("cycle_len")
    )


def star_join(
    triples: DataFrame,
    required: dict[str, str | None],
    select: dict[str, str],
) -> DataFrame:
    """SPARQL-style star basic-graph-pattern over ``(subj, pred, obj)``:
    subjects matching EVERY pattern in ``required`` — ``{pred: None}``
    means "subject has some triple with this predicate", ``{pred:
    literal}`` pins the object — projected to one column per entry of
    ``select`` (``{pred: out_col}``, the min object per predicate as the
    deterministic representative).

    This is the access path a triple store must serve: a k-pattern star
    (``?m :cat 'exact' . ?m :maps ?cls . ?m :of ?conv``) is textbook-
    executed as k-1 self-joins of the triple table on subj — k-1
    shuffles of fact-scale data, or zero exchanges only when the sink's
    subj-bucketed layout is available (sources/writers.py). Conditional
    aggregation folds the whole star into ONE subj-keyed shuffle with
    map-side partial aggregation, independent of k: each partition
    reduces to at most one row per local subject before the exchange,
    and the HAVING-style filter runs on the aggregated row. Predicates
    not named in either dict are pruned at the scan.

    At 10^12-turn scale subj (a per-mention URI) is skew-free by
    construction, so the single hash exchange is balanced.
    """
    if not required:
        raise ValueError("star_join requires at least one pattern")
    preds = sorted(set(required) | set(select))
    t = (
        triples.select("subj", "pred", "obj")
        .filter(F.col("pred").isin(preds))
        .distinct()
    )
    sel = sorted(select.items())
    aggs = [
        F.min(F.when(F.col("pred") == p, F.col("obj"))).alias(out) for p, out in sel
    ]
    conds = []
    for p, want in sorted(required.items()):
        hit = (F.col("pred") == p) if want is None else (
            (F.col("pred") == p) & (F.col("obj") == want)
        )
        flag = f"__has_{len(conds)}"
        aggs.append(F.max(F.when(hit, F.lit(True)).otherwise(F.lit(False))).alias(flag))
        conds.append(flag)
    out_cols = ["subj", *(v for _, v in sel)]
    res = t.groupBy("subj").agg(*aggs)
    for flag in conds:
        res = res.filter(F.col(flag))
    return res.select(*out_cols)


def ancestor_closure_delta(
    closure: DataFrame,
    new_edges: DataFrame,
    child_col: str = "uri",
    parent_col: str = "parent_uri",
    max_rounds: int = 20,
) -> DataFrame:
    """Incrementally maintain a transitive closure when edges arrive.

    ``closure`` is a previously materialized ``ancestor_closure`` output
    (``uri, ancestor_uri, depth``); ``new_edges`` the freshly ingested
    ``(child, parent)`` rows. Returns the closure of the UNION edge set
    — identical to recomputing from scratch — with an ``is_new`` flag on
    every pair that is new or whose shortest depth improved.

    Semi-naive evaluation: the working delta starts as the new edges and
    each round composes DELTA with (base ∪ delta) on both sides — never
    base with base, so the already-closed pairs are never re-derived.
    With the delta self-composition included, path length through new
    edges doubles per round: O(log diameter) rounds, every one at
    dimension scale. A pair already in the base at an equal-or-smaller
    depth is subtracted from the delta each round, so convergence is
    reached exactly when new edges stop improving anything.

    100 TB note: this is the maintenance path for a nightly ontology
    release or a streaming subClassOf feed — |delta| is typically orders
    of magnitude below |closure|, and every join here keys on the delta
    side, so the cost scales with what changed, not with what exists.
    """
    base = closure.select("uri", "ancestor_uri", "depth").localCheckpoint(eager=True)
    delta = (
        new_edges.select(
            F.col(child_col).alias("uri"), F.col(parent_col).alias("ancestor_uri")
        )
        .where(F.col(child_col).isNotNull() & F.col(parent_col).isNotNull())
        .distinct()
        .withColumn("depth", F.lit(1))
    )

    def _minus_base(cand: DataFrame) -> DataFrame:
        # keep candidates that are new OR strictly shallower than base
        b = base.select(
            F.col("uri").alias("__bu"),
            F.col("ancestor_uri").alias("__ba"),
            F.col("depth").alias("__bd"),
        )
        return (
            cand.join(
                b,
                (cand["uri"] == b["__bu"]) & (cand["ancestor_uri"] == b["__ba"]),
                "left",
            )
            .filter(F.col("__bd").isNull() | (cand["depth"] < F.col("__bd")))
            .select("uri", "ancestor_uri", "depth")
        )

    delta = _minus_base(delta).localCheckpoint(eager=True)
    n = delta.count()
    for _ in range(max_rounds):
        if n == 0:
            break
        both = base.unionByName(delta)
        left = delta.select(
            "uri", F.col("ancestor_uri").alias("__mid"), F.col("depth").alias("__d1")
        )
        right = both.select(
            F.col("uri").alias("__mid"), "ancestor_uri", F.col("depth").alias("__d2")
        )
        fwd = left.join(right, "__mid").select(
            "uri", "ancestor_uri", (F.col("__d1") + F.col("__d2")).alias("depth")
        )
        left2 = both.select(
            "uri", F.col("ancestor_uri").alias("__mid"), F.col("depth").alias("__d1")
        )
        right2 = delta.select(
            F.col("uri").alias("__mid"), "ancestor_uri", F.col("depth").alias("__d2")
        )
        bwd = left2.join(right2, "__mid").select(
            "uri", "ancestor_uri", (F.col("__d1") + F.col("__d2")).alias("depth")
        )
        nxt = (
            delta.unionByName(fwd)
            .unionByName(bwd)
            .groupBy("uri", "ancestor_uri")
            .agg(F.min("depth").alias("depth"))
        )
        nxt = _minus_base(nxt).localCheckpoint(eager=True)
        m = nxt.count()
        delta = nxt
        if m == n:
            break
        n = m

    d = delta.select(
        F.col("uri").alias("__du"),
        F.col("ancestor_uri").alias("__da"),
        F.col("depth").alias("__dd"),
    )
    merged = (
        base.join(
            d,
            (base["uri"] == d["__du"]) & (base["ancestor_uri"] == d["__da"]),
            "full",
        )
        .select(
            F.coalesce(base["uri"], d["__du"]).alias("uri"),
            F.coalesce(base["ancestor_uri"], d["__da"]).alias("ancestor_uri"),
            F.when(
                F.col("__dd").isNotNull()
                & (base["depth"].isNull() | (F.col("__dd") < base["depth"])),
                F.col("__dd"),
            )
            .otherwise(base["depth"])
            .alias("depth"),
            (
                F.col("__dd").isNotNull()
                & (base["depth"].isNull() | (F.col("__dd") < base["depth"]))
            ).alias("is_new"),
        )
    )
    return merged


def k_core(
    edges: DataFrame,
    k: int = 2,
    src_col: str = "ent_a",
    dst_col: str = "ent_b",
    max_rounds: int = 40,
    checkpoint: bool = True,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node keeps degree >= k — the standard density filter before
    graph-embedding / community stages (peripheral one-off co-mentions
    peel away, the cohesive ontology neighborhoods remain).

    Classic iterative peeling: symmetrize + dedup, then repeatedly drop
    nodes with degree < k together with their incident edges until a
    fixpoint. Each round is one degree aggregation plus two left-semi
    joins of the edge list against the surviving-node set — the node
    set is dimension-cardinality for an entity graph, so Catalyst
    broadcasts it, and the edge table never re-partitions. Convergence
    needs at most as many rounds as the peel depth (tiny in practice:
    each round removes whole degree-layers, like the O(log d) closure
    rounds in :func:`ancestor_closure`); ``localCheckpoint`` per round
    keeps lineage O(1). The loop-control ``count`` is a scalar per
    round, not a data collect.

    Output: ``(ent, core_deg)`` — nodes of the k-core with their degree
    inside it. Empty result == no k-core (e.g. a forest at k=2).
    """
    cur = symmetrize_edges(edges, src_col, dst_col)
    if checkpoint:
        cur = cur.localCheckpoint(eager=True)
    n_cur = cur.count()
    converged = n_cur == 0
    for _ in range(max_rounds):
        if converged:
            break
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        nxt = cur.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
        if checkpoint:
            nxt = nxt.localCheckpoint(eager=True)
        n_nxt = nxt.count()  # carried into the next round: one job per round
        converged = n_nxt == n_cur or n_nxt == 0
        cur, n_cur = nxt, n_nxt
    if not converged:
        # a silent exit here would report interior nodes of a half-peeled
        # subgraph as core members — a wrong answer, not a degraded one
        raise RuntimeError(
            f"k_core did not reach a fixpoint in {max_rounds} rounds "
            f"({n_cur} edges remain); raise max_rounds"
        )
    return (
        cur.groupBy("src")
        .agg(F.count("*").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
        .select(F.col("src").alias("ent"), "core_deg")
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    source_col: str = "ent",
    max_rounds: int = 20,
    checkpoint: bool = True,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths by iterative
    relaxation (distributed Bellman-Ford): per round, every node's
    tentative distance is min(current, incoming dist + edge weight);
    fixpoint when a round improves nothing. The weighted companion of
    :func:`k_hop` — co-mention graphs weighted 1/count make "strongly
    co-mentioned" mean "near".

    Inputs: ``edges`` (src, dst, w) DIRECTED (symmetrize first for an
    undirected graph); ``sources`` — one column of seed nodes (distance
    0). Output: ``(ent, dist)`` for every reachable node, dist rounded
    9dp (path sums are double — deterministic for a given path, and the
    min over alternative paths compares exact doubles).

    Scale: each round is one equi-join of the distance vector against
    the edge list on the src key plus a map-side-combined min — the
    distance vector is node-cardinality (dimension scale next to the
    corpus); the edge table keeps its partitioning. Rounds are bounded
    by the weighted-path hop diameter; ``localCheckpoint`` caps lineage
    and the loop-control count is scalar. Negative weights are rejected
    (Bellman-Ford would need the V-1 full sweep; shortest paths over
    similarity graphs are non-negative by construction).
    """
    if edges.filter(F.col(weight_col) < 0).limit(1).count() > 0:
        raise ValueError("sssp requires non-negative edge weights")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"),
        F.col(weight_col).cast("double").alias("__w"),
    )
    dist = sources.select(F.col(source_col).alias("ent"), F.lit(0.0).alias("dist"))
    if checkpoint:
        dist = dist.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_rounds):
        cand = (
            dist.join(e, dist.ent == e.__s)
            .select(F.col("__d").alias("ent"), (F.col("dist") + F.col("__w")).alias("dist"))
            .unionByName(dist)
            .groupBy("ent")
            .agg(F.min("dist").alias("dist"))
        )
        if checkpoint:
            cand = cand.localCheckpoint(eager=True)
        improved = (
            cand.alias("n")
            .join(dist.alias("o"), "ent", "left")
            .filter(F.col("o.dist").isNull() | (F.col("n.dist") < F.col("o.dist")))
            .count()
        )
        dist = cand
        if improved == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"sssp did not converge in {max_rounds} rounds; raise max_rounds"
        )
    return dist.select("ent", F.round("dist", 9).alias("dist"))


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Degree histogram of the undirected graph plus the discrete
    power-law exponent MLE ``alpha = 1 + n / Σ ln(d / (d_min − 0.5))``
    (Clauset-Shalizi-Newman's discrete approximation at d_min = 1) —
    the one-line answer to "is this co-mention graph scale-free or did
    a template flood it?". Heavy-tailed alpha ≈ 2-3 is organic;
    alpha → large means near-regular (template) structure.

    Output: one row per degree (degree, n_nodes, share) with the same
    (alpha, n_nodes_total) on every row — kept denormalized so the
    result is one hashable frame. Floats 6dp.

    Scale shape: degree aggregate (node dim) → degree histogram
    (≤ max-degree rows) → 1-row alpha fold broadcast back.
    """
    deg = _adjacency(edges).groupBy("node").agg(F.count("*").alias("degree"))
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))
    stats = deg.agg(
        F.count("*").alias("__n"),
        F.sum(F.log(F.col("degree") / F.lit(0.5))).alias("__s"),
    )
    return (
        hist.crossJoin(F.broadcast(stats))
        .select(
            F.col("degree").cast("long").alias("degree"),
            "n_nodes",
            F.round(F.col("n_nodes") / F.col("__n"), 6).alias("share"),
            F.round(F.lit(1.0) + F.col("__n") / F.col("__s"), 6).alias("alpha"),
            F.col("__n").cast("long").alias("n_nodes_total"),
        )
    )
