"""RDFS entailment, SHACL-lite validation, and property-path tests.

Hand-computed closures over tiny graphs; every rule of the rho-df
fragment exercised, every SHACL-lite constraint triggered and
not-triggered, star/sequence/alternation paths checked against an
explicit reachability enumeration.
"""

from __future__ import annotations

import pytest

from omop2obo_spark.fixtures.generators import literal_df
from omop2obo_spark.operators.reasoner import (
    RDF_TYPE,
    RDFS_DOMAIN,
    RDFS_RANGE,
    RDFS_SUBCLASS,
    RDFS_SUBPROP,
    path_query,
    rdfs_entail,
    shacl_validate,
    split_schema,
)

TRIPLE = "subj string, pred string, obj string"


def _schema(spark):
    rows = [
        ("ex:Dog", RDFS_SUBCLASS, "ex:Mammal"),
        ("ex:Mammal", RDFS_SUBCLASS, "ex:Animal"),
        ("ex:hasPet", RDFS_SUBPROP, "ex:knows"),
        ("ex:knows", RDFS_SUBPROP, "ex:related"),
        ("ex:hasPet", RDFS_DOMAIN, "ex:Person"),
        ("ex:knows", RDFS_RANGE, "ex:Agent"),
    ]
    return literal_df(spark, rows, TRIPLE)


def _instance(spark):
    rows = [
        ("ex:rex", RDF_TYPE, "ex:Dog"),
        ("ex:ann", "ex:hasPet", "ex:rex"),
    ]
    return literal_df(spark, rows, TRIPLE)


def test_rdfs_entail_full_closure(spark):
    out = rdfs_entail(_instance(spark), _schema(spark))
    got = {(r.subj, r.pred, r.obj): r.inferred for r in out.collect()}

    # rdfs7: hasPet -> knows -> related (subPropertyOf closure, rdfs5)
    assert got[("ex:ann", "ex:knows", "ex:rex")] is True
    assert got[("ex:ann", "ex:related", "ex:rex")] is True
    # rdfs2: domain of hasPet types ann
    assert got[("ex:ann", RDF_TYPE, "ex:Person")] is True
    # rdfs3: range of knows applies to the rdfs7-DERIVED knows triple
    assert got[("ex:rex", RDF_TYPE, "ex:Agent")] is True
    # rdfs9 over rdfs11: Dog -> Mammal -> Animal
    assert got[("ex:rex", RDF_TYPE, "ex:Mammal")] is True
    assert got[("ex:rex", RDF_TYPE, "ex:Animal")] is True
    # asserted rows survive, flagged not-inferred
    assert got[("ex:rex", RDF_TYPE, "ex:Dog")] is False
    assert got[("ex:ann", "ex:hasPet", "ex:rex")] is False
    # schema rows pass through asserted
    assert got[("ex:Dog", RDFS_SUBCLASS, "ex:Mammal")] is False
    # nothing unexpected: closure is exactly asserted + the 6 derivations
    assert len(got) == 8 + 6


def test_rdfs_entail_asserted_wins_over_derived(spark):
    # The derivable triple is ALSO asserted -> inferred must be False.
    inst = _instance(spark).unionByName(
        literal_df(spark, [("ex:ann", "ex:knows", "ex:rex")], TRIPLE)
    )
    out = rdfs_entail(inst, _schema(spark))
    row = out.filter(
        (out.subj == "ex:ann") & (out.pred == "ex:knows") & (out.obj == "ex:rex")
    ).collect()
    assert len(row) == 1 and row[0].inferred is False


def test_split_schema_partitions_on_predicate(spark):
    mixed = _schema(spark).unionByName(_instance(spark))
    schema, inst = split_schema(mixed)
    assert schema.count() == 6
    assert inst.count() == 2
    assert inst.filter(inst.pred == RDFS_SUBCLASS).count() == 0


def _shapes(spark):
    rows = [
        # every Person must have 1..2 pets, all IRIs, all Dogs
        ("sh:PersonPet", "ex:Person", "ex:hasPet", 1, 2, "IRI", "ex:Dog"),
        # every Dog must have exactly one (string-literal) name
        ("sh:DogName", "ex:Dog", "ex:name", 1, 1, "Literal", None),
    ]
    cols = (
        "shape_id string, target_class string, path string, min_count long, "
        "max_count long, node_kind string, value_class string"
    )
    return literal_df(spark, rows, cols)


def test_shacl_validate_each_constraint_kind(spark):
    inst = literal_df(
        spark,
        [
            ("ex:ann", RDF_TYPE, "ex:Person"),   # ok: one pet, IRI, a Dog
            ("ex:bob", RDF_TYPE, "ex:Person"),   # minCount: no pets
            ("ex:cat", RDF_TYPE, "ex:Person"),   # maxCount: three pets
            ("ex:dee", RDF_TYPE, "ex:Person"),   # nodeKind+class: literal pet
            ("ex:rex", RDF_TYPE, "ex:Dog"),
            ("ex:fifi", RDF_TYPE, "ex:Dog"),
            ("ex:ann", "ex:hasPet", "ex:rex"),
            ("ex:cat", "ex:hasPet", "ex:rex"),
            ("ex:cat", "ex:hasPet", "ex:fifi"),
            ("ex:cat", "ex:hasPet", "ex:notadog"),  # class violation too
            ("ex:dee", "ex:hasPet", "goodboy"),     # literal -> nodeKind + class
            ("ex:rex", "ex:name", "Rex"),
            ("ex:fifi", "ex:name", "ex:Fifi"),      # IRI where Literal required
        ],
        TRIPLE,
    )
    out = shacl_validate(inst, _shapes(spark))
    got = {
        (r.focus, r.shape_id, r.constraint, r.observed): r.expected
        for r in out.collect()
    }
    assert got[("ex:bob", "sh:PersonPet", "minCount", "0")] == "1"
    assert got[("ex:cat", "sh:PersonPet", "maxCount", "3")] == "2"
    assert got[("ex:dee", "sh:PersonPet", "nodeKind", "goodboy")] == "IRI"
    assert got[("ex:dee", "sh:PersonPet", "class", "goodboy")] == "ex:Dog"
    assert got[("ex:cat", "sh:PersonPet", "class", "ex:notadog")] == "ex:Dog"
    assert got[("ex:fifi", "sh:DogName", "nodeKind", "ex:Fifi")] == "Literal"
    # fifi's name IS present (cardinality fine); ann and rex fully clean
    foci = {r.focus for r in out.collect()}
    assert "ex:ann" not in foci and "ex:rex" not in foci
    assert len(got) == 6


def test_shacl_validate_over_entailed_graph_targets_subclasses(spark):
    # Targeting ex:Animal catches a Dog only AFTER entailment.
    inst = literal_df(
        spark, [("ex:rex", RDF_TYPE, "ex:Dog")], TRIPLE
    )
    shapes = literal_df(
        spark, [("sh:AnimalName", "ex:Animal", "ex:name", 1, None, None, None)],
        "shape_id string, target_class string, path string, min_count int, "
        "max_count int, node_kind string, value_class string",
    )
    raw = shacl_validate(inst, shapes)
    assert raw.count() == 0  # rex not typed Animal without reasoning
    entailed = rdfs_entail(inst, _schema(spark)).select("subj", "pred", "obj")
    out = shacl_validate(entailed, shapes)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].focus == "ex:rex"
    assert rows[0].constraint == "minCount"


def _path_graph(spark):
    # a -p-> b -q-> c -q-> d -p-> e ;  b -r-> d
    rows = [
        ("a", "p", "b"),
        ("b", "q", "c"),
        ("c", "q", "d"),
        ("d", "p", "e"),
        ("b", "r", "d"),
    ]
    return literal_df(spark, rows, TRIPLE)


def test_path_query_sequence_and_star(spark):
    g = _path_graph(spark)
    # p/q* : from each p-edge target, any number of q hops
    out = path_query(g, [{"preds": ["p"]}, {"preds": ["q"], "star": True}])
    got = {(r.src, r.dst) for r in out.collect()}
    assert got == {("a", "b"), ("a", "c"), ("a", "d"), ("d", "e")}


def test_path_query_alternation(spark):
    g = _path_graph(spark)
    # (q|r) one hop from b
    out = path_query(g, [{"preds": ["q", "r"]}])
    got = {(r.src, r.dst) for r in out.collect()}
    assert got == {("b", "c"), ("c", "d"), ("b", "d")}


def test_path_query_three_step_with_star_middle(spark):
    g = _path_graph(spark)
    # p / (q|r)* / p  : a ..> d then p -> e
    out = path_query(
        g,
        [
            {"preds": ["p"]},
            {"preds": ["q", "r"], "star": True},
            {"preds": ["p"]},
        ],
    )
    got = {(r.src, r.dst) for r in out.collect()}
    assert got == {("a", "e")}


def test_path_query_rejects_leading_star(spark):
    with pytest.raises(ValueError):
        path_query(_path_graph(spark), [{"preds": ["p"], "star": True}])


def test_path_query_star_includes_zero_hops(spark):
    g = _path_graph(spark)
    out = path_query(g, [{"preds": ["r"]}, {"preds": ["p"], "star": True}])
    got = {(r.src, r.dst) for r in out.collect()}
    # zero p-hops keeps (b, d); one p-hop adds (b, e)
    assert got == {("b", "d"), ("b", "e")}
