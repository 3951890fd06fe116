"""The link dimension's build (operators/linking.py build_link_dim): its
rows on the fixture inputs, broadcast and salted; the Spark jobs that
run_pipeline's concurrent build starts; and a build error reaching the
caller."""

import hashlib
import threading

from omop2obo_spark import fixtures as FX
from omop2obo_spark.config import BROADCAST_DIM_MAX_ROWS, SALT_BUCKETS
from omop2obo_spark.fixtures.generators import transcripts_df, vocab_map_dict
from omop2obo_spark.operators import linking
from omop2obo_spark.plans.pipeline import run_pipeline

# sorted-row digests of the fixture link dimension, from the build before
# its shared intermediates were localized
LINKS_DIGEST = (183, "cf0c5c346609d196b8876d872708d2ea4c6dbba396ef1a800fbe9287276d1517")
SEMTYPES_DIGEST = (31, "0bb099e163841e29902c4cad0249c03afd791739d710306fc9a730b56fb8fb0f")
# Spark jobs of one fixture build at local[8] (the build used 30 before
# its shared intermediates were localized)
MAX_BUILD_JOBS = 25


def _digest(df) -> tuple[int, str]:
    rows = sorted("\t".join("\\N" if v is None else str(v) for v in r) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _fixture_inputs(spark):
    lex, vm = FX.lexicon_df(spark), vocab_map_dict()
    return lex, vm, FX.mrconso_df(spark), FX.mrsty_df(spark)


def test_link_dimension_rows_pinned_broadcast_and_salted(spark, monkeypatch):
    """The same rows whether every frame of the build is localized or,
    at ``max_rows=1``, persisted and looked up salted. Above the budget
    only the MRCONSO view, ``links`` and ``semtypes`` are probed: the
    code domain, UMLS map and stack stay lazy, with no collect or cache
    of their own."""
    lex, vm, mrconso, mrsty = _fixture_inputs(spark)
    dims = linking.LexiconDims.from_lexicon(lex, vm)
    probes = []
    real = linking.localize_dim_checked

    def counted(df, max_rows):
        probes.append(max_rows)
        return real(df, max_rows)

    monkeypatch.setattr(linking, "localize_dim_checked", counted)
    broadcast = linking.build_link_dim(dims, mrconso, mrsty, vm, BROADCAST_DIM_MAX_ROWS, SALT_BUCKETS)
    salted = linking.build_link_dim(dims, mrconso, mrsty, vm, 1, SALT_BUCKETS)
    try:
        assert probes == [BROADCAST_DIM_MAX_ROWS] * 6 + [1] * 3
        assert broadcast.salt_buckets is None and broadcast.persisted == ()
        assert salted.salt_buckets == SALT_BUCKETS
        assert len(salted.persisted) == 3
        assert salted.links.is_cached and salted.semtypes.is_cached
        for built in (broadcast, salted):
            assert _digest(built.links) == LINKS_DIGEST
            assert _digest(built.semtypes) == SEMTYPES_DIGEST
    finally:
        salted.unpersist()


def _group_jobs(sc, group: str | None) -> set[int]:
    # job start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_run_pipeline_builds_link_dimension_in_callers_job_group(spark, monkeypatch):
    """run_pipeline builds a fresh link dimension on a second thread that
    inherits the caller's job group: every job of the run lands in it, and
    the build's share (a cold run's jobs less a run on the built
    dimension's) stays at or below MAX_BUILD_JOBS."""
    sc = spark.sparkContext
    lex, vm, mrconso, mrsty = _fixture_inputs(spark)
    dims = linking.LexiconDims.from_lexicon(lex, vm)
    tr = transcripts_df(spark, n_convs=20, turns_per_conv=5)
    seen = {}
    real = linking.build_link_dim

    def spy(*a, **k):
        seen["thread"] = threading.current_thread() is not threading.main_thread()
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        return real(*a, **k)

    monkeypatch.setattr(linking, "build_link_dim", spy)
    ungrouped = _group_jobs(sc, None)
    try:
        for group in ("link-dim-cold", "link-dim-warm"):
            sc.setJobGroup(group, group)
            run_pipeline(spark, tr, lex, vm, mrconso=mrconso, mrsty=mrsty,
                         with_similarity=False, dims=dims)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {"thread": True, "group": "link-dim-cold"}
    assert not _group_jobs(sc, None) - ungrouped
    build_jobs = len(_group_jobs(sc, "link-dim-cold")) - len(_group_jobs(sc, "link-dim-warm"))
    assert 1 <= build_jobs <= MAX_BUILD_JOBS


def test_link_dimension_build_error_surfaces_from_run_pipeline(spark, monkeypatch):
    """An error in the concurrent build is raised by run_pipeline once the
    mention checkpoint is done; the call returns instead of hanging."""
    def broken(*a, **k):
        raise RuntimeError("link dimension build failed")

    monkeypatch.setattr(linking, "build_link_dim", broken)
    lex, vm = FX.lexicon_df(spark), vocab_map_dict()
    tr = transcripts_df(spark, n_convs=5, turns_per_conv=3)
    raised = []

    def call():
        try:
            run_pipeline(spark, tr, lex, vm, with_similarity=False)
        except Exception as e:  # noqa: BLE001 - the test inspects it below
            raised.append(e)

    caller = threading.Thread(target=call, daemon=True)
    caller.start()
    caller.join(300)
    assert not caller.is_alive()
    assert [type(e) for e in raised] == [RuntimeError]
    assert "link dimension build failed" in str(raised[0])
