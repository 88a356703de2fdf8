"""Driver-side cost of building ``llm_corpus_prep_v5``.

At small scale the build, not the data, sets v5's latency: each
DataFrame call and column expression is a py4j round trip, and the
build checkpoints the shared posting join on a worker thread while the
driver plans the branches that do not read it.
"""

from __future__ import annotations

from etl_procedure_codes_crawler_spark import harness

V5 = "llm_corpus_prep_v5"

#: py4j commands one warm build and materialization of v5 may send at
#: sf0.001. It sent 4,312 with PySpark's per-call call-site capture on
#: and both dropped join chains in place, and 1,708 since; the bound
#: leaves room for small plan edits, not for the capture to return.
V5_PY4J_COMMANDS_BOUND = 2_000


def test_v5_build_and_materialize_stays_under_its_py4j_bound(spark, sf_dir):
    # an untimed run first: a path's first load infers its schema
    harness.materialize(harness.registry()[V5](spark, sf_dir))
    with harness.py4j_commands(spark) as sent:
        harness.build_and_materialize(spark, V5, sf_dir)
        commands = sent()
    assert 0 < commands <= V5_PY4J_COMMANDS_BOUND, commands


def test_v5_build_keeps_every_job_in_the_callers_job_group(
    spark, sf_dir, jobs_started_by
):
    build = harness.registry()[V5]
    jobs = jobs_started_by(lambda: build(spark, sf_dir), "v5-build")
    # the build runs jobs of its own: the posting join's eager
    # checkpoint on the worker thread, and union-find's label fetch
    assert jobs
    tracker = spark.sparkContext.statusTracker()
    assert set(jobs) <= set(tracker.getJobIdsForGroup("v5-build"))
