"""Structural plan-regression pins (round-6 VERDICT #5): the physical
plans of the flagship query paths must keep the shape the scale audit
approved — no Python evals in any hot path, no nested-loop/cartesian
joins, bounded exchange counts, broadcasts where a dimension is joined,
filters pushed into the parquet scan. Catches the next exchange-reuse /
janino-blowup / lost-pushdown regression at pytest time instead of as a
bench delta.

Bounds are the audited sf0.001 values (tools/plan_audit.py) — an
optimization may LOWER them freely; anything above fails loudly and the
bound should only be raised together with a plan-audit justification.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tools.plan_audit import audit

#: query -> (max shuffles, min broadcast joins, require pushed filters)
BOUNDS: dict[str, tuple[int, int, bool]] = {
    "q1_pricing_summary": (1, 0, True),
    "q3_shipping_priority": (1, 2, True),
    "j_broadcast_dim": (1, 1, True),
    "d_minhash_lsh": (9, 0, False),
    "d_embedding_lsh_scaled": (3, 0, False),
    # 9→3 shuffles / 8→5 broadcasts with the round-14 corroboration
    # restructure: the explode → candidate-join → dropDuplicates →
    # pivot → re-join person chain (4 shuffles, 3 of the broadcasts)
    # collapsed into array_intersect arithmetic on the candidate row;
    # executor CPU 227 s → 44 s at sf0.1, oracle value-exact.
    "pl_step22_works": (3, 5, False),
    "g_cooccurrence_edges": (3, 0, False),
    # 23 -> 26 with the round-13 stage-flag persists (commit 692291a):
    # caching the slim per-stage flag frames replaces re-derived
    # subtrees (54 corpus scans in one plan) with InMemoryTableScans,
    # and three cached consumers now pay their own small re-exchange
    # instead of sharing a recomputed subtree. Warm wall 9.6 -> 6.0 s;
    # the exchanges carry per-doc flags only.
    "cur_incremental_e2e": (26, 19, False),
    "s98_rename_plan": (2, 1, False),
    "w_topk_salted": (3, 0, False),
    "a_salted_agg": (2, 0, False),
    "d_ngram_jaccard_capped": (7, 0, False),
    # round 6: the context chunker is map-only — ZERO exchanges, zero
    # Python; any exchange appearing here is a regression
    "t_chunk_windows": (0, 0, False),
    # round 8: insights tranche 3 — global/per-scope top-N must stay
    # TakeOrdered (map-side partial top-k), never a full-grain rank
    # window (checked separately below); shuffle counts audited
    "r92_albums_timeline": (2, 0, False),
    "r92_rg_extremes": (2, 0, False),
    "r92_rg_dynamics": (4, 0, False),
    "r92_spotlight_roles": (6, 0, False),
    "r92_most_instances": (9, 3, False),
}

#: queries whose ranking MUST run as TakeOrdered, not a global window
TAKE_ORDERED = (
    "r92_rg_extremes",
    "r92_rg_dynamics",
    "r92_spotlight_roles",
    "r92_most_instances",
)


@pytest.fixture(scope="module")
def audited(spark):
    import __spark_entry__ as entry
    from tagminder_spark.cache import release_session_caches

    # plans must be audited against a quiet session: cached frames left
    # by earlier tests substitute InMemoryTableScans into matching plan
    # fragments and shift the exchange counts
    release_session_caches()
    spark.catalog.clearCache()

    qs = entry.queries()
    out = {}
    for name in BOUNDS:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = audit(plan)
        out[name]["_take_ordered"] = "TakeOrdered" in plan
    # leave the session quiet for whoever runs next, too
    release_session_caches()
    spark.catalog.clearCache()
    return out


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_plan_shape(audited, name):
    a = audited[name]
    max_shuffles, min_bhj, want_pushdown = BOUNDS[name]
    assert a["python_evals"] == 0, f"{name}: Python eval in a hot path"
    assert a["nested_loop_joins"] == 0, f"{name}: nested-loop/cartesian join"
    assert a["shuffles"] <= max_shuffles, (
        f"{name}: {a['shuffles']} exchanges > audited bound {max_shuffles}"
    )
    assert a["broadcast_joins"] >= min_bhj, (
        f"{name}: expected >= {min_bhj} broadcast joins, got {a['broadcast_joins']}"
    )
    if want_pushdown:
        assert a["pushed_filters"], f"{name}: no filters pushed to the scan"
    if name in TAKE_ORDERED:
        assert a["_take_ordered"], (
            f"{name}: top-N lost its TakeOrdered — a full-grain rank "
            "window would bottleneck one partition at scale"
        )


def test_tag_parse_real_plan_is_pipelined(spark):
    """The tag-IO gate must stay ONE FUSED MapInPandas stage (round-13
    fusion: build+parse share a single Python worker per task, so the
    synthesized container bytes never cross the Arrow boundary — 50k
    containers would otherwise round-trip Python->JVM->Python at sf1)
    over a doc_id-only pruned scan, no hash exchange anywhere (the only
    exchange is spread()'s round-robin of the bare doc_id frame), no
    row-at-a-time Python."""
    import __spark_entry__ as entry

    df = entry.queries()["s3_tag_parse_real"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    a = audit(plan)
    assert a["shuffles"] == 0, "hash exchange crept into the tag gate"
    assert a["python_evals"] == 0
    assert plan.count("MapInPandas") == 1, "build+parse no longer fused"
    assert "ReadSchema: struct<doc_id:bigint>" in plan, (
        "scan no longer pruned to doc_id"
    )


def test_audit_detects_broken_plans(spark):
    """The checker must BITE: a row-at-a-time Python UDF and a cartesian
    join — the two classes these pins exist to catch — are both
    detected on deliberately-broken plans."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    bad_udf = F.udf(lambda x: x + 1, IntegerType(), useArrow=False)
    df = spark.range(10).select(bad_udf(F.col("id").cast("int")).alias("v"))
    a = audit(df._jdf.queryExecution().executedPlan().toString())
    assert a["python_evals"] >= 1

    cross = spark.range(5).crossJoin(spark.range(5).selectExpr("id AS j"))
    a2 = audit(cross._jdf.queryExecution().executedPlan().toString())
    assert a2["nested_loop_joins"] >= 1


# ---------------------------------------------------------------------------
# job-count pins: on this kind of host every Spark job costs a fixed
# ~200 ms whatever its size, so the floor-bound table paths are pinned
# by how many jobs they launch, counted through the status tracker


def _jobs_in(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _four_file_table(spark, root: str):
    from pyspark.sql import functions as F

    from tagminder_spark.operators.table_manifest import init_manifest

    (
        spark.range(0, 400, 1, 4)
        .select(F.col("id").alias("doc_id"),
                F.concat(F.lit("t"), F.col("id")).alias("title"))
        .write.parquet(root)
    )
    init_manifest(spark, root, stats_cols=("doc_id",))


def test_snapshot_read_launches_no_job(spark, tmp_path):
    """A committed table records its schema, so planning a snapshot
    read infers nothing — zero jobs — with and without a pending
    positional delete."""
    from tagminder_spark.operators.table_manifest import (
        delete_where,
        snapshot_read,
    )

    root = str(tmp_path / "t")
    _four_file_table(spark, root)
    df, jobs = _jobs_in(spark, lambda: snapshot_read(spark, root))
    assert jobs == [], f"plain snapshot read launched jobs {jobs}"
    assert df.count() == 400
    delete_where(spark, root, [("doc_id", "<", 10)])
    df, jobs = _jobs_in(spark, lambda: snapshot_read(spark, root))
    assert jobs == [], f"read with a positional delete launched {jobs}"
    assert df.count() == 390


def test_parse_tags_one_task_per_core(spark):
    """The tag parse runs at most one Python task per core: a 20-split
    input is coalesced (no shuffle) before the mapInPandas."""
    from tagminder_spark.sources.catalog import parse_tags

    files = spark.range(0, 20, 1, 20).selectExpr("cast(id AS string) AS path")
    parsed = parse_tags(files)
    n = parsed.rdd.getNumPartitions()
    assert n <= spark.sparkContext.defaultParallelism, n
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert audit(plan)["shuffles"] == 0


#: jobs of merge_into_manifest updating 3 rows of a 4-file table, as
#: measured: the touched-file probe, the rewrite of the touched file
#: and the CDC change-file write, with their exchange and broadcast
#: jobs.  It was 8 while both snapshot reads inside the merge inferred
#: the table schema.
MERGE_JOBS_MAX = 6


def test_merge_into_manifest_job_count(spark, tmp_path):
    from pyspark.sql import functions as F

    from tagminder_spark.operators.table_manifest import (
        merge_into_manifest,
        snapshot_read,
    )

    root = str(tmp_path / "t")
    _four_file_table(spark, root)
    upd = spark.range(0, 3).select(
        F.col("id").alias("doc_id"), F.lit("new").alias("title")
    )
    rep, jobs = _jobs_in(
        spark, lambda: merge_into_manifest(spark, root, upd, "doc_id")
    )
    assert rep["files_rewritten"] == 1
    assert len(jobs) <= MERGE_JOBS_MAX, f"{len(jobs)} jobs: {jobs}"
    assert snapshot_read(spark, root).filter("title = 'new'").count() == 3


#: jobs of a 1-row delete_where on a fresh 4-file table, as measured:
#: the positional-delete write (its match count rides on it) and the
#: CDC preimage write.  It was 3 while the first positional
#: read on a table ran a one-task job to probe Spark's file-path prefix.
DELETE_JOBS_MAX = 2


def test_delete_where_job_count(spark, tmp_path):
    from tagminder_spark.operators.table_manifest import (
        delete_where,
        snapshot_read,
    )

    root = str(tmp_path / "t")
    _four_file_table(spark, root)
    rep, jobs = _jobs_in(
        spark, lambda: delete_where(spark, root, [("doc_id", "=", 7)])
    )
    assert rep["rows_deleted"] == 1
    assert len(jobs) <= DELETE_JOBS_MAX, f"{len(jobs)} jobs: {jobs}"
    assert snapshot_read(spark, root).count() == 399
