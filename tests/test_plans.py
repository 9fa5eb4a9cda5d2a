"""Physical-plan assertions: the things that must hold at 100 TB.

- term predicates reach the parquet scan (PushedFilters)
- the scan projects only needed columns (ReadSchema pruning)
- no row-at-a-time Python (BatchEvalPython) anywhere; only Arrow-batched
  exchange (ArrowEvalPython / FlatMapGroupsInPandas / MapInArrow)
- query-side small joins broadcast instead of shuffling
"""

import contextlib
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index.build import build_index
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import webtext_df


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("planidx") / "idx")
    build_index(
        spark, webtext_df(spark, 600), idx,
        partition_seconds=3600, block_span=256,
    )
    return SearchEngine(spark, idx)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_one_task(plan: str) -> None:
    """A kernel op below KERNEL_TASK_MIN_POSTINGS: one Python task behind
    a coalesce -- no exchange at all."""
    assert "Exchange" not in plan, plan
    assert "Coalesce 1" in plan, plan


@contextlib.contextmanager
def _floor_lowered(engine):
    engine.KERNEL_TASK_MIN_POSTINGS = 1  # instance attr shadows the class
    try:
        yield
    finally:
        del engine.KERNEL_TASK_MIN_POSTINGS


def _assert_pid_exchange(engine, plan: str) -> None:
    """Fanned out: exactly one exchange, hash-partitioning by pid into
    min(pids, cores) tasks."""
    n = min(
        len(engine.pid_counts),
        engine.spark.sparkContext.defaultParallelism,
    )
    assert n > 1
    assert plan.count("Exchange") == 1, plan
    shape = rf"Exchange hashpartitioning\(pid#\d+L, {n}\)"
    assert re.search(shape, plan), plan


def test_term_filter_pushdown(engine):
    df = engine.postings.filter(engine.postings.term == "w000001")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1][:200]


def test_search_plan_no_row_python_and_pruned(engine):
    # the match+score kernel frame: Arrow-batched, no row-Python
    kdf = engine.kernel_frame("w000001 AND w000002", k=10)
    kplan = _plan(kdf)
    assert "BatchEvalPython" not in kplan, "row-at-a-time Python in hot path"
    assert "MapInPandas" in kplan  # the Arrow-batched kernel
    # the frame search() returns: the k-winner display gather is a
    # job-free pyarrow point read materialized as a LocalRelation (the
    # broadcast docmap join remains only as the fallback for storage the
    # driver can't read) -- still no row-Python anywhere
    df = engine.search("w000001 AND w000002", k=10, local=False)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert (
        "LocalTableScan" in plan
        or "BroadcastHashJoin" in plan
        or "BroadcastNestedLoopJoin" in plan
    )


def test_build_plan_no_row_python_single_shuffle(spark):
    from miru_spark.index.build import (
        _SEGMENT_SCHEMA,
        _make_indexer,
        _with_pid,
    )

    wt = _with_pid(webtext_df(spark, 100), 3600)
    df = (
        wt.select("pid", "url", "warc_us", "lang", "text")
        .repartition(8, "pid")
        .mapInArrow(_make_indexer(256), _SEGMENT_SCHEMA)
    )
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    # document bytes cross exactly ONE exchange (a plain pid hash
    # repartition); minting/tokenize/invert/encode all run in-worker,
    # and the JVM never sorts
    assert plan.count("Exchange") == 1, plan
    assert "Sort" not in plan, plan


def test_docmap_scan_prunes_columns(engine):
    df = engine.docmap.select("pid", "doc_id")
    plan = _plan(df)
    assert "ReadSchema" in plan
    rs = plan.split("ReadSchema:")[1][:200]
    assert "url" not in rs and "doc_len" not in rs


def test_engine_conf_isolated_from_caller_session(spark, engine):
    # the engine plans through a private child session (shared
    # SparkContext, isolated SQLConf): an open engine must not change
    # what OTHER workloads on the caller's session plan with
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert engine.spark is not spark
    assert engine.spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # plan-shaping runtime conf carries over to the child
    assert engine.spark.conf.get("spark.sql.shuffle.partitions") == (
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_filter_only_terms_shed_blobs_in_kernel_plan(engine):
    # composed field terms never score: the kernel fetch must null their
    # tf/dl blobs BEFORE the exchange (CASE WHEN term IN (scoring...))
    df = engine.kernel_frame("w000001 AND lang:de", k=10)
    plan = _plan(df)
    assert "CASE WHEN" in plan and "tfs_bin" in plan
    # pure scoring queries must NOT pay the projection
    df2 = engine.kernel_frame("w000001 AND w000002", k=10)
    assert "CASE WHEN" not in _plan(df2)


def test_simhash_plan_single_pass_no_row_multiplication(spark):
    # dd_simhash computes all bit votes as parallel aggregates of ONE
    # groupBy -- no crossJoin against a bit table (r2 shuffled 16x the
    # (doc, term) relation), no Python eval, two hash exchanges total
    # (tf grouping + vote grouping)
    from miru_spark.ops.dedup import dd_simhash

    df = dd_simhash(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 2


def test_agg_kernel_plans_shed_all_blobs(engine):
    """Aggregation modes never score: EVERY fetched term's tf/dl blobs
    must be nulled before the exchange (literal-null projection, not a
    CASE), and the plan stays Arrow-batched with no row-Python."""
    df = engine.kernel_frame("w000001 AND w000002", k=0, agg="count")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    assert "null AS tfs_bin" in plan and "null AS dls_bin" in plan

    # waveform ships 't' rows: the union is laid out per query -- a
    # small op as ONE exchange-free task, blob-free either way
    def waveform_plan():
        return _plan(engine.kernel_frame(
            "w000001", k=0, agg="waveform", bucket_us=3600_000_000
        ))

    wplan = waveform_plan()
    assert "BatchEvalPython" not in wplan
    assert "null AS tfs_bin" in wplan
    _assert_one_task(wplan)

    # stumptown (waveform + newest-k in one pass) has the same shape:
    # 't' rows ride along, blobs shed, one task, Arrow-batched
    def stumptown_plan():
        return _plan(engine.kernel_frame(
            "w000001", k=5, agg="stumptown", bucket_us=3600_000_000
        ))

    splan = stumptown_plan()
    assert "BatchEvalPython" not in splan
    assert "null AS tfs_bin" in splan and "null AS dls_bin" in splan
    _assert_one_task(splan)

    # past the per-task floor both fan out: exactly one pid exchange
    # into min(pids, cores) tasks
    with _floor_lowered(engine):
        _assert_pid_exchange(engine, waveform_plan())
        _assert_pid_exchange(engine, stumptown_plan())


def test_streamed_facet_prefix_pushdown_and_blob_shed(engine):
    """r5 streamed facet mode (facet_prefixes): the facet field's
    composed-term range must reach the parquet scan as a pushed
    StartsWith filter (term-major row groups prune on term min/max),
    every blob must shed before the kernel, and the plan stays
    Arrow-batched with no row-Python: one exchange-free task at the
    default floor, exactly one pid exchange past it."""
    df = engine.kernel_frame(
        "w000001", k=0, agg="distincts",
        facet_prefixes=["lang\x1f"],
    )
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    assert "StartsWith" in plan.split("PushedFilters")[1][:400], plan
    assert "null AS tfs_bin" in plan and "null AS dls_bin" in plan
    _assert_one_task(plan)
    with _floor_lowered(engine):
        _assert_pid_exchange(engine, _plan(engine.kernel_frame(
            "w000001", k=0, agg="distincts",
            facet_prefixes=["lang\x1f"],
        )))
