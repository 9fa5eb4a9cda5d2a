"""Kernel-route Python task sizing (`SearchEngine._kernel_tasks`).

Every Python task pays a fixed start-up cost before its UDF runs, so the
distributed route plans its task count from the op's estimated postings:
an op below KERNEL_TASK_MIN_POSTINGS runs as ONE task behind a coalesce
(one stage, no exchange), a larger one hash-partitions by pid up to
min(pids touched, cores).

- the ACTUAL task count of the mapInPandas stage, read through
  statusTracker (job group -> stage ids -> numTasks), is 1 at the default
  floor and min(pids, defaultParallelism) with the floor lowered on the
  instance; explain() predicts it without launching a job;
- every kernel op answers identically at one task, at the lowered-floor
  multi-task count and on the serving route, on an uncached, a cached
  and an unpinned-tombstone engine.
"""

import itertools
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index.build import build_index
from miru_spark.index.removals import remove_docs
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import webtext_df

N = 600
PSEC = 600  # ~7 s of crawl time per doc -> ~7 pids, above local[4]'s cores
T0 = 1704067200_000_000
# starts and ends mid-pid: both boundary pids ship their 't' rows
TRANGE = (T0 + 900 * 1_000_000, T0 + 2700 * 1_000_000)
QUERIES = ["w000001 AND w000004", "w000002", "w000003 OR w000010"]
_group_ids = itertools.count()


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("kernel_tasks") / "index")
    i = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    wt = webtext_df(spark, N).withColumn(
        "fields",
        F.create_map(
            F.lit("tag"), F.array(F.format_string("t%d", i % 7)),
            F.lit("stream"), F.array((i % 3).cast("string")),
        ),
    )
    build_index(
        spark, wt, d, partition_seconds=PSEC, block_span=256,
        extra_fields=["tag", "stream"],
    )
    # tombstones: pinned engines mask driver-side, the unpinned one
    # ships them to its tasks as 'x' rows
    probe = SearchEngine(spark, d)
    hits = probe.search_collect("w000001", k=3)
    probe.close()
    remove_docs(spark, d, [(p, doc) for p, doc, _s, _u in hits])
    return d


@pytest.fixture(scope="module")
def serve(spark, idx):
    e = SearchEngine(spark, idx)
    yield e
    e.close()


@pytest.fixture(scope="module")
def kern(spark, idx):
    # zero serving budget: search_many / newest route to the kernel
    e = SearchEngine(spark, idx, local_max_postings=0)
    assert len(e.pid_counts) > spark.sparkContext.defaultParallelism
    yield e
    e.close()


@pytest.fixture(scope="module", params=["uncached", "cached", "x_rows"])
def engine(request, spark, idx):
    kw = {"local_max_postings": 0}
    if request.param == "x_rows":
        kw["max_pinned_removals"] = 0
    e = SearchEngine(spark, idx, **kw)
    if request.param == "cached":
        e.cache()
    if request.param == "x_rows":
        assert e._removed_df is not None and e._removed_map is None
    yield e
    e.close()


def _run_grouped(spark, fn):
    """Run fn under a fresh job group; return (result, [[numTasks per
    stage, by stage id] per job])."""
    sc = spark.sparkContext
    gid = f"kernel-tasks-{next(_group_ids)}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = []
    for j in sorted(tracker.getJobIdsForGroup(gid)):
        stages = sorted(tracker.getJobInfo(j).stageIds)
        jobs.append([tracker.getStageInfo(s).numTasks for s in stages])
    return out, jobs


def _kernel_stages(name, jobs) -> list:
    """Per-stage task counts of an op's kernel job. search_many's batch
    first broadcasts its (qid, term) map, a JVM-only job of its own; the
    kernel job is the last."""
    assert len(jobs) == (2 if name == "search_many" else 1), (name, jobs)
    return jobs[-1]


def _kernel_task_count(stages) -> int:
    """mapInPandas task count: one task runs exchange-free, a single
    stage; sized above one, the stage after the scan's exchange (stage
    ids ascend parents-first)."""
    return stages[0] if len(stages) == 1 else stages[1]


def _tag_counts(e, rows):
    terms = e.field_terms("tag")
    return sorted(
        (terms[int(r["doc_id"])].split("\x1f", 1)[1], int(r["c"]))
        for r in rows
    )


def _ops(e, local):
    """name -> thunk answering one op on the kernel (local=False) or on
    the serving route (local=True)."""
    lf = {"local": local}
    return {
        "search_collect": lambda: e.search_collect(
            QUERIES[0], k=10, **lf
        ),
        "search_time_range": lambda: e.search_collect(
            "w000001 OR w000002", k=10, time_range_us=TRANGE, **lf
        ),
        "search_many": lambda: e.search_many(QUERIES, k=10),
        "newest": lambda: [
            tuple(r) for r in e.newest(k=8, query="w000002").collect()
        ],
        "distincts_streamed": lambda: e.distincts(
            "tag", "w000001", **lf
        ),
        "distincts_listed": lambda: (
            sorted(e.distincts("tag", "w000001", local=True))
            if local else _tag_counts(
                e,
                e.kernel_frame(
                    "w000001", k=0, agg="distincts",
                    facet_terms=e.field_terms("tag"),
                )
                .groupBy("doc_id")
                .agg(F.sum("score").alias("c"))
                .collect(),
            )
        ),
        "stumptown": lambda: e.stumptown(
            "w000002", bucket_seconds=PSEC, k=5, **lf
        ),
        "waveform": lambda: e.waveform(
            "w000001 OR w000004", bucket_seconds=PSEC,
            time_range_us=TRANGE, **lf
        ),
        "strut": lambda: e.strut(
            "tag", [(1.0, ("stream",))], k=5, query="w000001", **lf
        ),
    }


def test_small_ops_run_one_task_and_explain_predicts_it(spark, kern):
    q = QUERIES[0]
    cases = {
        "search_collect": (
            lambda: kern.search_collect(q, k=10, local=False),
            lambda: kern.explain(q)["kernel_tasks"],
        ),
        "distincts": (
            lambda: kern.distincts("tag", q, local=False),
            lambda: kern.explain(q, field="tag")["facet"]["kernel_tasks"],
        ),
        "search_many": (lambda: kern.search_many(QUERIES, k=10), None),
    }
    for name, (op, predict) in cases.items():
        _out, jobs = _run_grouped(spark, op)
        # one stage, one task: the coalesce plans no exchange at all
        assert _kernel_stages(name, jobs) == [1], (name, jobs)
        if predict is not None:
            rep, ejobs = _run_grouped(spark, predict)
            assert ejobs == [], name  # the prediction launches nothing
            assert rep == 1, name
    # the estimate the count came from is reported beside it
    est = kern.explain(q)["estimated_postings"]
    assert 0 < est < kern.KERNEL_TASK_MIN_POSTINGS


def test_lowered_floor_fans_out_to_pids_times_cores(spark, kern, monkeypatch):
    monkeypatch.setattr(kern, "KERNEL_TASK_MIN_POSTINGS", 1)
    want = min(
        len(kern.pid_counts), spark.sparkContext.defaultParallelism
    )
    assert want > 1
    q = QUERIES[0]
    for name, op, predicted in (
        (
            "search_collect",
            lambda: kern.search_collect(q, k=10, local=False),
            kern.explain(q)["kernel_tasks"],
        ),
        (
            "distincts",
            lambda: kern.distincts("tag", q, local=False),
            kern.explain(q, field="tag")["facet"]["kernel_tasks"],
        ),
        ("search_many", lambda: kern.search_many(QUERIES, k=10), want),
    ):
        _out, jobs = _run_grouped(spark, op)
        stages = _kernel_stages(name, jobs)
        assert len(stages) >= 2, (name, jobs)  # scan, exchange, kernel
        assert _kernel_task_count(stages) == want == predicted, (name, jobs)


def test_answers_identical_across_task_counts_and_routes(
    spark, serve, engine, monkeypatch
):
    served = {name: op() for name, op in _ops(serve, True).items()}
    one_task = {name: op() for name, op in _ops(engine, False).items()}
    monkeypatch.setattr(engine, "KERNEL_TASK_MIN_POSTINGS", 1)
    fanned = {name: op() for name, op in _ops(engine, False).items()}
    for name, want in served.items():
        assert want, name  # every op has a non-empty answer here
        assert one_task[name] == want, name
        assert fanned[name] == want, name


def test_tombstones_masked_on_every_route(serve, kern):
    removed = {
        (int(r["pid"]), int(r["doc_id"]))
        for r in serve._removed_df.collect()
    }
    assert len(removed) == 3
    for rows in (
        serve.search_collect("w000001", k=50, local=True),
        kern.search_collect("w000001", k=50, local=False),
    ):
        assert rows
        assert not {(p, d) for p, d, _s, _u in rows} & removed
