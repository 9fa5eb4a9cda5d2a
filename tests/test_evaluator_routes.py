"""One top-k evaluator on both routes, and the format >= 2 requirement.

Every top-k search runs `engine._evaluate`: on the serving node
(`local=True`) over LRU-decoded postings, on the distributed route
(`local=False`) once per kernel task. These tests pin match-all
scoring, TIME newest-k with a time range and seeded block-max on the
kernel route against the serving route and the pure-Python oracle, plus
the init-time rejection of pre-format-2 indexes, the agg kernel's
declared empty-frame columns, search_many's docmap-miss drop, and the
build's atomic meta.json write.
"""

import json
import math
import os
import shutil

import pytest
from pyspark.sql import functions as F

from miru_spark.index.build import build_index
from miru_spark.oracle import OracleIndex
from miru_spark.query import engine as E
from miru_spark.query.engine import IndexFormatError, SearchEngine
from miru_spark.webtext import generate_rows

N_DOCS = 600
PARTITION_SECONDS = 600  # 600 docs x 7s => ~7 pids
BLOCK_SPAN = 64


@pytest.fixture(scope="module")
def corpus():
    rows = generate_rows(range(N_DOCS))
    for i, r in enumerate(rows):
        r["authz"] = [f"g{i % 4}"]
    return rows


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex(corpus, partition_seconds=PARTITION_SECONDS)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("eval_idx"))
    wt = spark.createDataFrame(
        [
            (r["url"], r["warc_us"], r["html"], r["text"], r["lang"],
             r["authz"])
            for r in corpus
        ],
        "url string, warc_us long, html binary, text string, lang string, "
        "authz array<string>",
    ).select(
        "url",
        F.timestamp_micros("warc_us").alias("warc_ts"),
        "html", "text", "lang", "authz",
    )
    build_index(
        spark, wt, d,
        partition_seconds=PARTITION_SECONDS, block_span=BLOCK_SPAN,
    )
    return d


@pytest.fixture(scope="module")
def engine(spark, index_dir):
    eng = SearchEngine(spark, index_dir)
    yield eng
    eng.close()


def _range(corpus, lo_frac, hi_frac):
    ts = sorted(r["warc_us"] for r in corpus)
    return ts[int(len(ts) * lo_frac)], ts[int(len(ts) * hi_frac)]


@pytest.mark.parametrize(
    "constraints,authz,timed",
    [
        ("lang:de", None, False),
        (None, ["g1"], False),
        ("lang:en", ["g0", "g2"], False),
        (None, ["g3"], True),
    ],
)
def test_match_all_scoring_route_identity(
    engine, oracle, corpus, constraints, authz, timed
):
    """Match-all scoring searches (query=None: every doc matching the
    constraints/authz, score 0) give the same rows on both routes and
    in the oracle; the timed case clips the universe at boundary pids."""
    kw = {"constraints": constraints, "authz": authz}
    want = oracle.search(None, k=N_DOCS, **kw)
    if timed:
        t0, t1 = _range(corpus, 0.2, 0.6)
        kw["time_range_us"] = (t0, t1)
        warc = {r["url"]: r["warc_us"] for r in corpus}
        want = [w for w in want if t0 <= warc[w[3]] <= t1]
    want = want[:10]
    assert len(want) == 10
    local = engine.search_collect(None, k=10, local=True, **kw)
    kernel = engine.search_collect(None, k=10, local=False, **kw)
    assert local == kernel
    assert [(p, d, u) for p, d, _s, u in kernel] == [
        (p, d, u) for p, d, _s, u in want
    ]
    for (_p, _d, s, _u), w in zip(kernel, want):
        assert math.isclose(s, w[2], rel_tol=0, abs_tol=1e-9)


@pytest.mark.parametrize("constraints,authz", [("lang:de", None),
                                               (None, ["g3"])])
def test_newest_match_all_time_range_on_kernel(
    engine, oracle, corpus, constraints, authz, monkeypatch
):
    """TIME newest-k of a match-all filter with a time range, forced onto
    the kernel (local_max_postings=0), equals the serving route and the
    oracle."""
    t0, t1 = _range(corpus, 0.2, 0.6)
    warc = {r["url"]: r["warc_us"] for r in corpus}
    want = [
        w for w in oracle.newest(
            k=N_DOCS, constraints=constraints, authz=authz
        )
        if t0 <= warc[w[2]] <= t1
    ][:8]
    assert len(want) == 8

    def run():
        return [
            (r["pid"], r["doc_id"], r["url"])
            for r in engine.newest(
                k=8, time_range_us=(t0, t1), constraints=constraints,
                authz=authz,
            ).collect()
        ]

    serving = run()
    monkeypatch.setattr(engine, "local_max_postings", 0)
    kernel = run()
    assert serving == want
    assert kernel == want


@pytest.mark.parametrize(
    "query", ["w000001 OR w000009", "w00004*", "w000002 AND w000007"]
)
def test_blockmax_engaged_on_both_routes(engine, oracle, query, monkeypatch):
    """With the block-max gates lowered (a test-sized task holds only a
    few cells), the kernel tasks run block-max under the driver's theta
    seed and still answer exactly like the serving route and the
    oracle."""
    monkeypatch.setattr(engine, "LOCAL_BLOCKMAX_MIN_POSTINGS", 0)
    monkeypatch.setattr(engine, "LOCAL_BLOCKMAX_MIN_CELLS", 1)
    prep = engine._prep_query(query, None, None)
    assert engine._theta_seed(prep, 10) > 0.0
    local = engine.search_collect(query, k=10, local=True)
    kernel = engine.search_collect(query, k=10, local=False)
    assert local == kernel
    want = oracle.search(query, k=10)
    assert [(p, d) for p, d, _s, _u in kernel] == [
        (p, d) for p, d, _s, _u in want
    ]
    for g, w in zip(kernel, want):
        assert math.isclose(g[2], w[2], rel_tol=0, abs_tol=1e-9)


@pytest.mark.parametrize("mutation", ["format_1", "format_key_missing"])
def test_pre_format_2_index_rejected_at_init(
    spark, index_dir, tmp_path, mutation
):
    d = str(tmp_path / "old_index")
    shutil.copytree(index_dir, d)
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    if mutation == "format_1":
        meta["format"] = 1
    else:
        del meta["format"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    with pytest.raises(IndexFormatError, match="jobs/build_index_job.py"):
        SearchEngine(spark, d)
    assert issubclass(IndexFormatError, ValueError)
    assert set(tracker.getJobIdsForGroup(None) or []) == before


@pytest.mark.parametrize(
    "agg,field",
    [("distincts", "lang"), ("aggregate", "lang"), ("waveforms", "lang"),
     ("metrics", "site")],
)
def test_streamed_facet_empty_frames_have_declared_columns(
    engine, agg, field
):
    """In streamed-facet mode every frame the agg kernel
    returns for a pid with no matches carries exactly the columns
    kernel_frame declares (cnt and term included)."""
    prefix = f"{field}\x1f"
    declared = engine.kernel_frame(
        "w000001", k=0, agg=agg, bucket_us=3600_000_000,
        facet_prefixes=[prefix],
    ).columns
    pid = min(engine.pid_counts)
    kcols = list(E._POSTING_COLS)
    rows = (
        E._pad_cols(
            engine.postings.filter(
                (F.col("pid") == pid) & F.col("term").startswith(prefix)
            ),
            kcols, "p",
        )
        .unionByName(
            E._pad_cols(
                engine.timeindex.filter(F.col("pid") == pid), kcols, "t"
            )
        )
        .toPandas()
    )
    assert (rows["rk"] == "p").any() and (rows["rk"] == "t").any()
    kernel = E._make_kernel(
        ("term", "w999999"), 0, engine.pid_counts, {}, agg=agg,
        bucket_us=3600_000_000, facet_prefixes=[prefix],
    )
    out = kernel(rows)
    assert len(out) == 0
    assert list(out.columns) == declared


def test_search_many_drops_docmap_miss_like_fallback(engine, monkeypatch):
    """A winner the forward index cannot resolve (url None
    from the point gather) is dropped from search_many's answer, exactly
    as the broadcast-docmap fallback's inner join drops it."""
    qs = ["w000001 AND w000004", "w000002"]
    monkeypatch.setattr(engine, "local_max_postings", 0)
    want = engine.search_many(qs, k=5)
    victim = tuple(want[qs[0]][0][:2])
    expected = {
        q: [r for r in rows if tuple(r[:2]) != victim]
        for q, rows in want.items()
    }
    assert expected[qs[0]] != want[qs[0]]
    real = engine._gather_rows

    def blank_victim(dset, pids, docs, scores):
        return [
            (None if (p, d) == victim else u, w, p, d, s)
            for u, w, p, d, s in real(dset, pids, docs, scores)
        ]

    monkeypatch.setattr(engine, "_gather_rows", blank_victim)
    assert engine.search_many(qs, k=5) == expected

    def boom(*a, **kw):
        raise OSError("driver cannot read storage")

    monkeypatch.setattr(engine, "_gather_rows", boom)
    monkeypatch.setattr(
        engine, "docmap",
        engine.docmap.filter(
            ~((F.col("pid") == victim[0]) & (F.col("doc_id") == victim[1]))
        ),
    )
    assert engine.search_many(qs, k=5) == expected


def test_meta_json_survives_a_failed_rewrite(spark, tmp_path, monkeypatch):
    """A resumed build that dies while writing meta.json leaves the
    previous meta.json in place and loadable (tmp file + os.replace)."""
    from miru_spark.webtext import webtext_df

    d = str(tmp_path / "idx")
    wt = webtext_df(spark, 120)
    build_index(spark, wt, d, partition_seconds=3600, block_span=64)
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path) as f:
        before = json.load(f)

    def boom(*a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", boom)
    with pytest.raises(OSError, match="disk full"):
        build_index(spark, wt, d, partition_seconds=3600, block_span=64)
    monkeypatch.undo()
    with open(meta_path) as f:
        assert json.load(f) == before
    eng = SearchEngine(spark, d)
    try:
        assert eng.search_collect("w000001", k=3)
    finally:
        eng.close()
