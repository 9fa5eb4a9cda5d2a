"""End-to-end rank-identity: Spark engine vs pure-Python BM25 oracle.

Mirrors the reference e2e shape (MiruFullTextNGTest.java:142-183: random
docs from a small dictionary, N-term AND queries, TIME + TF_IDF strategies)
but with exact assertions: top-10 (pid, doc_id) rank-identical and scores
equal to 1e-9 (same float64 summation order on both sides).
"""

import math
import os

import pytest

from miru_spark.index.build import build_index
from miru_spark.oracle import OracleIndex
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import generate_rows, webtext_df

N_DOCS = 600
PARTITION_SECONDS = 600  # 600 docs x 7s => ~7 pids
BLOCK_SPAN = 64

# Reference query set shape per FIXTURES.md §2: conjunctive, disjunctive,
# boolean mixes, NOT, prefix, head(stopword-tier) terms.
QUERIES = [
    "w000001 AND w000004",
    "w000002 AND w000007 AND w000011",
    "w000001 OR w000009",
    "w000003 OR w000014 OR w000033 OR w000100",
    "w000001 AND (w000002 OR w000003)",
    "(w000005 OR w000006) AND (w000007 OR w000008)",
    "w000001 AND NOT w000002",
    "w000004 -w000001",
    "w00004*",
    "w000000",
    "w000000 AND w000512",
    "the OR w000200",  # head stopword term: survives only in non-en docs
    "w000731 w000294",  # implicit AND (default operator)
]

# seeded random query set mirroring FIXTURES.md §2 q01-q24:
# q01-q10 2-10 term ANDs, q11-q18 2-10 term ORs, q19-q24 mixed trees
import random as _random

_rng = _random.Random(42)


def _rand_terms(n):
    # skew toward the Zipf head so queries actually match documents
    return [f"w{int(_rng.paretovariate(0.6)) % 2000:06d}" for _ in range(n)]


_GEN_QUERIES = (
    [" AND ".join(_rand_terms(_rng.randint(2, 10))) for _ in range(10)]
    + [" OR ".join(_rand_terms(_rng.randint(2, 10))) for _ in range(8)]
    + [
        f"{a} AND ({b} OR {c})"
        for a, b, c in (_rand_terms(3) for _ in range(3))
    ]
    + [
        f"({a} OR {b}) AND NOT {c}"
        for a, b, c in (_rand_terms(3) for _ in range(3))
    ]
)


@pytest.fixture(scope="module")
def corpus():
    return generate_rows(range(N_DOCS))


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex(corpus, partition_seconds=PARTITION_SECONDS)


@pytest.fixture(scope="module")
def engine(spark, corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx"))
    wt = webtext_df(spark, N_DOCS, parallelism=4)
    build_index(
        spark,
        wt,
        index_dir,
        partition_seconds=PARTITION_SECONDS,
        block_span=BLOCK_SPAN,
    )
    return SearchEngine(spark, index_dir)


def _assert_rank_identical(got, want, query):
    assert len(got) == len(want), f"{query}: row count {len(got)} vs {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        assert (g[0], g[1]) == (w[0], w[1]), (
            f"{query} rank {i}: engine doc {(g[0], g[1], g[2])} vs "
            f"oracle {(w[0], w[1], w[2])}"
        )
        assert math.isclose(g[2], w[2], rel_tol=0, abs_tol=1e-9), (
            f"{query} rank {i}: score {g[2]} vs {w[2]}"
        )
        assert g[3] == w[3], f"{query} rank {i}: url mismatch"


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity(engine, oracle, query):
    want = oracle.search(query, k=10)
    got = engine.search_collect(query, k=10)
    _assert_rank_identical(got, want, query)


def test_rank_identity_generated_set(engine, oracle):
    """FIXTURES §2 q01-q24: seeded conjunctive/disjunctive/mixed set,
    batched through search_many (one job) and compared per-query."""
    batched = engine.search_many(_GEN_QUERIES, k=10)
    n_nonempty = 0
    for q in _GEN_QUERIES:
        want = oracle.search(q, k=10)
        _assert_rank_identical(batched[q], want, q)
        n_nonempty += bool(want)
    assert n_nonempty >= len(_GEN_QUERIES) // 2, "query set mostly empty"


@pytest.mark.parametrize(
    "query,locale",
    [
        ("the OR w000200", "de"),       # 'the' survives the de analyzer
        ("w000001 AND w000004", "de"),  # synthetic terms: de stems no-op
        ("the AND w000005", "fr"),
        ("w000002 OR w000007", "fr_CA"),  # suffix strips to fr
        ("the OR w000200", "es"),       # 'the' survives the es analyzer
        ("w000001 AND w000004", "pt_BR"),  # suffix strips to pt
        ("the AND w000005", "it"),
        ("w000002 OR w000007", "ru"),   # stopword-only locale
        ("w000001 OR w000009", "sv"),
        # en drops 'the' -> Lucene omits the clause: OR of a dropped
        # clause must NOT become match-all (it's just w000200)
        ("the OR w000200", "en"),
        ("w000005 AND NOT the", "en"),
    ],
)
def test_rank_identity_locale_analyzers(engine, oracle, query, locale):
    """de/fr query-side analysis: engine and oracle share the analyzer
    module, so locale-analyzed queries must stay rank-identical over the
    mixed-language corpus (10% of docs index through de/fr analyzers)."""
    want = oracle.search(query, k=10, locale=locale)
    got = engine.search_collect(query, k=10, locale=locale)
    _assert_rank_identical(got, want, f"{query} [{locale}]")
    got_d = engine.search_collect(query, k=10, locale=locale, local=False)
    _assert_rank_identical(got_d, want, f"{query} [{locale}] distributed")


@pytest.mark.parametrize("query", ["w000001 OR w000009", "w000000", "w00004*"])
def test_blockmax_equals_exhaustive(engine, query):
    a = engine.search_collect(query, k=10, use_blockmax=True)
    b = engine.search_collect(query, k=10, use_blockmax=False)
    assert a == b


@pytest.fixture(scope="module")
def fine_engine(spark, tmp_path_factory):
    """Fine-grained blocks (span 16) so per-block upper bounds vary
    enough for cross-partition theta pruning to bite at test scale."""
    index_dir = str(tmp_path_factory.mktemp("idx_fine"))
    wt = webtext_df(spark, N_DOCS, parallelism=4)
    build_index(
        spark, wt, index_dir,
        partition_seconds=PARTITION_SECONDS, block_span=16,
    )
    return SearchEngine(spark, index_dir)


@pytest.mark.parametrize("query,k", [("w000007", 3), ("w000009 OR w000033", 3)])
def test_theta_seed_prunes_blocks(fine_engine, query, k, monkeypatch):
    """Cross-partition theta: the driver-computed seed (k-th score of
    the densest pid, obtained job-free on the serving node) must leave
    the merged top-k of the shared block-max identical while scoring
    strictly fewer cells across the pids. Each pid is evaluated alone,
    as a kernel task holding one pid would be."""
    import numpy as np

    from miru_spark.query.engine import _evaluate

    engine = fine_engine
    # the seed runs only where block-max engages: lower the gate
    monkeypatch.setattr(engine, "LOCAL_BLOCKMAX_MIN_POSTINGS", 0)
    prep = engine._prep_query(query, None, None)
    theta0 = engine._theta_seed(prep, k)
    assert theta0 > 0.0

    inp = engine._local_inputs(prep)
    results = {}
    cells = {}
    for name, seed in (("no_seed", 0.0), ("seeded", theta0)):
        # min_cells=1: a test-sized pid has only a handful of cells
        q = engine._topk_plan(prep, k, True, theta0=seed)._replace(
            blockmax=(engine.meta["block_span"], 0, 1)
        )
        rows, scored = [], 0
        for pid in sorted(engine.pid_counts):
            post = {}
            for t, (c, f, d) in inp.post.items():
                s, e = np.searchsorted(c, [pid << 32, (pid + 1) << 32])
                if e > s:
                    post[t] = (c[s:e], f[s:e], d[s:e])
            cids, scores, stats = _evaluate(q, inp._replace(post=post))
            scored += stats["cells_scored"] if stats else 0
            rows += [
                (int(c >> 32), int(c & 0xFFFFFFFF), round(float(sc), 9))
                for c, sc in zip(cids, scores)
            ]
        results[name] = sorted(rows, key=lambda r: (-r[2], r[0], r[1]))[:k]
        cells[name] = scored
    assert results["seeded"] == results["no_seed"]
    assert cells["seeded"] < cells["no_seed"], cells


def test_theta_seeded_distributed_equals_local(fine_engine):
    """End-to-end: the seeded distributed path returns exactly the
    serving-node result (theta pruning is invisible in the answer)."""
    for query in ("w000007", "w000009 OR w000033", "w000001 AND w000004"):
        a = fine_engine.search_collect(query, k=10, local=True)
        b = fine_engine.search_collect(query, k=10, local=False)
        assert a == b, query


@pytest.mark.parametrize("query", QUERIES)
def test_local_equals_distributed(engine, query):
    """The serving-node fast path and the distributed mapInPandas path
    share one kernel; their results must be identical."""
    a = engine.search_collect(query, k=10, local=True)
    b = engine.search_collect(query, k=10, local=False)
    assert a == b, query


def test_local_equals_distributed_time_range(engine, corpus):
    t0 = corpus[N_DOCS // 3]["warc_us"]
    t1 = corpus[2 * N_DOCS // 3]["warc_us"]
    q = "w000001 OR w000002"
    a = engine.search_collect(q, k=10, time_range_us=(t0, t1), local=True)
    b = engine.search_collect(q, k=10, time_range_us=(t0, t1), local=False)
    assert a == b


FIELD_QUERIES = [
    "lang:de w000001",            # keyword field + scored text term
    "site:42",                    # numeric exact, filter-only (score 0... no:
                                  # no text term -> all scores 0, recency ties)
    "site:[100 TO 199] AND w000002",
    "site:100-199 AND w000002",   # dash shorthand, same result
    "doclen:[16 TO 60] AND w000001",
    "w000001 AND NOT lang:en",
    "lang:d* AND w000001",        # field-scoped PrefixQuery (de + da)
    "w000002 AND NOT lang:d*",    # negated field prefix
    "w000001 AND lang:(de OR fr)",       # Lucene field grouping
    "site:([100 TO 120] OR 42) AND w000002",
]


@pytest.mark.parametrize("query", FIELD_QUERIES)
def test_field_query_rank_identity(engine, oracle, query):
    want = oracle.search(query, k=10)
    got = engine.search_collect(query, k=10)
    _assert_rank_identical(got, want, query)
    got_d = engine.search_collect(query, k=10, local=False)
    assert got == got_d, query


def test_search_many_distributed_path(engine, oracle):
    """Force the batched distributed path (as if every query exceeded the
    serving-node bound) and check rank identity vs the oracle."""
    old = engine.local_max_postings
    engine.local_max_postings = 0
    try:
        qs = _GEN_QUERIES[:6]
        batched = engine.search_many(qs, k=10)
        for q in qs:
            _assert_rank_identical(batched[q], oracle.search(q, k=10), q)
    finally:
        engine.local_max_postings = old


def test_time_range(engine, oracle, corpus):
    # restrict to the middle third of the corpus timeline
    t0 = corpus[N_DOCS // 3]["warc_us"]
    t1 = corpus[2 * N_DOCS // 3]["warc_us"]
    query = "w000001 OR w000002"
    got = engine.search_collect(query, k=10, time_range_us=(t0, t1))
    want = [
        r
        for r in oracle.search(query, k=N_DOCS)
        if t0 <= oracle.docs[(r[0], r[1])]["warc_us"] <= t1
    ][:10]
    _assert_rank_identical(got, want, query + " [time]")


def test_newest_k(engine, corpus):
    rows = engine.newest(k=5).collect()
    urls = [r["url"] for r in rows]
    want = [corpus[N_DOCS - 1 - i]["url"] for i in range(5)]
    assert urls == want


def test_resume_skips_completed(spark, tmp_path):
    """Kill between batches, restart: identical index + lineage
    (FullTextGatherer.java:176-252 checkpoint pattern)."""
    from pyspark.sql import functions as F

    index_dir = str(tmp_path / "idx_resume")
    wt = webtext_df(spark, 200, parallelism=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(
            spark,
            wt,
            index_dir,
            partition_seconds=300,
            block_span=BLOCK_SPAN,
            batch_partitions=2,
            _fail_after_batches=1,
        )
    report = build_index(
        spark,
        wt,
        index_dir,
        partition_seconds=300,
        block_span=BLOCK_SPAN,
        batch_partitions=2,
    )
    assert report.pids_skipped, "resume should skip completed partitions"

    # compare against a from-scratch build
    clean_dir = str(tmp_path / "idx_clean")
    build_index(spark, wt, clean_dir, partition_seconds=300, block_span=BLOCK_SPAN)

    from miru_spark.index.build import IndexPaths, read_docmap, read_postings

    for name, reader in (("docmap", read_docmap), ("postings", read_postings)):
        da = reader(spark, IndexPaths(index_dir))
        db = reader(spark, IndexPaths(clean_dir))
        a = da.orderBy(*da.columns).collect()
        b = db.orderBy(*db.columns).collect()
        assert a == b, f"{name} differs between resumed and clean build"

    lin = spark.read.parquet(os.path.join(index_dir, "lineage"))
    n_pids = read_docmap(spark, IndexPaths(index_dir)).select("pid").distinct().count()
    assert lin.filter(F.col("status") == "complete").select("pid").distinct().count() == n_pids


def test_postings_roundtrip_vs_oracle(spark, engine, oracle):
    """Engine postings decode to exactly the oracle's per-term postings
    (FIXTURES.md §4 postings_golden check, computed live)."""
    import numpy as np

    from miru_spark.codec import decode_postings, decode_varint

    rows = engine.postings.filter(engine.postings.term == "w000001").collect()
    by_pid = {}
    for r in sorted(rows, key=lambda r: (r["pid"], r["blk"])):
        ids = decode_postings(r["ids_bin"])
        tfs = decode_varint(r["tfs_bin"])
        by_pid.setdefault(r["pid"], []).append((ids, tfs))
    got = {
        pid: (
            np.concatenate([x[0] for x in parts]).tolist(),
            np.concatenate([x[1] for x in parts]).tolist(),
        )
        for pid, parts in by_pid.items()
    }
    want = {}
    for (pid, doc_id), tf in sorted(oracle.postings.get("w000001", {}).items()):
        want.setdefault(pid, ([], []))
        want[pid][0].append(doc_id)
        want[pid][1].append(tf)
    assert {p: (v[0], v[1]) for p, v in want.items()} == got


def test_search_many_equals_sequential(engine):
    """Batched multi-query job must return exactly what sequential
    search calls return (the qps path, WikiMiruStressService analog)."""
    qs = [
        "w000001 AND w000004",
        "w000013 OR w000201 OR w000502",
        "w000040 AND (w000150 OR w000222)",
        "w000019 AND NOT w000404",
        "w00042*",
        "zzz_no_such_term",
    ]
    batched = engine.search_many(qs, k=10)
    for q in qs:
        assert batched[q] == engine.search_collect(q, k=10), q


# -- hypothesis fuzz: random boolean query trees ---------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_LEAF_TERMS = [
    f"w{i:06d}"
    for i in (0, 1, 2, 3, 4, 5, 7, 9, 11, 14, 33, 100, 200, 294, 512, 731)
] + ["the", "w00004*", '"w000001"']  # quoted 1-token phrase == term
_FIELD_LEAVES = [
    "lang:de", "lang:en", "lang:d*", "doclen:[5 TO 40]", "site:[0 TO 200]",
    "lang:(de OR fr)", "site:([0 TO 60] OR [100 TO 160])",
]

_leaf = st.sampled_from(_LEAF_TERMS)


def _combos(child):
    return st.one_of(
        st.tuples(child, child).map(lambda ab: f"({ab[0]} AND {ab[1]})"),
        st.tuples(child, child).map(lambda ab: f"({ab[0]} OR {ab[1]})"),
        st.tuples(child, child).map(lambda ab: f"({ab[0]} AND NOT {ab[1]})"),
        # field constraints are filter-only, so attach them under an AND
        # with a scoring term (the reference shape: MiruFilter constraint
        # + collected query terms)
        st.tuples(child, st.sampled_from(_FIELD_LEAVES)).map(
            lambda af: f"({af[0]} AND {af[1]})"
        ),
    )


_query_st = st.recursive(_leaf, _combos, max_leaves=6)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(query=_query_st)
def test_rank_identity_fuzz(engine, oracle, query):
    """Random boolean trees (AND/OR/NOT/prefix/field/range leaves):
    engine top-10 must stay rank- and score-identical to the pure-Python
    oracle for every generated tree."""
    want = oracle.search(query, k=10)
    got = engine.search_collect(query, k=10)
    _assert_rank_identical(got, want, query)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(query=_query_st)
def test_count_identity_fuzz(engine, oracle, query):
    """Random boolean trees: engine.count (match-set size, no scoring)
    must equal the oracle's full match-set size for every tree -- the
    analytics paths share _eval_tree with search, and this pins that
    the no-scoring fast path never diverges from it."""
    want = len(oracle.search(query, k=1 << 30))
    assert engine.count(query) == want


def test_posting_cache_eviction_bound_and_identity(engine, oracle):
    """Shrink the decoded-postings LRU so every query evicts, and check
    results stay rank-identical while the entry budget holds."""
    old = engine.post_cache_max_entries
    engine._post_cache.clear()
    engine._post_cache_entries = 0
    engine.post_cache_max_entries = 1000  # far below one head term
    try:
        for query in _GEN_QUERIES[:6] + ["w00004*", "w000001 AND w000004"]:
            want = oracle.search(query, k=10)
            got = engine.search_collect(query, k=10)
            _assert_rank_identical(got, want, f"{query} [tiny cache]")
        # budget respected up to the per-query working set
        assert len(engine._post_cache) < 200
    finally:
        engine.post_cache_max_entries = old
        engine._post_cache.clear()
        engine._post_cache_entries = 0


def test_concurrent_serving_rank_identity(engine, oracle):
    """The reference's stress harness fires queries concurrently
    (WikiMiruStressService.java:58-120); serving-node reads through the
    shared postings LRU must stay rank-identical under threads."""
    from concurrent.futures import ThreadPoolExecutor

    engine._post_cache.clear()
    engine._post_cache_entries = 0
    queries = (_GEN_QUERIES[:8] + ["w00004*", "lang:(de OR fr) AND w000001"]) * 3
    want = {q: oracle.search(q, k=10) for q in set(queries)}
    with ThreadPoolExecutor(8) as ex:
        results = list(ex.map(lambda q: (q, engine.search_collect(q, k=10)), queries))
    for q, got in results:
        _assert_rank_identical(got, want[q], f"{q} [concurrent]")


@pytest.mark.parametrize("query", [
    "w000001 OR w000009",
    "lang:de",
    "w000001 AND NOT w000002",
    "lang:(de OR fr) AND w000001",
])
def test_newest_filtered_rank_identity(engine, oracle, query):
    """TIME strategy with a filter tree: newest-k among matches,
    identical on the serving-node and distributed kernel paths."""
    want = oracle.newest(k=8, query=query)
    got = [
        (r["pid"], r["doc_id"], r["url"])
        for r in engine.newest(k=8, query=query).collect()
    ]
    assert got == want, (query, got, want)
    old = engine.local_max_postings
    engine.local_max_postings = 0  # force the distributed kernel path
    try:
        got_d = [
            (r["pid"], r["doc_id"], r["url"])
            for r in engine.newest(k=8, query=query).collect()
        ]
    finally:
        engine.local_max_postings = old
    assert got_d == want, (query, got_d, want)


def test_composite_kernel_time_bounds_identity(engine, corpus):
    """The task-level composite kernel (the plain-scoring distributed
    path since r4) must stay exactly rank- and score-identical to the
    serving node when boundary-pid time bounds resolve in-task from
    't' rows."""
    ts = sorted(r["warc_us"] for r in corpus)
    t0, t1 = ts[len(ts) // 5], ts[4 * len(ts) // 5]
    for q in ["w00004*", "w000001 OR w000009", "w000001 AND NOT w000002"]:
        a = engine.search_collect(
            q, k=10, time_range_us=(t0, t1), local=False
        )
        b = engine.search_collect(
            q, k=10, time_range_us=(t0, t1), local=True
        )
        assert a == b, q
        assert a, q  # bounds must not empty the match set


def test_composite_kernel_pinned_tombstones_identity(
    spark, corpus, tmp_path_factory
):
    """Pinned removals mask inside the composite kernel exactly as on
    the serving node (the unpinned 'x'-row shape stays on the per-pid
    kernel and is covered by test_removals)."""
    from miru_spark.index.removals import remove_docs

    index_dir = str(tmp_path_factory.mktemp("idx_comp_rm"))
    wt = webtext_df(spark, N_DOCS, parallelism=4)
    build_index(
        spark, wt, index_dir,
        partition_seconds=PARTITION_SECONDS, block_span=BLOCK_SPAN,
    )
    eng0 = SearchEngine(spark, index_dir)
    victims = [
        (p, d) for (p, d, _s, _u)
        in eng0.search_collect("w000001 OR w000009", k=5)
    ]
    remove_docs(spark, index_dir, victims)
    eng = SearchEngine(spark, index_dir)
    assert eng._removed_map is not None  # pinned -> composite-eligible
    for q in ["w000001 OR w000009", "w00004*"]:
        a = eng.search_collect(q, k=10, local=False)
        b = eng.search_collect(q, k=10, local=True)
        assert a == b, q
        assert not ({(r[0], r[1]) for r in a} & set(victims)), q


def test_max_wildcard_expansion_per_query(engine):
    """FullTextQuery.maxWildcardExpansion is a PER-QUERY cap on prefix
    (and numeric-range) expansion, layered over the engine default
    (MiruAggregateUtil.java:1154-1167)."""
    full = engine.expand_prefix("w00004")
    assert len(full) > 2
    assert engine.expand_prefix("w00004", cap=2) == full[:2]

    # a capped prefix query scores exactly the capped term set: with
    # cap=1 "w00004*" IS the single lexicographically-first term
    want = engine.search_collect(full[0], k=10)
    got = engine.search_collect("w00004*", k=10, max_expand=1)
    assert got == want
    # both routes agree under the cap
    assert (
        engine.search_collect("w00004*", k=10, max_expand=2, local=False)
        == engine.search_collect("w00004*", k=10, max_expand=2, local=True)
    )
    # uncapped differs (the extra expansions contribute matches)
    assert engine.search_collect("w00004*", k=10) != got


def test_search_collect_threads_use_stopwords(engine):
    """Regression: search_collect must build its prep with the caller's
    use_stopwords -- the serving path was silently pinning it True."""
    on = engine.search_collect("the AND w000001", k=10, locale="en")
    off = engine.search_collect(
        "the AND w000001", k=10, locale="en", use_stopwords=False
    )
    # with stopwords on, "the" drops and the query means just w000001
    assert on == engine.search_collect("w000001", k=10, locale="en")
    # with them off, "the" is a real conjunct ("the" survives only in
    # non-en docs of this corpus, so the sets genuinely differ)
    assert off != on
    assert off == [
        t for t in engine.search_collect(
            "the AND w000001", k=10, locale="en", use_stopwords=False,
            local=False,
        )
    ]
