"""Wide-field facet correctness: fields with >1024 distinct values.

Round-4's flagged flaw: the facet family shared the wildcard-expansion
cap (MAX_WILDCARD_EXPANSION=1024), silently truncating facet counts on
any field with more values. The reference's distincts gatherer streams
the field's FULL term range with no value cap (Distincts.gatherDirect,
miru-reco-plugins/.../distincts/Distincts.java:69-140; paging happens at
the answer layer), and collaborative filtering's gather is likewise
uncapped (CollaborativeFiltering.java:110-125). These tests pin that on
a `tag` field with ~1400 distinct values:

- `field_terms` enumerates the whole value space (pinned bisect AND the
  unpinned Spark path);
- distincts / uniques / aggregate_counts / trending are EXACT against a
  pure-Python recomputation on BOTH routes (serving-node and the
  distributed kernel's streamed facet_prefixes mode);
- gather_features over the wide field matches on both routes;
- explain() reports the uncapped n_values with truncated=False;
- an engine whose dictionary is NOT pinned (max_pinned_terms below the
  vocab) still answers identically via the streamed kernel path.
"""

import collections
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index.build import build_index
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import generate_rows, webtext_df

N = 600
TAG_SPACE = 1997  # prime; 600 docs x 4 tags ~> ~1400 distinct values
TAGS_PER_DOC = 4
ROWS = generate_rows(range(N))


def tags_of(i: int) -> list[str]:
    return [
        f"t{(i * 7 + j * 13) % TAG_SPACE:04d}" for j in range(TAGS_PER_DOC)
    ]


def stream_of(i: int) -> str:
    return str(i % 3)


ALL_TAGS = sorted({t for i in range(N) for t in tags_of(i)})
assert len(ALL_TAGS) > 1024, "fixture must exceed the old wildcard cap"


def _wide_df(spark):
    from pyspark.sql import functions as F

    i = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
    tags = F.array(
        *[
            F.format_string(
                "t%04d", (i * 7 + F.lit(j) * 13) % TAG_SPACE
            )
            for j in range(TAGS_PER_DOC)
        ]
    )
    return webtext_df(spark, N).withColumn(
        "fields",
        F.create_map(
            F.lit("tag"), tags,
            F.lit("stream"), F.array((i % 3).cast("string")),
        ),
    )


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("widefacet") / "index")
    build_index(
        spark, _wide_df(spark), d,
        partition_seconds=10**9, block_span=256,
        extra_fields=["tag", "stream"],
    )
    return d


@pytest.fixture(scope="module")
def eng(spark, idx):
    e = SearchEngine(spark, idx).cache()
    yield e
    e.close()


@pytest.fixture(scope="module")
def eng_unpinned(spark, idx):
    # dictionary too large to pin: every facet op must stream values
    # through the kernel exchange (no driver-side value list)
    e = SearchEngine(spark, idx, max_pinned_terms=10)
    assert e._terms_sorted is None
    yield e
    e.close()


def _matching(term):
    if term is None:
        return list(range(N))
    return [i for i in range(N) if term in ROWS[i]["text"].split()]


def _expected_distincts(term):
    cnt = collections.Counter(
        t for i in _matching(term) for t in set(tags_of(i))
    )
    return sorted(cnt.items(), key=lambda vc: (-vc[1], vc[0]))


def test_field_terms_uncapped_both_dictionary_modes(eng, eng_unpinned):
    want = [f"tag\x1f{t}" for t in ALL_TAGS]
    assert eng.field_terms("tag") == want
    assert len(want) > 1024
    # unpinned: one Spark enumeration job, same exact result
    assert eng_unpinned.field_terms("tag") == want
    # prefix restriction still works and stays uncapped inside range
    sub = [t for t in want if t.startswith("tag\x1ft1")]
    assert eng.field_terms("tag", "t1") == sub
    assert eng_unpinned.field_terms("tag", "t1") == sub


def test_distincts_exact_beyond_cap_both_routes(eng):
    want = _expected_distincts("w000001")
    assert len({v for v, _ in _expected_distincts(None)}) > 1024
    got_local = eng.distincts("tag", "w000001", local=True)
    got_dist = eng.distincts("tag", "w000001", local=False)
    assert got_local == want
    assert got_dist == want
    # match-all facet: every doc, full value space -- the exact case
    # the 1024 cap used to truncate
    want_all = _expected_distincts(None)
    assert eng.distincts("tag", None, local=False) == want_all
    assert eng.distincts("tag", None, local=True) == want_all
    assert eng.uniques("tag", None) == len(want_all)
    assert len(want_all) > 1024


def test_distincts_prefix_restriction_wide(eng):
    want = [
        (v, c) for v, c in _expected_distincts(None)
        if v.startswith("t19")
    ]
    want.sort(key=lambda vc: (-vc[1], vc[0]))
    assert eng.distincts("tag", None, prefix="t19", local=False) == want
    assert eng.distincts("tag", None, prefix="t19", local=True) == want


def test_aggregate_counts_wide_both_routes(eng):
    matching = _matching("w000001")
    per_value: dict = {}
    for i in matching:
        for t in set(tags_of(i)):
            latest, n = per_value.get(t, (-1, 0))
            per_value[t] = (max(latest, i), n + 1)
    ordered = sorted(
        per_value.items(), key=lambda vc: (-vc[1][0], vc[0])
    )[:25]
    want = [(v, n, latest) for v, (latest, n) in ordered]
    for local in (True, False):
        got = eng.aggregate_counts(
            "tag", query="w000001", count=25, local=local,
            gather_urls=False,
        )
        assert [
            (r["value"], r["count"], r["doc_id"]) for r in got
        ] == want, f"route local={local}"


def test_trending_wide_routes_identical(eng):
    kw = dict(
        field="tag", query=None, bucket_seconds=600,
        strategy="leader", top_n=2200, max_candidates=2200,
    )
    dist = eng.trending(**kw)
    old = eng.local_max_postings
    try:
        eng.local_max_postings = 1 << 62
        loc = eng.trending(**kw)
    finally:
        eng.local_max_postings = old
    assert dist == loc
    # leader score == total match count per value: exact vs python
    want = {v: float(c) for v, c in _expected_distincts(None)}
    assert dict(dist) == want
    assert len(dist) > 1024


def test_gather_features_wide_both_routes(eng):
    want: collections.Counter = collections.Counter()
    for i in range(N):
        for t in sorted(set(tags_of(i))):
            want[(t, stream_of(i))] += 1
    expect = sorted(
        ((kv, c) for kv, c in want.items()),
        key=lambda vc: (-vc[1], vc[0]),
    )
    got_dist = eng.gather_features(("tag", "stream"), local=False)
    got_local = eng.gather_features(("tag", "stream"), local=True)
    assert got_dist == expect
    assert got_local == expect
    assert len({kv[0] for kv, _ in expect}) > 1024


def test_distincts_top_n_and_sparkside_uniques(eng, eng_unpinned):
    """Answer-layer paging over the wide field: top_n bounds the
    distributed collect IN SPARK (driver sees O(top_n) rows); uniques
    counts distinct values Spark-side (a single long on the driver)."""
    want_all = _expected_distincts(None)
    want_top = sorted(
        want_all, key=lambda vc: (-vc[1], vc[0])
    )[:20]
    want_top.sort(key=lambda vc: (-vc[1], str(vc[0])))
    assert eng.distincts("tag", None, local=False, top_n=20) == want_top
    assert eng.distincts("tag", None, local=True, top_n=20) == want_top
    # uniques: exact count on both dictionary modes, no value list
    assert eng.uniques("tag", None, local=False) == len(want_all)
    assert eng_unpinned.uniques("tag", None) == len(want_all)
    assert eng.uniques("tag", "w000001", local=False) == len(
        _expected_distincts("w000001")
    )


def test_gather_fields_page_probe_wide_field(eng):
    """gatherTermsForFields over the WIDE field: the page probe must
    return each page doc's exact tag values (block-span-bounded read,
    never a scan of the 1400-value posting range)."""
    got = eng.aggregate_counts(
        "stream", query="w000001", count=3, gather_urls=False,
        gather_fields=["tag", "lang"],
    )
    assert got
    for row in got:
        i = row["doc_id"]  # single pid: doc_id == corpus index
        assert sorted(row["fields"]["tag"]) == sorted(set(tags_of(i)))
        assert row["fields"]["lang"] == [ROWS[i]["lang"]]


def test_streamed_facet_route_identity_fuzz(eng):
    """Randomized route identity for the streamed facet kernel: for a
    bag of query shapes (terms, booleans, prefixes, constraints, time
    ranges, match-all), distincts serving == distincts distributed ==
    pure-Python recomputation over the wide field."""
    import random

    rng = random.Random(20240821)
    t0 = ROWS[0]["warc_us"]
    t1 = ROWS[-1]["warc_us"]
    vocab = ["w000001", "w000004", "w000009", "w000013", "w000031"]

    def rand_query():
        shape = rng.randrange(5)
        if shape == 0:
            return rng.choice(vocab)
        if shape == 1:
            return f"{rng.choice(vocab)} AND {rng.choice(vocab)}"
        if shape == 2:
            return f"{rng.choice(vocab)} OR {rng.choice(vocab)}"
        if shape == 3:
            return f"{rng.choice(vocab)} AND NOT {rng.choice(vocab)}"
        return None  # match-all

    for _ in range(12):
        q = rand_query()
        tr = None
        if rng.random() < 0.5:
            a = rng.randrange(N)
            b = rng.randrange(N)
            lo, hi = sorted((a, b))
            tr = (t0 + lo * 7_000_000, t0 + hi * 7_000_000)
        cons = "lang:en" if rng.random() < 0.3 else None
        kw = dict(time_range_us=tr, constraints=cons)
        got_d = eng.distincts("tag", q, local=False, **kw)
        got_l = eng.distincts("tag", q, local=True, **kw)
        # pure recomputation
        docs = _matching(None) if q is None else None
        if docs is None:
            toks = lambda i: set(ROWS[i]["text"].split())
            if " AND NOT " in q:
                a, b = q.split(" AND NOT ")
                docs = [i for i in range(N)
                        if a in toks(i) and b not in toks(i)]
            elif " AND " in q:
                a, b = q.split(" AND ")
                docs = [i for i in range(N)
                        if a in toks(i) and b in toks(i)]
            elif " OR " in q:
                a, b = q.split(" OR ")
                docs = [i for i in range(N)
                        if a in toks(i) or b in toks(i)]
            else:
                docs = [i for i in range(N) if q in toks(i)]
        if cons:
            docs = [i for i in docs if ROWS[i]["lang"] == "en"]
        if tr:
            docs = [i for i in docs
                    if tr[0] <= ROWS[i]["warc_us"] <= tr[1]]
        cnt = collections.Counter(
            t for i in docs for t in set(tags_of(i))
        )
        want = sorted(
            cnt.items(), key=lambda vc: (-vc[1], vc[0])
        )
        assert got_d == want, (q, tr, cons)
        assert got_l == want, (q, tr, cons)
    assert t1 > t0  # corpus sanity


def test_facet_group_range_selection_path(eng):
    """Above FACET_ISIN_MAX a facet/pair group selects posting blocks
    by its contiguous dictionary range instead of a giant Catalyst In;
    results must be identical. Forced here by dropping the threshold
    below the tag group size."""
    want = eng.gather_features(("tag", "stream"), local=False, top_n=40)
    wantd = eng.distincts("tag", "w000001", local=False)
    old = eng.FACET_ISIN_MAX
    eng.FACET_ISIN_MAX = 8  # instance attr shadows the class default
    try:
        got = eng.gather_features(
            ("tag", "stream"), local=False, top_n=40
        )
        gotd = eng.distincts("tag", "w000001", local=False)
    finally:
        del eng.FACET_ISIN_MAX
        assert eng.FACET_ISIN_MAX == old  # class default restored
    assert got == want
    assert gotd == wantd


def test_sparse_floored_group_keeps_exact_isin(eng):
    """A min_df-floored enumeration is SPARSE in the dictionary span:
    above the isin threshold it must still select blocks by exact isin
    (a range would over-fetch the holes), with identical results."""
    want = eng.gather_features(
        ("tag", "stream"), local=False, min_value_df=2
    )
    floored = eng.field_terms("tag", min_df=2)
    assert len(floored) > 8
    assert eng._range_dense(floored) is False  # holes everywhere
    eng.FACET_ISIN_MAX = 8
    try:
        got = eng.gather_features(
            ("tag", "stream"), local=False, min_value_df=2
        )
    finally:
        del eng.FACET_ISIN_MAX
    assert got == want


def test_reco_wide_f3_presence_prepass(eng):
    """reco hop 5 over the wide parent space: forcing the threshold
    makes field3 ship only parents present in the contributors'
    activity -- identical result."""
    kw = dict(
        my=("stream", "1"), field1="tag", field2="stream",
        field3="tag", k=8,
    )
    want = eng.reco(local=False, **kw)
    eng.FACET_ISIN_MAX = 8
    try:
        got = eng.reco(local=False, **kw)
    finally:
        del eng.FACET_ISIN_MAX
    assert got == want
    assert got  # the walk produces recommendations on this corpus


def test_strut_wide_candidate_presence_prepass(eng):
    """strut over the wide candidate field: above FACET_ISIN_MAX a
    streamed presence pre-pass narrows candidates to those present in
    the match set -- exact (absent candidates contribute zero tuples),
    identical to the unfiltered path and to the serving route."""
    kw = dict(
        candidate_field="tag", features=[(1.0, ("stream",))],
        k=15, query="w000001",
    )
    want = eng.strut(local=True, **kw)
    baseline = eng.strut(local=False, **kw)  # isin path (1430 < 4096)
    old = eng.FACET_ISIN_MAX
    eng.FACET_ISIN_MAX = 8  # force the pre-pass + range selection
    try:
        got = eng.strut(local=False, **kw)
    finally:
        del eng.FACET_ISIN_MAX
        assert eng.FACET_ISIN_MAX == old
    assert got == baseline == want
    assert len(got) == 15


def test_min_value_df_floor_is_explicit_and_exact(eng):
    """The df floor (reference: considerIfLastIdGreaterThanN term
    skipping during multi-term walks) is an EXPLICIT opt-in: default 0
    is exact over the whole value space; a floor restricts the value
    space to df >= floor, recomputed here in pure Python."""
    value_df = collections.Counter(
        t for i in range(N) for t in set(tags_of(i))
    )
    keep = {t for t, c in value_df.items() if c >= 2}
    assert 0 < len(keep) < len(value_df)
    want: collections.Counter = collections.Counter()
    for i in range(N):
        for t in sorted(set(tags_of(i))):
            if t in keep:
                want[(t, stream_of(i))] += 1
    expect = sorted(
        want.items(), key=lambda vc: (-vc[1], vc[0])
    )
    for local in (True, False):
        got = eng.gather_features(
            ("tag", "stream"), local=local, min_value_df=2
        )
        assert got == expect, f"route local={local}"
    # field_terms floor agrees with the pure recomputation
    assert eng.field_terms("tag", min_df=2) == sorted(
        f"tag\x1f{t}" for t in keep
    )


def test_explain_reports_uncapped_values(eng, eng_unpinned):
    rep = eng.explain("w000001", field="tag")
    f = rep["facet"]
    assert f["n_values"] == len(ALL_TAGS) > 1024
    assert f["truncated"] is False
    assert f["cap"] is None
    # unpinned: zero-job explain cannot know the count; says so rather
    # than reporting a truncated number
    f2 = eng_unpinned.explain("w000001", field="tag")["facet"]
    assert f2["n_values"] is None
    assert f2["truncated"] is False
    assert f2["route"].startswith("distributed-kernel")


def test_unpinned_dictionary_streams_exact(eng_unpinned):
    want = _expected_distincts("w000001")
    assert eng_unpinned.distincts("tag", "w000001") == want
    want_all = _expected_distincts(None)
    assert eng_unpinned.distincts("tag", None) == want_all
    got = eng_unpinned.aggregate_counts(
        "tag", query="w000001", count=10, gather_urls=False
    )
    got_pinned_shape = [(r["value"], r["count"], r["doc_id"]) for r in got]
    matching = _matching("w000001")
    per_value: dict = {}
    for i in matching:
        for t in set(tags_of(i)):
            latest, n = per_value.get(t, (-1, 0))
            per_value[t] = (max(latest, i), n + 1)
    ordered = sorted(
        per_value.items(), key=lambda vc: (-vc[1][0], vc[0])
    )[:10]
    assert got_pinned_shape == [
        (v, n, latest) for v, (latest, n) in ordered
    ]
    # wide gather_features on the unpinned path (field_terms falls back
    # to the one-job enumeration; the pairs kernel ships the full lists)
    got_gf = eng_unpinned.gather_features(("stream", "tag"), top_n=5)
    want_gf: collections.Counter = collections.Counter()
    for i in range(N):
        for t in sorted(set(tags_of(i))):
            want_gf[(stream_of(i), t)] += 1
    expect = sorted(
        want_gf.items(), key=lambda vc: (-vc[1], vc[0])
    )[:5]
    assert got_gf == expect


def _kernel_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _range_selects(plan: str) -> bool:
    return bool(re.search(r"term#\d+ >= ", plan))


def test_unpinned_explicit_list_selects_by_isin(spark, idx, eng, monkeypatch):
    """An unpinned dictionary cannot measure a list's dictionary span
    without a Spark job, so above FACET_ISIN_MAX only a whole-field
    enumeration may select by term range. An explicit, sparse value
    list must select by exact In/InSet -- a range would ship its holes'
    postings -- with unchanged answers."""
    e = SearchEngine(spark, idx, max_pinned_terms=0)
    try:
        assert e._terms_sorted is None
        monkeypatch.setattr(e, "FACET_ISIN_MAX", 8)
        sparse = [f"tag\x1f{t}" for t in ALL_TAGS[::3]]
        assert len(sparse) > e.FACET_ISIN_MAX
        df = e.kernel_frame(
            "w000001", k=0, agg="distincts", facet_terms=sparse
        )
        plan = _kernel_plan(df)
        assert "INSET" in plan or " IN (" in plan, plan
        assert not _range_selects(plan), plan
        got = sorted(
            (sparse[int(r["doc_id"])].split("\x1f", 1)[1], int(r["c"]))
            for r in df.groupBy("doc_id")
            .agg(F.sum("score").alias("c"))
            .collect()
        )
        keep = set(ALL_TAGS[::3])
        assert got == sorted(
            (t, c) for t, c in _expected_distincts("w000001") if t in keep
        )
        assert got

        # a floored enumeration is explicit too: its presence-narrowed
        # groups reach the pairs kernel by isin, same answer as pinned
        frames = []
        kernel_frame = e.kernel_frame

        def spy(*a, **kw):
            frames.append((kw.get("agg"), kernel_frame(*a, **kw)))
            return frames[-1][1]

        monkeypatch.setattr(e, "kernel_frame", spy)
        want = eng.gather_features(
            ("tag", "stream"), local=False, min_value_df=2
        )
        assert e.gather_features(
            ("tag", "stream"), local=False, min_value_df=2
        ) == want
        pairs = [_kernel_plan(f) for agg, f in frames if agg == "pairs"]
        assert pairs and not any(_range_selects(p) for p in pairs)

        # the whole-field enumeration is dense by construction and
        # keeps its range selection, also once presence-narrowed when
        # most of its values are present (every tag, over match-all)
        whole = e.field_terms("tag")
        assert e._range_dense(whole)
        assert _range_selects(_kernel_plan(kernel_frame(
            "w000001", k=0, agg="distincts", facet_terms=whole
        )))
        frames.clear()
        assert e.gather_features(
            ("tag", "stream"), local=False, top_n=40
        ) == eng.gather_features(("tag", "stream"), local=False, top_n=40)
        pairs = [_kernel_plan(f) for agg, f in frames if agg == "pairs"]
        assert pairs and all(_range_selects(p) for p in pairs)
    finally:
        e.close()
