"""Round-5 review fixes (ADVICE.md r4): dual-role prefix expansion,
newest() fallback ordering, per-run streaming batch counts."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index.build import build_index
from miru_spark.query.engine import SearchEngine
from miru_spark.webtext import generate_rows, webtext_df

N = 800


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("r5fix") / "idx")
    build_index(
        spark, webtext_df(spark, N), d,
        partition_seconds=3600, block_span=256,
    )
    e = SearchEngine(spark, d).cache()
    yield e
    e.close()


def test_dual_role_prefix_constraint_not_capped(eng):
    """A prefix used by BOTH the query and the constraints must expand
    at the engine default in its constraint role; the per-query
    max_expand override caps only the scoring slice. Every Q-match here
    trivially satisfies the constraint (all its terms start with
    w0000), so the constrained result must EQUAL the unconstrained one
    -- before the fix the constraint node inherited the 3-term cap and
    excluded docs lacking w000000/1/2."""
    rows = generate_rows(range(N))
    capped = {"w000000", "w000001", "w000002"}  # first 3 lexicographic
    # witness: a doc that matches the query via w000009 but carries
    # NONE of the capped expansion terms -- the doc the bug drops
    witness = [
        i for i, r in enumerate(rows)
        if "w000009" in r["text"].split()
        and not (capped & set(r["text"].split()))
    ]
    assert witness, "corpus must carry a witness doc for the scenario"
    q = "w000009 OR w0000*"
    want = eng.search_collect(q, k=N, max_expand=3)
    got = eng.search_collect(q, k=N, max_expand=3, constraints="w0000*")
    assert got == want
    assert got == eng.search_collect(
        q, k=N, max_expand=3, constraints="w0000*", local=False
    )
    got_urls = {r[-1] for r in got}
    assert any(rows[i]["url"] in got_urls for i in witness)


def test_newest_fallback_is_ordered(eng, monkeypatch):
    """The broadcast-docmap fallback (driver cannot read storage) must
    still answer newest-first -- ADVICE r4 flagged the unordered join."""
    want = [
        (r["pid"], r["doc_id"], r["url"])
        for r in eng.newest(k=12, query="w000001").collect()
    ]
    comps = [(p << 32) | d for p, d, _u in want]
    assert comps == sorted(comps, reverse=True)

    def boom(*a, **kw):
        raise OSError("driver cannot read storage")

    monkeypatch.setattr(eng, "_gather_rows", boom)
    # force the distributed branch (the serving path doesn't gather)
    old = eng.local_max_postings
    eng.local_max_postings = 0
    try:
        got = [
            (r["pid"], r["doc_id"], r["url"])
            for r in eng.newest(k=12, query="w000001").collect()
        ]
    finally:
        eng.local_max_postings = old
    assert got == want


def test_kernel_block_recency_prune_engages_and_is_exact(eng, monkeypatch):
    """considerIfLastIdGreaterThanN analog (LabFieldIndex.multiTxIndex
    :339-419): when a boundary pid's 't' rows bound its docIDs to
    [lo, hi), the kernel task drops posting blocks whose span misses the
    interval BEFORE decode. Identical results, fewer blocks decoded."""
    import numpy as np
    import pandas as pd

    import miru_spark.query.engine as E

    pid = max(eng.pid_counts, key=lambda p: eng.pid_counts[p])
    pdf = (
        eng.postings.filter(
            (E.F.col("term") == "w000001") & (E.F.col("pid") == pid)
        )
        .toPandas()
    )
    assert len(pdf) >= 3, "need a multi-block term for the scenario"
    pdf["rk"] = "p"
    trows = eng.timeindex.filter(E.F.col("pid") == pid).toPandas()
    trows["rk"] = "t"
    times = E._t_times(
        trows["first_doc"].to_numpy(), trows["ids_bin"].to_numpy()
    )
    lo = int(pdf["first_doc"].iloc[len(pdf) // 2])
    # [times[lo], +inf) is exactly docIDs [lo, n) of this boundary pid
    spec = (int(times[lo]), 1 << 62, pid, pid + 1)

    decoded = {"blocks": 0}
    real = E._decode_blocks

    def counting(terms, *a, **kw):
        decoded["blocks"] += len(terms)
        return real(terms, *a, **kw)

    monkeypatch.setattr(E, "_decode_blocks", counting)

    def run(time_spec):
        q = E._TopK(("term", "w000001"), {}, ["w000001"],
                    {"w000001": 1.0}, eng.avgdl, 0)
        rows = pd.concat([pdf, trows], ignore_index=True)
        out = list(E._topk_runner({0: q}, eng.n_docs, eng.pid_counts,
                                  time_spec, None)([rows]))
        return pd.concat(out, ignore_index=True).sort_values(
            "doc_id", ignore_index=True
        )

    unbounded = run(None)
    n_unbounded = decoded["blocks"]
    decoded["blocks"] = 0
    bounded = run(spec)
    n_bounded = decoded["blocks"]
    assert n_bounded < n_unbounded  # blocks below lo never decoded
    want = unbounded[unbounded["doc_id"] >= lo].reset_index(drop=True)
    got = bounded.reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert np.allclose(got["score"], want["score"])


def test_search_many_gather_fallback(eng, monkeypatch):
    """search_many's point-gather url resolution falls back to the
    broadcast-docmap join when the driver cannot read storage, with
    identical results."""
    qs = ["w000001 AND w000004", "w000002"]
    old = eng.local_max_postings
    eng.local_max_postings = 0
    try:
        want = eng.search_many(qs, k=5)

        def boom(*a, **kw):
            raise OSError("driver cannot read storage")

        monkeypatch.setattr(eng, "_gather_rows", boom)
        got = eng.search_many(qs, k=5)
    finally:
        eng.local_max_postings = old
    assert got == want
    assert all(rows for rows in got.values())


def test_run_batches_counts_this_run_only():
    """batchId is cumulative across checkpoint restarts; run_batches
    must report THIS run's count (ADVICE r4)."""
    from miru_spark.streaming.analytics import run_batches

    class Q:
        def __init__(self, last, recent):
            self.lastProgress = last
            self.recentProgress = recent

    # fresh run: batches 0..3
    fresh = Q({"batchId": 3}, [{"batchId": i} for i in range(4)])
    assert run_batches(fresh) == 4
    # resumed run on the same checkpoint: prior runs did 0..4, this run
    # did 5..8 -- the old code reported 9
    resumed = Q({"batchId": 8}, [{"batchId": i} for i in range(5, 9)])
    assert run_batches(resumed) == 4
    # no progress at all
    assert run_batches(Q(None, [])) == 0
    # lastProgress without recent (retention dropped everything)
    assert run_batches(Q({"batchId": 7}, [])) == 1
