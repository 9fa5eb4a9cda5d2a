"""BM25 top-k query engine over the blocked postings index (the "read side").

Spark-first re-expression of the reference's full-text query path
(FullTextCustomQuestion.askLocal, miru-stream-plugins/.../
FullTextCustomQuestion.java:53-118 -> FullText.getActivityScores,
FullText.java:54-97):

- query string -> filter tree (LuceneBackedQueryParser analog, see
  miru_spark.queryparse)
- postings fetch: `postings.filter(term IN query_terms)` -- Parquet
  predicate pushdown on `term` (postings files are written sorted by term,
  so row-group stats prune aggressively); time-range constraints prune at
  the pid partition level plus an exact per-pid docID interval mask
  resolved from the pid's 't' time-index rows, the analog of miru's
  buildTimeRangeMask closest-id bounds (MiruBitmaps.java:141,
  LabTimeIndex.java:191-208). Indexes must be format >= 2 (they carry
  those rows); older ones are rejected at engine init.
- ONE top-k evaluator (`_evaluate`) over composite (pid << 32 | doc_id)
  ids answers every search on both routes: evaluate the boolean tree
  over sorted id arrays (and/or/andNot = intersect/union/setdiff --
  MiruBitmaps.java:87-123), mask boundary-pid time intervals and
  tombstones, score BM25 (k1=1.2, b=0.75) vectorized, and cut the top-k
  (the reference's MinMaxPriorityQueue, FullText.java:129-157) or, for
  the TIME strategy, the newest k. The serving node runs it on its
  LRU-decoded postings (`_search_local`, zero Spark jobs); the
  distributed route runs it once per task inside one `mapInPandas`
  (`_topk_runner`) on the task's pid-co-located posting blocks.
- global merge: orderBy(score desc, pid asc, doc_id asc).limit(k) --
  Spark's TakeOrderedAndProject is the FullTextAnswerMerger k-way merge
  (FullTextAnswerMerger.java:30-69)
- winners join back to docmap for display fields (forward-index gather,
  FullText.gatherValues FullText.java:253-280).
- match-set aggregations (count, waveforms, facets, pairs, stumptown)
  run the per-pid `_make_kernel` on the distributed route.

**Block-max pruning (exact).** Posting blocks are doc-range aligned across
terms (blk = doc_id // block_span with one span for the whole index), so
for a cell (pid, blk) the metadata-only bound
    ub_total(cell) = sum over scoring terms t of
                     idf_t * BM25_tf(max_tf_t(cell), min_dl_t(cell))
dominates every doc's score in that cell, and scoring any *subset of
cells* exhaustively is exact for the docs it contains (every posting of
those docs for every fetched term lives in those cells). Two phases:
(1) score the highest-ub cells until k docs are found -> threshold theta;
(2) score all cells with ub_total >= theta and merge. Docs in skipped cells
are bounded below theta, so the final top-k is rank-identical to the
exhaustive scorer -- miru's atomized-container skipping
(LabFieldIndex.multiTxIndex:339-419) upgraded to block-max WAND semantics.
It engages on both routes past `SearchEngine.LOCAL_BLOCKMAX_MIN_POSTINGS`.

Scores are float64 and term contributions accumulate in sorted term order,
matching the pure-Python oracle bit-for-bit.
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..codec import decode_grouped_deltas, decode_varint
from ..index.build import _POSTING_COLS, IndexPaths
from .featureops import FeatureOpsMixin
from ..oracle import B, K1, MAX_WILDCARD_EXPANSION, bm25_idf
from ..queryparse import (
    all_referenced_terms,
    collect_phrases,
    collect_terms,
    parse_query,
    with_access,
)

_AUX_TYPES = {
    "pid": "long", "term": "string", "blk": "long", "n": "int",
    "first_doc": "long", "last_doc": "long", "max_tf": "int",
    "min_dl": "int", "ctf": "long", "ids_bin": "binary",
    "tfs_bin": "binary", "dls_bin": "binary", "pos_bin": "binary",
    "df": "long",
}
_OUT_TYPES = {
    "pid": "long", "doc_id": "long", "score": "double", "cnt": "long",
    "term": "string",
}
_EMPTY = np.empty(0, dtype=np.int64)


class IndexFormatError(ValueError):
    """The index predates format 2: it has no per-block 't' time-index
    rows, which time ranges, waveforms and the kernel's boundary-pid
    bounds all read. Rebuild it with jobs/build_index_job.py."""


def _pad_cols(df: DataFrame, cols: list[str], rk: str) -> DataFrame:
    """Align a row source onto the kernel input schema (missing columns
    become typed nulls) and tag it with a row-kind marker: 'p' posting
    block, 't' time-index blob, 'z' pid marker (match-all), 'x' removed
    docID (unpinned tombstones, id in first_doc)."""
    have = set(df.columns)
    return df.select(
        *[
            (
                F.col(c) if c in have
                else F.lit(None).cast(_AUX_TYPES[c])
            ).alias(c)
            for c in cols
        ],
        F.lit(rk).alias("rk"),
    )


def _by_task(df: DataFrame, n: int, *keys: str) -> DataFrame:
    """Lay a kernel input out over `n` Python tasks: one task reads
    everything through a narrow coalesce (one stage, no exchange, every
    key trivially co-located); more tasks hash-repartition on `keys`."""
    return df.coalesce(1) if n == 1 else df.repartition(n, *keys)


class _DenseTerms(list):
    """A sorted term list known to cover at least half of its term-
    dictionary span (a whole-field enumeration, or a presence-narrowed
    one that kept half its values) -- the only lists an UNPINNED
    dictionary may select by term range (`SearchEngine._range_dense`)."""


def _bm25_tf_part(tf, dl, avgdl: float):
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _accumulate_term(scores, matches, ids, tfs, dls, idf_t, avgdl):
    """Add one term's BM25 contribution onto `scores` (aligned with the
    sorted `matches` array). Searches the SMALLER side into the larger:
    for conjunctive queries matches << ids (probe matches into postings);
    for disjunctive/prefix queries ids << union-of-matches (probe
    postings into matches, ~|ids| log|matches| instead of
    |matches| log|ids|). Both directions add the same per-doc
    contributions in the same term order, so float sums are identical."""
    if ids.size >= matches.size:
        pos = np.searchsorted(ids, matches)
        pos_c = np.minimum(pos, ids.size - 1)
        present = ids[pos_c] == matches
        if not present.any():
            return
        tf = tfs[pos_c[present]].astype(np.float64)
        dl = dls[pos_c[present]].astype(np.float64)
        scores[present] += idf_t * _bm25_tf_part(tf, dl, avgdl)
    else:
        pos = np.searchsorted(matches, ids)
        pos_c = np.minimum(pos, matches.size - 1)
        present = matches[pos_c] == ids
        if not present.any():
            return
        tf = tfs[present].astype(np.float64)
        dl = dls[present].astype(np.float64)
        scores[pos_c[present]] += idf_t * _bm25_tf_part(tf, dl, avgdl)


def _eval_phrase(members, term_pos: dict) -> np.ndarray:
    """Positional phrase match -> sorted unique docID array. `members` is
    the phrase node's ((term, position), ...); `term_pos` maps each member
    term to a self-contained (ids, tfs, pos) triple where `pos` is the
    flat per-occurrence token-position array segmented by `tfs` (the
    decoded pos_bin layout). A doc matches when some base offset b places
    every member's occurrence at b + (p_i - p_0) -- Lucene PhraseQuery
    (slop 0) semantics with stopword position gaps preserved. Fully
    vectorized: candidate docs = intersection of member postings, then
    per-member (doc_rank << 32 | adjusted_position) key sets intersect."""
    empty = np.empty(0, dtype=np.int64)
    docs = None
    for t, _p in members:
        e = term_pos.get(t)
        if e is None or e[0].size == 0:
            return empty
        docs = (
            e[0] if docs is None
            else np.intersect1d(docs, e[0], assume_unique=True)
        )
        if docs.size == 0:
            return empty
    base_p = members[0][1]
    keys = None
    for t, p in members:
        ids, tfs, pos = term_pos[t]
        offs = np.zeros(ids.size + 1, dtype=np.int64)
        np.cumsum(tfs, out=offs[1:])
        idx = np.searchsorted(ids, docs)  # exact: docs is a subset of ids
        seg = tfs[idx].astype(np.int64)
        tot = int(seg.sum())
        if tot == 0:
            return empty
        shift = np.zeros(docs.size, dtype=np.int64)
        np.cumsum(seg[:-1], out=shift[1:])
        flat = np.repeat(offs[idx] - shift, seg) + np.arange(tot)
        rank = np.repeat(np.arange(docs.size, dtype=np.int64), seg)
        adj = pos[flat] - (p - base_p)
        ok = adj >= 0
        # sorted + unique by construction: rank nondecreasing, positions
        # strictly increasing within each doc segment
        k_i = (rank[ok] << 32) | adj[ok]
        keys = (
            k_i if keys is None
            else np.intersect1d(keys, k_i, assume_unique=True)
        )
        if keys.size == 0:
            return empty
    return docs[np.unique(keys >> 32)]


def _eval_tree(
    node,
    term_ids: dict,
    expansions: dict,
    universe: np.ndarray,
    term_pos: dict | None = None,
):
    """Evaluate filter tree -> sorted unique docID array."""
    tag = node[0]
    empty = np.empty(0, dtype=np.int64)
    if tag == "term":
        return term_ids.get(node[1], empty)
    if tag == "phrase":
        return _eval_phrase(node[1], term_pos or {})
    if tag == "prefix":
        parts = [term_ids[t] for t in expansions.get(node[1], ()) if t in term_ids]
        if not parts:
            return empty
        return np.unique(np.concatenate(parts))
    if tag == "frange":
        # numeric range = union over the dictionary-range-expanded
        # composed terms (expansion keyed by the node itself)
        parts = [term_ids[t] for t in expansions.get(node, ()) if t in term_ids]
        if not parts:
            return empty
        return np.unique(np.concatenate(parts))
    if tag == "and":
        sets = sorted(
            (
                _eval_tree(c, term_ids, expansions, universe, term_pos)
                for c in node[1]
            ),
            key=len,
        )
        out = sets[0]
        for s in sets[1:]:
            if out.size == 0:
                break  # AND short-circuit (MiruAggregateUtil.java:1175-1177)
            out = np.intersect1d(out, s, assume_unique=True)
        return out
    if tag == "or":
        parts = [
            _eval_tree(c, term_ids, expansions, universe, term_pos)
            for c in node[1]
        ]
        parts = [p for p in parts if p.size]
        if not parts:
            return empty
        return np.unique(np.concatenate(parts))
    if tag == "not":
        p = _eval_tree(node[1], term_ids, expansions, universe, term_pos)
        q = _eval_tree(node[2], term_ids, expansions, universe, term_pos)
        return np.setdiff1d(p, q, assume_unique=True)
    if tag == "all":
        return universe
    if tag == "none":
        return empty
    raise ValueError(f"bad node {node!r}")


def _tree_tags(node) -> set:
    tags = {node[0]}
    if node[0] in ("and", "or"):
        for c in node[1]:
            tags |= _tree_tags(c)
    elif node[0] == "not":
        tags |= _tree_tags(node[1])
        tags |= _tree_tags(node[2])
    return tags


def _per_pid_dispatch(kernel):
    """mapInPandas wrapper: consume a task's (pid-co-located) block rows,
    run the per-pid kernel on each pid group. The rows reaching a task are
    only the query's fetched posting blocks for its pids -- bounded by the
    query's term postings, not by corpus size."""
    import pandas as pd

    def run(batches):
        dfs = [b for b in batches if len(b)]
        if not dfs:
            return
        pdf = pd.concat(dfs, ignore_index=True)
        for _pid, grp in pdf.groupby("pid", sort=False):
            out = kernel(grp)
            if len(out):
                yield out

    return run


def _hits_of(matches: np.ndarray, postings: dict, terms: list):
    """(value_idx, position-into-matches) arrays for every posting of
    `terms` that lands in the sorted match set -- one concatenated
    searchsorted pass (the kernel-side twin of SearchEngine._facet_hits)."""
    va, pa = [], []
    for i, t in enumerate(terms):
        c = postings.get(t)
        if c is None or not c.size or not matches.size:
            continue
        pos = np.minimum(np.searchsorted(matches, c), matches.size - 1)
        m = matches[pos] == c
        if m.any():
            va.append(np.full(int(m.sum()), i, dtype=np.int64))
            pa.append(pos[m])
    if not va:
        z = np.empty(0, dtype=np.int64)
        return z, z
    return np.concatenate(va), np.concatenate(pa)


def _pair_expand(ai, ap, bi, bp, nb: int):
    """Per-doc cross product of two match-aligned hit sets: for every
    match position carrying both an A and a B value, emit one
    (a_idx * nb + b_idx, position) row per combination -- all vectorized
    (sorted-position merge + range expansion), no per-doc Python loop.
    Keeping positions lets a third field chain another expansion (the
    2-field-feature tuples of gatherFeatures)."""
    z = np.empty(0, dtype=np.int64)
    if not ai.size or not bi.size:
        return z, z
    oa = np.argsort(ap, kind="stable")
    ap, ai = ap[oa], ai[oa]
    ob = np.argsort(bp, kind="stable")
    bp, bi = bp[ob], bi[ob]
    left = np.searchsorted(bp, ap, "left")
    right = np.searchsorted(bp, ap, "right")
    cnt = right - left
    tot = int(cnt.sum())
    if tot == 0:
        return z, z
    a_rep = np.repeat(ai, cnt)
    starts = np.repeat(left, cnt)
    offs = np.arange(tot, dtype=np.int64) - np.repeat(
        np.cumsum(cnt) - cnt, cnt
    )
    b_rep = bi[starts + offs]
    return a_rep * nb + b_rep, np.repeat(ap, cnt)


def _tuple_counts(matches, postings, groups: list):
    """Distinct feature tuples + doc counts over the match set: one hit
    pass per term group (field), then chained per-doc cross products.
    `groups` is a list of facet-term lists (2 or 3 fields); the packed
    key of tuple (a, b[, c]) is ((a * nB + b) [* nC + c]) -- multiplier
    packing so callers can decode with plain divmod over group sizes."""
    keys, pos = _hits_of(matches, postings, groups[0])
    for g in groups[1:]:
        gi, gp = _hits_of(matches, postings, g)
        keys, pos = _pair_expand(keys, pos, gi, gp, len(g))
    if not keys.size:
        z = np.empty(0, dtype=np.int64)
        return z, z
    return np.unique(keys, return_counts=True)


def _interp_buckets(
    out: list[tuple[int, float]], bucket_us: int
) -> list[tuple[int, float]]:
    """Fill interior gap buckets of an avg waveform by linear
    interpolation between non-empty neighbors (Anomaly.metricingAvg,
    Anomaly.java:35-95: commons-math LinearInterpolator over the
    non-empty points; np.interp IS that interpolator)."""
    if len(out) < 2:
        return out
    bs = np.array([b for b, _ in out], dtype=np.int64) // bucket_us
    vs = np.array([v for _, v in out], dtype=np.float64)
    full = np.arange(bs[0], bs[-1] + 1, dtype=np.int64)
    iv = np.interp(full, bs, vs)
    return [(int(b) * bucket_us, float(v)) for b, v in zip(full, iv)]


class _Inputs(NamedTuple):
    """What the evaluator reads, from one kernel task (`_task_inputs`) or
    one serving-node query (`SearchEngine._local_inputs`). `post` maps
    term -> (cids, tfs, dls) over sorted composite ids (filter-only terms
    alias tfs/dls to cids); `term_pos` maps phrase members to (cids, tfs,
    positions); `universe` is the sorted match-all id set (None without
    an "all" node); `bounds` maps boundary pids to their exact [lo, hi)
    docID interval; `rem` is the sorted composite tombstone set."""

    post: dict
    term_pos: dict
    universe: np.ndarray | None
    bounds: dict
    rem: np.ndarray | None


class _TopK(NamedTuple):
    """One top-k request as the evaluator sees it. `idf` None means the
    vocabulary is unpinned and each task derives idf from the `df` column
    riding its rows. `blockmax` is (block_span, min_postings, min_cells)
    when block-max may engage; `theta0` a known lower bound on the global
    k-th score (the driver's theta seed)."""

    tree: tuple
    expansions: dict
    scoring_terms: list
    idf: dict | None
    avgdl: float
    k: int
    strategy: str = "tfidf"
    blockmax: tuple | None = None
    theta0: float = 0.0


def _t_times(firsts, bins) -> np.ndarray:
    """docID -> warc_us array of one pid from its 't' time-index rows
    (per-block varint gap blobs, taken in first_doc order). docIDs are
    dense and time-ordered per pid, so array position IS the docID."""
    order = np.argsort(np.asarray(firsts), kind="stable")
    return np.concatenate(
        [np.cumsum(decode_varint(bins[i])) for i in order]
    )


def _t_interval(times: np.ndarray, t0_us: int, t1_us: int) -> tuple:
    """Exact [lo, hi) docID interval of [t0_us, t1_us] over a pid's time
    array (LabTimeIndex getClosestId, LabTimeIndex.java:191-208)."""
    return (
        int(np.searchsorted(times, t0_us, "left")),
        int(np.searchsorted(times, t1_us, "right")),
    )


def _decode_blocks(
    terms, pids, ns, ids_bins, tfs_bins, third_bins, positions=False
) -> dict:
    """The one posting-block decoder: rows sorted by (term, pid, blk) ->
    {term: (cids, tfs, third)} with absolute composite (pid << 32 |
    doc_id) ids, ascending. `third` is the doc-length array, or with
    `positions` the flat per-occurrence token positions of the pos_bin
    blobs (the triple _eval_phrase consumes). ONE varint pass per term
    over its concatenated blobs, then a vectorized per-block rebase (each
    block's first gap is absolute within its pid). Terms without tf blobs
    (not fetched, or nulled before the exchange because they never score)
    alias tfs and third to the id array."""
    out: dict = {}
    if not len(terms):
        return out
    bnd = np.flatnonzero(terms[1:] != terms[:-1]) + 1
    starts = np.concatenate(([0], bnd, [len(terms)])).tolist()
    for s, e in zip(starts[:-1], starts[1:]):
        gaps = decode_varint(b"".join(ids_bins[s:e]))
        acc = np.cumsum(gaps)
        row_n = ns[s:e]
        rs = np.zeros(e - s, dtype=np.int64)
        np.cumsum(row_n[:-1], out=rs[1:])
        base = acc[rs] - gaps[rs] - (pids[s:e] << 32)
        cids = acc - np.repeat(base, row_n)
        if tfs_bins is None or tfs_bins[s] is None:
            out[terms[s]] = (cids, cids, cids)
            continue
        tfs = decode_varint(b"".join(tfs_bins[s:e]))
        blob = b"".join(third_bins[s:e])
        out[terms[s]] = (
            cids,
            tfs,
            decode_grouped_deltas(blob, tfs) if positions
            else decode_varint(blob),
        )
    return out


def _universe(pids, pid_counts: dict, bounds: dict) -> np.ndarray:
    """Match-all universe: every docID of `pids` as sorted composite ids,
    boundary pids clipped to their [lo, hi) interval."""
    spans = []
    for p in sorted(int(p) for p in pids):
        n = int(pid_counts.get(p, 0))
        lo, hi = bounds.get(p, (0, n))
        lo, hi = max(lo, 0), min(hi, n)
        if hi > lo:
            spans.append((p << 32) + np.arange(lo, hi, dtype=np.int64))
    return np.concatenate(spans) if spans else _EMPTY


def _match_set(tree, expansions: dict, inp: _Inputs) -> np.ndarray:
    """Exact sorted match set: tree evaluation over the composite ids,
    then the boundary-pid time mask (interior pids lie wholly inside the
    range) and the tombstone mask (the query-side andNot(removalIndex) of
    MiruIndexer.remove)."""
    matches = _eval_tree(
        tree,
        {t: v[0] for t, v in inp.post.items()},
        expansions,
        _EMPTY if inp.universe is None else inp.universe,
        inp.term_pos,
    )
    for p, (lo, hi) in inp.bounds.items():
        if not matches.size:
            break
        base = int(p) << 32
        s, kl, kh, e = np.searchsorted(
            matches, [base, base + lo, base + hi, base + (1 << 32)]
        )
        matches = np.concatenate((matches[:s], matches[kl:kh], matches[e:]))
    rem = inp.rem
    if rem is not None and rem.size and matches.size:
        pos = np.minimum(np.searchsorted(rem, matches), rem.size - 1)
        matches = matches[rem[pos] != matches]
    return matches


def _blockmax(post, scorer, scoring, idf, avgdl, k, span, min_cells,
              theta0=0.0):
    """Exact two-phase block-max over composite-id cells (pid, doc_id //
    span); see the module docstring for the admissibility argument.
    Cells whose bound falls below `theta0` are dropped before phase 1.
    Phase 1 scores the highest-bound cells until k docs survive the masks
    -> theta (a lower bound on the true k-th score, since subset scores
    are exact); phase 2 scores every cell whose bound reaches theta.
    Cells carrying only filter-term postings ride with bound 0 so
    zero-score matches stay reachable. Returns (matches, scores, stats);
    stats ({"cells_total", "cells_scored"}) is None when there are fewer
    than `min_cells` cells and the scan ran exhaustive."""
    term_cells: dict = {}
    key_parts: list = []
    ub_parts: list = []
    for t, (c, f, d) in post.items():
        if c.size == 0:
            continue
        cells = ((c >> 32) << 32) | ((c & 0xFFFFFFFF) // span)
        term_cells[t] = cells
        starts = np.concatenate(
            ([0], np.flatnonzero(cells[1:] != cells[:-1]) + 1)
        )
        idf_t = idf.get(t, 0.0)
        if t in scoring and idf_t > 0.0:
            ub = idf_t * _bm25_tf_part(
                np.maximum.reduceat(f, starts).astype(np.float64),
                np.minimum.reduceat(d, starts).astype(np.float64),
                avgdl,
            )
        else:
            ub = np.zeros(starts.size, dtype=np.float64)
        key_parts.append(cells[starts])
        ub_parts.append(ub)
    if not key_parts:
        return (*scorer(post), None)
    uq, inv = np.unique(np.concatenate(key_parts), return_inverse=True)
    if uq.size < min_cells:
        return (*scorer(post), None)
    ub_sum = np.zeros(uq.size, dtype=np.float64)
    np.add.at(ub_sum, inv, np.concatenate(ub_parts))
    live = np.flatnonzero(ub_sum >= theta0)
    desc = live[np.argsort(-ub_sum[live], kind="stable")]

    def slice_to(chosen):  # chosen: sorted unique cell keys
        sub = {}
        for t, cells in term_cells.items():
            pos = np.minimum(
                np.searchsorted(chosen, cells), chosen.size - 1
            )
            mask = chosen[pos] == cells
            if mask.any():
                c, f, d = post[t]
                cm = c[mask]
                sub[t] = (
                    cm,
                    cm if f is c else f[mask],
                    cm if d is c else d[mask],
                )
        return sub

    matches = _EMPTY
    scores = np.empty(0, dtype=np.float64)
    m = min(4, desc.size)
    while m:
        matches, scores = scorer(slice_to(np.sort(uq[desc[:m]])))
        if matches.size >= k or m >= desc.size:
            break
        m = min(m * 4, desc.size)
    scored = m
    if matches.size >= k:
        theta = max(-np.partition(-scores, k - 1)[k - 1], theta0)
        full = np.unique(np.concatenate((uq[ub_sum >= theta], uq[desc[:m]])))
        if full.size > m:
            matches, scores = scorer(slice_to(full))
        scored = full.size
    return matches, scores, {
        "cells_total": int(uq.size),
        "cells_scored": int(scored),
    }


def _evaluate(q: _TopK, inp: _Inputs):
    """THE top-k evaluator of both routes: match set (`_match_set`),
    sorted-term float64 BM25 accumulation, then the k best by (score
    desc, pid, doc_id) -- or for the TIME strategy the k newest, since
    ascending composite ids ARE global time order (pids are time buckets,
    docIDs are minted in warc order; FullText.collectTime:222-251).
    Block-max engages for score-ranked, non-phrase, non-match-all
    requests whose postings reach the `q.blockmax` gate; it is exact, so
    the answer never depends on it. Returns (cids, scores, block-max cell
    stats or None), best first; k <= 0 keeps every match."""
    idf = q.idf or {}

    def scorer(post):
        matches = _match_set(q.tree, q.expansions, inp._replace(post=post))
        scores = np.zeros(matches.size, dtype=np.float64)
        if q.strategy != "time" and matches.size:  # TIME discards scores
            for t in q.scoring_terms:  # sorted order fixes float summation
                e = post.get(t)
                if e is not None and e[0].size:
                    _accumulate_term(
                        scores, matches, e[0], e[1], e[2],
                        idf.get(t, 0.0), q.avgdl,
                    )
        return matches, scores

    bm = q.blockmax
    stats = None
    if (
        bm is not None
        and q.k > 0
        and q.strategy != "time"
        and inp.universe is None
        # phrase position triples cannot be sliced by cell
        and not inp.term_pos
        and q.scoring_terms
        and sum(v[0].size for v in inp.post.values()) >= bm[1]
    ):
        matches, scores, stats = _blockmax(
            inp.post, scorer, set(q.scoring_terms), idf, q.avgdl, q.k,
            bm[0], bm[2], q.theta0,
        )
    else:
        matches, scores = scorer(inp.post)
    if q.strategy == "time":
        order = np.arange(matches.size - 1, -1, -1)
    else:
        order = np.lexsort((matches, -scores))
    if q.k > 0:
        order = order[: q.k]
    return matches[order], scores[order], stats


def _task_inputs(pdf, pid_counts: dict, time_spec, removed_comp):
    """Evaluator inputs from a kernel task's rows, the input step both
    kernels share: 'p' posting blocks, 't' time-index rows, 'z' match-all
    pid markers, 'x' unpinned tombstones. Boundary pids of `time_spec`
    (t0_us, t1_us, pid_lo, pid_hi) resolve their exact [lo, hi) from
    their 't' rows, and posting blocks whose docID span misses it are
    dropped BEFORE the decode -- considerIfLastIdGreaterThanN at block
    granularity (the reference skips whole terms whose lastId <= N,
    LabFieldIndex.multiTxIndex:339-419; blocks are delta-encoded per
    block, so dropping one is decode-safe). Admissible for every node
    kind: matches are bound-masked anyway, and a dropped negation block
    could only remove docs the bound drops. Returns (_Inputs, {term: df}
    from a riding `df` column)."""
    import pandas as pd

    rk = pdf["rk"].to_numpy()
    p = pdf[rk == "p"]
    bounds: dict = {}
    if time_spec is not None:
        t0_us, t1_us, pid_lo, pid_hi = time_spec
        tr = pdf[rk == "t"]
        tpid = tr["pid"].to_numpy()
        for pid in {int(pid_lo), int(pid_hi)}:
            sel = tpid == pid
            if sel.any():
                bounds[pid] = _t_interval(
                    _t_times(
                        tr["first_doc"].to_numpy()[sel],
                        tr["ids_bin"].to_numpy()[sel],
                    ),
                    t0_us, t1_us,
                )
    if bounds and len(p):
        ppid = p["pid"].to_numpy()
        first = p["first_doc"].to_numpy()
        last = p["last_doc"].to_numpy()
        keep = np.ones(len(p), dtype=bool)
        for pid, (lo, hi) in bounds.items():
            inb = ppid == pid
            keep[inb] = (last[inb] >= lo) & (first[inb] < hi)
        if not keep.all():
            p = p[keep]
    p = p.sort_values(["term", "pid", "blk"], kind="stable")
    terms = p["term"].to_numpy()
    pids = p["pid"].to_numpy().astype(np.int64)
    ns = p["n"].to_numpy().astype(np.int64)
    ids_bins = p["ids_bin"].to_numpy()
    tfs_bins = p["tfs_bin"].to_numpy()
    post = _decode_blocks(
        terms, pids, ns, ids_bins, tfs_bins, p["dls_bin"].to_numpy()
    )
    term_pos: dict = {}
    if "pos_bin" in p.columns:
        # phrase members: positions ride only their rows (nulled before
        # the exchange for every other term)
        ph = p["pos_bin"].notna().to_numpy()
        if ph.any():
            term_pos = _decode_blocks(
                terms[ph], pids[ph], ns[ph], ids_bins[ph], tfs_bins[ph],
                p["pos_bin"].to_numpy()[ph], positions=True,
            )
    dfmap: dict = {}
    if "df" in p.columns:
        d = p.drop_duplicates("term")
        dfmap = {
            t: int(v) for t, v in zip(d["term"], d["df"]) if not pd.isna(v)
        }
    zp = pdf["pid"].to_numpy()[rk == "z"]
    universe = (
        _universe(np.unique(zp), pid_counts, bounds) if zp.size else None
    )
    xr = pdf[rk == "x"]
    rem = removed_comp
    if len(xr):
        rem = np.unique(
            (xr["pid"].to_numpy().astype(np.int64) << 32)
            + xr["first_doc"].to_numpy().astype(np.int64)
        )
    return _Inputs(post, term_pos, universe, bounds, rem), dfmap


def _topk_runner(plans: dict, n_docs: int, pid_counts: dict, time_spec,
                 removed_comp):
    """mapInPandas body of every distributed top-k search: decode a
    task's rows ONCE into composite ids (`_task_inputs`) and run ONE
    `_evaluate` per query over all of the task's pids -- O(terms) NumPy
    calls per task, not O(pids x terms). The task's k best rows are
    exactly its contribution to the global merge. `plans` maps qid ->
    _TopK; a batch (`search_many`) tags rows with a `qid` column and is
    grouped by it, a single search is plan 0."""
    import pandas as pd

    def run(batches):
        dfs = [b for b in batches if len(b)]
        if not dfs:
            return
        pdf = pd.concat(dfs, ignore_index=True)
        batched = "qid" in pdf.columns
        groups = pdf.groupby("qid", sort=False) if batched else [(0, pdf)]
        for qid, grp in groups:
            q = plans[int(qid)]
            inp, dfmap = _task_inputs(grp, pid_counts, time_spec,
                                      removed_comp)
            if q.idf is None:
                q = q._replace(
                    idf={t: bm25_idf(n_docs, d) for t, d in dfmap.items()}
                )
            cids, scores, _stats = _evaluate(q, inp)
            if not cids.size:
                continue
            out = pd.DataFrame(
                {
                    "pid": cids >> 32,
                    "doc_id": cids & 0xFFFFFFFF,
                    "score": scores,
                }
            )
            if batched:
                out.insert(0, "qid", int(qid))
            yield out

    return run


def _kernel_columns(agg: str | None, facet_prefixes) -> list[str]:
    """Declared output columns of a kernel frame: `kernel_frame`'s
    out_schema and every frame `_make_kernel` returns, empty ones too."""
    cols = ["pid", "doc_id", "score"]
    if agg in ("aggregate", "waveforms"):
        cols.append("cnt")
    # streamed facet mode emits the composed value term itself (metrics
    # excepted: its values decode in-kernel and only per-bucket sums
    # leave the task)
    if facet_prefixes and agg != "metrics":
        cols.append("term")
    return cols


def _make_kernel(
    tree,
    k: int,
    pid_counts: dict,
    expansions: dict,
    time_spec: tuple | None = None,
    removed_comp: np.ndarray | None = None,
    agg: str = "count",
    bucket_us: int = 0,
    bucket_origin_us: int = 0,
    bucket_count: int = 0,
    facet_terms: list | None = None,
    facet_values: list | None = None,
    facet_terms2: list | None = None,
    facet_terms3: list | None = None,
    tuple_specs: list | None = None,
    facet_prefixes: list | None = None,
):
    """Build the per-pid match-set aggregation kernel (closure ships to
    executors with the task -- all members are small). Top-k searches
    never come here: they run `_topk_runner`. The match step is the
    shared one (`_task_inputs` + `_match_set`); `agg` picks the reducer,
    with no scoring and no heap:

    - "count": one (pid, 0, match_count) row per pid;
    - "waveform": one (pid, bucket_index, count) row per epoch-aligned
      `bucket_us` bucket, timestamps from the pid's own 't' rows in the
      same task -- the analytics-plugin waveform (Analytics.java:164-183
      ANDs the constrained filter with per-bucket time bitmaps; here
      matched docIDs index the pid's time array and histogram);
    - "waveforms", "distincts", "metrics", "aggregate": per facet value
      of `facet_terms` (or of `facet_prefixes`, below) bucket counts,
      match counts, numeric per-bucket sums, newest doc + count;
    - "pairs": feature-tuple co-occurrence counts (`tuple_specs`);
    - "stumptown": bucket counts (pid=-1 rows) plus the pid's newest k.

    `facet_prefixes` switches the distincts/aggregate/waveforms/metrics
    facet modes from a driver-enumerated `facet_terms` LIST to streamed
    prefix enumeration: the kernel identifies a task's facet terms by
    composed-term prefix among its own posting rows and emits them as a
    `term` string column, so the full (uncapped) value space of a field
    flows through the exchange without EVER materializing a value list
    on the driver -- the Spark rendering of Distincts.gatherDirect
    streaming the whole term range (Distincts.java:69-140). At 100 TB a
    `user`/`guid` facet has millions of values; this path's driver
    footprint stays O(result), not O(value space)."""
    import pandas as pd

    fpfx = tuple(facet_prefixes) if facet_prefixes else None
    cols = _kernel_columns(agg, facet_prefixes)

    def facet_keys(ids_out: dict) -> list:
        """Streamed facet enumeration: THIS task's facet terms are the
        prefix-matching terms among its own decoded posting rows --
        sorted so value order (composed-term order) is deterministic."""
        return sorted(t for t in ids_out if t.startswith(fpfx))

    def bucket_of(warc_vals: np.ndarray):
        """Histogram timestamps into buckets: epoch-aligned (default) or
        N equal segments from bucket_origin_us (the reference's
        divideTimeRangeIntoNSegments shape -- StumptownQuestion.java
        :115-129, AnalyticsQuery; segment tail beyond origin + N*dur is
        truncated exactly like its closestId edge array)."""
        if bucket_count:
            rel = warc_vals - bucket_origin_us
            rel = rel[(rel >= 0) & (rel < bucket_count * bucket_us)]
            return np.unique(rel // bucket_us, return_counts=True)
        return np.unique(warc_vals // bucket_us, return_counts=True)

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(columns=cols)
        pid = int(pdf["pid"].iloc[0])
        inp, _df = _task_inputs(pdf, pid_counts, time_spec, removed_comp)
        base = np.int64(pid) << 32
        ids = _match_set(tree, expansions, inp) - base  # this pid's docIDs
        if ids.size == 0:
            return empty
        # decoded per-term docIDs (facet modes intersect them with ids)
        ids_out = (
            {t: v[0] - base for t, v in inp.post.items()}
            if agg in ("distincts", "metrics", "aggregate", "waveforms",
                       "pairs")
            else {}
        )
        warc = None
        if agg in ("waveform", "metrics", "waveforms", "stumptown"):
            tr = pdf[pdf["rk"].to_numpy() == "t"]
            if len(tr):
                warc = _t_times(
                    tr["first_doc"].to_numpy(), tr["ids_bin"].to_numpy()
                )
            elif agg != "stumptown":
                return empty
        if agg == "aggregate":
            # stream-page gather: per facet value, this pid's newest
            # matching doc (max docID -- docIDs are time-ordered) and
            # its match count (AggregateCounts.java distinct-latest
            # + count); one row per present value leaves the task
            o_idx, o_doc, o_cnt = [], [], []
            o_term: list = []
            fts = (
                facet_keys(ids_out) if fpfx is not None
                else (facet_terms or [])
            )
            for i, t in enumerate(fts):
                c = ids_out.get(t)
                if c is None or not c.size:
                    continue
                pos = np.minimum(np.searchsorted(ids, c), ids.size - 1)
                inter = c[ids[pos] == c]
                if inter.size:
                    o_idx.append(float(i))
                    o_doc.append(int(inter[-1]))
                    o_cnt.append(int(inter.size))
                    o_term.append(t)
            out = {
                "pid": pid,
                "doc_id": np.array(o_doc, dtype=np.int64),
                "score": np.array(o_idx, dtype=np.float64),
                "cnt": np.array(o_cnt, dtype=np.int64),
            }
            if fpfx is not None:
                out["score"] = np.zeros(len(o_term), dtype=np.float64)
                out["term"] = o_term
            return pd.DataFrame(out)
        if agg == "pairs":
            # feature-tuple doc-co-occurrence counts over the match
            # set -- the counting core of gatherFeatures
            # (MiruAggregateUtil.gatherFeatures:77-291: per answer
            # activity, stream the feature fields' terms and count
            # each observed combination). Only (packed tuple, count)
            # rows leave the task; the cross product is per-DOC
            # (multi-valued fields expand), never across docs.
            # `tuple_specs` batches SEVERAL features into this one
            # pass (strut's catwalk features): each spec owns a
            # disjoint int64 key range via its offset, so every
            # feature's counts ride the same exchange.
            if tuple_specs is not None:
                specs = tuple_specs
            else:
                groups = [facet_terms or [], facet_terms2 or []]
                if facet_terms3:
                    groups.append(facet_terms3)
                specs = [(0, groups)]
            all_k, all_c = [], []
            for off, groups in specs:
                keys, counts = _tuple_counts(ids, ids_out, groups)
                if keys.size:
                    all_k.append(keys + off)
                    all_c.append(counts)
            return pd.DataFrame(
                {
                    "pid": pid,
                    "doc_id": np.concatenate(all_k) if all_k else _EMPTY,
                    "score": (
                        np.concatenate(all_c) if all_c else _EMPTY
                    ).astype(np.float64),
                }
            )
        if agg == "waveforms":
            # per-facet-value waveforms in ONE pass (trending's
            # batched shape: TrendingInjectable computes an
            # analytics waveform per distinct term) -- emits
            # (pid, bucket, value_idx, count) rows
            fts = (
                facet_keys(ids_out) if fpfx is not None
                else (facet_terms or [])
            )
            o_b, o_v, o_c = [], [], []
            o_t: list = []
            for i, t in enumerate(fts):
                c = ids_out.get(t)
                if c is None or not c.size:
                    continue
                pos = np.minimum(np.searchsorted(ids, c), ids.size - 1)
                inter = c[ids[pos] == c]
                if not inter.size:
                    continue
                ub, cnt = bucket_of(warc[inter])
                o_b.append(ub)
                o_v.append(np.full(ub.size, i, dtype=np.int64))
                o_c.append(cnt)
                o_t.extend([t] * ub.size)
            if not o_b:
                return empty
            out = {
                "pid": pid,
                "doc_id": np.concatenate(o_b),
                "score": np.concatenate(o_v).astype(np.float64),
                "cnt": np.concatenate(o_c).astype(np.int64),
            }
            if fpfx is not None:
                out["score"] = np.zeros(len(o_t), dtype=np.float64)
                out["term"] = o_t
            return pd.DataFrame(out)
        if agg == "metrics":
            # per-bucket SUM of a numeric field over the match set
            # (Metrics.metricingSum, Metrics.java:82-98: sum over
            # bit-slice bitmaps of multiplier x boundedCardinality;
            # here the decomposition is per value-term: sum over
            # composed numeric terms of value x |match AND postings|)
            acc: dict = {}
            if fpfx is not None:
                # streamed numeric facet: the value is decodable
                # from the composed term itself (order-preserving
                # encoding, fields.encode_num) -- no driver list
                from ..fields import FIELD_SEP, decode_num

                fts = facet_keys(ids_out)
                fvs = [
                    float(decode_num(t.split(FIELD_SEP, 1)[1]))
                    for t in fts
                ]
            else:
                fts, fvs = facet_terms or [], facet_values or []
            for t, v in zip(fts, fvs):
                c = ids_out.get(t)
                if c is None or not c.size:
                    continue
                pos = np.minimum(np.searchsorted(ids, c), ids.size - 1)
                inter = c[ids[pos] == c]
                if not inter.size:
                    continue
                ub, cnt = bucket_of(warc[inter])
                for b, n in zip(ub, cnt):
                    acc[int(b)] = acc.get(int(b), 0.0) + v * int(n)
            return pd.DataFrame(
                {
                    "pid": pid,
                    "doc_id": np.array(sorted(acc), dtype=np.int64),
                    "score": np.array(
                        [acc[b] for b in sorted(acc)], dtype=np.float64
                    ),
                }
            )
        if agg == "distincts":
            # |match AND facet-term postings| per facet value --
            # the distincts gatherer (DistinctsQuery filter +
            # gatherDistinctsForField) as per-pid intersection
            # counts; only (value_idx, count) rows leave the task
            out_idx, out_cnt = [], []
            out_t: list = []
            fts = (
                facet_keys(ids_out) if fpfx is not None
                else (facet_terms or [])
            )
            for i, t in enumerate(fts):
                c = ids_out.get(t)
                if c is None or not c.size:
                    continue
                pos = np.minimum(np.searchsorted(ids, c), ids.size - 1)
                n = int((ids[pos] == c).sum())
                if n:
                    out_idx.append(i)
                    out_cnt.append(float(n))
                    out_t.append(t)
            out = {
                "pid": pid,
                "doc_id": np.array(out_idx, dtype=np.int64),
                "score": np.array(out_cnt, dtype=np.float64),
            }
            if fpfx is not None:
                out["doc_id"] = np.zeros(len(out_t), dtype=np.int64)
                out["term"] = out_t
            return pd.DataFrame(out)
        if agg == "stumptown":
            # ONE pass over this pid's match set yields BOTH outputs
            # (Stumptown.stumptowning, Stumptown.java:37-73: newest-k
            # activities off the answer's descending iterator + the
            # same answer's boundedCardinalities waveform): bucket
            # rows tagged pid=-1, newest-k candidate rows with the
            # real pid (score 0, TIME semantics -- docIDs are
            # time-ordered within a pid)
            out_pid: list = []
            out_doc: list = []
            out_sc: list = []
            if warc is not None:
                b_idx, cnt = bucket_of(warc[ids])
                out_pid.extend([-1] * b_idx.size)
                out_doc.extend(b_idx.tolist())
                out_sc.extend(cnt.astype(np.float64).tolist())
            newest = ids[-k:] if k > 0 else ids[:0]
            out_pid.extend([pid] * newest.size)
            out_doc.extend(newest.tolist())
            out_sc.extend([0.0] * newest.size)
            return pd.DataFrame(
                {
                    "pid": np.array(out_pid, dtype=np.int64),
                    "doc_id": np.array(out_doc, dtype=np.int64),
                    "score": np.array(out_sc, dtype=np.float64),
                }
            )
        if agg == "waveform":
            b_idx, cnt = bucket_of(warc[ids])
            return pd.DataFrame(
                {
                    "pid": pid,
                    "doc_id": b_idx.astype(np.int64),
                    "score": cnt.astype(np.float64),
                }
            )
        return pd.DataFrame(
            {"pid": [pid], "doc_id": [0], "score": [float(ids.size)]}
        )

    return kernel



class SearchEngine(FeatureOpsMixin):
    """Distributed BM25 search over a built index directory."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        max_pinned_terms: int = 4_000_000,
        # Routing threshold: estimated postings at or below this answer
        # on the serving node (pyarrow + NumPy, zero Spark jobs); above
        # it, the distributed kernel. Measured at 6M docs/local[32]: a
        # 2-term head AND (est ~3M) runs 624 ms warm on the serving node
        # vs 1.8 s through the kernel, so 8M (~200 MB transient) routes
        # mid-size queries local while wide prefix expansions stay
        # distributed. Tune down for thin drivers, up for fat ones.
        local_max_postings: int = 8_000_000,
        post_cache_max_entries: int | None = None,
        max_pinned_removals: int = 2_000_000,
        as_of: str | None = None,
    ):
        # format check first: a pre-format-2 index fails before any
        # session or Spark work (a missing "format" key means format 1)
        self.paths = IndexPaths(index_dir)
        meta_path = os.path.join(index_dir, "meta.json")
        self.meta = {}
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                self.meta = json.load(f)
        fmt = int(self.meta.get("format", 1))
        if fmt < 2:
            raise IndexFormatError(
                f"{index_dir} is a format-{fmt} index; this engine needs "
                "format >= 2 (per-block 't' time-index rows). Rebuild it "
                "with jobs/build_index_job.py"
            )
        # AQE re-plans every exchange as its own job; for small interactive
        # top-k queries that is ~6 jobs and +30-40% latency with no upside
        # (the kernel shuffle is tiny). Wide analytic workloads sharing the
        # SparkSession want AQE *on*, so instead of toggling the shared
        # conf (round-1 design: save/restore in close()) the engine plans
        # every one of its own reads through a private child session --
        # spark.newSession() shares the SparkContext, executors, and cache
        # manager but has an isolated SQLConf, so nothing the engine
        # configures is visible to other workloads on the same session.
        try:
            child = spark.newSession()
            # newSession() starts from the builder-time options, not the
            # parent's *runtime* conf -- carry over the keys that shape
            # query plans so the engine behaves identically to the session
            # the caller tuned, minus AQE.
            for key in (
                "spark.sql.shuffle.partitions",
                "spark.sql.session.timeZone",
                "spark.sql.execution.arrow.pyspark.enabled",
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "spark.sql.parquet.compression.codec",
            ):
                try:
                    child.conf.set(key, spark.conf.get(key))
                except Exception:
                    pass
            child.conf.set("spark.sql.adaptive.enabled", "false")
            self.spark = child
        except Exception:  # bare test doubles without newSession
            self.spark = spark
        spark = self.spark
        from ..index.build import (
            _tags_as_of,
            read_docmap,
            read_postings,
            read_timeindex,
        )

        # Snapshot pin (time travel): `as_of` restricts every read to
        # commit units at or before that batch tag -- the Iceberg
        # snapshot-read analog over the batch-commit log. BM25 global /
        # per-term stats are snapshot-scoped, so they are recomputed
        # over the pinned subset (two small jobs at init) instead of
        # read from the finalized full-index tables.
        self.as_of = as_of
        self.postings = read_postings(spark, self.paths, as_of=as_of)
        self._postings_pos = None  # lazy pos_bin-bearing view (phrases)
        self.docmap = read_docmap(spark, self.paths, as_of=as_of)
        self.timeindex = read_timeindex(spark, self.paths, as_of=as_of)
        if as_of is None:
            srow = spark.read.parquet(self.paths.stats).collect()[0]
            self.termstats = spark.read.parquet(self.paths.termstats)
        else:
            srow = self.docmap.agg(
                F.count("*").alias("n_docs"),
                (F.sum("doc_len") / F.count("*")).alias("avgdl"),
            ).collect()[0]
            self.termstats = self.postings.groupBy("term").agg(
                F.sum("n").alias("df"), F.sum("ctf").alias("ctf")
            )
        self.n_docs = int(srow["n_docs"])
        if srow["avgdl"] is None:
            raise ValueError(
                f"snapshot {as_of!r} contains no documents (the tag "
                f"pins zero commit units with docs)"
            )
        self.avgdl = float(srow["avgdl"])
        from ..index.build import _recover_lineage

        _recover_lineage(self.paths)
        lineage = spark.read.parquet(self.paths.lineage)
        if as_of is not None:
            lineage = lineage.filter(
                F.col("batch_tag").isin(_tags_as_of(spark, self.paths, as_of))
            )
        self.pid_counts = {
            int(r["pid"]): int(r["doc_count"])
            for r in lineage.filter(F.col("status") == "complete")
            .groupBy("pid")
            .agg(F.max("doc_count").alias("doc_count"))
            .collect()
        }
        # Pin the term dictionary (term -> df) driver-side: it is small,
        # immutable per snapshot, and pinning it makes prefix expansion a
        # bisect and idf a driver-side dict -- so search() plans exactly
        # one Spark job instead of several metadata jobs per query (the
        # analog of miru keeping hot term dictionaries memory-mapped,
        # LabFieldIndex reads). Guarded: a 100 TB web corpus's vocabulary
        # can exceed driver memory, so above `max_pinned_terms` fall back
        # to per-query Spark-job expansion + a broadcast df join.
        rows = (
            self.termstats.select("term", "df")
            .limit(max_pinned_terms + 1)
            .collect()
        )
        if len(rows) <= max_pinned_terms:
            self._term_df = {r["term"]: int(r["df"]) for r in rows}
            self._terms_sorted = sorted(self._term_df)
        else:
            self._term_df = None
            self._terms_sorted = None
        # Serving-node fast path: queries whose estimated posting volume
        # is below this bound are answered by the query-serving process
        # itself (pyarrow row-group-pruned reads + the same NumPy kernel),
        # skipping Spark job scheduling entirely. This is the reference's
        # topology -- a query routes to the one MiruHost holding the
        # partition replica and runs against its memory-mapped index
        # (MiruHostedPartition; only large scans fan out). Above the
        # bound (head terms over a 100 TB corpus, match-all over a big
        # range) the distributed mapInPandas path runs instead.
        self.local_max_postings = int(local_max_postings)
        self._pads = None
        self._rgcat = None
        self._pool = None
        # Decoded-postings LRU (term -> full-pid-span (cids, tfs, dls)):
        # the serving-node analog of the reference's memory-mapped posting
        # lists staying hot in page cache (LabInvertedIndex). Snapshot-
        # immutable per engine, so no invalidation; bounded by posting
        # entries, evicted least-recently-used.
        from collections import OrderedDict
        from threading import Lock

        self._post_cache: OrderedDict = OrderedDict()
        self._post_cache_entries = 0
        self._post_cache_lock = Lock()  # concurrent serving threads
        # decoded per-pid time arrays (waveform/analytics): one int64 per
        # doc, capped at 2 x local_max_postings entries like the postings
        # LRU -- repeated waveforms skip the varint re-decode
        self._times_cache: dict = {}
        self._times_cache_entries = 0
        # strut score cache (StrutModelScorer.java analog): repeated
        # model-scored strut questions skip the feature gather entirely;
        # keyed by model + request + index version (featureops.strut)
        self._strut_cache: OrderedDict = OrderedDict()
        self.strut_cache_hits = 0
        self._init_lock = Lock()  # lazy _pads/_rgcat/_pool construction
        # Memory bound: each cached posting costs 3 x 8 B (cids/tfs/dls
        # int64), so 2 x local_max_postings entries ~= 384 MB at the 8M
        # default. Scale local_max_postings down on thin drivers and the
        # cache bound follows; or pass post_cache_max_entries explicitly.
        self.post_cache_max_entries = int(
            post_cache_max_entries
            if post_cache_max_entries is not None
            else 2 * local_max_postings
        )
        # Doc-level tombstones (MiruRemovalIndex analog): every query masks
        # its matches against the resolved removed set, so removing one doc
        # is a parquet append, never a partition rebuild. Pinned driver-
        # side below `max_pinned_removals` (the reference keeps the whole
        # removal bitmap heap-resident per partition); above the bound the
        # removed ids ride into the kernel as per-pid 'x' rows
        # co-partitioned with the postings.
        self._max_pinned_removals = int(max_pinned_removals)
        self.refresh_removals()

    def refresh_removals(self) -> None:
        """(Re)load the tombstone log — call after remove_docs/
        restore_docs against a live engine."""
        from ..index.removals import read_removed

        self._removed_df = None    # removed (pid, doc_id) relation
        self._removed_map = None   # pinned: dict pid -> sorted doc_ids
        self._removed_comp = None  # pinned: sorted composite ids (local)
        rdf = read_removed(self.spark, self.paths)
        if rdf is None:
            return
        rows = rdf.limit(self._max_pinned_removals + 1).collect()
        if not rows:
            return  # every tombstone was out-versioned by a restore
        self._removed_df = rdf
        if len(rows) > self._max_pinned_removals:
            return  # unpinned: 'x' rows co-partition into the kernel
        by_pid: dict[int, list] = {}
        for r in rows:
            by_pid.setdefault(int(r["pid"]), []).append(int(r["doc_id"]))
        self._removed_map = {
            p: np.unique(np.asarray(ds, dtype=np.int64))
            for p, ds in by_pid.items()
        }
        self._removed_comp = np.sort(
            np.concatenate(
                [(p << 32) + ds for p, ds in self._removed_map.items()]
            )
        )

    # -- helpers -----------------------------------------------------------
    def close(self) -> None:
        """Release cached tables. The engine's conf lives in its private
        child session (see __init__), so there is nothing to restore on
        the caller's SparkSession -- it was never touched."""
        for df in (self.postings, self.termstats, self.docmap):
            try:
                df.unpersist()
            except Exception:
                pass
        self._pads = None
        if self._rgcat is not None:
            for r in self._rgcat[0]:  # the catalog's open ParquetFiles
                try:
                    r.close()
                except Exception:
                    pass
            self._rgcat = None
        if self._pool is not None:
            self._pool.shutdown(wait=False)
            self._pool = None
        with self._post_cache_lock:
            self._post_cache.clear()
            self._post_cache_entries = 0
        self._times_cache.clear()
        self._times_cache_entries = 0

    def _postings_with_pos(self) -> DataFrame:
        """Posting-blocks view that carries pos_bin -- built lazily, only
        phrase queries read through it (position blobs are the largest
        per-term payload; every other query path never touches them)."""
        if self._postings_pos is None:
            from ..index.build import read_postings

            self._postings_pos = read_postings(
                self.spark, self.paths, as_of=self.as_of, positions=True
            )
        return self._postings_pos

    def _range_dense(self, g: list) -> bool:
        """Does the term group cover at least half the dictionary's
        [min(g), max(g)] span? Dense groups range-select; sparse ones
        (floored enumerations, explicit value lists) keep exact isin so
        their holes' postings never ship. An unpinned dictionary cannot
        measure the span without a Spark job, so there only groups known
        dense by construction (`_DenseTerms`: whole-field enumerations)
        range-select."""
        ts = self._terms_sorted
        if ts is None:
            return isinstance(g, _DenseTerms)
        import bisect

        span = bisect.bisect_right(ts, max(g)) - bisect.bisect_left(
            ts, min(g)
        )
        return 2 * len(set(g)) >= span

    def _prefix_scan(
        self, prefix: str, cap: int | None, min_df: int = 0
    ) -> list[str]:
        """Lexicographic term-dictionary range scan over the PINNED
        sorted dictionary -- the one scan both `expand_prefix` (capped,
        wildcard semantics) and `field_terms` (uncapped facet
        enumeration, optional df floor) are views of."""
        import bisect

        ts = self._terms_sorted
        df = self._term_df or {}
        out: list[str] = []
        i = bisect.bisect_left(ts, prefix)
        while i < len(ts) and ts[i].startswith(prefix):
            if cap is not None and len(out) >= cap:
                break
            t = ts[i]
            if min_df <= 0 or df.get(t, 0) >= min_df:
                out.append(t)
            i += 1
        return out

    def expand_prefix(self, prefix: str, cap: int | None = None) -> list[str]:
        """Wildcard expansion: term-dictionary range scan, lexicographic,
        capped (MiruAggregateUtil.java:1154-1167 maxWildcardExpansion;
        `cap` is the per-query FullTextQuery.maxWildcardExpansion
        override, engine-default when None)."""
        if cap is None:
            cap = MAX_WILDCARD_EXPANSION
        if self._terms_sorted is not None:
            return self._prefix_scan(prefix, cap)
        rows = (
            self.termstats.filter(F.col("term").startswith(prefix))
            .select("term")
            .orderBy("term")
            .limit(cap)
            .collect()
        )
        return [r["term"] for r in rows]

    def field_terms(
        self, field: str, prefixes=None, min_df: int = 0
    ) -> list[str]:
        """UNCAPPED composed-term enumeration of a metadata field's value
        space -- the facet-family twin of `expand_prefix` WITHOUT the
        wildcard-expansion cap. The reference's distincts gatherer streams
        the field's FULL term range (Distincts.gatherDirect walks
        termIndex.streamTermIdsForField with no value cap,
        miru-reco-plugins/.../distincts/Distincts.java:69-140); sharing
        MAX_WILDCARD_EXPANSION here would silently truncate facet counts
        on any field with >1024 values. `prefixes` restricts the values
        (DistinctsQuery.prefixes): a string or list of strings, values
        matching ANY prefix.

        Pinned-dictionary path: a bisect slice of the driver-resident
        sorted term list -- free and exact. Unpinned path: ONE Spark
        collect of the field's composed terms, output-sized (callers
        that return the full value set are O(values) anyway; the
        distributed facet kernels stream values through the exchange via
        `facet_prefixes` and never need this list).

        `min_df` is an EXPLICIT opt-in floor (never a silent default):
        skip values whose document frequency is below it -- the
        cost knob for wide-field plugin walks (the reference's analog
        is term skipping during multi-term index transactions,
        LabFieldIndex.multiTxIndex considerIfLastIdGreaterThanN,
        LabFieldIndex.java:339-419). Non-zero min_df changes results by
        construction; callers surface it in their own API."""
        from ..fields import FIELD_SEP

        if prefixes is None or isinstance(prefixes, str):
            pfx = [prefixes or ""]
        else:
            pfx = list(prefixes) or [""]
        keys = sorted({f"{field}{FIELD_SEP}{p}" for p in pfx})
        if self._terms_sorted is not None:
            if len(keys) == 1:
                return self._prefix_scan(keys[0], None, min_df)
            out_set: set[str] = set()
            for kp in keys:
                out_set.update(self._prefix_scan(kp, None, min_df))
            return sorted(out_set)
        cond = None
        for kp in keys:
            c = F.col("term").startswith(kp)
            cond = c if cond is None else (cond | c)
        src = self.termstats.filter(cond)
        if min_df > 0:
            src = src.filter(F.col("df") >= int(min_df))
        rows = (
            src.select("term")
            .distinct()
            .orderBy("term")
            .collect()
        )
        out = [r["term"] for r in rows]
        # one unfloored prefix: the whole contiguous dictionary range
        return _DenseTerms(out) if len(keys) == 1 and min_df <= 0 else out

    def expand_range(
        self, field: str, lo: int, hi: int, cap: int | None = None
    ) -> list[str]:
        """Numeric range -> composed-term list via a term-dictionary range
        scan between the order-preserving-encoded endpoints (the
        MiruTermComposer rawRange scan, MiruTermComposer.java:202-211),
        capped like wildcard expansion."""
        from ..fields import FIELD_SEP, encode_num

        if cap is None:
            cap = MAX_WILDCARD_EXPANSION
        lo_key = f"{field}{FIELD_SEP}{encode_num(int(lo))}"
        hi_key = f"{field}{FIELD_SEP}{encode_num(int(hi))}"
        if self._terms_sorted is not None:
            import bisect

            out = []
            i = bisect.bisect_left(self._terms_sorted, lo_key)
            while (
                i < len(self._terms_sorted)
                and self._terms_sorted[i] <= hi_key
                and len(out) < cap
            ):
                out.append(self._terms_sorted[i])
                i += 1
            return out
        rows = (
            self.termstats.filter(
                (F.col("term") >= lo_key) & (F.col("term") <= hi_key)
            )
            .select("term")
            .orderBy("term")
            .limit(cap)
            .collect()
        )
        return [r["term"] for r in rows]

    def cache(self) -> "SearchEngine":
        """Pin the index tables in executor memory for repeated queries --
        the batch-engine analog of miru's memory-mapped hot partitions
        (LabInvertedIndex reads). The postings are hash-co-located by pid
        BEFORE caching, so interactive queries skip their per-query
        repartition shuffle: a filter on the cached, already-partitioned
        data feeds mapInPandas directly (one stage, no exchange), narrowed
        by a coalesce to the query's sized task count (`_kernel_tasks`;
        whole partitions merge, so co-location survives). The cache holds
        the full fan-out, min(pids, cores) partitions. Returns self."""
        self.postings = self.postings.repartition(
            self._kernel_tasks(1 << 62, len(self.pid_counts)), "pid"
        ).cache()
        self._pid_colocated = True
        self.termstats = self.termstats.cache()
        self.docmap = self.docmap.cache()
        return self

    # -- search ------------------------------------------------------------
    def _prep_query(
        self,
        query: str | None,
        locale: str | None,
        time_range_us: tuple[int, int] | None,
        constraints=None,
        authz=None,
        use_stopwords: bool = True,
        max_expand: int | None = None,
    ) -> dict:
        """Driver-side query planning shared by the distributed and local
        paths: parse, expand prefixes (bisect over the pinned dictionary),
        compute idf, resolve the pid range and time spec. No Spark jobs
        on the pinned-dictionary path.

        `constraints` (query string or parsed tree) and `authz` (granted
        label list) AND into the match tree but never score -- the
        reference's fulltext question composes query AND constraints AND
        composite-authz per partition (FullTextCustomQuestion.java:91-107).
        `query=None` means match-all (inclusiveFilter base), for
        constraint/authz-only requests. A pre-parsed tree is accepted
        in place of query text -- wire-adapter requests (wire.py) carry
        MiruFilter JSON, which converts to a tree, not to query text."""
        allow_phrases = bool(self.meta.get("positions", False))
        tree = (
            ("all",) if query is None
            else query if isinstance(query, tuple)
            else parse_query(query, locale, allow_phrases, use_stopwords)
        )
        # scoring terms come from the USER QUERY only (FullText.java
        # :99-170 termCollector walks the query, not the constraints)
        pos_terms, pos_prefixes, _ = collect_terms(tree)
        # a prefix used by BOTH the query and the constraints must not
        # inherit the per-query max_expand cap in its CONSTRAINT role
        # (capping a constraint's value set would silently exclude
        # matching docs). The expansion map is keyed by prefix string,
        # so the constraint tree's dual-role prefix nodes are rewritten
        # into explicit term-OR nodes at the ENGINE-DEFAULT expansion
        # before the merge -- the query's own node keeps the override
        if constraints is not None and max_expand is not None:
            ctree = (
                constraints if isinstance(constraints, tuple)
                else parse_query(
                    constraints, locale, allow_phrases, use_stopwords
                )
            )
            _ct, con_prefixes, _cf = all_referenced_terms(ctree)
            dual = con_prefixes & set(pos_prefixes)
            if dual:
                constraints = self._expand_dual_prefixes(ctree, dual)
            else:
                constraints = ctree
        tree = with_access(
            tree, constraints, authz, locale, allow_phrases, use_stopwords
        )
        return self._prep_tree(
            tree, time_range_us, pos_terms, pos_prefixes,
            max_expand=max_expand,
        )

    def _expand_dual_prefixes(self, node, dual: set):
        """Replace constraint-side ("prefix", p) nodes for p in `dual`
        with an OR of the engine-default expansion's term nodes, so the
        shared expansion map's per-query-capped entry never narrows the
        constraint's match set."""
        tag = node[0]
        if tag == "prefix" and node[1] in dual:
            exp = self.expand_prefix(node[1])
            if not exp:
                return ("none",)
            return ("or", [("term", t) for t in exp])
        if tag in ("and", "or"):
            return (
                tag,
                [self._expand_dual_prefixes(c, dual) for c in node[1]],
            )
        if tag == "not":
            return (
                "not",
                self._expand_dual_prefixes(node[1], dual),
                self._expand_dual_prefixes(node[2], dual),
            )
        return node

    def _prep_tree(
        self,
        tree,
        time_range_us: tuple[int, int] | None = None,
        pos_terms=(),
        pos_prefixes=(),
        max_expand: int | None = None,
    ) -> dict:
        """Plan an already-built filter tree (the post-parse half of
        `_prep_query`). Programmatic callers -- reco's 3-hop walk, strut,
        inbox -- compose trees of raw `("term", composed)` nodes directly
        (FieldMultiTermTxIndex analog: the hop operands are term IDs, not
        query text), so no analyzer pass must touch them."""
        phrases = collect_phrases(tree)
        phrase_terms = sorted({t for ph in phrases for t, _p in ph[1]})
        terms, prefixes, franges = all_referenced_terms(tree)
        # per-query FullTextQuery.maxWildcardExpansion override rides
        # only the QUERY's own scoring prefixes (pos_prefixes, collected
        # before constraints/authz merged in); constraint-side and range
        # expansions keep the engine default -- capping a constraint's
        # value set would silently exclude matching docs (dual-role
        # prefixes were already rewritten to term-OR nodes in
        # _prep_query, so this keying by prefix string is unambiguous)
        own = set(pos_prefixes)
        expansions = {
            p: self.expand_prefix(
                p, cap=max_expand if p in own else None
            )
            for p in prefixes
        }
        for fr in franges:  # keyed by the node tuple itself
            expansions[fr] = self.expand_range(fr[1], fr[2], fr[3])
        scoring_terms = set(pos_terms)
        for p in pos_prefixes:
            scoring_terms.update(expansions[p])

        fetch_terms = set(terms)
        for exp in expansions.values():
            fetch_terms.update(exp)

        has_all_node = "all" in _tree_tags(tree)
        # retention watermark (index/retention.py set_retention): clamp
        # EVERY query's time range to [retention_min_us, +inf) -- this is
        # the single shared planning point, so both engine paths and all
        # index-backed analytics honor it identically
        ret_us = int(self.meta.get("retention_min_us", 0) or 0)
        if ret_us > 0:
            if time_range_us is None:
                time_range_us = (ret_us, (1 << 62))
            else:
                time_range_us = (
                    max(int(time_range_us[0]), ret_us),
                    int(time_range_us[1]),
                )
        relevant_pids = sorted(self.pid_counts)
        time_spec = None
        pid_range = None
        boundary_pids: list[int] = []
        if time_range_us is not None:
            psec = int(self.meta.get("partition_seconds", 86400))
            t0_us, t1_us = time_range_us
            psec_us = psec * 1_000_000
            pid_lo, pid_hi = t0_us // psec_us, t1_us // psec_us
            pid_range = (int(pid_lo), int(pid_hi))
            relevant_pids = [
                p for p in relevant_pids if pid_lo <= p <= pid_hi
            ]
            # boundary pids resolve their exact [lo, hi) interval from
            # their 't' rows (in-task on the kernel route) -- no collect
            time_spec = (int(t0_us), int(t1_us), int(pid_lo), int(pid_hi))
            boundary_pids = [
                int(p) for p in {pid_lo, pid_hi} if p in self.pid_counts
            ]

        idf_map = None
        if self._term_df is not None:
            idf_map = {
                t: bm25_idf(self.n_docs, self._term_df[t])
                for t in fetch_terms
                if t in self._term_df
            }
        return {
            "tree": tree,
            "expansions": expansions,
            "scoring_terms": sorted(scoring_terms),
            "fetch_terms": sorted(fetch_terms),
            "has_all_node": has_all_node,
            "relevant_pids": relevant_pids,
            "pid_range": pid_range,
            "time_spec": time_spec,
            "boundary_pids": boundary_pids,
            "idf_map": idf_map,
            "phrase_terms": phrase_terms,
        }

    def kernel_frame(
        self,
        query: str,
        k: int = 10,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        use_blockmax: bool = True,
        prep: dict | None = None,
        theta0: float = 0.0,
        strategy: str = "tfidf",
        constraints=None,
        authz=None,
        agg: str | None = None,
        bucket_us: int = 0,
        bucket_origin_us: int = 0,
        bucket_count: int = 0,
        facet_terms: list | None = None,
        facet_values: list | None = None,
        facet_terms2: list | None = None,
        facet_terms3: list | None = None,
        tuple_specs: list | None = None,
        facet_prefixes: list | None = None,
    ) -> DataFrame:
        """Build the distributed frame for a query: one mapInPandas pass
        over the pruned posting blocks. Without `agg` every task runs the
        shared top-k evaluator (`_topk_runner`) and yields its (pid,
        doc_id, score) top-k rows -- score-ranked, or newest-first for
        strategy="time"; `search` collects the global top-k, plan tests
        assert the physical shape.

        `agg` switches to per-pid match-set aggregation (see
        _make_kernel): no term scores, so EVERY term sheds its tf/dl
        blobs before the exchange; time-bucketing modes ship every
        relevant pid's 't' rows so bucketing happens in-task; facet modes
        fetch the facet postings alongside the query's and emit only
        per-value rows per task. Output columns: `_kernel_columns`."""
        p = prep or self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        tree = p["tree"]
        expansions = p["expansions"]
        scoring_terms = [] if agg is not None else p["scoring_terms"]
        fetch_terms = p["fetch_terms"]
        facet_groups: list[list] = []
        if agg in ("distincts", "metrics", "aggregate", "waveforms",
                   "pairs"):
            for g in (facet_terms, facet_terms2, facet_terms3):
                if g:
                    facet_groups.append(g)
            for _off, groups in tuple_specs or []:
                facet_groups.extend(g for g in groups if g)
        has_all_node = p["has_all_node"]
        relevant_pids = p["relevant_pids"]
        time_spec = p["time_spec"]
        boundary_pids = p["boundary_pids"]
        idf_map = p["idf_map"]

        phrase_terms = p.get("phrase_terms") or []
        blocks = (
            self._postings_with_pos() if phrase_terms else self.postings
        )
        if p["pid_range"] is not None:
            pid_lo, pid_hi = p["pid_range"]
            blocks = blocks.filter(
                (F.col("pid") >= pid_lo) & (F.col("pid") <= pid_hi)
            )

        fcond = (
            F.col("term").isin(fetch_terms) if fetch_terms
            # zero fetch terms: nothing the kernel needs lives in the
            # posting blocks. A bare match-all (count(None)/waveform of
            # everything) is answered entirely by the 'z' marker rows +
            # 't' rows unioned below -- leaving blocks unfiltered here
            # would exchange the ENTIRE postings table, blobs included
            else F.lit(False)
        )
        for kp in facet_prefixes or []:
            # streamed facet mode: the facet field's WHOLE composed-term
            # range rides to the kernel, selected by prefix (pushes to
            # parquet as StringStartsWith -- term-major row groups prune
            # on their term min/max like the isin path)
            fcond = fcond | F.col("term").startswith(kp)
        for g in facet_groups:
            sg = sorted(set(g))
            if len(sg) <= self.FACET_ISIN_MAX or not self._range_dense(g):
                # exact list selection; above the isin threshold only a
                # SPARSE group (a min_df-floored enumeration, or any
                # explicit list on an unpinned dictionary, whose holes
                # would make a range over-fetch most of the field) still
                # pays the big InSet -- correctness of the cost knob
                # beats plan size
                fcond = fcond | F.col("term").isin(sg)
            else:
                # wide DENSE value list (uncapped field enumeration): a
                # million-literal Catalyst In would blow up planning, so
                # select by the group's contiguous dictionary range --
                # pushes as two range predicates; the few in-range terms
                # outside the exact list ride along and are ignored by
                # the kernel's per-group lists
                fcond = fcond | (
                    (F.col("term") >= sg[0]) & (F.col("term") <= sg[-1])
                )
        blocks = blocks.filter(fcond)

        # filter-only terms (field constraints, negations, frange
        # expansions) never score: their tf/dl blobs are dead weight on
        # the exchange -- null them out before the shuffle (a composed
        # lang:de term over a web corpus carries postings for ~a tenth of
        # all docs; its blobs are ~2/3 of the term's bytes). Phrase
        # members always keep their tf blobs even when filter-only (a
        # phrase inside `constraints`): position decode segments by tf.
        keep_blobs = set(scoring_terms) | set(phrase_terms)
        nonscoring = sorted(set(fetch_terms) - keep_blobs)
        # prefix- and group-selected facet rows are never scoring terms
        # either -- their tf/dl blobs must shed before the exchange just
        # like list-enumerated filter-only terms
        has_nonscoring = (
            bool(nonscoring) or bool(facet_prefixes) or bool(facet_groups)
        )
        if has_nonscoring and keep_blobs:
            keep = F.col("term").isin(sorted(keep_blobs))
            blocks = blocks.withColumn(
                "tfs_bin", F.when(keep, F.col("tfs_bin"))
            ).withColumn("dls_bin", F.when(keep, F.col("dls_bin")))
        elif has_nonscoring:
            blocks = blocks.withColumn(
                "tfs_bin", F.lit(None).cast("binary")
            ).withColumn("dls_bin", F.lit(None).cast("binary"))

        kcols = list(_POSTING_COLS)
        if phrase_terms:
            # position blobs ride the exchange ONLY for phrase member
            # terms; every other fetched term's pos_bin is nulled here,
            # same bytes-on-the-wire discipline as the tf/dl nulling
            kcols.append("pos_bin")
            blocks = blocks.withColumn(
                "pos_bin",
                F.when(
                    F.col("term").isin(phrase_terms), F.col("pos_bin")
                ),
            )
        if idf_map is None and agg is not None:
            idf_map = {}  # aggregation modes never score
        if idf_map is None:
            # vocabulary too large to pin: global df rides along via a
            # broadcast join so idf is computed in the kernel
            kcols.append("df")
            tstats = self.termstats.select("term", "df")
            if fetch_terms:
                tstats = tstats.filter(F.col("term").isin(fetch_terms))
            blocks = blocks.join(F.broadcast(tstats), "term", "left")

        blocks = _pad_cols(blocks, kcols, "p")
        if agg in ("waveform", "metrics", "waveforms", "stumptown"):
            # every relevant pid's time rows ride to its kernel task so
            # matched docIDs bucket in-task (boundary pids reuse the same
            # rows for their exact [lo, hi) interval)
            ti = self.timeindex
            if p["pid_range"] is not None:
                pid_lo, pid_hi = p["pid_range"]
                ti = ti.filter(
                    (F.col("pid") >= pid_lo) & (F.col("pid") <= pid_hi)
                )
            blocks = blocks.unionByName(_pad_cols(ti, kcols, "t"))
        elif boundary_pids:
            blocks = blocks.unionByName(
                _pad_cols(
                    self.timeindex.filter(F.col("pid").isin(boundary_pids)),
                    kcols,
                    "t",
                )
            )
        if has_all_node and relevant_pids:
            # every relevant pid must reach the kernel even with zero
            # fetched blocks (it still matches, score 0): ship one tiny
            # marker row per pid instead of probing which pids are
            # present. Arrow-backed pandas frame -> LocalRelation, no
            # job (a plain createDataFrame(list) takes the RDD path and
            # costs a full Spark job per query, see _local_relation)
            import pandas as pd

            markers = self.spark.createDataFrame(
                pd.DataFrame(
                    {"pid": np.array(relevant_pids, dtype=np.int64)}
                ),
                schema="pid long",
            )
            blocks = blocks.unionByName(_pad_cols(markers, kcols, "z"))
        unpinned_removals = (
            self._removed_df is not None and self._removed_map is None
        )
        if unpinned_removals:
            # tombstone set too large to pin: each removed docID rides to
            # its pid's kernel task as an 'x' row (id in first_doc),
            # hash-co-partitioned with that pid's posting blocks
            xr = self._removed_df
            if p["pid_range"] is not None:
                pid_lo, pid_hi = p["pid_range"]
                xr = xr.filter(
                    (F.col("pid") >= pid_lo) & (F.col("pid") <= pid_hi)
                )
            blocks = blocks.unionByName(
                _pad_cols(
                    xr.select("pid", F.col("doc_id").alias("first_doc")),
                    kcols,
                    "x",
                )
            )

        # co-locate each pid's fetched blocks on one task, then ONE pandas
        # call per task: the top-k runner evaluates all of the task's
        # pids at once, the agg kernel loops the pids it owns -- same
        # semantics as groupBy(pid).applyInPandas but without a per-group
        # Arrow+pandas round trip (a query touches O(pids) groups; at
        # fine-grained time partitioning that per-group overhead
        # dominated latency). The task count is SIZED by the op's
        # estimated postings (`_kernel_tasks`): every Python task costs a
        # fixed start-up, so a small op runs as ONE task behind a
        # coalesce -- one stage, no exchange, every pid trivially
        # co-located -- and only ops worth several tasks' start-up
        # repartition by pid, capped at the pids touched and the cores
        # (miru likewise answers a small query on the one host holding
        # its partition; only large scans fan out).
        # cached engines pre-co-located the postings by pid, so the plain
        # term-query path needs NO exchange at any task count: a coalesce
        # merges whole cached partitions. Unions (time-index / marker /
        # tombstone rows) or uncached reads lay out per query (`_by_task`)
        plain = (
            not boundary_pids
            # waveform/metrics/waveforms/stumptown union time-index rows
            and agg not in ("waveform", "metrics", "waveforms",
                            "stumptown")
            and not (has_all_node and relevant_pids)
            and not unpinned_removals
            # phrase queries read the uncached pos-bearing view, which
            # was never pre-co-located by cache()
            and not phrase_terms
        )
        n_tasks = self._kernel_tasks(
            self._op_postings(
                p, [t for g in facet_groups for t in g], facet_prefixes
            ),
            len(relevant_pids),
        )
        if getattr(self, "_pid_colocated", False) and plain:
            src = blocks.coalesce(n_tasks)
        else:
            src = _by_task(blocks, n_tasks, "pid")
        out_schema = ", ".join(
            f"{c} {_OUT_TYPES[c]}"
            for c in _kernel_columns(agg, facet_prefixes)
        )
        if agg is None:
            runner = _topk_runner(
                {0: self._topk_plan(p, k, use_blockmax, strategy, theta0)},
                self.n_docs, self.pid_counts, time_spec,
                self._removed_comp,
            )
        else:
            runner = _per_pid_dispatch(_make_kernel(
                tree, k, self.pid_counts, expansions,
                time_spec=time_spec,
                removed_comp=self._removed_comp,
                agg=agg,
                bucket_us=bucket_us,
                bucket_origin_us=bucket_origin_us,
                bucket_count=bucket_count,
                facet_terms=facet_terms,
                facet_values=facet_values,
                facet_terms2=facet_terms2,
                facet_terms3=facet_terms3,
                tuple_specs=tuple_specs,
                facet_prefixes=facet_prefixes,
            ))
        return src.mapInPandas(runner, out_schema)

    def _topk_plan(
        self, prep: dict, k: int, use_blockmax: bool,
        strategy: str = "tfidf", theta0: float = 0.0,
    ) -> _TopK:
        """The evaluator's view of a planned query, identical on both
        routes (block-max gated by LOCAL_BLOCKMAX_MIN_POSTINGS/_CELLS)."""
        return _TopK(
            prep["tree"], prep["expansions"], prep["scoring_terms"],
            prep["idf_map"], self.avgdl, k, strategy,
            (
                int(self.meta.get("block_span", 1 << 30)),
                self.LOCAL_BLOCKMAX_MIN_POSTINGS,
                self.LOCAL_BLOCKMAX_MIN_CELLS,
            ) if use_blockmax else None,
            theta0,
        )

    # -- serving-node local path -------------------------------------------
    def _segment_files(self) -> list[str]:
        """Parquet files of the committed (and, under `as_of`, pinned)
        segment batch dirs, in deterministic order."""
        seg = self.paths.segments
        pinned = None
        if self.as_of is not None:
            from ..index.build import _tags_as_of

            pinned = {
                f"b_{t}"
                for t in _tags_as_of(self.spark, self.paths, self.as_of)
            }
        files = []
        for d in sorted(os.listdir(seg)):
            if not d.startswith("b_"):
                continue  # skip _tmp_ write dirs / stray files
            if pinned is not None and d not in pinned:
                continue  # snapshot pin: commit units after as_of
            bdir = os.path.join(seg, d)
            files.extend(
                os.path.join(bdir, f)
                for f in sorted(os.listdir(bdir))
                if f.endswith(".parquet")
            )
        return files

    def _dataset(self):
        """Lazy pyarrow dataset over the committed segment batch dirs.
        Row-group min/max stats on (row_type, pid, term) give the same
        pruning the Spark scan gets from PushedFilters."""
        if self._pads is None:
            import pyarrow.dataset as pads

            with self._init_lock:
                if self._pads is None:
                    self._pads = pads.dataset(
                        self._segment_files(), format="parquet"
                    )
        return self._pads

    # Above this many row groups the footer catalog stops paying for
    # itself on one serving node (a 100 TB index is served by many nodes,
    # each owning a partition subset, as the reference shards partitions
    # across MiruHosts) -- fall back to the pyarrow-dataset filter path.
    MAX_CATALOG_ROW_GROUPS = 1_000_000
    # facet/pair group term lists at or below this size select blocks
    # via an exact isin; above it the plan uses the group's contiguous
    # dictionary range instead (a million-literal Catalyst In stalls
    # planning and bloats the task binary)
    FACET_ISIN_MAX = 4096

    def _io_pool(self):
        """Persistent reader thread pool (Arrow releases the GIL during
        row-group reads); spawning threads per query costs ~25 ms."""
        if self._pool is None:
            from concurrent.futures import ThreadPoolExecutor

            with self._init_lock:
                if self._pool is None:
                    # zstd row-group decompression releases the GIL, so
                    # width = cores (a query's fetch spans ~64 build-task
                    # files; 16 wide left half the box idle on cold reads)
                    self._pool = ThreadPoolExecutor(
                        min(32, os.cpu_count() or 8),
                        thread_name_prefix="miru-read",
                    )
        return self._pool

    def _rg_catalog(self):
        """Driver-pinned row-group catalog: per posting-bearing row group,
        (file_idx, rg_idx, term_min, term_max, pid_min, pid_max) read ONCE
        from the parquet footers. A query then maps its fetch terms to the
        exact row groups via bisect and reads them directly -- the
        serving-node analog of the reference's memory-mapped index
        metadata (LabInvertedIndex keys stay hot in page cache), replacing
        a per-query dataset-filter evaluation over every footer."""
        if self._rgcat is not None:
            return self._rgcat
        with self._init_lock:
            if self._rgcat is not None:
                return self._rgcat
            import pyarrow.parquet as pq

            files = self._segment_files()
            readers, rows = [], []
            for fi, f in enumerate(files):
                pf = pq.ParquetFile(f)
                readers.append(pf)
                md = pf.metadata
                cols = {
                    md.schema.column(j).name: j
                    for j in range(md.num_columns)
                }
                ct, cp, cr = cols["term"], cols["pid"], cols["row_type"]
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    st_r = rg.column(cr).statistics
                    if (
                        st_r is not None
                        and st_r.has_min_max
                        and (st_r.max < "p" or st_r.min > "p")
                    ):
                        continue  # no posting rows in this group
                    st_t = rg.column(ct).statistics
                    st_p = rg.column(cp).statistics
                    tmin = tmax = None
                    if st_t is not None and st_t.has_min_max:
                        tmin, tmax = st_t.min, st_t.max
                    pmin = pmax = None
                    if st_p is not None and st_p.has_min_max:
                        pmin, pmax = int(st_p.min), int(st_p.max)
                    rows.append((fi, i, tmin, tmax, pmin, pmax))
                if len(rows) > self.MAX_CATALOG_ROW_GROUPS:
                    # catalog too large to pin: the fallback path reads
                    # through _dataset(), so keeping the partially-opened
                    # readers would only leak file descriptors
                    for r in readers:
                        r.close()
                    self._rgcat = ([], None)
                    return self._rgcat
            self._rgcat = (readers, rows)
        return self._rgcat

    def _fetch_posting_rows(self, fetch_terms, pid_range, columns):
        """Read exactly the row groups whose (term, pid) stat ranges can
        contain the query's postings, via direct read_row_groups on the
        pinned footer catalog; exact-filter the surviving rows. Falls
        back to the pyarrow-dataset filter path when the catalog is
        too large to pin."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        readers, cat = self._rg_catalog()
        if cat is None:
            filt = pads.field("row_type") == "p"
            if pid_range is not None:
                plo, phi = pid_range
                filt = (
                    filt
                    & (pads.field("pid") >= plo)
                    & (pads.field("pid") <= phi)
                )
            return self._dataset().to_table(
                filter=filt & pads.field("term").isin(fetch_terms),
                columns=columns,
            )
        terms = sorted(fetch_terms)
        want: dict[int, list[int]] = {}
        for fi, i, tmin, tmax, pmin, pmax in cat:
            if pid_range is not None and pmin is not None:
                if pmax < pid_range[0] or pmin > pid_range[1]:
                    continue
            if tmin is not None:
                import bisect

                j = bisect.bisect_left(terms, tmin)
                if j >= len(terms) or terms[j] > tmax:
                    continue
            want.setdefault(fi, []).append(i)
        cols = list(columns) + ["row_type"]
        # per-file reads release the GIL in Arrow; a term's postings are
        # spread over many task files (one file per build task, a term in
        # many pids), so parallelizing across files is the win here
        items = list(want.items())
        if len(items) > 1:
            parts = list(
                self._io_pool().map(
                    lambda it: readers[it[0]].read_row_groups(
                        it[1], columns=cols, use_threads=False
                    ),
                    items,
                )
            )
        else:
            parts = [
                readers[fi].read_row_groups(rgs, columns=cols)
                for fi, rgs in items
            ]
        if not parts:
            empty = self._dataset().schema.empty_table()
            return empty.select(columns)
        tbl = pa.concat_tables(parts)
        mask = pc.and_(
            pc.equal(tbl["row_type"], "p"),
            pc.is_in(tbl["term"], value_set=pa.array(terms)),
        )
        if pid_range is not None:
            mask = pc.and_(
                mask,
                pc.and_(
                    pc.greater_equal(tbl["pid"], pid_range[0]),
                    pc.less_equal(tbl["pid"], pid_range[1]),
                ),
            )
        return tbl.filter(mask).select(columns)

    def _estimated_postings(self, prep: dict) -> int:
        """Upper bound on rows the query must touch, from the pinned
        term dictionary (df per fetch term) plus the match-all universe."""
        if self._term_df is None:
            return 1 << 62
        est = sum(self._term_df.get(t, 0) for t in prep["fetch_terms"])
        if prep["has_all_node"]:
            est += sum(
                int(self.pid_counts.get(p, 0))
                for p in prep["relevant_pids"]
            )
        return est

    def _op_postings(
        self, prep: dict, facet_terms=None, facet_prefixes=None
    ) -> int:
        """Estimated postings one op reads: the query's own
        (`_estimated_postings`) plus its facet postings -- the df of the
        listed facet values, or for streamed `facet_prefixes` the df sum
        over the pinned dictionary's prefix scan. The one estimate both
        the serving budget and the kernel's task count read; an unpinned
        dictionary keeps the unbounded 1 << 62."""
        est = self._estimated_postings(prep)
        df = self._term_df
        if df is None:
            return est
        est += sum(df.get(t, 0) for t in facet_terms or [])
        for kp in facet_prefixes or []:
            est += sum(df[t] for t in self._prefix_scan(kp, None))
        return est

    def _kernel_tasks(self, est: int, keys: int) -> int:
        """Python tasks for one kernel op: ceil(est /
        KERNEL_TASK_MIN_POSTINGS), clamped to [1, min(keys, cores)] --
        `keys` is the distinct partitioning keys the op touches (pids,
        or (qid, pid) pairs for a batch). The single copy of the kernel
        fan-out rule; `cache()` sizes its partitions by it at the
        unbounded estimate."""
        cap = min(keys, self.spark.sparkContext.defaultParallelism)
        want = -(-int(est) // self.KERNEL_TASK_MIN_POSTINGS)
        return max(1, min(cap, want))

    def _seed_eligible(self, prep: dict, k: int) -> bool:
        """Would a distributed search read a theta seed? Only when the
        evaluator's block-max can engage (a score-ranked, non-match-all,
        non-phrase shape past the LOCAL_BLOCKMAX_MIN_POSTINGS gate), the
        serving node can apply every mask (pinned dictionary and
        tombstones), and one pid's share of the postings fits its
        budget -- the seed's own read."""
        if (
            self._term_df is None
            or k <= 0
            or prep["has_all_node"]
            or prep.get("phrase_terms")
            or not prep["scoring_terms"]
            or (self._removed_df is not None and self._removed_map is None)
            or not prep["relevant_pids"]
        ):
            return False
        est = self._estimated_postings(prep)
        return (
            est >= self.LOCAL_BLOCKMAX_MIN_POSTINGS
            and est // len(prep["relevant_pids"]) <= self.local_max_postings
        )

    def _theta_seed(self, prep: dict, k: int) -> float:
        """Cross-partition theta seed for the distributed block-max:
        score ONE pid (the densest relevant one) on the serving node via
        the job-free pyarrow path and take its k-th score. That score
        lower-bounds the global k-th, so every kernel task can discard
        cells whose upper bound cannot reach it (SURVEY §4's custom
        optimization; the reference's analog is its solver carrying
        solution state across replica hops). Returns 0.0 unless
        `_seed_eligible`."""
        if not self._seed_eligible(prep, k):
            return 0.0
        seed_pid = max(
            prep["relevant_pids"], key=lambda p: self.pid_counts.get(p, 0)
        )
        sub = dict(prep)
        sub["pid_range"] = (int(seed_pid), int(seed_pid))
        sub["relevant_pids"] = [int(seed_pid)]
        sub["boundary_pids"] = [
            p for p in prep["boundary_pids"] if int(p) == int(seed_pid)
        ]
        try:
            rows = self._search_local(sub, k, use_blockmax=True)
        except Exception:
            # a failed seed only loses pruning, never correctness -- but
            # a silent fallback would also hide real decode/schema bugs
            # from the distributed path, so say something once
            if not getattr(self, "_theta_seed_warned", False):
                self._theta_seed_warned = True
                import logging

                logging.getLogger(__name__).warning(
                    "theta seed failed; block-max runs unseeded",
                    exc_info=True,
                )
            return 0.0
        if len(rows) < k:
            return 0.0
        return float(rows[k - 1][4])

    def _route_facet_local(
        self, prep: dict, facet_terms, local, pinned: bool
    ) -> bool:
        """Serving-node vs distributed route for one facet op, the
        single copy of the budget rule every facet family member used
        to repeat: facet postings ride the match pass, so they count
        against the serving budget too; an unpinned dictionary always
        distributes (the streamed facet kernel needs no value list)."""
        eligible = pinned and self._local_eligible(prep)
        if local is None:
            return (
                eligible
                and self._op_postings(prep, facet_terms)
                <= self.local_max_postings
            )
        if local and not eligible:
            raise ValueError(
                "local=True forced but this query is not eligible for "
                "the serving-node path; use local=None for auto-routing"
            )
        return bool(local)

    def _local_eligible(self, prep: dict) -> bool:
        return (
            self._term_df is not None
            # unpinned tombstones can only mask on the kernel path
            and (self._removed_df is None or self._removed_map is not None)
            and self._estimated_postings(prep) <= self.local_max_postings
        )

    def explain(
        self,
        query: str | None,
        k: int = 10,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        field: str | None = None,
    ) -> dict:
        """Driver-side query plan report -- what `search` WOULD do, with
        zero Spark jobs and zero posting reads. The operator's pre-flight
        check before launching a query against a 100 TB index: which
        terms it touches and how many postings they carry, which pids
        survive time pruning, which route answers it (serving node vs
        distributed kernel) and why, what gets pruned or shed on the way.
        Keys are stable; values are JSON-able.

        `field` adds the facet-op view (distincts / metrics / trending /
        aggregate_counts over that field): how many values exist in the
        dictionary, the extra postings their intersections read, and
        which route the facet ops would take -- their serving budget
        counts the facet postings on top of the query's."""
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        est = self._estimated_postings(prep)

        reasons = []
        if self._term_df is None:
            reasons.append(
                "term dictionary not pinned (vocabulary above the "
                "driver budget); per-term stats and the serving path "
                "are unavailable"
            )
        if self._removed_df is not None and self._removed_map is None:
            reasons.append(
                "tombstone log too large to pin driver-side; masking "
                "happens in the kernel"
            )
        if self._term_df is not None and est > self.local_max_postings:
            reasons.append(
                f"estimated postings {est:,} exceed the serving budget "
                f"local_max_postings={self.local_max_postings:,}"
            )
        local = not reasons

        term_df = self._term_df or {}
        per_term = {
            t: int(term_df.get(t, 0)) for t in prep["fetch_terms"]
        }
        top_terms = dict(
            sorted(per_term.items(), key=lambda kv: -kv[1])[:10]
        )
        scoring = set(prep["scoring_terms"])
        phrase_members = set(prep.get("phrase_terms") or [])
        shed = sorted(
            set(prep["fetch_terms"]) - scoring - phrase_members
        )

        gate = (
            "off by default (lower LOCAL_BLOCKMAX_MIN_POSTINGS to engage "
            "on score-spread corpora)"
            if self.LOCAL_BLOCKMAX_MIN_POSTINGS >= (1 << 60)
            else f"engages at >= {self.LOCAL_BLOCKMAX_MIN_POSTINGS:,} "
            f"postings (this query: {est:,})"
        )
        rep = {
            "query": query,
            "tree": repr(prep["tree"]),
            "locale": locale or "en",
            "route": "serving-node" if local else "distributed-kernel",
            "spark_jobs": 0 if local else 2,
            "spark_jobs_note": (
                "in-process pyarrow + NumPy over the pinned row-group "
                "catalog" if local else
                "job 1: posting fetch + kernel + TakeOrdered; job 2: "
                "point-lookup display gather (driver-side pyarrow when "
                "storage is reachable, then 1 job)"
            ),
            "distributed_reasons": reasons,
            "kernel": None if local else "composite-task",
            "n_fetch_terms": len(prep["fetch_terms"]),
            "n_scoring_terms": len(prep["scoring_terms"]),
            "prefix_expansions": {
                (p[1] if isinstance(p, tuple) else str(p)): len(exp)
                for p, exp in prep["expansions"].items()
            },
            "term_df_top": top_terms,
            "estimated_postings": int(est),
            # Python tasks the distributed kernel plans for this query
            # (also when forced with local=False), from
            # estimated_postings: one task runs exchange-free
            "kernel_tasks": self._kernel_tasks(
                est, len(prep["relevant_pids"])
            ),
            "local_max_postings": int(self.local_max_postings),
            "match_all": bool(prep["has_all_node"]),
            "phrase_terms": sorted(phrase_members),
            "shed_blob_terms": len(shed),
            "shed_blob_note": (
                "filter-only terms ride the exchange without tf/dl "
                "blobs" if shed else ""
            ),
            "n_pids_total": len(self.pid_counts),
            "n_pids_relevant": len(prep["relevant_pids"]),
            "pid_range": prep["pid_range"],
            "time_pruning": (
                "none" if prep["time_spec"] is None
                else "kernel-side 't' rows (format 2)"
            ),
            "retention_min_us": (
                int(self.meta.get("retention_min_us", 0) or 0) or None
            ),
            "blockmax": (
                gate if local
                else "composite-task evaluator, block-max " + gate
                + (
                    ", theta-seeded from the densest pid"
                    if self._seed_eligible(prep, k) else ""
                )
            ),
            "tombstones": (
                0 if self._removed_map is None
                else int(sum(len(v) for v in self._removed_map.values()))
            ),
        }
        # fragmentation advisory (lineage view): every commit unit a
        # term's postings span is another row-group run each probe
        # reads; compaction restores the single term-major run
        units = [
            d for d in sorted(os.listdir(self.paths.segments))
            if d.startswith("b_")
        ]
        n_units = len(units)
        rep["segments"] = {
            "n_commit_units": n_units,
            "n_files": len(self._segment_files()),
            "advice": (
                "compacted: one commit unit; a term's postings are one "
                "contiguous term-major row-group run"
                if n_units <= 1 else
                f"fragmented: a term's postings span up to {n_units} "
                "commit units (one per batch/sip append) -- "
                "compact_index() would merge them into one globally "
                "term-major unit (note: compaction collapses as_of "
                "history)"
            ),
        }
        if field is not None:
            from ..fields import FIELD_SEP

            if self._terms_sorted is not None:
                # UNCAPPED enumeration (field_terms): n_values is the
                # field's true value count, never a dictionary cut
                fterms = self.field_terms(field)
                fest = sum(int(term_df.get(t, 0)) for t in fterms)
                n_values: int | None = len(fterms)
            else:
                # unpinned dictionary: explain() stays zero-jobs, so the
                # value count is unknown here; the facet ops themselves
                # stream the full value space through the kernel
                fterms, fest, n_values = None, None, None
            rep["facet"] = {
                "field": field,
                "n_values": n_values,
                # facet enumeration is uncapped by design (the wildcard
                # cap applies ONLY to query-side prefix expansion) --
                # reported explicitly so a reader can trust facet counts
                "truncated": False,
                "cap": None,
                "facet_postings": fest,
                # streamed facet kernel: sized by the same estimate
                # kernel_frame reads (query + the field's prefix scan)
                "kernel_tasks": self._kernel_tasks(
                    self._op_postings(
                        prep, facet_prefixes=[f"{field}{FIELD_SEP}"]
                    ),
                    len(prep["relevant_pids"]),
                ),
                "route": (
                    "serving-node"
                    if local
                    and fest is not None
                    and est + fest <= self.local_max_postings
                    else "distributed-kernel (streamed facet values)"
                ),
                "note": (
                    "distincts/metrics/trending/aggregate_counts probe "
                    "these values' postings against the match set; the "
                    "serving budget adds facet_postings to "
                    "estimated_postings; the distributed kernel streams "
                    "the field's whole composed-term range by prefix"
                ),
            }
        return rep

    def _local_inputs(self, prep: dict) -> _Inputs:
        """Serving-route evaluator inputs, the one input step of every
        serving-node match or top-k: the query's postings through the
        decoded-postings LRU; phrase members re-fetched WITH pos blobs,
        bypassing the LRU (position arrays are the largest per-term
        payload; keeping them out keeps its budget meaningful);
        boundary-pid bounds; the match-all universe; pinned tombstones."""
        cids, tfs, dls = self._postings_maps(
            prep["fetch_terms"], prep["pid_range"]
        )
        term_pos: dict = {}
        if prep.get("phrase_terms"):
            term_pos = self._decode_posting_table(
                self._fetch_posting_rows(
                    prep["phrase_terms"],
                    prep["pid_range"],
                    ["pid", "term", "blk", "n", "ids_bin", "tfs_bin",
                     "pos_bin"],
                ),
                positions=True,
            )
        bounds = self._local_bounds(prep)
        return _Inputs(
            {t: (c, tfs[t], dls[t]) for t, c in cids.items()},
            term_pos,
            _universe(prep["relevant_pids"], self.pid_counts, bounds)
            if prep["has_all_node"] else None,
            bounds,
            self._removed_comp,
        )

    def _local_match_ids(self, prep: dict) -> np.ndarray:
        """Exact composite (pid << 32 | doc_id) match set of a query on
        the serving node (tree evaluation, boundary-pid time mask,
        tombstone mask). Feeds `count`, `waveform` and the facet ops."""
        return _match_set(
            prep["tree"], prep["expansions"], self._local_inputs(prep)
        )

    def _pid_times(self, pids) -> dict:
        """Per-pid docID -> warc_us arrays decoded from the 't' time-
        index rows via pyarrow (no Spark job). docIDs are dense and
        time-ordered per pid, so array position IS the docID. Decoded
        arrays are cached (same budget discipline as the postings LRU);
        only uncached pids touch storage."""
        import pyarrow.dataset as pads

        with self._post_cache_lock:  # shared with the postings LRU
            out = {
                int(p): self._times_cache[int(p)]
                for p in pids
                if int(p) in self._times_cache
            }
        missing = [int(p) for p in pids if int(p) not in out]
        if not missing:
            return out
        trows = self._dataset().to_table(
            filter=(pads.field("row_type") == "t")
            & pads.field("pid").isin(missing),
            columns=["pid", "first_doc", "ids_bin"],
        )
        arr_pids = trows["pid"].to_numpy()
        firsts = trows["first_doc"].to_numpy()
        bins = trows["ids_bin"].to_pylist()
        budget = 2 * self.local_max_postings
        for p in np.unique(arr_pids):
            sel = np.flatnonzero(arr_pids == p)
            arr = _t_times(firsts[sel], [bins[i] for i in sel])
            out[int(p)] = arr
            with self._post_cache_lock:
                if self._times_cache_entries + arr.size <= budget:
                    self._times_cache[int(p)] = arr
                    self._times_cache_entries += arr.size
        return out

    def _facet_hits(
        self, matches: np.ndarray, facet_terms: list, fmap: dict
    ) -> tuple[np.ndarray, np.ndarray]:
        """All facet postings that land in the match set, as parallel
        (value_idx, position-into-matches) arrays -- ONE concatenated
        searchsorted pass over every value's postings instead of a
        per-value Python loop (at hundreds of values the loop overhead
        dominates). Positions let callers reuse match-aligned arrays
        (timestamps, buckets) with plain fancy indexing."""
        arrs, vidx = [], []
        for i, t in enumerate(facet_terms):
            c = fmap.get(t)
            if c is not None and c.size:
                arrs.append(c)
                vidx.append(np.full(c.size, i, dtype=np.int64))
        if not arrs or not matches.size:
            z = np.empty(0, dtype=np.int64)
            return z, z
        cat = np.concatenate(arrs)
        vall = np.concatenate(vidx)
        pos = np.minimum(np.searchsorted(matches, cat), matches.size - 1)
        hit = matches[pos] == cat
        return vall[hit], pos[hit]

    def _times_of(self, matches: np.ndarray, times: dict) -> np.ndarray:
        """warc_us per matched composite id. Matches are sorted, so pid
        runs are contiguous -- one sliced fancy-index per pid, never a
        full-array mask per pid (at 3k pids x millions of matches the
        mask loop is the bottleneck, not the decode)."""
        pids = (matches >> 32).astype(np.int64)
        docs = (matches & 0xFFFFFFFF).astype(np.int64)
        ts = np.empty(matches.size, dtype=np.int64)
        change = np.flatnonzero(np.diff(pids)) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [pids.size]))
        for s, e in zip(starts.tolist(), ends.tolist()):
            ts[s:e] = times[int(pids[s])][docs[s:e]]
        return ts

    def count(
        self,
        query: str | None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
    ) -> int:
        """Exact number of docs matching a query (+constraints/authz/
        time range) -- retrieval without ranking: no scores, no heap,
        and on the distributed path every term sheds its tf/dl blobs
        before the exchange (count reads docID blobs only). Same
        auto-routing as `search`: serving node when the estimated
        posting volume fits, else ONE Spark job."""
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        if local is None:
            local = self._local_eligible(prep)
        elif local and not self._local_eligible(prep):
            raise ValueError(
                "local=True forced but this query is not eligible for "
                "the serving-node path; use local=None for auto-routing"
            )
        if local:
            return int(self._local_match_ids(prep).size)
        row = (
            self.kernel_frame(
                query, k=0, locale=locale, time_range_us=time_range_us,
                prep=prep, agg="count",
            )
            .agg(F.sum("score").alias("c"))
            .collect()[0]
        )
        return int(row["c"] or 0)

    def waveform(
        self,
        query: str | None,
        bucket_seconds: int = 86400,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
        segments: int | None = None,
    ) -> list[tuple[int, int]]:
        """Analytics waveform over the INDEX: per-time-bucket counts of
        docs matching a query (+constraints/authz), straight from the
        inverted index + time index -- the reference's analytics plugin
        (Analytics.java:164-183 ANDs the constrained filter bitmap with
        per-bucket time-range bitmaps). Returns [(bucket_start_us,
        count)] for non-empty epoch-aligned `bucket_seconds` buckets,
        ascending -- OR, with `segments=N` (requires `time_range_us`),
        the reference's exact divideTimeRangeIntoNSegments shape
        (StumptownQuestion.java:115-129, AnalyticsQuery): the range is
        cut into N equal floor((t1-t0)/N) segments and the answer is
        DENSE (exactly N tuples, zero counts included, like the
        reference's long[N]; the remainder tail past origin + N*dur is
        truncated exactly like its closestId edge array). Serving path:
        zero Spark jobs (matched composite ids index the pinned-readable
        time arrays). Distributed path: ONE job; each pid's kernel task
        buckets its own matches against its own 't' rows, so only
        (bucket, count) rows leave the task."""
        bucket_us, origin = self._bucket_spec(
            bucket_seconds, segments, time_range_us
        )
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        if local is None:
            local = self._local_eligible(prep)
        elif local and not self._local_eligible(prep):
            raise ValueError(
                "local=True forced but this query is not eligible for "
                "the serving-node path; use local=None for auto-routing"
            )
        if local:
            matches = self._local_match_ids(prep)
            if matches.size == 0:
                return self._dense_wf({}, bucket_us, origin, segments)
            times = self._pid_times(np.unique(matches >> 32))
            ts = self._times_of(matches, times)
            if segments:
                rel = ts - origin
                rel = rel[(rel >= 0) & (rel < segments * bucket_us)]
                b, c = np.unique(rel // bucket_us, return_counts=True)
            else:
                b, c = np.unique(ts // bucket_us, return_counts=True)
            return self._dense_wf(
                dict(zip(b.tolist(), c.tolist())), bucket_us, origin,
                segments,
            )
        rows = (
            self.kernel_frame(
                query, k=0, locale=locale, time_range_us=time_range_us,
                prep=prep, agg="waveform", bucket_us=bucket_us,
                bucket_origin_us=origin, bucket_count=segments or 0,
            )
            .groupBy("doc_id")
            .agg(F.sum("score").alias("c"))
            .orderBy("doc_id")
            .collect()
        )
        return self._dense_wf(
            {int(r["doc_id"]): int(r["c"]) for r in rows},
            bucket_us, origin, segments,
        )

    def _bucket_spec(
        self,
        bucket_seconds: int,
        segments: int | None,
        time_range_us: tuple[int, int] | None,
    ) -> tuple[int, int]:
        """(bucket_us, origin_us) for epoch-aligned or N-segment
        bucketing (reference's divideTimeRangeIntoNSegments: duration =
        floor(range / N), error when < 1us -- StumptownQuestion.java
        :117-120)."""
        if segments is None:
            return int(bucket_seconds) * 1_000_000, 0
        if time_range_us is None:
            raise ValueError("segments=N requires time_range_us")
        t0, t1 = time_range_us
        dur = (int(t1) - int(t0)) // int(segments)
        if dur < 1:
            raise ValueError(
                f"time range is insufficient to be divided into "
                f"{segments} segments"
            )
        return dur, int(t0)

    @staticmethod
    def _dense_wf(
        counts: dict, bucket_us: int, origin: int, segments: int | None
    ) -> list[tuple[int, int]]:
        """Sparse epoch buckets pass through; segment mode densifies to
        exactly N rows (the reference's long[N])."""
        if segments is None:
            return [
                (b * bucket_us, c) for b, c in sorted(counts.items())
            ]
        return [
            (origin + i * bucket_us, int(counts.get(i, 0)))
            for i in range(segments)
        ]

    def stumptown(
        self,
        query: str | None,
        bucket_seconds: int = 86400,
        k: int = 10,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
        segments: int | None = None,
    ) -> dict:
        """Stumptown (log-aggregation plugin): the per-bucket waveform
        AND the newest-k matching docs from ONE pass over the match set
        -- the reference's Stumptown.stumptowning (Stumptown.java:37-73:
        desiredNumberOfResults activities off the answer bitmap's
        descending iterator + boundedCardinalities over the same answer;
        StumptownQuestion builds the filtered answer once and hands it to
        both). Returns {"waveform": [(bucket_start_us, count)]
        ascending, "results": [(url, warc_ts_us, pid, doc_id)]
        newest-first}.

        Serving path: zero Spark jobs -- one `_local_match_ids` pass
        feeds both the time-bucket histogram and the top-k composite ids
        (composite (pid << 32 | doc_id) descending IS global time order),
        then a forward-index point gather resolves the k display rows.
        Distributed path: ONE kernel job with `agg="stumptown"` -- each
        pid's task emits its bucket rows (tagged pid=-1) and its own
        newest-k candidates; only O(buckets + k) rows per task leave the
        exchange, never the match set."""
        bucket_us, origin = self._bucket_spec(
            bucket_seconds, segments, time_range_us
        )
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        if local is None:
            local = self._local_eligible(prep)
        elif local and not self._local_eligible(prep):
            raise ValueError(
                "local=True forced but this query is not eligible for "
                "the serving-node path; use local=None for auto-routing"
            )
        if local:
            matches = self._local_match_ids(prep)
            if matches.size == 0:
                return {
                    "waveform": self._dense_wf(
                        {}, bucket_us, origin, segments
                    ),
                    "results": [],
                }
            times = self._pid_times(np.unique(matches >> 32))
            ts = self._times_of(matches, times)
            if segments:
                rel = ts - origin
                rel = rel[(rel >= 0) & (rel < segments * bucket_us)]
                b, c = np.unique(rel // bucket_us, return_counts=True)
            else:
                b, c = np.unique(ts // bucket_us, return_counts=True)
            wf = self._dense_wf(
                dict(zip(b.tolist(), c.tolist())), bucket_us, origin,
                segments,
            )
            newest = np.sort(matches)[::-1][: max(k, 0)]
            rows = self._gather_rows(
                self._dataset(),
                newest >> 32,
                newest & 0xFFFFFFFF,
                np.zeros(newest.size, dtype=np.float64),
            )
        else:
            krows = self.kernel_frame(
                query, k=k, locale=locale, time_range_us=time_range_us,
                prep=prep, agg="stumptown", bucket_us=bucket_us,
                bucket_origin_us=origin, bucket_count=segments or 0,
            ).collect()
            buckets: dict[int, int] = {}
            cands: list[tuple[int, int]] = []
            for r in krows:
                if int(r["pid"]) < 0:
                    bkt = int(r["doc_id"])
                    buckets[bkt] = buckets.get(bkt, 0) + int(r["score"])
                else:
                    cands.append((int(r["pid"]), int(r["doc_id"])))
            wf = self._dense_wf(buckets, bucket_us, origin, segments)
            cands.sort(reverse=True)
            cands = cands[: max(k, 0)]
            rows = self._gather_rows(
                self._dataset(),
                np.array([p for p, _ in cands], dtype=np.int64),
                np.array([d for _, d in cands], dtype=np.int64),
                np.zeros(len(cands), dtype=np.float64),
            )
        return {
            "waveform": wf,
            "results": [
                (u, int(w), int(p), int(d)) for u, w, p, d, _s in rows
            ],
        }

    def waveform_many(
        self,
        queries: dict,
        bucket_seconds: int = 86400,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        segments: int | None = None,
    ) -> dict:
        """N keyed waveforms in one call -- the reference's AnalyticsQuery
        carries a MAP of keyed filters and answers every waveform in one
        pass (AnalyticsQuery.java:16-18 analyticsFilters;
        Analytics.analyze consumes them together). Serving-eligible
        queries share the decoded-postings LRU (each term decodes once
        across the batch) and ONE time-index read for the union of their
        matched pids; oversized queries fall back to their own
        distributed waveform job. Returns {key: [(bucket_start_us,
        count)]} -- each value identical to waveform(q) alone.
        `segments=N` (requires `time_range_us`) answers every keyed
        waveform in the reference's dense divideTimeRangeIntoNSegments
        shape -- AnalyticsQuery's actual scoreset, one range + N
        segments shared by the whole filter map."""
        bucket_us, origin = self._bucket_spec(
            bucket_seconds, segments, time_range_us
        )
        local_matches: dict = {}
        out: dict = {}
        for key, q in queries.items():
            prep = self._prep_query(
                q, locale, time_range_us, constraints, authz
            )
            if self._local_eligible(prep):
                local_matches[key] = self._local_match_ids(prep)
            else:
                out[key] = self.waveform(
                    q, bucket_seconds, locale, time_range_us,
                    constraints, authz, local=False, segments=segments,
                )
        need_pids = np.unique(
            np.concatenate(
                [m >> 32 for m in local_matches.values() if m.size]
                or [np.empty(0, dtype=np.int64)]
            )
        )
        times = self._pid_times(need_pids) if need_pids.size else {}
        for key, matches in local_matches.items():
            if matches.size == 0:
                out[key] = self._dense_wf({}, bucket_us, origin, segments)
                continue
            ts = self._times_of(matches, times)
            if segments:
                rel = ts - origin
                rel = rel[(rel >= 0) & (rel < segments * bucket_us)]
                b, c = np.unique(rel // bucket_us, return_counts=True)
            else:
                b, c = np.unique(ts // bucket_us, return_counts=True)
            out[key] = self._dense_wf(
                dict(zip(b.tolist(), c.tolist())), bucket_us, origin,
                segments,
            )
        return out

    def aggregate_counts(
        self,
        field: str,
        query: str | None = None,
        start: int = 0,
        count: int = 10,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
        gather_fields: list | None = None,
        gather_urls: bool = True,
    ) -> list[dict]:
        """Stream page over the INDEX -- the reference's AggregateCounts
        plugin (miru-stream-plugins/.../filter/AggregateCounts.java;
        constraint shape AggregateCountsQueryConstraint.java:12-18:
        constraintsFilter + aggregateCountAroundField +
        startFromDistinctN + desiredNumberOfDistincts): the distinct
        values of `field` among the matching docs, each represented by
        its NEWEST matching doc, ordered newest-first, paged
        [start, start+count), with each value's total match count.
        `gather_fields` (the constraint's gatherTermsForFields) adds
        each page doc's values of those fields, read by probing the
        fields' composed-term postings against the k page docs -- a
        bounded point op, never a scan. Returns [{"value", "count",
        "pid", "doc_id", "url", "warc_us"[, "fields"]}]. docIDs are
        minted time-ordered per pid and pids are
        time-ordered, so "newest" is the max composite (pid, doc_id) --
        the same descending-id iteration the reference's gather uses.

        Serving path: zero Spark jobs. Distributed: ONE job; each pid
        task emits one (value, newest-doc, count) row per present value,
        merged driver-side; the page's display fields are a point
        gather."""
        from ..fields import FIELD_SEP, NUMERIC_FIELDS, decode_num

        # UNCAPPED value enumeration (field_terms; the serving path
        # probes the pinned list, the distributed kernel streams values
        # by prefix -- no cap on either route)
        pinned = self._terms_sorted is not None
        facet_terms = self.field_terms(field) if pinned else None
        if pinned and not facet_terms:
            return []

        def _decode(term: str):
            v = term.split(FIELD_SEP, 1)[1]
            return decode_num(v) if field in NUMERIC_FIELDS else v

        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        local = self._route_facet_local(prep, facet_terms, local, pinned)
        per_value: dict = {}  # value -> (latest_comp, count, composed)
        if local:
            matches = self._local_match_ids(prep)
            if matches.size:
                fmap, _tfs, _dls = self._postings_maps(
                    facet_terms, prep["pid_range"]
                )
                vh, mp = self._facet_hits(matches, facet_terms, fmap)
                nvals = len(facet_terms)
                counts = np.bincount(vh, minlength=nvals)
                latest = np.full(nvals, -1, dtype=np.int64)
                np.maximum.at(latest, vh, matches[mp])
                for i in np.flatnonzero(counts):
                    per_value[_decode(facet_terms[i])] = (
                        int(latest[i]), int(counts[i]), facet_terms[i]
                    )
        else:
            # merge per-pid partials IN SPARK (values x pids rows never
            # reach the driver): one tiny groupBy over (value term)
            # rows, then only the page's values collect
            rows = (
                self.kernel_frame(
                    query, k=0, locale=locale,
                    time_range_us=time_range_us,
                    prep=prep, agg="aggregate",
                    facet_prefixes=[f"{field}{FIELD_SEP}"],
                )
                .groupBy("term")
                .agg(
                    F.max(
                        (F.col("pid") * F.lit(1 << 32)) + F.col("doc_id")
                    ).alias("latest"),
                    F.sum("cnt").alias("n"),
                )
                # term asc == composed-term order == value order: same
                # tie-break as the serving path when two values share
                # their newest doc (possible for multi-valued fields)
                .orderBy(F.desc("latest"), F.asc("term"))
                .limit(int(start) + int(count))
                .collect()
            )
            for r in rows:
                per_value[_decode(r["term"])] = (
                    int(r["latest"]), int(r["n"]), r["term"]
                )
        # newest-first page over the distinct values; ties break by
        # COMPOSED-term order -- the same key the distributed limit-cut
        # used, so the page cannot differ by route (str() of a decoded
        # numeric would order '10' before '9')
        ordered = [
            (v, (c, n))
            for v, (c, n, ct) in sorted(
                per_value.items(), key=lambda vc: (-vc[1][0], vc[1][2])
            )
        ][int(start): int(start) + int(count)]
        if not ordered:
            return []
        pids = np.array([c >> 32 for _v, (c, _n) in ordered], np.int64)
        docs = np.array(
            [c & 0xFFFFFFFF for _v, (c, _n) in ordered], np.int64
        )
        if gather_urls:
            gathered = self._gather_rows(
                self._dataset(), pids, docs, np.zeros(pids.size)
            )
            info = {(p, d): (u, w) for u, w, p, d, _s in gathered}
        else:
            # urls skipped: timestamps come from the cached per-pid
            # time index instead of a per-doc point gather -- O(pids)
            # decode, not O(values) lookups (inbox's unread resolution
            # needs every value's last-activity ts but only the PAGE's
            # display rows)
            comps = np.sort((pids << 32) + docs)
            ts = self._times_of(
                comps, self._pid_times(np.unique(pids).tolist())
            )
            by_comp = dict(zip(comps.tolist(), ts.tolist()))
            info = {
                (int(p), int(d)): (None, by_comp[(int(p) << 32) + int(d)])
                for p, d in zip(pids, docs)
            }
        doc_fields: dict = {}
        if gather_fields:
            # gatherTermsForFields: block-span-bounded probe of each
            # field's composed-term postings against the k page docs --
            # reads only posting rows whose (pid, doc span) can contain
            # a page doc, so the cost is bounded by the PAGE, never by
            # the field's value count (a 100-TB-wide gather field must
            # not scan its whole posting range for a k-doc page)
            page = np.sort((pids << 32) + docs)
            for gf in gather_fields:
                for comp, terms in self._probe_field_values(
                    gf, page
                ).items():
                    vals = [
                        decode_num(t.split(FIELD_SEP, 1)[1])
                        if gf in NUMERIC_FIELDS
                        else t.split(FIELD_SEP, 1)[1]
                        for t in terms
                    ]
                    doc_fields.setdefault(comp, {})[gf] = vals
        out = []
        for v, (comp, n) in ordered:
            p, d = comp >> 32, comp & 0xFFFFFFFF
            u, w = info.get((p, d), (None, 0))
            row = {
                "value": v,
                "count": n,
                "pid": int(p),
                "doc_id": int(d),
                "url": u,
                "warc_us": int(w),
            }
            if gather_fields:
                row["fields"] = doc_fields.get(int(comp), {})
            out.append(row)
        return out

    def trending(
        self,
        field: str,
        query: str | None = None,
        bucket_seconds: int = 86400,
        strategy: str = "linear_regression",
        top_n: int = 10,
        max_candidates: int = 100,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        segments: int | None = None,
    ) -> list[tuple]:
        """Trending over the INDEX -- the reference's trending plugin
        (TrendingInjectable.java:83-170): gather the distinct values of
        `field` among the filter matches, compute each value's analytics
        waveform, rank by strategy:

        - "linear_regression": least-squares slope of the zero-filled
          waveform (WaveformRegression.slope)
        - "peaks": Billauer peakdet count with the reference's delta
          (highest_peak/6 + candidate-set R-6 95th percentile/100,
          PeakDet.java via TrendingInjectable)
        - "highest_peak": max bucket; "leader": waveform sum

        Candidates are bounded at `max_candidates` by leader (= match
        count), exactly the events-op bound and the reference's top-N
        candidate restriction. Returns [(value, score)] sorted score
        desc then value asc, length <= top_n.

        Every per-value waveform comes out of ONE pass over the match
        set (serving: one concatenated facet-hit probe; distributed: ONE
        kernel job emitting (value, bucket, count) rows) -- never a job
        or scan per candidate value.

        `segments=N` (requires `time_range_us`) scores over the
        reference's exact divideTimeRangeIntoNSegments waveform shape
        (TrendingQueryScoreSet.java:18; dense long[N], so leading and
        trailing empty segments DO count against the slope), instead of
        the observed min..max epoch-bucket span."""
        from ..fields import FIELD_SEP, NUMERIC_FIELDS, decode_num
        from ..ops.events_ops import _peakdet_count, _r6_percentile

        strategies = (
            "linear_regression", "peaks", "highest_peak", "leader",
        )
        if strategy not in strategies:
            raise ValueError(f"strategy must be one of {strategies}")
        bucket_us, origin = self._bucket_spec(
            bucket_seconds, segments, time_range_us
        )
        # UNCAPPED value enumeration (field_terms; distributed route
        # streams values by prefix, so candidate discovery sees the
        # field's WHOLE value space before the leader bound applies --
        # the reference's top-N restriction is an explicit, reported
        # bound, never a silent dictionary cut)
        pinned = self._terms_sorted is not None
        facet_terms = self.field_terms(field) if pinned else None
        if pinned and not facet_terms:
            return []

        def _decode(term: str):
            v = term.split(FIELD_SEP, 1)[1]
            return decode_num(v) if field in NUMERIC_FIELDS else v

        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        local = self._route_facet_local(prep, facet_terms, None, pinned)
        # (composed value term, bucket) -> count, from one pass either way
        cell_counts: dict = {}
        if local:
            matches = self._local_match_ids(prep)
            if matches.size == 0:
                return []
            times = self._pid_times(np.unique(matches >> 32))
            ts = self._times_of(matches, times)
            if segments:
                rel = ts - origin
                valid = (rel >= 0) & (rel < segments * bucket_us)
                m_bucket = np.where(valid, rel // bucket_us, -1)
            else:
                m_bucket = ts // bucket_us
            fmap, _tfs, _dls = self._postings_maps(
                facet_terms, prep["pid_range"]
            )
            vh, mp = self._facet_hits(matches, facet_terms, fmap)
            if segments and vh.size:
                keep = valid[mp]
                vh, mp = vh[keep], mp[keep]
            if not vh.size:
                return []
            keys = np.stack((vh, m_bucket[mp]))
            uk, cnt = np.unique(keys, axis=1, return_counts=True)
            for i, b, c in zip(
                uk[0].tolist(), uk[1].tolist(), cnt.tolist()
            ):
                cell_counts[(facet_terms[i], b)] = c
        else:
            cells = (
                self.kernel_frame(
                    query, k=0, locale=locale,
                    time_range_us=time_range_us,
                    prep=prep, agg="waveforms", bucket_us=bucket_us,
                    bucket_origin_us=origin,
                    bucket_count=segments or 0,
                    facet_prefixes=[f"{field}{FIELD_SEP}"],
                )
                .groupBy(
                    "term",
                    F.col("doc_id").alias("bucket"),
                )
                .agg(F.sum("cnt").alias("n"))
            )
            # leader cut IN SPARK: only the top-max_candidates values'
            # cells ever reach the driver (max_candidates x buckets
            # rows), not the full value x bucket matrix -- on a
            # million-value field the driver stays O(answer). Same
            # (leader desc, composed term asc) order as the in-memory
            # cut below, so routes can't diverge.
            leaders_df = (
                cells.groupBy("term")
                .agg(F.sum("n").alias("leader"))
                .orderBy(F.desc("leader"), F.asc("term"))
                .limit(int(max_candidates))
            )
            rows = cells.join(
                F.broadcast(leaders_df.select("term")), "term", "inner"
            ).collect()
            for r in rows:
                cell_counts[(r["term"], int(r["bucket"]))] = int(
                    r["n"]
                )
        if not cell_counts:
            return []
        # leader-bounded candidates (reference's top-N restriction);
        # tie-break on the composed term = value order, same both routes
        leaders: dict = {}
        for (t, _b), c in cell_counts.items():
            leaders[t] = leaders.get(t, 0) + c
        cand_terms = sorted(
            leaders, key=lambda t: (-leaders[t], t)
        )[: int(max_candidates)]
        cand_set = set(cand_terms)
        if segments:
            # reference shape: the waveform IS the requested range --
            # dense long[N] indexed from the range origin
            lo, n = 0, int(segments)
        else:
            buckets = sorted(
                {b for (t, b) in cell_counts if t in cand_set}
            )
            lo = buckets[0]
            n = buckets[-1] - lo + 1
        arrays = {}
        for t in cand_terms:
            arr = np.zeros(int(n), dtype=np.float64)
            arrays[_decode(t)] = arr
        for (t, b), c in cell_counts.items():
            if t in cand_set:
                arrays[_decode(t)][b - lo] = c
        if strategy == "leader":
            scored = [(v, float(a.sum())) for v, a in arrays.items()]
        elif strategy == "highest_peak":
            scored = [(v, float(a.max())) for v, a in arrays.items()]
        elif strategy == "linear_regression":
            x = np.arange(int(n), dtype=np.float64)
            if n < 2:
                scored = [(v, 0.0) for v in arrays]
            else:
                xc = x - x.mean()
                den = float((xc * xc).sum())
                scored = [
                    (v, float((xc * (a - a.mean())).sum() / den))
                    for v, a in arrays.items()
                ]
        else:  # peaks
            highs = sorted(float(a.max()) for a in arrays.values())
            bucket95 = _r6_percentile(highs, 0.95)
            scored = [
                (
                    v,
                    float(
                        _peakdet_count(
                            a, float(a.max()) / 6.0 + bucket95 / 100.0
                        )
                    ),
                )
                for v, a in arrays.items()
            ]
        scored.sort(key=lambda vs: (-vs[1], str(vs[0])))
        return scored[: int(top_n)]

    def uniques(
        self,
        field: str,
        query: str | None = None,
        prefix: str | None = None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
    ) -> int:
        """Number of distinct values of a field among the matching docs
        -- the uniques plugin (miru-reco-plugins/.../uniques/
        UniquesQuery.java:15-21: timeRange + gatherUniquesForField +
        constraintsFilter + optional value prefixes). `prefix` restricts
        the counted values, matching the query's prefixes list -- a
        single string or a LIST (any-prefix union), applied term-side
        before any postings are probed. Built on the same distincts
        pass; same routing -- except the DISTRIBUTED route counts the
        distinct values IN SPARK (one countDistinct over the streamed
        facet rows), so a million-value field answers with a single
        long on the driver, never a value list."""
        pinned = self._terms_sorted is not None
        facet_terms = (
            self.field_terms(field, prefix) if pinned else None
        )
        if pinned and not facet_terms:
            return 0  # no such values exist: zero jobs, zero prep
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        if self._route_facet_local(prep, facet_terms, local, pinned):
            return len(
                self.distincts(
                    field, query, locale, time_range_us, constraints,
                    authz, True, prefix=prefix,
                )
            )
        from ..fields import FIELD_SEP

        if prefix is None or isinstance(prefix, str):
            pfx = [prefix or ""]
        else:
            pfx = list(prefix) or [""]
        row = (
            self.kernel_frame(
                query, k=0, locale=locale, time_range_us=time_range_us,
                prep=prep, agg="distincts",
                facet_prefixes=[f"{field}{FIELD_SEP}{p}" for p in pfx],
            )
            .agg(F.countDistinct("term").alias("n"))
            .collect()
        )
        return int(row[0]["n"])

    def metrics(
        self,
        field: str,
        query: str | None = None,
        bucket_seconds: int = 86400,
        kind: str = "sum",
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
        interpolate: bool = False,
        segments: int | None = None,
    ) -> list[tuple]:
        """Per-time-bucket SUM or AVG of a numeric field over the docs
        matching a query -- the reference's metrics plugin
        (miru-analytics-plugins/.../metrics/Metrics.java:82-98
        metricingSum: the value is bit-sliced across bitmaps and the
        waveform is the multiplier-weighted sum of per-bucket
        cardinalities; metricingAvg:34-51 divides by the raw answer's
        per-bucket cardinality; min/max are unimplemented TODOs there
        and likewise omitted here). This engine stores numeric fields as
        order-preserving composed value terms, so the same decomposition
        runs per value-term: sum_b = SUM over v of v x |match AND
        postings(field:v) AND bucket_b|, exact, never sampled.

        Returns [(bucket_start_us, value)] ascending; value is an int
        for kind="sum", a float (sum / matched-doc count, the reference's
        rawCardinality division) for kind="avg". Buckets with zero
        matched docs are absent -- unless `interpolate=True` (avg only),
        which fills every interior gap bucket by linear interpolation
        between its non-empty neighbors, the anomaly plugin's
        metricingAvg shape (miru-anomaly-plugins/.../Anomaly.java:35-95:
        commons-math LinearInterpolator over the non-empty (x, y) points
        with flat edge padding; its long[] waveform quantizes the
        interpolated values, this engine keeps them as floats). Serving
        path zero jobs; distributed ONE job for sum (per-task (bucket,
        partial-sum) rows only), plus the waveform job for avg's
        denominator.

        `segments=N` (requires `time_range_us`) switches to the
        reference's divideTimeRangeIntoNSegments bucketing
        (MetricsQuery.java; same shape as waveform(segments=N)): N
        equal floor((t1-t0)/N) buckets from t0, remainder truncated.
        kind="sum" then answers DENSE (exactly N rows, zeros included,
        the MetricsAnswer long[N]); kind="avg" keeps non-empty buckets
        unless interpolate=True, which then answers dense with flat
        edge extension exactly like Anomaly.metricingAvg's padded
        interpolation."""
        from ..fields import FIELD_SEP, NUMERIC_FIELDS, decode_num

        if kind not in ("sum", "avg"):
            raise ValueError("kind must be 'sum' or 'avg'")
        if interpolate and kind != "avg":
            raise ValueError(
                "interpolate applies to kind='avg' only (Anomaly."
                "metricingAvg; metricingSum never interpolates)"
            )
        if field not in NUMERIC_FIELDS:
            raise ValueError(
                f"metrics requires a numeric field, got {field!r} "
                f"(numeric: {sorted(NUMERIC_FIELDS)})"
            )
        bucket_us, origin = self._bucket_spec(
            bucket_seconds, segments, time_range_us
        )
        # UNCAPPED value enumeration (field_terms on the pinned serving
        # path; the distributed kernel streams the numeric field's
        # composed terms by prefix and decodes values in-task)
        pinned = self._terms_sorted is not None
        facet_terms = self.field_terms(field) if pinned else []
        facet_values = [
            float(decode_num(t.split(FIELD_SEP, 1)[1])) for t in facet_terms
        ]
        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        local = self._route_facet_local(prep, facet_terms, local, pinned)
        if local:
            matches = self._local_match_ids(prep)
            if matches.size == 0:
                return self._metrics_shape(
                    [], bucket_us, origin, segments, kind, interpolate
                )
            times = self._pid_times(np.unique(matches >> 32))
            # buckets aligned with matches, computed ONCE; facet hits
            # reuse them by position (one searchsorted pass total)
            ts = self._times_of(matches, times)
            if segments:
                rel = ts - origin
                valid = (rel >= 0) & (rel < segments * bucket_us)
                m_bucket = np.where(valid, rel // bucket_us, -1)
                bmin, span = 0, segments
            else:
                m_bucket = ts // bucket_us
                valid = np.ones(m_bucket.size, dtype=bool)
                bmin = int(m_bucket.min())
                span = int(m_bucket.max()) - bmin + 1
            fmap, _tfs, _dls = self._postings_maps(
                facet_terms, prep["pid_range"]
            )
            vh, mp = self._facet_hits(matches, facet_terms, fmap)
            keep = valid[mp] if segments else slice(None)
            vh, mp = vh[keep], mp[keep]
            if not vh.size:
                return self._metrics_shape(
                    [], bucket_us, origin, segments, kind, interpolate
                )
            vals_arr = np.asarray(facet_values, dtype=np.float64)
            rel_b = m_bucket[mp] - bmin
            sums_b = np.bincount(
                rel_b, weights=vals_arr[vh], minlength=span
            )
            # a bucket is present iff ANY facet posting hit it (a sum of
            # exactly 0 -- e.g. value 0 -- still reports)
            nz = np.flatnonzero(np.bincount(rel_b, minlength=span))
            if kind == "sum":
                out = [
                    (origin + (bmin + int(b)) * bucket_us,
                     int(round(sums_b[b])))
                    for b in nz
                ]
            else:
                denom = np.bincount(
                    m_bucket[valid] - bmin, minlength=span
                )
                out = [
                    (origin + (bmin + int(b)) * bucket_us,
                     float(sums_b[b] / denom[b]))
                    for b in nz
                ]
            return self._metrics_shape(
                out, bucket_us, origin, segments, kind, interpolate
            )
        rows = (
            self.kernel_frame(
                query, k=0, locale=locale, time_range_us=time_range_us,
                prep=prep, agg="metrics", bucket_us=bucket_us,
                bucket_origin_us=origin, bucket_count=segments or 0,
                facet_prefixes=[f"{field}{FIELD_SEP}"],
            )
            .groupBy("doc_id")
            .agg(F.sum("score").alias("s"))
            .orderBy("doc_id")
            .collect()
        )
        if kind == "sum":
            out = [
                (origin + int(r["doc_id"]) * bucket_us,
                 int(round(r["s"])))
                for r in rows
            ]
        else:
            denom = dict(
                self.waveform(
                    query, bucket_seconds, locale, time_range_us,
                    constraints, authz, local=False, segments=segments,
                )
            )
            out = [
                (origin + int(r["doc_id"]) * bucket_us,
                 float(r["s"])
                 / denom[origin + int(r["doc_id"]) * bucket_us])
                for r in rows
            ]
        return self._metrics_shape(
            out, bucket_us, origin, segments, kind, interpolate
        )

    @staticmethod
    def _metrics_shape(
        out: list,
        bucket_us: int,
        origin: int,
        segments: int | None,
        kind: str,
        interpolate: bool,
    ) -> list[tuple]:
        """Final shaping: epoch mode keeps non-empty buckets (interior
        interpolation opt-in); segment mode answers DENSE for sum (the
        MetricsAnswer long[N]) and dense-with-flat-edges for
        interpolated avg (Anomaly.metricingAvg's padded spline)."""
        if segments is None:
            if kind == "avg" and interpolate:
                return _interp_buckets(out, bucket_us)
            return out
        if kind == "sum":
            have = dict(out)
            return [
                (origin + i * bucket_us,
                 int(have.get(origin + i * bucket_us, 0)))
                for i in range(segments)
            ]
        if not interpolate or not out:
            return out
        bs = (
            np.array([b for b, _ in out], dtype=np.int64) - origin
        ) // bucket_us
        vs = np.array([v for _, v in out], dtype=np.float64)
        full = np.arange(segments, dtype=np.int64)
        iv = np.interp(full, bs, vs)  # flat extension past the edges
        return [
            (origin + int(i) * bucket_us, float(v))
            for i, v in zip(full, iv)
        ]

    def distincts(
        self,
        field: str,
        query: str | None = None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        local: bool | None = None,
        prefix: str | None = None,
        top_n: int | None = None,
    ) -> list[tuple]:
        """Distinct values of a metadata field among the docs matching a
        query (+constraints/authz/time range), WITH counts -- the
        reference's distincts gatherer (miru-reco-plugins/.../distincts/
        DistinctsQuery.java: a MiruFilter constraint + gather of the
        field's distinct terms; counts are the facet upgrade). Field
        values come from a term-dictionary prefix scan over the composed
        `field\\x1f` terms (capped like wildcard expansion), so only
        values that EXIST in the index are probed. `prefix` restricts
        the gathered values (DistinctsQuery.prefixes, the typeahead
        path: Distincts.java:87-108,143-148 narrows the term range /
        startsWith-filters term bytes) -- a single string or a LIST of
        strings (the reference field is List<MiruValue>; values matching
        ANY prefix gather), applied to the composed value BEFORE any
        postings are probed, so a typeahead over a wide field only
        touches the matching values' postings. Returns
        [(value, count)] sorted by count desc then value asc; numeric
        fields decode back to ints. `top_n` (explicit, reported --
        never a silent cut) bounds the answer to the N highest-count
        values; on the distributed route the cut happens IN SPARK
        (sort-limit before collect), so the driver materializes
        O(top_n) rows even when the field has millions of values --
        the answer-layer paging the reference applies over its
        streamed gather.

        Serving path: zero Spark jobs -- one match pass, then one sorted
        intersection per value. Distributed path: ONE job; facet-term
        postings ride the same kernel exchange as the query's (all tf/dl
        blobs shed) and each pid task emits only (value term, count)."""
        from ..fields import FIELD_SEP, NUMERIC_FIELDS, decode_num

        if prefix is None or isinstance(prefix, str):
            pfx = [prefix or ""]
        else:
            pfx = list(prefix) or [""]
        # UNCAPPED value enumeration (field_terms, never the wildcard
        # cap -- Distincts.gatherDirect streams the whole term range).
        # Pinned dictionary: free bisect slice, drives serving-path
        # probing + routing estimates. Unpinned: the distributed kernel
        # streams values by prefix and no driver list exists at all.
        pinned = self._terms_sorted is not None
        facet_terms = self.field_terms(field, pfx) if pinned else None
        if pinned and not facet_terms:
            return []

        def _decode(term: str):
            v = term.split(FIELD_SEP, 1)[1]
            return decode_num(v) if field in NUMERIC_FIELDS else v

        prep = self._prep_query(
            query, locale, time_range_us, constraints, authz
        )
        local = self._route_facet_local(prep, facet_terms, local, pinned)
        if local:
            matches = self._local_match_ids(prep)
            out = []
            if matches.size:
                fmap, _tfs, _dls = self._postings_maps(
                    facet_terms, prep["pid_range"]
                )
                vh, _mp = self._facet_hits(matches, facet_terms, fmap)
                counts = np.bincount(vh, minlength=len(facet_terms))
                trip = [
                    (t, _decode(t), int(n))
                    for t, n in zip(facet_terms, counts)
                    if n
                ]
                if top_n is not None:
                    # same (count desc, composed-term asc) cut the
                    # distributed route's Spark-side limit makes
                    trip.sort(key=lambda x: (-x[2], x[0]))
                    trip = trip[: int(top_n)]
                out = [(v, n) for _t, v, n in trip]
            return sorted(out, key=lambda vc: (-vc[1], str(vc[0])))
        merged = (
            self.kernel_frame(
                query, k=0, locale=locale, time_range_us=time_range_us,
                prep=prep, agg="distincts",
                facet_prefixes=[f"{field}{FIELD_SEP}{p}" for p in pfx],
            )
            .groupBy("term")
            .agg(F.sum("score").alias("c"))
        )
        if top_n is not None:
            # bound IN SPARK: composed-term asc == value order, so this
            # is the same (count desc, value asc) cut the driver-side
            # sort would make -- but only top_n rows ever collect
            merged = merged.orderBy(
                F.desc("c"), F.asc("term")
            ).limit(int(top_n))
        rows = merged.collect()
        out = [(_decode(r["term"]), int(r["c"])) for r in rows]
        out.sort(key=lambda vc: (-vc[1], str(vc[0])))
        return out[:top_n] if top_n is not None else out

    def _local_bounds(self, prep: dict) -> dict:
        """Exact per-boundary-pid [lo, hi) docID interval from the pid's
        (cached) time array -- no Spark job."""
        if prep["time_spec"] is None or not prep["boundary_pids"]:
            return {}
        t0_us, t1_us, _lo, _hi = prep["time_spec"]
        return {
            p: _t_interval(times, t0_us, t1_us)
            for p, times in self._pid_times(prep["boundary_pids"]).items()
        }

    def _local_relation(self, rows: list) -> DataFrame:
        """Wrap serving-node winner rows as an Arrow-backed LocalRelation.
        createDataFrame from a pandas frame converts via Arrow and plans
        as a LocalRelation -- collect()/joins on it are plan-local --
        whereas createDataFrame(list) parallelizes an RDD through a
        Python worker and costs a full Spark job (~0.5 s) per query."""
        import pandas as pd

        pdf = pd.DataFrame(
            rows, columns=["url", "warc_us", "pid", "doc_id", "score"]
        )
        if not len(pdf):
            pdf = pdf.astype(
                {"warc_us": "int64", "pid": "int64", "doc_id": "int64",
                 "score": "float64"}
            )
        return self.spark.createDataFrame(
            pdf,
            schema="url string, warc_us long, pid long, doc_id long, "
                   "score double",
        )

    _POSTING_COLS = ["pid", "term", "blk", "n", "ids_bin", "tfs_bin",
                     "dls_bin"]

    def _decode_posting_table(self, tbl, positions: bool = False) -> dict:
        """`_decode_blocks` over a fetched pyarrow posting-rows table:
        {term: (cids, tfs, dls)}, or with `positions` {term: (cids, tfs,
        pos)} from the pos_bin blobs."""
        import pyarrow.compute as pc

        if not tbl.num_rows:
            return {}
        tbl = tbl.take(
            pc.sort_indices(
                tbl,
                sort_keys=[
                    ("term", "ascending"),
                    ("pid", "ascending"),
                    ("blk", "ascending"),
                ],
            )
        )
        has_blobs = "tfs_bin" in tbl.column_names
        return _decode_blocks(
            np.asarray(tbl["term"].to_pylist(), dtype=object),
            tbl["pid"].to_numpy().astype(np.int64),
            tbl["n"].to_numpy().astype(np.int64),
            tbl["ids_bin"].to_pylist(),
            tbl["tfs_bin"].to_pylist() if has_blobs else None,
            tbl["pos_bin" if positions else "dls_bin"].to_pylist()
            if has_blobs else None,
            positions,
        )

    _EMPTY_POSTINGS = (
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
    )

    def _probe_field_values(
        self, field: str, page: np.ndarray
    ) -> dict[int, list[str]]:
        """Composed-term values of `field` carried by the page's docs,
        via a block-span-bounded posting read: only rows whose
        (pid, [first_doc, last_doc]) span can contain a page composite
        are fetched -- a point op bounded by the PAGE size, independent
        of the field's value count (the gatherTermsForFields analog of
        the reference's per-activity term gather). Returns
        {composite_id: [composed terms, value order]}."""
        import pyarrow.dataset as pads

        from ..fields import FIELD_SEP

        out: dict[int, list[str]] = {}
        if not page.size:
            return out
        # two facet values can share their newest doc (multi-valued
        # fields) -- dedupe so a term is appended once per DOC
        page = np.unique(page)
        lo_t = f"{field}{FIELD_SEP}"
        hi_t = field + chr(ord(FIELD_SEP) + 1)
        per_pid: dict[int, tuple[int, int]] = {}
        for c in page.tolist():
            p, d = c >> 32, c & 0xFFFFFFFF
            lo, hi = per_pid.get(p, (d, d))
            per_pid[p] = (min(lo, d), max(hi, d))
        span = None
        for p, (lo, hi) in per_pid.items():
            cond = (
                (pads.field("pid") == p)
                & (pads.field("first_doc") <= hi)
                & (pads.field("last_doc") >= lo)
            )
            span = cond if span is None else (span | cond)
        tbl = self._dataset().to_table(
            filter=(
                (pads.field("row_type") == "p")
                & (pads.field("term") >= lo_t)
                & (pads.field("term") < hi_t)
                & span
            ),
            columns=["pid", "term", "blk", "n", "ids_bin"],
        )
        dec = self._decode_posting_table(tbl)
        for t in sorted(dec):  # composed-term order == value order
            cids = dec[t][0]
            if not cids.size:
                continue
            idx = np.minimum(
                np.searchsorted(cids, page), cids.size - 1
            )
            for comp in page[cids[idx] == page].tolist():
                out.setdefault(int(comp), []).append(t)
        return out

    def _postings_maps(
        self, fetch_terms, pid_range
    ) -> tuple[dict, dict, dict]:
        """Decoded postings for the serving-node path, through the LRU.

        Cached entries hold the term's FULL pid span; a pid-bounded query
        slices the cached arrays by composite-id range (they are sorted),
        which is exactly what a ranged fetch would have decoded. A
        pid-bounded MISS fetches only the range and does NOT populate the
        cache (the theta-seed path probes single pids of head terms whose
        full span may exceed the serving-node budget)."""
        term_cids: dict = {}
        term_tfs: dict = {}
        term_dls: dict = {}
        if not fetch_terms:
            return term_cids, term_tfs, term_dls
        with self._post_cache_lock:
            missing = [t for t in fetch_terms if t not in self._post_cache]
        if missing and pid_range is None:
            # fetch + decode OUTSIDE the lock (slow IO); racing threads
            # may decode the same term, last insert wins harmlessly.
            # Composed field terms (FIELD_SEP) are filter-only by
            # construction -- skip reading their tf/dl blobs (~2/3 of a
            # head field term's bytes)
            from ..fields import FIELD_SEP

            composed = [t for t in missing if FIELD_SEP in t]
            text = [t for t in missing if FIELD_SEP not in t]
            dec = {}
            if text:
                dec.update(self._decode_posting_table(
                    self._fetch_posting_rows(text, None, self._POSTING_COLS)
                ))
            if composed:
                dec.update(self._decode_posting_table(
                    self._fetch_posting_rows(
                        composed, None, self._POSTING_COLS[:5]
                    )
                ))
            with self._post_cache_lock:
                for t in missing:
                    if t in self._post_cache:
                        continue
                    arrs = dec.get(t, self._EMPTY_POSTINGS)
                    self._post_cache[t] = arrs
                    self._post_cache_entries += arrs[0].size
                while (
                    self._post_cache_entries > self.post_cache_max_entries
                    and len(self._post_cache) > len(fetch_terms)
                ):
                    _t, old = self._post_cache.popitem(last=False)
                    self._post_cache_entries -= old[0].size
            missing = []
        if not missing:
            # cache hits: snapshot array refs under the lock (entries may
            # be evicted concurrently, but referenced arrays stay alive)
            snap: dict | None = {}
            with self._post_cache_lock:
                for t in fetch_terms:
                    arrs = self._post_cache.get(t)
                    if arrs is None:  # evicted in the race window
                        snap = None
                        break
                    self._post_cache.move_to_end(t)
                    snap[t] = arrs
            if snap is not None:
                lo_c = hi_c = None
                if pid_range is not None:
                    lo_c = int(pid_range[0]) << 32
                    hi_c = (int(pid_range[1]) + 1) << 32
                for t in fetch_terms:
                    c, f, d = snap[t]
                    if not c.size:
                        continue
                    if lo_c is not None:
                        s = int(np.searchsorted(c, lo_c, "left"))
                        e = int(np.searchsorted(c, hi_c, "left"))
                        if s == e:
                            continue
                        c, f, d = c[s:e], f[s:e], d[s:e]
                    term_cids[t], term_tfs[t], term_dls[t] = c, f, d
                return term_cids, term_tfs, term_dls
        # ranged miss (theta-seed probes) or eviction race: read exactly
        # what the query needs, bypassing the cache
        dec = self._decode_posting_table(
            self._fetch_posting_rows(fetch_terms, pid_range, self._POSTING_COLS)
        )
        for t, (c, f, d) in dec.items():
            term_cids[t], term_tfs[t], term_dls[t] = c, f, d
        return term_cids, term_tfs, term_dls

    # Engage block-max (both routes: per query on the serving node, per
    # task on the kernel) only past this many fetched postings and this
    # many cells (pruning needs cells to skip). MEASURED OFF BY
    # DEFAULT: on the homogeneous synthetic corpus zero cells ever prune
    # -- every block holds a near-max-tf doc of every head term, so no
    # cell bound falls under theta -- while the metadata + subset-slice
    # pass costs real time (6M docs, warm serving p50: 405 ms exhaustive
    # vs ~512 ms with a 2M-posting threshold; head-term ORs up to 2x).
    # The machinery is exact and tested (tests/test_local_blockmax.py);
    # on a real web corpus with score spread, lower this bound to engage
    # it -- that spread is what block-max exists for.
    LOCAL_BLOCKMAX_MIN_POSTINGS = 1 << 62
    LOCAL_BLOCKMAX_MIN_CELLS = 16
    # Estimated postings one kernel-route Python task is planned for
    # (`_kernel_tasks`). The trade-off is start-up CPU against lost
    # parallelism: every extra Python task pays a fixed start-up before
    # its UDF runs -- ~0.3 s of worker CPU on a 4-vCPU host, nearly all
    # of it PySpark's setup_spark_files -> importlib.invalidate_caches()
    # re-reading the zip directories of ~20 zipimporters (pyspark.zip,
    # the spark-core jar, the shipped package) -- and a split evaluation
    # only buys wall time once the work it shares outlasts that. One
    # task evaluates ~2-4M estimated postings/s, so ~1M postings is the
    # floor. On that host and a 20-pid index, an OR of 414k estimated
    # postings ran slower in four tasks than in one and one of 1.5M at
    # most 11% faster, each for about twice the CPU; one of 2.6M ran in
    # 3.7 s as three tasks against 4.6 s as one. Queries large enough
    # to leave the serving route by default (> local_max_postings, 8M)
    # keep the full min(pids, cores) fan-out.
    KERNEL_TASK_MIN_POSTINGS = 1 << 20

    def _search_local(
        self, prep: dict, k: int, use_blockmax: bool,
        strategy: str = "tfidf",
    ) -> list:
        """Answer a bounded query on the serving node: pyarrow row-group-
        pruned reads + the shared evaluator over composite (pid << 32 |
        doc_id) ids -- no per-pid loop, no Spark job, rank- and
        score-identical to the distributed route by construction.
        Records the block-max cell stats, when it engaged, on
        self._local_blockmax_stats. Returns [(url, warc_us, pid, doc_id,
        score)] sorted (score desc, pid, doc_id) -- newest-first for
        strategy="time" -- length <= k."""
        if k <= 0:
            return []
        cids, scores, stats = _evaluate(
            self._topk_plan(prep, k, use_blockmax, strategy),
            self._local_inputs(prep),
        )
        if stats is not None:
            self._local_blockmax_stats = stats
        return self._gather_rows(
            self._dataset(), cids >> 32, cids & 0xFFFFFFFF, scores
        )

    def _gather_rows(self, dset, w_pids, w_docs, w_scores) -> list:
        """Forward-index point gather (FullText.gatherValues analog):
        row-group pruned by the tiny winner (pid, doc_id) predicate."""
        import pyarrow.dataset as pads

        if w_pids.size == 0:
            return []
        dm = dset.to_table(
            filter=(pads.field("row_type") == "d")
            & pads.field("pid").isin(sorted({int(p) for p in w_pids}))
            & pads.field("doc_id").isin(sorted({int(d) for d in w_docs})),
            columns=["pid", "doc_id", "url", "warc_us"],
        )
        lookup = {
            (int(p), int(d)): (u, int(w))
            for p, d, u, w in zip(
                dm["pid"].to_pylist(),
                dm["doc_id"].to_pylist(),
                dm["url"].to_pylist(),
                dm["warc_us"].to_pylist(),
            )
        }
        out = []
        for p, d, s in zip(w_pids, w_docs, w_scores):
            u, w = lookup.get((int(p), int(d)), (None, 0))
            out.append((u, int(w), int(p), int(d), float(s)))
        return out

    def search(
        self,
        query: str,
        k: int = 10,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        use_blockmax: bool = True,
        local: bool | None = None,
        prep: dict | None = None,
        constraints=None,
        authz=None,
        highlight_from: DataFrame | None = None,
        use_stopwords: bool = True,
        max_expand: int | None = None,
    ) -> DataFrame:
        """Run a query; returns DataFrame(url, warc_ts, pid, doc_id, score)
        ordered by (score desc, pid, doc_id), limit k.

        `constraints` (an extra filter query, same grammar) and `authz`
        (granted access labels -- a doc must carry at least one) gate the
        match set without joining the scoring set, on BOTH the serving-
        node and distributed paths (FullTextCustomQuestion.java:91-107).

        `highlight_from` (a relation carrying url + text, normally the
        source webtext table -- the index stores no content) appends a
        `summary` column: the best highlighted fragments of each winner's
        content, exactly the reference's per-result summary
        (LuceneBackedQueryParser.highlight:56-74 invoked per result doc
        in FullTextCustomQuestion). Point lookup: only the k winners'
        urls are fetched (pushed-down isin), highlighting is driver-side
        string work over k docs.

        Routing (`local=None` auto): queries whose estimated posting
        volume fits `local_max_postings` run on the serving node itself
        (`_search_local`, zero Spark jobs -- the reference's
        route-to-partition-host topology); larger queries run the
        distributed path below. Both routes run the same evaluator
        (`_evaluate`), so they answer rank- and score-identically.

        Distributed path -- plans ONE Spark job on the pinned-dictionary
        path: prefix expansion is a driver bisect, idf a driver dict,
        time bounds resolve in-task from 't' rows, and match-all pids
        reach the tasks via tiny marker rows -- no per-query metadata
        jobs. Job 1: per-task evaluator (`_topk_runner`) + bounded top-k
        merge (TakeOrdered) -> k rows on the driver; the evaluator runs
        in as many Python tasks as the estimated postings pay for
        (`_kernel_tasks`) -- a small query is ONE task with no exchange,
        a large one fans out by pid up to min(pids, cores). Job 2 (at
        the caller's collect): point-lookup gather of display fields -- the k (pid, doc_id) winners as
        pushed-down isin predicates over the forward index, exact-joined
        against the broadcast local winner relation. This is miru's
        gatherValues forward-index point read (FullText.java:253-280) in
        two bounded jobs."""
        if prep is None:
            prep = self._prep_query(
                query, locale, time_range_us, constraints, authz,
                use_stopwords, max_expand=max_expand,
            )
        if local is None:
            local = self._local_eligible(prep)
        elif local and not self._local_eligible(prep):
            # forcing the serving-node path when it can't answer this
            # query correctly (unpinned dictionary/tombstones, oversized
            # posting volume) must fail loudly, not return
            # silently-wrong results
            raise ValueError(
                "local=True forced but this query is not eligible for "
                "the serving-node path; use local=None for auto-routing"
            )
        if local:
            rows = self._search_local(prep, k, use_blockmax)
            wdf = self._local_relation(rows)
            return self._with_summaries(
                wdf.select(
                    "url",
                    F.timestamp_micros("warc_us").alias("warc_ts"),
                    "pid",
                    "doc_id",
                    "score",
                ),
                query, locale, highlight_from, use_stopwords,
            )
        # the seed is serving-node work that only block-max reads:
        # _theta_seed returns 0.0 unless the evaluator's gate can engage
        theta0 = self._theta_seed(prep, k) if use_blockmax else 0.0
        per_part = self.kernel_frame(
            query, k=k, locale=locale, time_range_us=time_range_us,
            use_blockmax=use_blockmax, prep=prep, theta0=theta0,
        )
        wrows = per_part.orderBy(
            F.desc("score"), F.asc("pid"), F.asc("doc_id")
        ).limit(k).collect() if k > 0 else []
        out_schema = (
            "url string, warc_ts timestamp, pid long, doc_id long, "
            "score double"
        )
        if not wrows:
            empty = self.spark.createDataFrame([], out_schema)
            return self._with_summaries(
                empty, query, locale, highlight_from, use_stopwords
            )
        # display-field gather for k winners: a POINT LOOKUP, not a join.
        # The serving node's row-group-pruned pyarrow read (the same
        # _gather_rows `newest` uses) answers it job-free; the broadcast
        # docmap join remains as the distributed fallback for storage
        # the driver can't read directly (the reference's gatherValues
        # is likewise a forward-index point read, FullText.java:253-280).
        try:
            rows = self._gather_rows(
                self._dataset(),
                np.array([int(r["pid"]) for r in wrows], dtype=np.int64),
                np.array([int(r["doc_id"]) for r in wrows], dtype=np.int64),
                np.array([float(r["score"]) for r in wrows]),
            )
            wdf = self._local_relation(rows)
            return self._with_summaries(
                wdf.select(
                    "url",
                    F.timestamp_micros("warc_us").alias("warc_ts"),
                    "pid",
                    "doc_id",
                    "score",
                ),
                query, locale, highlight_from, use_stopwords,
            )
        except Exception:
            pass  # unreadable from the driver: distributed gather below
        import pandas as pd

        wdf = self.spark.createDataFrame(
            pd.DataFrame(
                [(int(r["pid"]), int(r["doc_id"]), float(r["score"]))
                 for r in wrows],
                columns=["pid", "doc_id", "score"],
            ),
            schema="pid long, doc_id long, score double",
        )
        winners = (
            self.docmap.filter(
                F.col("pid").isin(sorted({int(r["pid"]) for r in wrows}))
                & F.col("doc_id").isin(
                    sorted({int(r["doc_id"]) for r in wrows})
                )
            )
            .select("pid", "doc_id", "url", "warc_us")
            .join(F.broadcast(wdf), ["pid", "doc_id"], "inner")
        )
        return self._with_summaries(
            winners.select(
                "url",
                F.timestamp_micros("warc_us").alias("warc_ts"),
                "pid",
                "doc_id",
                "score",
            ).orderBy(F.desc("score"), F.asc("pid"), F.asc("doc_id")),
            query, locale, highlight_from, use_stopwords,
        )

    def _with_summaries(
        self,
        out: DataFrame,
        query: str | None,
        locale: str | None,
        highlight_from: DataFrame | None,
        use_stopwords: bool = True,
    ) -> DataFrame:
        """Append the per-result `summary` column (reference: each result
        doc's content runs through LuceneBackedQueryParser.highlight,
        :56-74). Materializes the k winners (bounded), point-fetches
        their content rows by url (pushed-down isin over
        `highlight_from`), highlights driver-side, and returns an
        Arrow-backed local relation -- no extra distributed work beyond
        the k-row content lookup."""
        if highlight_from is None:
            return out
        import pandas as pd

        from .highlight import highlight as _hl

        wrows = out.collect()
        schema = (
            "url string, warc_ts timestamp, pid long, doc_id long, "
            "score double, summary string"
        )
        if not wrows:
            return self.spark.createDataFrame([], schema)
        urls = sorted({r["url"] for r in wrows if r["url"] is not None})
        texts = {}
        if urls:
            texts = {
                r["url"]: r["text"]
                for r in highlight_from.filter(F.col("url").isin(urls))
                .select("url", "text")
                .collect()
            }
        pdf = pd.DataFrame(
            [
                (
                    r["url"], r["warc_ts"], r["pid"], r["doc_id"],
                    r["score"],
                    _hl(
                        query, texts.get(r["url"]) or "", locale,
                        use_stopwords=use_stopwords,
                    )
                    # pre-parsed tuple trees carry no query TEXT to
                    # re-lex; their results get no summary rather than
                    # a TypeError from the highlighter's parser
                    if isinstance(query, str)
                    else None,
                )
                for r in wrows
            ],
            columns=[
                "url", "warc_ts", "pid", "doc_id", "score", "summary"
            ],
        )
        return self.spark.createDataFrame(pdf, schema=schema).orderBy(
            F.desc("score"), F.asc("pid"), F.asc("doc_id")
        )

    def search_collect(self, query: str, k: int = 10, **kw):
        """Collect top-k as [(pid, doc_id, score, url)]. On the local
        path this is pure serving-node work -- no Spark job at all."""
        local = kw.pop("local", None)
        prep = self._prep_query(
            query, kw.get("locale"), kw.get("time_range_us"),
            kw.pop("constraints", None), kw.pop("authz", None),
            kw.get("use_stopwords", True),
            max_expand=kw.pop("max_expand", None),
        )
        if local is None:
            local = self._local_eligible(prep)
        elif local and not self._local_eligible(prep):
            raise ValueError(
                "local=True forced but this query is not eligible for "
                "the serving-node path; use local=None for auto-routing"
            )
        if local:
            rows = self._search_local(
                prep, k, kw.get("use_blockmax", True)
            )
            return [(p, d, s, u) for (u, _w, p, d, s) in rows]
        rows = self.search(query, k=k, local=False, prep=prep, **kw).collect()
        return [(r["pid"], r["doc_id"], r["score"], r["url"]) for r in rows]

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        locale: str | None = None,
        use_blockmax: bool = True,
        constraints=None,
        authz=None,
        use_stopwords: bool = True,
    ) -> dict[str, list]:
        """Batch N queries into ONE Spark job (the qps path -- the
        reference's stress harness fires queries concurrently,
        WikiMiruStressService.java:58-120). Each task groups its rows by
        query and runs the same evaluator as `search` once per query;
        per-query results are identical to sequential `search_collect`
        calls. The task count is sized by the batch's summed estimated
        postings (`_kernel_tasks`): a small batch is ONE task with no
        exchange, a large one hash-partitions by (qid, pid).

        Returns {query: [(pid, doc_id, score, url), ...]}.
        """
        import pandas as pd

        plans: dict = {}  # qid -> _TopK of the batched queries
        fallback = {}    # queries with match-all nodes -> individual path
        qterm_rows = []  # (qid, term)
        fetch_all: set = set()
        est_all = 0      # estimated postings over the batched plans
        out: dict[str, list] = {}
        # the retention watermark clamps EVERY query identically
        # (search_many carries no per-query time range), so the batch
        # carries ONE shared time spec + its boundary 't' rows instead
        # of abandoning the single-job path the moment retention is set
        ret_us = int(self.meta.get("retention_min_us", 0) or 0)
        shared_spec = None
        shared_boundary: list[int] = []
        shared_pid_range = None
        for qid, q in enumerate(queries):
            prep = self._prep_query(
                q, locale, None, constraints, authz, use_stopwords
            )
            if self._removed_df is not None and self._removed_map is None:
                # unpinned tombstones need per-query 'x'-row co-partition;
                # route through the individual kernel path
                fallback[q] = None
                continue
            if self._local_eligible(prep):
                # bounded query: answer on the serving node, no job
                rows = self._search_local(prep, k, use_blockmax)
                out[q] = [(p, d, s, u) for (u, _w, p, d, s) in rows]
                continue
            if ret_us > 0:
                # retention clamp: identical spec for every query in the
                # batch, carried on the shared exchange
                shared_spec = prep["time_spec"]
                shared_boundary = prep["boundary_pids"]
                shared_pid_range = prep["pid_range"]
            if prep["has_all_node"] or prep.get("phrase_terms"):
                # match-all needs marker rows and phrases need pos blobs
                # -- the shared batched exchange carries neither, so
                # these answer through the individual kernel path where
                # results stay identical to sequential search_collect
                fallback[q] = None
                continue
            plans[qid] = self._topk_plan(prep, k, use_blockmax)
            est_all += self._estimated_postings(prep)
            fetch_all.update(prep["fetch_terms"])
            qterm_rows.extend((qid, t) for t in prep["fetch_terms"])

        for q in fallback:
            out[q] = self.search_collect(q, k=k, locale=locale,
                                         use_blockmax=use_blockmax,
                                         constraints=constraints,
                                         authz=authz,
                                         use_stopwords=use_stopwords)
        if not qterm_rows:
            for q in queries:
                out.setdefault(q, [])
            return out

        blocks = self.postings.filter(F.col("term").isin(sorted(fetch_all)))
        if shared_pid_range is not None:
            # retention prunes pre-watermark pids off the exchange
            blocks = blocks.filter(
                (F.col("pid") >= shared_pid_range[0])
                & (F.col("pid") <= shared_pid_range[1])
            )
        # filter-only terms across the whole batch never score: drop
        # their tf/dl blobs before the exchange (same saving as the
        # single-query kernel path)
        scoring_all: set = set()
        for plan in plans.values():
            scoring_all.update(plan.scoring_terms)
        nonscoring_all = fetch_all - scoring_all
        if nonscoring_all:
            keep = F.col("term").isin(sorted(scoring_all))
            blocks = blocks.withColumn(
                "tfs_bin", F.when(keep, F.col("tfs_bin"))
            ).withColumn("dls_bin", F.when(keep, F.col("dls_bin")))
        pinned = self._term_df is not None
        kcols = list(_POSTING_COLS)
        if not pinned:
            blocks = blocks.join(
                F.broadcast(
                    self.termstats.select("term", "df").filter(
                        F.col("term").isin(sorted(fetch_all))
                    )
                ),
                "term",
                "left",
            )
            kcols.append("df")
        qmap = self.spark.createDataFrame(
            pd.DataFrame(qterm_rows, columns=["qid", "term"]),
            schema="qid int, term string",
        )
        tagged = _pad_cols(blocks, kcols, "p").join(
            F.broadcast(qmap), "term"
        )
        if shared_spec is not None and shared_boundary:
            # the shared retention boundary pid's 't' rows ride to EVERY
            # batched query's rows so each query's evaluator resolves
            # the same exact [lo, hi) interval in-task (one boundary pid
            # x n_queries tiny rows -- broadcast-sized)
            bq = sorted(plans)
            trows = _pad_cols(
                self.timeindex.filter(F.col("pid").isin(shared_boundary)),
                kcols,
                "t",
            ).crossJoin(
                F.broadcast(
                    self.spark.createDataFrame(
                        pd.DataFrame({"qid": bq}), schema="qid int"
                    )
                )
            )
            tagged = tagged.unionByName(trows)

        n_tasks = self._kernel_tasks(
            est_all, len(plans) * len(self.pid_counts)
        )
        per = _by_task(tagged, n_tasks, "qid", "pid").mapInPandas(
            _topk_runner(
                plans, self.n_docs, self.pid_counts, shared_spec,
                self._removed_comp,
            ),
            "qid int, pid long, doc_id long, score double",
        )
        w = Window.partitionBy("qid").orderBy(
            F.desc("score"), F.asc("pid"), F.asc("doc_id")
        )
        topk = per.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= k
        )
        trows = topk.collect()  # <= n_queries x k tiny rows
        # url resolution is a POINT gather on the serving node (zero
        # extra Spark jobs -- the same forward-index lookup search()
        # uses); the broadcast-docmap join remains the fallback when
        # the driver cannot read storage directly. The try wraps ONLY
        # the storage read, never the dict building.
        url_of = None
        try:
            pids_a = np.array([int(r["pid"]) for r in trows], np.int64)
            docs_a = np.array(
                [int(r["doc_id"]) for r in trows], np.int64
            )
            gathered = self._gather_rows(
                self._dataset(), pids_a, docs_a,
                np.zeros(len(trows), dtype=np.float64),
            )
            # a docmap miss gathers as url None: leave it out so the row
            # drops below, exactly as the fallback's inner join drops it
            url_of = {
                (p, d): u for u, _w, p, d, _s in gathered if u is not None
            }
        except Exception:
            url_of = None
        by_qid: dict[int, list] = {}
        if url_of is not None:
            for r in trows:
                key = (int(r["pid"]), int(r["doc_id"]))
                if key not in url_of:
                    continue
                by_qid.setdefault(int(r["qid"]), []).append(
                    (r["rn"], r["pid"], r["doc_id"], r["score"],
                     url_of[key])
                )
        else:
            winners = (
                self.docmap.select("pid", "doc_id", "url")
                .join(F.broadcast(topk), ["pid", "doc_id"], "inner")
                .collect()
            )
            for r in winners:
                by_qid.setdefault(int(r["qid"]), []).append(
                    (r["rn"], r["pid"], r["doc_id"], r["score"],
                     r["url"])
                )
        for qid, q in enumerate(queries):
            if qid not in plans:
                continue
            rows = sorted(by_qid.get(qid, []))
            out[q] = [(p, d, s, u) for _rn, p, d, s, u in rows]
        return out

    def _newest_out(
        self, df: DataFrame, query, locale, highlight_from, use_stopwords
    ) -> DataFrame:
        """newest()'s output shaping: optionally append summaries (the
        TIME-strategy analog of search's highlight passthrough), keeping
        the newest-first order -- _with_summaries re-sorts by score,
        which is uniformly 0 here."""
        if highlight_from is None:
            return df
        out = self._with_summaries(
            df.withColumn("score", F.lit(0.0)),
            query, locale, highlight_from, use_stopwords,
        )
        return out.drop("score").orderBy(F.desc("pid"), F.desc("doc_id"))

    def newest(
        self,
        k: int = 10,
        query: str | None = None,
        locale: str | None = None,
        time_range_us: tuple[int, int] | None = None,
        constraints=None,
        authz=None,
        use_stopwords: bool = True,
        max_expand: int | None = None,
        highlight_from: DataFrame | None = None,
    ) -> DataFrame:
        """TIME strategy: newest-k, score 0 (FullText.collectTime
        :222-251 -- descending docID iterator), minus tombstoned docs.
        `highlight_from` appends a `summary` column exactly as `search`
        does (the wire adapter's TIME-strategy fulltext requests carry
        the same passthrough).

        With `query` (or `constraints`/`authz`), newest-k among the
        FILTERED matches (the reference's FullTextQuery.Strategy.TIME
        runs the same filter tree as TF_IDF and collects descending
        docIDs instead of scoring). Composite (pid << 32 | doc_id)
        descending IS global time order: pids are time buckets and
        docIDs are minted in warc_ts order within each pid."""
        if query is not None or constraints is not None or authz is not None:
            prep = self._prep_query(
                query, locale, time_range_us, constraints, authz,
                use_stopwords, max_expand=max_expand,
            )
            if self._local_eligible(prep):
                rows = self._search_local(prep, k, False, strategy="time")
                wdf = self._local_relation(rows)
            else:
                per = self.kernel_frame(
                    query, k=k, locale=locale, time_range_us=time_range_us,
                    use_blockmax=False, prep=prep, strategy="time",
                )
                wrows = per.orderBy(
                    F.desc("pid"), F.desc("doc_id")
                ).limit(k).collect() if k > 0 else []
                # same forward-index point gather the serving path uses;
                # same broadcast-docmap fallback as search() when the
                # driver cannot read storage directly
                try:
                    rows = self._gather_rows(
                        self._dataset(),
                        np.array([int(r["pid"]) for r in wrows],
                                 dtype=np.int64),
                        np.array([int(r["doc_id"]) for r in wrows],
                                 dtype=np.int64),
                        np.zeros(len(wrows), dtype=np.float64),
                    )
                    wdf = self._local_relation(rows)
                except Exception:
                    import pandas as pd

                    wdf = self.docmap.join(
                        F.broadcast(
                            self.spark.createDataFrame(
                                pd.DataFrame(
                                    [(int(r["pid"]), int(r["doc_id"]))
                                     for r in wrows],
                                    columns=["pid", "doc_id"],
                                ),
                                schema="pid long, doc_id long",
                            )
                        ),
                        ["pid", "doc_id"],
                        "inner",
                    ).orderBy(F.desc("pid"), F.desc("doc_id"))
                    # re-sorted: the join result is unordered and the
                    # newest-first contract must hold on this fallback
                    # exactly as search()'s equivalent does
            return self._newest_out(
                wdf.select(
                    "url",
                    F.timestamp_micros("warc_us").alias("warc_ts"),
                    "pid",
                    "doc_id",
                ),
                query, locale, highlight_from, use_stopwords,
            )
        dm = self.docmap
        # the bare (unfiltered) newest page bypasses _prep_tree, so the
        # caller's time range AND the retention watermark clamp here
        # directly
        if time_range_us is not None:
            dm = dm.filter(
                (F.col("warc_us") >= int(time_range_us[0]))
                & (F.col("warc_us") <= int(time_range_us[1]))
            )
        ret_us = int(self.meta.get("retention_min_us", 0) or 0)
        if ret_us > 0:
            dm = dm.filter(F.col("warc_us") >= ret_us)
        if self._removed_df is not None:
            # pinned sets are tiny -> broadcast anti-join; unpinned sets
            # fall back to a plain (shuffled) anti-join
            rd = (
                F.broadcast(self._removed_df)
                if self._removed_map is not None
                else self._removed_df
            )
            dm = dm.join(rd, ["pid", "doc_id"], "anti")
        return self._newest_out(
            dm.select(
                "url",
                F.timestamp_micros("warc_us").alias("warc_ts"),
                "pid",
                "doc_id",
            )
            .orderBy(F.desc("warc_us"), F.desc("pid"), F.desc("doc_id"))
            .limit(k),
            None, locale, highlight_from, use_stopwords,
        )
