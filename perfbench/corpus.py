"""Seeded corpus and query-stream generator for the benchmark.

Everything the program under test receives is made here from the
`--seed` argument alone: webtext rows (url, warc_ts, lang, text and a
`fields` map carrying the skewed wide `tag` field) and the query pools.
Nothing is imported from the program, so a program change cannot change
the inputs it is measured on.

Shape (the webtext shape the engine's own fixtures describe):
- text: Zipf(s=1.07) draws over 33 English stopwords followed by
  `w000000..w009999`; doc length LogNormal(5.0, 0.6) clamped to
  [16, 4096] tokens.
- lang: 90% en, 5% de, 3% fr, 2% und.
- url: `https://site{s}.example/{lang}/page/{i}` with s uniform in
  [0, 499); the engine derives its numeric `site` field from it.
- tag: three values per doc, each 80% from a 97-value head (`h00..h96`)
  and 20% from a 50,000-value tail (`t00000..t49999`).
- time: docs are evenly spaced so that exactly `docs_per_pid` docs fall
  into each `partition_seconds` window. Every slice the benchmark hands
  to the program therefore starts and ends on a pid boundary, and an
  append never lands in an already-complete pid.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

STOPWORDS = sorted(
    """a an and are as at be but by for if in into is it no not of on or
    such that the their then there these they this to was will with""".split()
)
VOCAB = STOPWORDS + [f"w{i:06d}" for i in range(10_000)]
N_STOP = len(STOPWORDS)
_W = np.arange(1, len(VOCAB) + 1, dtype=np.float64) ** -1.07
_CUMW = np.cumsum(_W / _W.sum())
_CUMW[-1] = 1.0

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
LANGS = np.array(["en", "de", "fr", "und"])
_LANG_CUM = np.array([0.90, 0.95, 0.98, 1.0])
N_SITES = 499
TAG_HEAD, TAG_TAIL = 97, 50_000

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("lang", pa.string()),
        ("text", pa.string()),
        ("fields", pa.map_(pa.string(), pa.list_(pa.string()))),
    ]
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([int(seed), *stream]))


def make_docs(
    seed: int, start: int, n: int, docs_per_pid: int, partition_seconds: int
) -> pa.Table:
    """Docs [start, start + n) of the seed's corpus. Generation runs in
    fixed 1,000-doc chunks, each with its own stream, so any slice of the
    corpus is identical however it is cut."""
    chunk = 1000
    parts = [
        _chunk(seed, c, docs_per_pid, partition_seconds)
        for c in range(start // chunk, -(-(start + n) // chunk))
    ]
    t = pa.concat_tables(parts)
    return t.slice(start - (start // chunk) * chunk, n)


def _chunk(seed: int, c: int, docs_per_pid: int, partition_seconds: int):
    n = 1000
    ids = np.arange(c * n, (c + 1) * n, dtype=np.int64)
    rng = _rng(seed, 1, c)
    lens = np.clip(np.exp(rng.normal(5.0, 0.6, n)), 16, 4096).astype(np.int64)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    tok = np.searchsorted(_CUMW, rng.random(int(offsets[-1])), side="right")
    words = pa.array(VOCAB).take(pa.array(np.minimum(tok, len(VOCAB) - 1)))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")
    lang = LANGS[np.searchsorted(_LANG_CUM, rng.random(n), side="right")]
    site = rng.integers(0, N_SITES, n)
    url = [f"https://site{s}.example/{g}/page/{i}" for s, g, i in zip(site, lang, ids)]
    head = rng.random((n, 3)) < 0.8
    tags = np.where(
        head,
        np.char.add("h", np.char.zfill(rng.integers(0, TAG_HEAD, (n, 3)).astype(str), 2)),
        np.char.add("t", np.char.zfill(rng.integers(0, TAG_TAIL, (n, 3)).astype(str), 5)),
    ).ravel()
    key_off = pa.array(np.arange(n + 1, dtype=np.int32))
    fields = pa.MapArray.from_arrays(
        key_off,
        pa.array(["tag"] * n),
        pa.ListArray.from_arrays(
            pa.array(np.arange(0, 3 * n + 1, 3, dtype=np.int32)), pa.array(tags)
        ),
    )
    step_us = partition_seconds * 1_000_000 // docs_per_pid
    pid_us = (ids // docs_per_pid) * partition_seconds * 1_000_000
    warc = BASE_US + pid_us + (ids % docs_per_pid) * step_us
    return pa.Table.from_arrays(
        [
            pa.array(url),
            pa.array(warc, type=pa.timestamp("us", tz="UTC")),
            pa.array(lang),
            text,
            fields,
        ],
        schema=SCHEMA,
    )


BODY = (150, 600)  # rank band of the body terms queries combine


def _w(i: int) -> str:
    return VOCAB[N_STOP + int(i)]


def search_pool(seed: int, n: int, stream: int = 2) -> list[str]:
    """`n` distinct BM25 top-k queries covering the engine's query shapes:
    AND of 2-4 terms, OR of 3, mixed, NOT, prefix, head+tail, `lang:`
    field and `site:[a TO b]` range. Each shape draws its terms from a
    narrow rank band (body terms ranks 150-600, AND-4 terms 40-300, heads
    0-10, tails 3k-6k, prefixes over ranks 1k-3k), so a query's cost
    depends on its shape far more than on the seed."""
    rng = _rng(seed, stream)
    shapes = ["and2", "and3", "and4", "or3", "mixed", "not", "prefix",
              "head_tail", "field", "range"]
    out: list[str] = []
    seen: set = set()
    i = 0
    while len(out) < n:
        shape = shapes[i % len(shapes)]
        i += 1
        t = [_w(x) for x in rng.integers(*BODY, 4)]
        if shape == "and2":
            q = f"{t[0]} AND {t[1]}"
        elif shape == "and3":
            q = f"{t[0]} AND {t[1]} AND {t[2]}"
        elif shape == "and4":
            q = " AND ".join(_w(x) for x in rng.integers(40, 300, 4))
        elif shape == "or3":
            q = f"{t[0]} OR {t[1]} OR {t[2]}"
        elif shape == "mixed":
            q = f"{t[0]} AND ({t[1]} OR {t[2]})"
        elif shape == "not":
            q = f"{t[0]} AND NOT {t[1]}"
        elif shape == "prefix":
            q = f"{_w(int(rng.integers(100, 300)) * 10)[:-1]}*"
        elif shape == "head_tail":
            q = f"{_w(int(rng.integers(0, 10)))} AND {_w(int(rng.integers(3000, 6000)))}"
        elif shape == "field":
            q = f"{t[0]} AND lang:{rng.choice(['de', 'fr'])}"
        else:
            lo = int(rng.integers(0, N_SITES - 60))
            q = f"{t[0]} AND site:[{lo} TO {lo + 40}]"
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def term_queries(seed: int, n: int, stream: int = 8) -> list[str]:
    """`n` distinct single-term queries from ranks 100-200 (each matches
    roughly a tenth of the corpus): the match sets the facet and plugin
    requests aggregate over, of similar size whatever the seed."""
    return [_w(r) for r in _rng(seed, stream).permutation(np.arange(100, 200))[:n]]


def facet_pool(seed: int, queries: list[str], n: int, stream: int = 3):
    """`n` facet requests (op, query) over the given query strings, cycling
    count, waveform, distincts(lang), distincts(tag) (the wide field),
    metrics and trending."""
    rng = _rng(seed, stream)
    ops = ["count", "waveform", "distincts", "distincts_wide", "metrics",
           "trending"]
    qs = rng.permutation(len(queries))
    return [(ops[i % len(ops)], queries[int(qs[i % len(qs)])]) for i in range(n)]


def plugin_pool(seed: int, queries: list[str], n: int, stream: int = 4):
    """`n` plugin requests (op, arg): gather_features over (lang, site) and
    the wide (tag, lang), strut over site and the wide tag feature, reco,
    inbox and stumptown. Search-keyed ops take a query string; reco and
    inbox take a lang value as their stream/user key."""
    rng = _rng(seed, stream)
    ops = ["features", "features_wide", "strut", "strut_wide", "reco",
           "inbox", "stumptown"]
    out = []
    for i in range(n):
        op = ops[i % len(ops)]
        if op in ("reco", "inbox"):
            out.append((op, str(rng.choice(["en", "de", "fr"]))))
        else:
            out.append((op, queries[int(rng.integers(0, len(queries)))]))
    return out


def fresh_queries(seed: int, n: int) -> list[str]:
    """Never-repeated serving queries for the ingest bursts: 2-term ANDs
    whose terms are drawn without replacement, so no term repeats within
    a run and every read is a first touch."""
    ranks = _rng(seed, 5).permutation(np.arange(*BODY))[: 2 * n]
    return [f"{_w(a)} AND {_w(b)}" for a, b in zip(ranks[0::2], ranks[1::2])]
