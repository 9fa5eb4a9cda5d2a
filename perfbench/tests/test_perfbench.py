"""Tests of the benchmark itself: the event-log parser and span split,
input determinism, pid alignment, the serve_hot pool's cache fit, and
the early failure outside a checkout of the program.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import probes  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_tiny.jsonl")
# the engine's default serving budget is 8M postings and its decoded-
# postings LRU holds twice that
LRU_ENTRIES = 2 * 8_000_000


def _tiny():
    with open(LOG) as f:
        return f.readlines()


def test_parser_attributes_stages_to_job_groups():
    groups, orphans = spans.parse_event_log(_tiny())
    assert sorted(groups) == ["t-00000-one", "t-00001-two"]
    one, two = groups["t-00000-one"], groups["t-00001-two"]
    assert len(one.jobs) == 1 and len(one.stages) == 1
    assert len(two.jobs) == 1 and len(two.stages) == 2
    assert [s.tasks for s in two.stages] == [4, 2]
    # the job run without a group leaves its one stage unattributed
    assert len(orphans) == 1
    s = two.stages[0]
    assert s.cpu_ns > 0 and s.shuffle_write_bytes > 0
    assert two.stages[1].shuffle_read_bytes > 0


def test_split_layers_sum_to_wall():
    groups, orphans = spans.parse_event_log(_tiny())
    recs = {g: gs.stages for g, gs in groups.items()}
    made = []
    for g, st in recs.items():
        lo = min(s.submit_ms for s in st) - 50
        hi = max(s.complete_ms for s in st) + 30
        made.append(spans.Span(g, g.split("-")[-1], lo, hi))
    att = spans.attribute(made, groups, orphans)
    assert att["stages_unattributed"] == 1
    assert att["stages_outside_span"] == 0
    assert att["negative_gaps"] == 0
    for sp in made:
        x = att["splits"][sp.sid]
        assert x["driver_gap_ms"] >= 0
        assert x["stage_busy_ms"] + x["driver_gap_ms"] == pytest.approx(
            x["wall_ms"])


def test_split_flags_stage_outside_its_span():
    groups, orphans = spans.parse_event_log(_tiny())
    st = groups["t-00000-one"].stages[0]
    short = spans.Span("t-00000-one", "one", st.submit_ms + 5,
                       st.complete_ms + 10)
    att = spans.attribute([short], groups, orphans)
    assert att["stages_outside_span"] == 1
    # the second group has no recorded span: its stages are unattributed
    assert att["stages_unattributed"] == 1 + 2


def test_busy_is_union_of_intervals():
    assert spans.busy_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert spans.busy_ms([(0, 10), (2, 3)]) == 10
    assert spans.busy_ms([]) == 0


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 101))
    v, label = probes.tail(xs)
    assert v == 90 and label == "p90"
    assert sum(1 for x in xs if x > v) == 10
    assert probes.tail(list(range(10))) == (4.5, "p50")


def test_geomean_weighs_every_kind_alike():
    assert probes.geomean([1.0, 100.0]) == pytest.approx(10.0)
    # doubling any one kind moves the mean by the same factor
    assert probes.geomean([2.0, 100.0]) == pytest.approx(
        probes.geomean([1.0, 200.0]))


def test_tree_cpu_counts_child_processes():
    burn = "x = 0\nfor i in range(3_000_000): x += i"
    own0, tree0 = probes.cpu_s(False), probes.cpu_s(True)
    subprocess.run([sys.executable, "-c", burn], check=True)
    own, tree = probes.cpu_s(False) - own0, probes.cpu_s(True) - tree0
    assert tree - own > 0.05
    assert probes.calibration_ms() > 0


def test_loop_kinds_have_requests():
    for cycle, kinds in workloads.LOOPS.values():
        assert set(kinds) <= set(cycle)
        assert set(kinds["facet"]) <= set(workloads.FACET_KINDS)
        assert set(kinds["plugin"]) <= set(workloads.PLUGIN_KINDS)


def test_same_seed_same_inputs():
    a = corpus.make_docs(7, 0, 3000, 2000, 3600)
    b = corpus.make_docs(7, 0, 3000, 2000, 3600)
    assert a.equals(b)
    # any slice is the same rows however the corpus is cut
    assert corpus.make_docs(7, 1500, 700, 2000, 3600).equals(a.slice(1500, 700))
    assert not corpus.make_docs(8, 0, 3000, 2000, 3600).equals(a)
    qs = corpus.search_pool(7, 40)
    assert qs == corpus.search_pool(7, 40) and len(set(qs)) == 40
    assert corpus.facet_pool(7, qs, 24) == corpus.facet_pool(7, qs, 24)
    assert corpus.plugin_pool(7, qs, 21) == corpus.plugin_pool(7, qs, 21)
    assert corpus.fresh_queries(7, 64) == corpus.fresh_queries(7, 64)
    assert corpus.search_pool(8, 40) != qs


def test_fresh_queries_never_repeat_a_term():
    qs = corpus.fresh_queries(3, 4 * workloads.BURST)
    terms = [t for q in qs for t in q.split(" AND ")]
    assert len(terms) == len(set(terms)) == 2 * len(qs)


def test_slices_end_on_pid_boundaries():
    dpp, psec = workloads.DOCS_PER_PID, workloads.PARTITION_SECONDS
    t = corpus.make_docs(5, workloads.N_BASE - 2, 4, dpp, psec)
    us = t.column("warc_ts").cast("int64").to_numpy()
    pid = us // (psec * 1_000_000)
    # the base's last docs and the append's first docs sit in adjacent
    # pids, so an append never lands in an already-complete pid
    assert pid[0] == pid[1] and pid[2] == pid[3] == pid[1] + 1
    assert workloads.N_BASE % dpp == 0 and workloads.N_APPEND % dpp == 0


def _df(texts, langs, sites, term: str) -> int:
    if term.startswith("lang:"):
        return int(np.sum(langs == term[5:]))
    if term.startswith("site:"):
        lo, hi = term[6:-1].split(" TO ")
        return int(np.sum((sites >= int(lo)) & (sites <= int(hi))))
    pat = term[:-1] if term.endswith("*") else term
    hit = pc.match_substring_regex(texts, rf"(^| ){pat}\d*( |$)")
    return int(pc.sum(hit).as_py() or 0)


def test_serve_pool_postings_fit_the_default_lru():
    """The serve_hot pool's distinct fetch terms, summed over their doc
    frequency in the seed's corpus (the estimate explain() reports),
    stay well inside the engine's default decoded-postings LRU."""
    seed = 11
    t = corpus.make_docs(seed, 0, workloads.N_BASE + workloads.N_APPEND,
                         workloads.DOCS_PER_PID, workloads.PARTITION_SECONDS)
    texts = t.column("text")
    langs = t.column("lang").to_numpy(zero_copy_only=False)
    sites = np.array([int(u.split("site")[1].split(".")[0])
                      for u in t.column("url").to_pylist()])
    terms = {
        term
        for q in corpus.search_pool(seed, workloads.N_SEARCH)
        for term in re.findall(r"w\d+\*?|lang:\w+|site:\[\d+ TO \d+\]", q)
    }
    total = sum(_df(texts, langs, sites, term) for term in terms)
    assert 0 < total <= LRU_ENTRIES // 4, total


def test_run_fails_fast_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"),
                tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_hot",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
