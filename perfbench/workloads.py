"""The benchmark's set-up and its two measured loops, `serve_hot` and
`distributed`, against the public API of `miru_spark.index` and
`miru_spark.query`.

Every run performs the same set-up from the seed's corpus:

1. an untimed 1,000-doc warm-up build, then the scheduling-floor probe;
2. the timed bulk build of the 10,000-doc base (5 pids of 2,000 docs);
3. three engine opens, each followed by a burst of never-repeated
   serving searches (first touches: the decoded-postings cache is empty
   after every open).

The measured loop then runs for `--seconds` from one closed-loop client.
Op classes follow a fixed cycle, the kinds within a class a fixed
rotation and the requests of a kind the seed's pool in order, so every
seed measures the same mix of query shapes.

- `serve_hot` answers every op on the serving route (`local=True`, zero
  Spark jobs) after a warm pass over the whole pool, so the cache is hot;
- `distributed` answers every op on the kernel route (`local=False`, at
  least one Spark job) and checks each answer against the serving route;
  one untimed kernel op of each kind first starts the Python workers'
  code for it and the JVM's compilation of its plans.

Every op is timed twice: wall time, and CPU time. Serving ops run in
this process and take its CPU time; kernel ops and builds add that of
the JVM and its Python workers. Between ops, a fixed calibration task
samples the host's speed; the end-to-end costs are CPU times in units of
it (NOTES.md says why). Wall latencies go to the record.

A traced run then finishes the ingest sequence: the timed pid-aligned
append of a 4,000-doc micro-batch (2 new pids), a reopen with a burst and
a check set, the timed full compaction, and a reopen with a burst and the
same check set, which must answer as before.
"""

from __future__ import annotations

import gc
import os
import threading
import time
import traceback

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus
import probes
from spans import Spans

PARTITION_SECONDS = 3600
DOCS_PER_PID = 2000
N_WARM = 1000
N_BASE = 10_000
N_APPEND = 4000
BLOCK_SPAN = 512
EXTRA_FIELDS = ["tag"]
K = 10
BURST = 24
N_OPENS = 3
N_SEARCH, BATCH_SIZE, N_BATCH = 24, 5, 4
N_FACET_PER_KIND, N_PLUGIN_PER_KIND = 2, 1
CAL_EVERY_S = 0.25
STRUT_MODEL = "perfbench"
REL_TOL = 1e-9

FACET_KINDS = ["count", "waveform", "distincts", "distincts_wide", "metrics",
               "trending"]
PLUGIN_KINDS = ["features", "features_wide", "strut", "strut_wide", "reco",
                "inbox", "stumptown"]
# op-class cycle and per-class kind rotation of each loop; on the kernel
# route a facet or plugin op costs 0.7-6 s, so the distributed loop keeps
# to one facet and one plugin kind near 1 s, and one cycle takes ~4 s
LOOPS = {
    "serve_hot": (
        ["search", "facet", "search", "plugin", "search", "facet", "search",
         "batch"],
        {"facet": FACET_KINDS, "plugin": PLUGIN_KINDS},
    ),
    "distributed": (
        ["search", "facet", "search", "plugin", "batch"],
        {"facet": ["distincts"], "plugin": ["stumptown"]},
    ),
}


def _norm(x):
    """Answers as plain nested lists of Python scalars."""
    if isinstance(x, dict):
        return [[k, _norm(v)] for k, v in sorted(x.items())]
    if isinstance(x, (list, tuple, np.ndarray)):
        return [_norm(v) for v in x]
    if isinstance(x, np.generic):
        return x.item()
    return x


def same(a, b) -> bool:
    """Exact equality of answers, floats within a relative 1e-9 (the two
    routes may sum BM25 parts in a different order)."""
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b)))
    return a == b


class CorpusWriter(threading.Thread):
    """Writes the run's parquet inputs (warm-up, base, append slice) from
    the seed; started before Spark so it overlaps the JVM's start-up."""

    def __init__(self, work: str, seed: int):
        super().__init__()
        self.dir = os.path.join(work, "corpus")
        self.seed = seed
        self.error: BaseException | None = None

    def _write(self, name: str, table, row_group_size: int) -> None:
        pq.write_table(table, os.path.join(self.dir, f"{name}.parquet"),
                       row_group_size=row_group_size)

    def run(self) -> None:
        try:
            self._write_all()
        except BaseException as e:  # re-raised by result() in the main thread
            self.error = e

    def result(self):
        """(base table, base text bytes) once written; raises what the
        writer raised."""
        self.join()
        if self.error is not None:
            raise self.error
        return self.base_tbl, self.text_bytes

    def _write_all(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        self._write("warm", corpus.make_docs(
            self.seed + 1_000_003, 0, N_WARM, DOCS_PER_PID, PARTITION_SECONDS),
            1000)
        t = corpus.make_docs(self.seed, 0, N_BASE + N_APPEND, DOCS_PER_PID,
                             PARTITION_SECONDS)
        self.base_tbl = t.slice(0, N_BASE)
        self._write("base", self.base_tbl, 5000)
        self._write("append", t.slice(N_BASE, N_APPEND), 1000)
        self.text_bytes = pc.sum(
            pc.binary_length(self.base_tbl.column("text"))).as_py()


def collect_garbage(spark) -> None:
    """Full collections in the JVM and in this process before a timed
    phase, so that it starts from the same heap state in every run."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
    )


class Run:
    def __init__(self, spark, work: str, workload: str, seed: int,
                 seconds: float, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.workload = workload
        self.serving = workload == "serve_hot"
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.spans = Spans(self.sc, "pb")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rec: dict = {}
        self.kind_lat: dict[str, list] = {}
        self.loop_ops: list = []
        self.idx = os.path.join(work, "index")
        self.eng = None
        self.opens: list[float] = []
        self.fresh: list[float] = []
        self.fresh_cpu: list[float] = []
        self.cal: list[float] = []
        self.last_cal = 0.0
        self.fresh_qs = corpus.fresh_queries(seed, (N_OPENS + 2) * BURST)
        self.check_qs = corpus.search_pool(seed, 8, stream=6)
        self.strut_calls = 0

    # -- bookkeeping ----------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def calibrate(self) -> None:
        """Between ops, at most every CAL_EVERY_S: one sample of the
        calibration task, so the run's yardstick sees the host as the
        ops did."""
        now = time.perf_counter()
        if now - self.last_cal >= CAL_EVERY_S:
            self.cal.append(probes.calibration_ms())
            self.last_cal = now

    def timed(self, name: str, fn, per_op: bool = True, tree: bool = False):
        """Run one program call inside a span; an exception counts as a
        failed op and returns (None, None). `tree` adds the CPU time of
        the JVM and its workers to the span's (for Spark work)."""
        try:
            return self.spans.run(name, fn, per_op=per_op, tree=tree)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            traceback.print_exc()
            self.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
            return None, None

    def must(self, name: str, fn, tree: bool = False):
        out, sp = self.timed(name, fn, tree=tree)
        if sp is None:
            raise RuntimeError(f"{name} failed: {self.failures[-1]}")
        return out, sp

    def _build(self, name: str, src: str, index: str, resume: bool):
        from miru_spark.index import build_index

        path = os.path.join(self.work, "corpus", f"{src}.parquet")
        # the read plans inside the span: it may run a schema job
        return self.must(name, lambda: build_index(
            self.spark, self.spark.read.parquet(path), index,
            partition_seconds=PARTITION_SECONDS, block_span=BLOCK_SPAN,
            extra_fields=EXTRA_FIELDS, resume=resume,
        ), tree=True)

    # -- program calls ----------------------------------------------------

    def search(self, eng, q: str, local: bool):
        return _norm(eng.search_collect(q, k=K, local=local))

    def facet(self, eng, kind: str, q: str, local: bool):
        if kind == "count":
            return eng.count(q, local=local)
        if kind == "waveform":
            return _norm(eng.waveform(q, bucket_seconds=PARTITION_SECONDS,
                                      local=local))
        if kind == "distincts":
            return _norm(eng.distincts("lang", q, local=local))
        if kind == "distincts_wide":
            return _norm(eng.distincts("tag", q, local=local))
        if kind == "metrics":
            return _norm(eng.metrics("site", q, PARTITION_SECONDS, "avg",
                                     local=local))
        # trending has no route argument: it routes by the engine's
        # serving budget, which the kernel-route engine sets to 0
        return _norm(eng.trending("lang", q, bucket_seconds=PARTITION_SECONDS))

    def plugin(self, eng, kind: str, arg: str, local: bool):
        if kind == "features":
            return _norm(eng.gather_features(("lang", "site"), query=arg,
                                             local=local))
        if kind == "features_wide":
            return _norm(eng.gather_features(("tag", "lang"), query=arg,
                                             local=local))
        if kind in ("strut", "strut_wide"):
            # a distinct k per call keeps every request out of strut's
            # score memo, so the gather is what gets timed; the top-K
            # prefix is what the answer check compares
            self.strut_calls += 1
            cand, feat = ("lang", "site") if kind == "strut" else ("site", "tag")
            return _norm(eng.strut(
                cand, [(1.0, feat)], model_id=STRUT_MODEL,
                k=K + self.strut_calls, query=arg, local=local,
            ))[:K]
        if kind == "reco":
            return _norm(eng.reco(("lang", arg), "site", "lang", "doclen",
                                  k=K, local=local))
        if kind == "inbox":
            return _norm(eng.inbox(arg, item_field="site", stream_field="lang",
                                   count=K, local=local))
        return _norm(eng.stumptown(arg, bucket_seconds=PARTITION_SECONDS, k=K,
                                   local=local))

    def batch(self, eng, qs: list[str]):
        out = eng.search_many(qs, k=K)
        return [_norm(out[q]) for q in qs]

    def call(self, eng, cls: str, kind: str, arg, local: bool):
        if cls == "search":
            return self.search(eng, arg, local)
        if cls == "facet":
            return self.facet(eng, kind, arg, local)
        if cls == "plugin":
            return self.plugin(eng, kind, arg, local)
        return self.batch(eng, list(arg))

    # -- set-up ----------------------------------------------------------

    def setup(self, inputs: CorpusWriter) -> None:
        t_setup = time.perf_counter()
        self.base_tbl, self.text_bytes = inputs.result()
        self._build("warmup", "warm", os.path.join(self.work, "warm_index"),
                    resume=False)
        self.rec["host"] = {
            "nproc": probes.nproc(),
            "ram_bytes": probes.ram_bytes(),
            "heap": self.spark.conf.get("spark.driver.memory"),
            "spark_empty_job_ms": self.must(
                "empty_job_probe", lambda: probes.empty_job_ms(self.sc))[0],
        }
        collect_garbage(self.spark)
        rep, self.build_span = self._build("build", "base", self.idx,
                                           resume=False)
        self.check(rep.n_docs == N_BASE,
                   f"build indexed {rep.n_docs} of {N_BASE} docs")
        for _ in range(N_OPENS):
            self._reopen()
        self.rec["setup"] = {
            "open_s": list(self.opens),
            "build_s": self.build_span.wall_ms / 1e3,
            "build_cpu_s": self.build_span.cpu_ms / 1e3,
            "fresh_search_ms": probes.timing(self.fresh),
            "fresh_search_cpu_ms": probes.timing(self.fresh_cpu),
            "index_bytes": dir_bytes(self.idx),
            "text_bytes": self.text_bytes,
            "wall_s": time.perf_counter() - t_setup,
        }

    def _reopen(self, **kw) -> None:
        """Open a new engine on the index and answer a burst of fresh
        searches on it."""
        from miru_spark.query import SearchEngine

        if self.eng is not None:
            self.eng.close()
        self.eng, sp = self.must(
            "open", lambda: SearchEngine(self.spark, self.idx, **kw))
        self.opens.append(sp.wall_ms / 1e3)
        b = len(self.opens) - 1
        for q in self.fresh_qs[b * BURST:(b + 1) * BURST]:
            _, sp = self.timed("fresh_search",
                               lambda q=q: self.search(self.eng, q, True),
                               per_op=self.traced)
            if sp is not None:
                self.check(sp.jobs == 0,
                           f"serving search launched {sp.jobs} jobs")
                self.fresh.append(sp.wall_ms)
                self.fresh_cpu.append(sp.cpu_ms)
            self.calibrate()

    def _check_set(self) -> list:
        return [[self.search(self.eng, q, True), self.eng.count(q, local=True)]
                for q in self.check_qs]

    def ingest_tail(self) -> None:
        """Traced runs only, after the loop: append, reopen, compaction,
        reopen. The append must index its whole slice and every check-set
        answer must survive compaction."""
        from miru_spark.index import compact_index

        rep, self.append_span = self._build("append", "append", self.idx,
                                            resume=True)
        self.check(rep.n_docs == N_APPEND,
                   f"append indexed {rep.n_docs} of {N_APPEND} docs")
        self._reopen()
        before = self._check_set()
        self.eng.close()
        self.eng = None
        self.compact_rep, self.compact_span = self.must(
            "compact", lambda: compact_index(self.spark, self.idx))
        self._reopen()
        self.check(same(before, self._check_set()),
                   "an answer changed across compaction")
        self.rec["ingest"] = {
            "append_s": self.append_span.wall_ms / 1e3,
            "compact_s": self.compact_span.wall_ms / 1e3,
            "compact": self.compact_rep,
            "index_bytes": dir_bytes(self.idx),
        }

    # -- measured loop ---------------------------------------------------

    def pools(self) -> None:
        qs = corpus.search_pool(self.seed, N_SEARCH)
        self.rng = np.random.Generator(np.random.PCG64([self.seed, 7]))
        perm = self.rng.permutation(len(qs))
        self.pool = {
            "search": {"search": qs},
            "batch": {"batch": [
                tuple(qs[int(j)] for j in perm[b * BATCH_SIZE:(b + 1) * BATCH_SIZE])
                for b in range(N_BATCH)
            ]},
            "facet": {},
            "plugin": {},
        }
        terms = corpus.term_queries(self.seed, 16)
        for cls, reqs in (
            ("facet", corpus.facet_pool(
                self.seed, terms, N_FACET_PER_KIND * len(FACET_KINDS))),
            ("plugin", corpus.plugin_pool(
                self.seed, terms, N_PLUGIN_PER_KIND * len(PLUGIN_KINDS))),
        ):
            for kind, arg in reqs:
                self.pool[cls].setdefault(kind, []).append(arg)

    def reference(self, cls: str, kind: str, arg):
        """The serving-route answer, memoised per request."""
        key = (cls, kind, arg)
        if key not in self.refs:
            if cls == "batch":
                self.refs[key] = [self.reference("search", "search", q)
                                  for q in arg]
            else:
                self.refs[key] = self.call(self.eng, cls, kind, arg, True)
        return self.refs[key]

    def warm_pass(self) -> None:
        """Answer pool requests once on the serving route, recording the
        reference answers the loop is checked against: every request for
        serve_hot (this also fills the decoded-postings cache), the
        searches only for distributed (its other references are made when
        first needed). Search first-touch times feed
        engine.first_touch_ratio."""
        self.refs: dict = {}
        self.first_touch: list[float] = []
        classes = ["search", "facet", "plugin", "batch"]
        for cls in classes if self.serving else classes[:1]:
            for kind, args in self.pool[cls].items():
                for arg in args:
                    t0 = time.perf_counter()
                    try:
                        self.reference(cls, kind, arg)
                    except Exception as e:  # noqa: BLE001 - counted
                        traceback.print_exc()
                        self.check(False, f"warm {kind}: {type(e).__name__}: "
                                          f"{e}"[:300])
                        continue
                    if cls == "search":
                        self.first_touch.append(
                            (time.perf_counter() - t0) * 1e3)

    def loop(self) -> None:
        serving = self.serving
        eng = self.eng
        if not serving:
            # the kernel-route engine: a serving budget of 0 postings sends
            # search_many and trending to the kernel as well
            from miru_spark.query import SearchEngine

            self.eng_k, _ = self.must("open_kernel", lambda: SearchEngine(
                self.spark, self.idx, local_max_postings=0))
            eng = self.eng_k
            # the first kernel call of each kind starts the workers' code
            # for it and pays the JVM's first compilations: one of each
            # runs untimed, checked like the loop's
            _, kinds = LOOPS[self.workload]
            for cls, kind in ([("search", "search"), ("batch", "batch")]
                              + [(c, k) for c in kinds for k in kinds[c]]):
                arg = self.pool[cls][kind][0]
                ans, sp = self.timed("kernel_warm", lambda: self.call(
                    eng, cls, kind, arg, False))
                if sp is not None:
                    self.check(same(ans, self.reference(cls, kind, arg))
                               and sp.jobs >= 1,
                               f"kernel warm-up {kind} differs from serving")
        # serving ops are checked for zero jobs through one group around
        # the whole loop (untraced) or per op (traced); kernel ops always
        # get a per-op group so each can be checked for >= 1 job
        coarse = self.spans.group("loop") if serving and not self.traced else None
        collect_garbage(self.spark)
        cycle, kinds = LOOPS[self.workload]
        turn = {cls: 0 for cls in kinds}
        served: dict[str, int] = {}
        children0 = probes.children_cpu_s()
        t_loop = time.perf_counter()
        deadline = t_loop + self.seconds
        i = 0
        # one full cycle always runs, so every op class has a sample
        while time.perf_counter() < deadline or i < len(cycle):
            cls = cycle[i % len(cycle)]
            i += 1
            if cls in kinds:
                kind = kinds[cls][turn[cls] % len(kinds[cls])]
                turn[cls] += 1
            else:
                kind = cls
            self.calibrate()
            # each kind walks its pool in order, so every seed sees the
            # same sequence of query shapes
            args = self.pool[cls][kind]
            arg = args[served.get(kind, 0) % len(args)]
            served[kind] = served.get(kind, 0) + 1
            ans, sp = self.timed(
                f"{cls}.{kind}",
                lambda: self.call(eng, cls, kind, arg, serving),
                per_op=coarse is None, tree=not serving,
            )
            if sp is None:
                continue
            ok = same(ans, self.reference(cls, kind, arg))
            if serving:
                ok = self.check(ok and sp.jobs == 0,
                                f"serving {kind} wrong or launched {sp.jobs} jobs")
            else:
                ok = self.check(ok and sp.jobs >= 1,
                                f"kernel {kind} differs from serving or "
                                f"launched {sp.jobs} jobs")
            self.loop_ops.append((cls, kind, arg, sp))
            self.kind_lat.setdefault(kind, []).append(sp.wall_ms)
        if coarse is not None:
            jobs = self.spans.end_group(coarse)
            self.check(jobs == 0, f"serving loop launched {jobs} Spark jobs")
        if self.eng.strut_cache_hits:
            self.check(False, f"{self.eng.strut_cache_hits} strut memo hits")
        self.rec["loop"] = {"wall_s": time.perf_counter() - t_loop,
                            # the JVM's and the workers' CPU over the loop:
                            # near 0 on the serving route
                            "children_cpu_s": probes.children_cpu_s() - children0}
        for cls in dict.fromkeys(cycle):
            self.rec["loop"][cls] = {
                "wall_ms": probes.timing(self._ops(cls, "wall_ms")),
                "cpu_ms": probes.timing(self._ops(cls, "cpu_ms")),
            }
        self.rec["calibration_ms"] = probes.timing(self.cal)
        self.rec["loop"]["kinds"] = {
            k: {"wall_ms": probes.timing(self._ops(k, "wall_ms", by="kind")),
                "cpu_ms": probes.timing(self._ops(k, "cpu_ms", by="kind"))}
            for k in self.kind_lat}

    def _ops(self, key: str, field: str, by: str = "cls") -> list[float]:
        j = 0 if by == "cls" else 1
        return [getattr(op[3], field) for op in self.loop_ops if op[j] == key]

    # -- end-to-end metrics ----------------------------------------------

    def end_to_end(self) -> dict:
        """Set-up time, index size, and CPU costs in units of the run's
        calibration task: of the bulk build per 1,000 docs, and of the
        ops (medians per op class; facets and plugins as the geometric
        mean of each kind's median, so every kind weighs alike; batches
        per query)."""
        s = self.rec["setup"]
        _, kinds = LOOPS[self.workload]
        search = probes.timing(self._ops("search", "cpu_ms"))

        def per_kind(cls: str) -> float:
            return probes.geomean([
                probes.median(self._ops(k, "cpu_ms", by="kind"))
                for k in kinds[cls]])

        batches = [sp.cpu_ms / len(a) for cls, _k, a, sp in self.loop_ops
                   if cls == "batch"]
        cpu_ms = {
            "build_cost_per_kdoc": s["build_cpu_s"] * 1e3 / (N_BASE / 1e3),
            "fresh_search_cost": s["fresh_search_cpu_ms"]["p50"],
            "search_cost": search["p50"],
            "search_tail_cost": search["tail"],
            "facet_cost": per_kind("facet"),
            "plugin_cost": per_kind("plugin"),
            "batch_cost_per_query": probes.median(batches),
        }
        self.rec["cost_cpu_ms"] = cpu_ms
        cal = self.rec["calibration_ms"]["p50"]
        m = {
            "setup_s": (probes.median(self.opens), "s"),
            "index_bytes_per_text_byte": (
                s["index_bytes"] / s["text_bytes"], "B/B"),
            **{k: (v / cal, "cal") for k, v in cpu_ms.items()},
        }
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
