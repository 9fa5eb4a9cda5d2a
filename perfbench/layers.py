"""Traced-run extras and the per-layer metrics.

`probe(run)` runs, while Spark is up and before the ingest tail, the
extra calls a traced run makes: single-layer microbenchmarks, explain()
planning, a repeat pass for the first-touch ratio, a serving-route call
of every facet and plugin kind the loop did not time on that route,
kernel-route searches for serve_hot, and the tracing-overhead pairs.
`finish(run, log_dir)` attributes the event log's stages to the spans
after Spark has stopped and returns the per-layer metrics.
"""

from __future__ import annotations

import time

import probes
import spans
from workloads import FACET_KINDS, K, N_APPEND, N_BASE, PLUGIN_KINDS, same

N_KERNEL_PROBE = 4
N_OVERHEAD_PAIRS = 8
# the engine's default decoded-postings LRU: 2 x local_max_postings (8M)
LRU_ENTRIES = 16_000_000


def probe(run) -> None:
    serving = run.serving
    x = run.rec.setdefault("probe", {})
    texts = run.base_tbl.column("text").slice(0, 2000).to_pylist()
    x["analyzer.tokens_per_s"] = probes.analyzer_tokens_per_s(texts)
    blobs, _ = run.must("codec_sample", lambda: [
        r.as_py() for r in run.eng.postings.select("ids_bin").limit(20_000)
        .toArrow().column(0)
    ])
    x["codec.encode_postings_per_s"], x["codec.decode_postings_per_s"] = (
        probes.codec_postings_per_s(blobs))
    qs = run.pool["search"]["search"]
    x["queryparse.parse_us"] = probes.parse_us(qs)

    est, rows, explain_ms = 0, 0, []
    for q in qs:
        plan, sp = run.must("explain", lambda q=q: run.eng.explain(q, k=K))
        run.check(sp.jobs == 0, f"explain launched {sp.jobs} jobs")
        explain_ms.append(sp.wall_ms)
        est += plan["estimated_postings"]
        rows += len(run.reference("search", "search", q))
    x["engine.explain_ms"] = probes.median(explain_ms)
    x["engine.postings_per_result"] = est / max(rows, 1)
    # the pool's postings must sit well inside the decoded-postings LRU,
    # or serve_hot would measure evictions instead of a hot cache
    run.rec["pool_estimated_postings"] = est
    run.check(est <= LRU_ENTRIES // 4,
              f"search pool estimates {est} postings, over a quarter of the LRU")

    repeat = []
    for q in qs:
        _, sp = run.must("repeat_search",
                         lambda q=q: run.search(run.eng, q, True))
        run.check(sp.jobs == 0, f"serving search launched {sp.jobs} jobs")
        repeat.append(sp.wall_ms)
    x["engine.first_touch_ratio"] = (
        probes.median(run.first_touch) / probes.median(repeat))

    # facet.* and plugin.* are serving-route per-op times: serve_hot takes
    # them from its loop, and every kind it did not reach (all of them for
    # distributed) gets one timed call after the warming reference call
    run.serving_kind_lat = dict(run.kind_lat) if serving else {}
    for cls, kinds in (("facet", FACET_KINDS), ("plugin", PLUGIN_KINDS)):
        for kind in kinds:
            if kind in run.serving_kind_lat:
                continue
            arg = run.pool[cls][kind][0]
            ref = run.reference(cls, kind, arg)
            ans, sp = run.must(f"probe.{kind}", lambda: run.call(
                run.eng, cls, kind, arg, True))
            run.check(same(ans, ref) and sp.jobs == 0,
                      f"serving {kind} changed its answer or launched jobs")
            run.serving_kind_lat[kind] = [sp.wall_ms]

    # serve_hot has no kernel op of its own: a few kernel searches give
    # the dist.* layer split and a route cross-check
    run.kernel_spans = [sp for cls, _k, _a, sp in run.loop_ops
                        if cls == "search" and not serving]
    if serving:
        for q in qs[:N_KERNEL_PROBE]:
            ans, sp = run.must("kernel_search",
                               lambda q=q: run.search(run.eng, q, False))
            run.check(same(ans, run.reference("search", "search", q))
                      and sp.jobs >= 1, "kernel probe differs from serving")
            run.kernel_spans.append(sp)

    # tracing overhead: the same searches with and without a per-op span,
    # interleaved; the calls without one run under a shared job group
    eng = run.eng if serving else run.eng_k
    off_sid = run.spans.group("overhead_off")
    on, off = [], []
    for q in qs[:N_OVERHEAD_PAIRS if serving else N_KERNEL_PROBE]:
        run.sc.setJobGroup(off_sid, "overhead_off")
        t0 = time.perf_counter()
        run.search(eng, q, serving)
        off.append(time.perf_counter() - t0)
        run.sc.setLocalProperty("spark.jobGroup.id", None)
        t0 = time.perf_counter()
        run.spans.run("overhead_on", lambda q=q: run.search(eng, q, serving))
        on.append(time.perf_counter() - t0)
    run.spans.end_group(off_sid)
    x["trace.overhead_ratio"] = probes.median(on) / probes.median(off)
    if not serving:
        run.eng_k.close()


def finish(run, log_dir: str) -> dict:
    """After Spark has stopped: attribute the event log's stages to the
    run's spans, check the attribution, record the layer splits and
    return the per-layer metrics."""
    groups, orphans = spans.parse_event_log(spans.event_log_lines(log_dir))
    attrib = spans.attribute(run.spans.spans, groups, orphans)
    run.check(attrib["stages_unattributed"] == 0,
              f"{attrib['stages_unattributed']} stages outside any span")
    run.check(attrib["stages_outside_span"] == 0,
              f"{attrib['stages_outside_span']} stages cross their span's bounds")
    run.check(attrib["negative_gaps"] == 0,
              f"{attrib['negative_gaps']} spans with stage time above wall time")
    split = attrib["splits"]
    run.rec["trace"] = {k: v for k, v in attrib.items() if k != "splits"}
    run.rec["trace"]["layer_split"] = {
        s.name: split[s.sid]
        for s in (run.build_span, run.append_span, run.compact_span)
    }
    run.rec["trace"]["layer_split"]["kernel_searches"] = [
        split[s.sid] for s in run.kernel_spans]
    return {k: {"value": float(v), "unit": unit(k)}
            for k, v in per_layer(run, split).items()}


def _split_metrics(x: dict, name: str, s: dict) -> None:
    x[f"{name}.wall_s"] = s["wall_ms"] / 1e3
    x[f"{name}.stage_busy_s"] = s["stage_busy_ms"] / 1e3
    x[f"{name}.driver_gap_s"] = s["driver_gap_ms"] / 1e3
    x[f"{name}.executor_cpu_s"] = s["executor_cpu_ms"] / 1e3
    x[f"{name}.gc_s"] = s["gc_ms"] / 1e3
    x[f"{name}.jobs"] = s["jobs"]
    x[f"{name}.tasks"] = s["tasks"]


def per_layer(run, sp: dict) -> dict:
    x = dict(run.rec["probe"])
    b = sp[run.build_span.sid]
    _split_metrics(x, "build", b)
    x["build.shuffle_write_bytes_per_doc"] = b["shuffle_write_bytes"] / N_BASE
    x["build.spill_bytes"] = b["spill_bytes"]
    x["build.output_bytes_per_doc"] = b["output_bytes"] / N_BASE
    _split_metrics(x, "append", sp[run.append_span.sid])
    x["append.docs_per_s"] = N_APPEND / (run.append_span.wall_ms / 1e3)
    c = sp[run.compact_span.sid]
    x["compact.wall_s"] = c["wall_ms"] / 1e3
    x["compact.files_before"] = run.compact_rep["files_before"]
    x["compact.files_after"] = run.compact_rep["files_after"]
    x["compact.bytes_rewritten"] = c["output_bytes"]
    x["compact.driver_gap_s"] = c["driver_gap_ms"] / 1e3
    x["compact.executor_cpu_s"] = c["executor_cpu_ms"] / 1e3
    x["engine.open_s"] = probes.median(run.opens)

    names = {"fresh_search", "repeat_search"}
    names |= {f"probe.{k}" for k in FACET_KINDS + PLUGIN_KINDS}
    if run.serving:
        names |= {f"{c}.{k}" for c, k in (
            [("search", "search"), ("batch", "batch")]
            + [("facet", k) for k in FACET_KINDS]
            + [("plugin", k) for k in PLUGIN_KINDS])}
    serving = [s for s in run.spans.spans if s.name in names]
    x["engine.serving_jobs_per_op"] = (
        sum(sp[s.sid]["jobs"] for s in serving) / len(serving))
    for kind in FACET_KINDS:
        x[f"facet.{kind}_ms"] = probes.median(run.serving_kind_lat[kind])
    for kind in PLUGIN_KINDS:
        x[f"plugin.{kind}_ms"] = probes.median(run.serving_kind_lat[kind])
    x["spark.empty_job_ms"] = run.rec["host"]["spark_empty_job_ms"]
    x["host.mem_bw_gbps"] = run.rec["host"]["mem_bw_gbps"]
    x["host.calibration_ms"] = run.rec["calibration_ms"]["p50"]

    ks = [sp[s.sid] for s in run.kernel_spans]
    for key, name in (("jobs", "jobs_per_query"),
                      ("stages", "stages_per_query"),
                      ("tasks", "tasks_per_query"),
                      ("stage_busy_ms", "stage_busy_ms"),
                      ("driver_gap_ms", "driver_gap_ms"),
                      ("executor_cpu_ms", "executor_cpu_ms"),
                      ("shuffle_bytes", "shuffle_bytes_per_query")):
        x[f"dist.{name}"] = probes.median([s[key] for s in ks])
    return x


UNITS = {
    "analyzer.tokens_per_s": "tokens/s",
    "codec.encode_postings_per_s": "postings/s",
    "codec.decode_postings_per_s": "postings/s",
    "queryparse.parse_us": "us",
    "build.shuffle_write_bytes_per_doc": "B/doc",
    "build.spill_bytes": "B",
    "build.output_bytes_per_doc": "B/doc",
    "append.docs_per_s": "docs/s",
    "compact.bytes_rewritten": "B",
    "engine.first_touch_ratio": "ratio",
    "engine.postings_per_result": "postings/row",
    "engine.serving_jobs_per_op": "jobs/op",
    "host.mem_bw_gbps": "GB/s",
    "dist.shuffle_bytes_per_query": "B",
    "trace.overhead_ratio": "ratio",
}


def unit(name: str) -> str:
    """Units follow the name's suffix unless listed above."""
    if name in UNITS:
        return UNITS[name]
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "ms": "ms", "us": "us"}.get(suffix, "count")
