"""End-to-end and per-layer metrics of one run, its record and its report.

End-to-end metrics (``--trace 0``) have one meaning per workload:

=================  ==================  ===============  =====================
metric             ingest              serve            batch
=================  ==================  ===============  =====================
throughput_per_s   input records/s     requests/s       query executions/s
op_p50_ms          incremental batch   request          pass
op_p95_ms          (same)              (same)           (same)
=================  ==================  ===============  =====================

plus ``setup_s`` and ``peak_rss_mb`` everywhere.  A ``batch`` pass is the
summed time of every query in one pass.  The workload-named figures
(``ingest_records_per_s``, ``serve_p95_ms``, ``batch_curation_s`` ...) are
printed and recorded too.  Per-layer metrics (``--trace 1``) are normalised
per operation (batch, request) or per pass (batch); a layer that does not run
on a workload reports 0.
"""

from __future__ import annotations

import statistics

from workloads import BATCH_GROUPS, percentile

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p95_ms": "ms",
}

PER_LAYER = {  # name -> unit, in BENCHMARK.json order
    "session.start_s": "s",
    "sources.exec_s": "s", "sources.tasks": "count", "sources.files_read": "count",
    "validate.exec_s": "s", "validate.reject_ratio": "ratio",
    "fhir.exec_s": "s", "normalize.exec_s": "s",
    "persist.merge_s": "s", "persist.state_rows_read": "count",
    "persist.rows_written_per_effective_write": "ratio", "persist.bytes_written": "bytes",
    "persist.files_written": "count", "persist.insert": "count", "persist.update": "count",
    "persist.noop": "count",
    "audit.exec_s": "s", "audit.lines_per_effective_write": "ratio",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.side_count_jobs": "count",
    "plans.build_s": "s", "plans.build_jobs": "count", "materialize.jobs": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.tasks_per_shuffle_stage": "count", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.fetch_wait_s": "s", "exec.spill_bytes": "bytes",
    "exec.gc_s": "s", "exec.cpu_s": "s", "exec.input_records": "count", "exec.python_run_s": "s",
    "exec.python_bytes": "bytes",
    "serve.q1_p50_ms": "ms", "serve.q2_p50_ms": "ms", "serve.q2_page_p50_ms": "ms",
    "serve.q3_p50_ms": "ms", "serve.jobs_per_request": "count", "serve.files_read_per_request": "count",
    "serve.rows_scanned_per_row_returned": "ratio",
    "batch.curation_s": "s", "batch.analytics_s": "s",
    "trace.op_ms": "ms",
}

OP_SPANS = {"ingest": ("ingest.batch",), "serve": ("serve.q1", "serve.q2", "serve.q2_page", "serve.q3"),
            "batch": tuple(f"batch.{g}" for g in BATCH_GROUPS)}


def end_to_end(wl, ops, setup_s: float, rss_mb: float) -> dict:
    lat = wl.latencies(ops)
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
        "throughput_per_s": wl.work(ops) / sum(o.seconds for o in ops),
        "op_p50_ms": percentile(lat, 50) * 1000,
        "op_p95_ms": percentile(lat, 95) * 1000,
    }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(workload: str, wl, tracer, per_span: dict, ops, session_s: float) -> dict:
    """Per-layer metrics from the traced run's spans and event-log sums."""
    import spans as tr

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_s
    S = tracer.spans
    op_spans = [s for s in S if s.name in OP_SPANS[workload]]
    op_ids = tr.descendants(tracer, {s.id for s in op_spans})
    units = len(wl.passes) if workload == "batch" else len(op_spans)  # normaliser
    under = lambda pred: tr.rollup(tracer, per_span, lambda s: s.id in op_ids and pred(s))  # noqa: E731

    ex = under(lambda s: True)
    for k, src in [("exec.jobs", "jobs"), ("exec.stages", "stages"), ("exec.tasks", "tasks"),
                   ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
                   ("exec.shuffle_read_bytes", "shuffle_read_bytes"), ("exec.fetch_wait_s", "fetch_wait_s"),
                   ("exec.spill_bytes", "spill_bytes"), ("exec.gc_s", "gc_s"), ("exec.cpu_s", "cpu_s"),
                   ("exec.input_records", "input_records"), ("exec.python_run_s", "python_run_s"),
                   ("exec.python_bytes", "python_bytes")]:
        m[k] = _ratio(ex[src], units)
    m["exec.s"] = _ratio(tr.busy_seconds(per_span, op_ids), units)
    m["exec.tasks_per_shuffle_stage"] = _ratio(ex["shuffle_stage_tasks"], ex["shuffle_stages"])
    m["trace.op_ms"] = statistics.fmean(o.seconds for o in ops) * 1000
    cat = [s.dur for s in S if s.name == "catalyst.plan" and s.id in op_ids]

    if workload == "ingest":
        probes = {}
        for s in S:
            if s.name.startswith("probe."):
                probes.setdefault(s.op, {})[s.name[6:]] = s
        chain = ["sources", "validate", "fhir", "normalize"]
        for i, layer in enumerate(chain):
            m[f"{layer}.exec_s"] = statistics.median(
                p[layer].dur - (p[chain[i - 1]].dur if i else 0.0) for p in probes.values())
        src = tr.rollup(tracer, per_span, lambda s: s.name == "probe.sources")
        m["sources.tasks"] = _ratio(src["tasks"], len(probes))
        m["sources.files_read"] = _ratio(src["files_read"], len(probes))
        d = [o.detail for o in ops if "dto_valid" in o.detail]
        parsed = sum(x["dto_valid"] + x["dto_invalid"] + x["fhir_invalid"] for x in d)
        m["validate.reject_ratio"] = _ratio(sum(x["dto_invalid"] for x in d), parsed)
        effective = sum(x.get("insert", 0) + x.get("update", 0) for x in d)
        for a in ("insert", "update", "noop"):
            m[f"persist.{a}"] = _ratio(sum(x.get(a, 0) for x in d), len(d))
        per = under(lambda s: s.name.startswith("persist."))
        m["persist.merge_s"] = _ratio(sum(s.dur for s in S if s.id in op_ids and s.name.startswith("persist.")), units)
        m["persist.state_rows_read"] = _ratio(per["scan_rows_parquet"], units)
        pw = under(lambda s: s.name == "persist.parquet")
        m["persist.rows_written_per_effective_write"] = _ratio(pw["output_records"], effective)
        m["persist.bytes_written"] = _ratio(pw["output_bytes"], units)
        m["persist.files_written"] = _ratio(pw["files_written"], units)
        aud = under(lambda s: s.name.startswith("audit."))
        m["audit.exec_s"] = _ratio(sum(s.dur for s in S if s.id in op_ids and s.name.startswith("audit.")), units)
        m["audit.lines_per_effective_write"] = _ratio(aud["output_records"], effective)
        m["pipeline.jobs"] = m["exec.jobs"]
        m["pipeline.stages"] = m["exec.stages"]
        m["pipeline.tasks"] = m["exec.tasks"]
        m["pipeline.side_count_jobs"] = _ratio(under(lambda s: s.name == "pipeline.count")["jobs"], units)
        m["materialize.jobs"] = _ratio(under(lambda s: s.attrs.get("materialize"))["jobs"], units)
    elif workload == "serve":
        for kind in ("q1", "q2", "q2_page", "q3"):
            d = [s.dur * 1000 for s in op_spans if s.name == f"serve.{kind}"]
            m[f"serve.{kind}_p50_ms"] = statistics.median(d) if d else 0.0
        m["serve.jobs_per_request"] = m["exec.jobs"]
        m["serve.files_read_per_request"] = _ratio(ex["files_read"], units)
        m["serve.rows_scanned_per_row_returned"] = _ratio(ex["scan_rows_parquet"], wl.rows_returned)
        m["catalyst.plan_s"] = statistics.median(cat) if cat else 0.0
        setup = tr.rollup(tracer, per_span, lambda s: s.name.startswith("persist.")
                          or s.name == "serve.setup_merge")
        m["persist.merge_s"] = sum(s.dur for s in S if s.name == "serve.setup_merge")
        m["persist.bytes_written"] = setup["output_bytes"]
        m["persist.files_written"] = setup["files_written"]
    else:
        builds = [s for s in S if s.name == "plans.build" and s.id in op_ids]
        build_ids = tr.descendants(tracer, {b.id for b in builds})
        m["plans.build_s"] = _ratio(sum(s.dur for s in builds), units)
        m["plans.build_jobs"] = _ratio(tr.rollup(tracer, per_span, lambda s: s.id in build_ids)["jobs"], units)
        m["materialize.jobs"] = _ratio(under(lambda s: s.attrs.get("materialize"))["jobs"], units)
        m["catalyst.plan_s"] = _ratio(sum(cat), units)
        for g in BATCH_GROUPS:
            m[f"batch.{g}_s"] = statistics.fmean(p[g] for p in wl.passes)
    return m


def build_record(workload, wl, ctx, ops, per_span, *, env, setup_s, session_s, loop_s, rss_mb, final_ok) -> dict:
    checks = ctx.checks + [("final", final_ok)]
    attempted = len(checks) + len(ops)
    failed = sum(1 for _, ok in checks if not ok) + sum(1 for o in ops if not o.ok)
    e2e = end_to_end(wl, ops, setup_s, rss_mb)
    named = wl.summary(ops)
    named["failed_frac"] = (failed / attempted, "ratio", attempted)
    rec = {
        "workload": workload,
        "env": env,
        "loop_s": loop_s,
        "session_s": session_s,
        "setup_phases": ctx.setup_phases,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "n": len(wl.latencies(ops))} for k, v in e2e.items()},
        "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()},
        "checks": [{"name": n, "ok": ok} for n, ok in checks],
        "ops": [{"kind": o.kind, "id": o.id, "seconds": o.seconds, "ok": o.ok, **(o.detail or {})} for o in ops],
    }
    for k in ("setup_s", "peak_rss_mb"):
        rec["end_to_end"][k]["n"] = 1
    if ctx.trace:
        layers = per_layer(workload, wl, ctx.tracer, per_span, ops, session_s)
        rec["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        rec["op_layers"] = op_rows(workload, ctx.tracer, per_span)
        shown = rec["per_layer"]
    else:
        shown = {k: {"value": v["value"], "unit": v["unit"]} for k, v in rec["end_to_end"].items()}
    rec["result"] = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": shown}
    return rec


def op_rows(workload, tracer, per_span) -> list[dict]:
    """One row per traced operation under the layer-metric names, so a slow
    query or request can be explained from the record alone."""
    import spans as tr

    self_t = tracer.self_times()
    rows = []
    for s in tracer.spans:
        if s.name not in OP_SPANS[workload] and s.name != "probe":
            continue
        ids = tr.descendants(tracer, {s.id})
        x = tr.rollup(tracer, per_span, lambda c: c.id in ids)
        layer_s: dict[str, float] = {}
        for c in tracer.spans:
            if c.id in ids:
                layer_s[c.name] = layer_s.get(c.name, 0.0) + self_t[c.id]
        rows.append({
            "span": s.name, "op": s.op, **s.attrs, "seconds": s.dur,
            "self_s_by_span": layer_s,
            "exec.s": tr.busy_seconds(per_span, ids), "exec.jobs": x["jobs"], "exec.stages": x["stages"],
            "exec.tasks": x["tasks"], "exec.shuffle_read_bytes": x["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": x["shuffle_write_bytes"], "exec.gc_s": x["gc_s"],
            "exec.cpu_s": x["cpu_s"], "exec.input_records": x["input_records"],
            "exec.python_run_s": x["python_run_s"], "exec.files_read": x["files_read"],
            "exec.scan_rows_parquet": x["scan_rows_parquet"],
        })
    return rows


def print_report(rec: dict) -> None:
    env = rec["env"]
    print("env " + " ".join(f"{k}={v}" for k, v in env.items()))
    for sec in ("end_to_end", "named", "per_layer"):
        for k, v in rec.get(sec, {}).items():
            n = v.get("n")
            print(f"metric {k} = {v['value']:.6g} {v['unit']}" + (f" (n={n})" if n is not None else ""))
    bad = [c["name"] for c in rec["checks"] if not c["ok"]]
    print(f"checks {len(rec['checks'])} set-up/final + {len(rec['ops'])} operations; failed: {bad or 'none'}"
          f"{'' if all(o['ok'] for o in rec['ops']) else ' + operations'}")
