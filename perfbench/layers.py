"""Per-layer metrics of a traced run, computed from its spans.

Query-path layers report self time (span time minus what child spans,
including the ``exec.job`` spans of the Spark jobs it ran, cover) per
measured operation. Set-up layers (session, dictionary, sources) and the
pipeline stages report whole span time per call. A layer the workload
does not exercise reports 0.
"""

from __future__ import annotations

from tracer import self_times

UPDATE_KINDS = {"insert_data", "delete_data", "modify"}
SELF_MS = {  # metric -> span name, self time per measured operation
    "sparql_parser.parse_ms": "sparql_parser.parse",
    "rewrite.rewrite_ms": "rewrite.rewrite",
    "compiler.compile_ms": "compiler.compile",
    "store.scan_ms": "store.scan",
    "paths.eval_ms": "paths.eval",
    "catalyst.plan_ms": "catalyst.plan",
    "serializers.format_ms": "serializers.format",
}
STAGE_MS = {  # metric -> span name, whole span time per stage call
    "pipeline.dedup.exact_ms": "pipeline.dedup.exact",
    "pipeline.dedup.minhash_ms": "pipeline.dedup.minhash",
    "pipeline.text.filter_ms": "pipeline.text.filter",
    "pipeline.similarity.knn_ms": "pipeline.similarity.knn",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(ctx, wl, plain, traced) -> dict[str, tuple[float, str]]:
    spans = ctx.tracer.spans
    st = self_times(spans)
    measured = [s for s in spans if s.request is not None and s.request > 0]
    setup = [s for s in spans if s.request is not None and s.request < 0]
    ops = [s for s in measured if s.name == "op"]
    n = max(len(ops), 1)
    by_id = {s.id: s for s in spans}
    kind_of = {s.request: s.attrs.get("kind") for s in ops}
    jobs = [s for s in measured if s.name == "exec.job"]

    def named(name, pool=measured):
        return [s for s in pool if s.name == name]

    out: dict[str, tuple[float, str]] = {}
    out["session.start_s"] = (_mean(s.dur for s in named("session.start", setup)), "s")
    for metric, name in SELF_MS.items():
        out[metric] = (sum(st[s.id] for s in named(name)) * 1e3 / n, "ms")
    out["compiler.jvm_calls"] = (sum(s.jvm_calls for s in named("compiler.compile")) / n, "count")
    out["store.scan_calls"] = (len(named("store.scan")) / n, "count")
    read_reqs = {s.request for s in ops if "result_rows" in s.attrs}
    out["store.rows_scanned_per_result"] = (_ratio(
        sum(j.attrs["input_records"] for j in jobs if j.request in read_reqs),
        sum(s.attrs["result_rows"] for s in ops if s.request in read_reqs)), "ratio")
    out["paths.spark_jobs"] = (sum(
        1 for j in jobs if j.parent is not None and by_id[j.parent].name == "paths.eval") / n, "count")
    views = named("dictionary.view_build", setup)
    out["dictionary.view_build_s"] = (_mean(s.dur for s in views), "s")
    out["dictionary.n_terms"] = (float(views[-1].attrs.get("n_terms", 0)) if views else 0.0, "count")
    out["exec.job_ms"] = (sum(j.attrs["completed_ms"] - j.attrs["submitted_ms"] for j in jobs) / n, "ms")
    out["exec.jobs"] = (len(jobs) / n, "count")
    out["exec.tasks"] = (sum(j.attrs["tasks"] for j in jobs) / n, "count")
    out["exec.executor_cpu_ms"] = (sum(j.attrs["cpu_ms"] for j in jobs) / n, "ms")
    out["exec.gc_ms"] = (sum(j.attrs["gc_ms"] for j in jobs) / n, "ms")
    out["exec.shuffle_write_mb"] = (sum(j.attrs["shuffle_write_bytes"] for j in jobs) / 1e6 / n, "MB")
    out["serializers.bytes_out"] = (_mean(s.attrs["bytes_out"] for s in ops if "bytes_out" in s.attrs), "bytes")
    upd = {s.request for s in ops if s.attrs.get("kind") in UPDATE_KINDS}
    out["update.apply_ms"] = (_ratio(sum(
        st[s.id] for s in measured if s.request in upd and s.name in ("update.request", "update.plan")) * 1e3,
        len(upd)), "ms")
    out["update.rows_rewritten_per_row_changed"] = (_ratio(
        sum(j.attrs["input_records"] for j in jobs if j.request in upd),
        sum(s.attrs.get("quads_changed", 0) for s in ops if s.request in upd)), "ratio")
    loads = named("sources.load", setup)
    out["sources.load_ms"] = (_mean(s.dur for s in loads) * 1e3, "ms")
    out["sources.quads"] = (float(loads[-1].attrs["quads"]) if loads else 0.0, "count")
    for metric, name in STAGE_MS.items():
        out[metric] = (_mean(s.dur for s in named(name)) * 1e3, "ms")
    cands = getattr(wl, "candidates", 0)
    pairs = [s.attrs["result_rows"] for s in ops if kind_of.get(s.request) == "minhash"]
    out["pipeline.dedup.candidate_pairs"] = (float(cands), "count")
    out["pipeline.dedup.verify_yield"] = (_ratio(_mean(pairs), cands), "ratio")
    plain_ms, traced_ms = _mean(plain.latencies()) * 1e3, _mean(traced.latencies()) * 1e3
    out["trace.overhead_ms"] = (traced_ms - plain_ms, "ms")
    out["trace.overhead_pct"] = (_ratio(traced_ms - plain_ms, plain_ms) * 100, "%")
    out["trace.spans_per_op"] = (len(measured) / n, "count")
    return out
