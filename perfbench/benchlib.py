"""Pure functions that turn one run's raw observations into metrics.

Kept apart from run.py so the benchmark's own tests can exercise the
percentile rule, the self-time arithmetic and the summaries without a JVM.
"""
import statistics

# Span names recorded around calls into the program's layers.
SPANS = ["cycle", "jobs.raw.run", "sources.read", "ledger.append", "ledger.records",
         "jobs.prepared.promote", "orchestrate.compact", "catalog.register",
         "sql.read", "ops.construct", "spark.plan", "spark.exec", "table.snapshot"]
FAMILIES = ["Relational", "Dedup", "Similarity", "TextAnalysis", "Events", "Multimodal",
            "Sampling", "Embeddings", "Profiling", "table", "streaming"]
EXEC = ["jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes"]
# Layers whose Spark work is also reported on its own (by job group).
EXEC_LAYERS = ["jobs.raw.run", "jobs.prepared.promote", "orchestrate.compact",
               "ops.construct", "spark.exec"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_s_p50": "s", "op_s_tail": "s", "read_s_p50": "s",
    "read_s_tail": "s", "rows_per_s": "rows/s", "wall_s": "s", "cpu_s": "s",
    "rss_peak_mb": "MiB", "stored_bytes_per_input_byte": "ratio",
}


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    m = {
        "sources.read_s": "s", "sources.spark_jobs": "count",
        "jobs.raw.run_s": "s", "jobs.raw.bytes_written": "bytes",
        "jobs.raw.files_written": "count",
        "jobs.prepared.promote_s": "s", "jobs.prepared.rows_in": "rows",
        "jobs.prepared.rows_admitted": "rows", "jobs.prepared.admit_ratio": "ratio",
        "ledger.append_s": "s", "ledger.records_s": "s", "ledger.records_scanned": "count",
        "orchestrate.compact_s": "s", "orchestrate.rewrites": "count",
        "orchestrate.bytes_rewritten": "bytes", "orchestrate.files_before": "count",
        "orchestrate.files_after": "count",
        "catalog.register_s": "s",
        "table.snapshot_s": "s", "table.versions": "count", "table.live_files": "count",
        "table.dv_files": "count", "table.log_bytes": "bytes",
        "spark.plan.analysis_s": "s", "spark.plan.optimization_s": "s",
        "spark.plan.planning_s": "s",
    }
    for k in EXEC:
        m[f"spark.exec.{k}"] = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
    for layer in EXEC_LAYERS:
        m[f"{layer}.executor_cpu_s"] = "s"
        m[f"{layer}.jobs"] = "count"
    for s in SPANS:
        m[f"{s}.self_s"] = "s"
    for f in FAMILIES:
        m[f"{f}.op_s"] = "s"
        m[f"{f}.construct_jobs"] = "count"
    m["trace.overhead_s"] = "s"
    return m


def tail(values):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)th smallest of n samples. Returns (value, percentile, n). Below
    21 samples that percentile would not lie above the median, so the
    maximum is returned instead, with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 21:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def merged_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` are (id, name, parent, unit, start,
    end) tuples; returns {id: self}."""
    kids = {}
    for sid, _, parent, _, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _, _, _, s, e in spans:
        covered = merged_length([(max(s, cs), min(e, ce))
                                 for cs, ce in kids.get(sid, []) if ce > s and cs < e])
        out[sid] = (e - s) - covered
    return out


def end_to_end(res, workload):
    """End-to-end metrics of an untraced run."""
    units = res["units"]
    ops = [u["op_s"] for u in units]
    if workload == "operator_mix":
        reads = [u["op_s"] for u in units if u["family"] == "table"]
        unit_ids = {u["id"] for u in units}
        rows = sum(e["input_records"] for e in res["exec"] if e["unit"] in unit_ids)
        stored = res["log_fixture_bytes"] / res["fixture_bytes"]
    else:
        reads = [u["read_s"] for u in units]
        rows = sum(u["rows"] for u in units)
        stored = res["stored_bytes"] / res["input_bytes"]
    n = len(units)
    op_tail = tail(ops)
    read_tail = tail(reads)
    m = {
        "setup_s": res["setup_s"],
        "op_s_p50": statistics.median(ops),
        "op_s_tail": op_tail[0],
        "read_s_p50": statistics.median(reads),
        "read_s_tail": read_tail[0],
        "rows_per_s": rows / sum(ops),
        "wall_s": res["wall_s"] / n,
        "cpu_s": res["cpu_s"] / n,
        "rss_peak_mb": res["rss_peak_mb"],
        "stored_bytes_per_input_byte": stored,
    }
    samples = {"op_s_tail": {"percentile": op_tail[1], "n": op_tail[2]},
               "read_s_tail": {"percentile": read_tail[1], "n": read_tail[2]}}
    return m, samples


def per_layer(res, workload):
    """Per-layer metrics of a traced run, from its traced units only.
    Times and counts are means per traced unit of work (cycle or query);
    self times come from the spans."""
    traced = [u for u in res["units"] if u["traced"]]
    ids = {u["id"] for u in traced}
    n = max(1, len(traced))
    m = {k: 0.0 for k in per_layer_units()}

    spans = [tuple(s) for s in res["spans"]]
    selfs = self_times(spans)
    for sid, name, _, unit, s, e in spans:
        if unit in ids:
            key = "sources.read" if name == "ops.construct" else name
            if f"{key}_s" in m:
                m[f"{key}_s"] += (e - s) / 1e9 / n
            m[f"{name}.self_s"] += selfs[sid] / 1e9 / n

    for e in res["exec"]:
        if e["unit"] not in ids:
            continue
        for k in EXEC:
            m[f"spark.exec.{k}"] += e[k] / n
        if e["layer"] in EXEC_LAYERS:
            m[f"{e['layer']}.executor_cpu_s"] += e["executor_cpu_s"] / n
            m[f"{e['layer']}.jobs"] += e["jobs"] / n
        if e["layer"] in ("sources.read", "ops.construct"):
            m["sources.spark_jobs"] += e["jobs"] / n
        if e["layer"] == "orchestrate.compact":
            m["orchestrate.bytes_rewritten"] += e["output_bytes"] / n

    windows = sorted((u["start_ms"], u["end_ms"]) for u in traced)
    for phase, start, _end in res["plan"]:
        key = f"spark.plan.{phase}_s"
        if key in m and any(s <= start <= e for s, e in windows):
            m[key] += (_end - start) / 1e3 / n

    if workload == "operator_mix":
        for f in FAMILIES:
            fam = [u for u in res["units"] if u["family"] == f]
            if fam:
                m[f"{f}.op_s"] = statistics.mean(u["op_s"] for u in fam)
            fam_ids = {u["id"] for u in fam if u["traced"]}
            jobs = sum(e["jobs"] for e in res["exec"]
                       if e["unit"] in fam_ids and e["layer"] == "ops.construct")
            m[f"{f}.construct_jobs"] = jobs / max(1, len(fam_ids))
        table = res.get("table", {})
        for k in ("table.versions", "table.live_files", "table.dv_files", "table.log_bytes"):
            m[k] = table.get(k, 0.0)
        m["table.snapshot_s"] = sum((e - s) / 1e9 for _, name, _, unit, s, e in spans
                                    if unit == "table" and name == "table.snapshot")
    else:
        layer = [u["layer"] for u in traced]
        for k in ("jobs.raw.bytes_written", "jobs.raw.files_written", "jobs.prepared.rows_in",
                  "jobs.prepared.rows_admitted", "ledger.records_scanned",
                  "orchestrate.rewrites", "table.versions", "table.live_files",
                  "table.dv_files", "table.log_bytes"):
            m[k] = sum(x.get(k, 0.0) for x in layer) / n
        rows_in = sum(x.get("jobs.prepared.rows_in", 0.0) for x in layer)
        m["jobs.prepared.admit_ratio"] = (
            sum(x.get("jobs.prepared.rows_admitted", 0.0) for x in layer) / rows_in
            if rows_in else 0.0)
        rewrites = sum(x.get("orchestrate.rewrites", 0.0) for x in layer)
        if rewrites:
            m["orchestrate.files_before"] = sum(
                x.get("orchestrate.files_before", 0.0) for x in layer) / rewrites
            m["orchestrate.files_after"] = sum(
                x.get("orchestrate.files_after", 0.0) for x in layer) / rewrites

    m["trace.overhead_s"] = trace_overhead(res["units"])
    return m


def trace_overhead(units):
    """Traced minus untraced mean unit latency, compared within each query
    (a traced operator_mix run runs every query twice in a row, once traced
    and once untraced) or over all cycles (pipelines), then averaged."""
    groups = {}
    for u in units:
        groups.setdefault(u.get("name", ""), {True: [], False: []})[u["traced"]].append(u["op_s"])
    diffs = [statistics.mean(g[True]) - statistics.mean(g[False])
             for g in groups.values() if g[True] and g[False]]
    return statistics.mean(diffs) if diffs else 0.0
