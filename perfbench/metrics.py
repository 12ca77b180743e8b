"""Turns the JVM side's raw samples into the benchmark's metrics.

Pure functions over the raw JSON that `perfbench.Main` writes, so the
rules (percentiles, failure counting, span self time) are testable
without Spark. See perfbench/README.md for every metric's definition.
"""
import json
import statistics

# name -> unit, in the order they are printed
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_ms": "ms",
}

CRAWL_STAGES = [
    "c1_crawldb_merge", "c2_crawldb_incremental", "g5_pagerank", "g12_ppr",
    "g17_components", "d4_simhash_lsh", "d12_lsh_recall",
    "lg1_topk_per_host", "lg2_bundles", "lg3_segments", "lg4_high_value_urls",
    "lg5_recrawl_due", "lg6_politeness_schedule", "lg7_frontier_priority",
    "lg8_sitemap_frontier",
]

PER_LAYER = {
    "op_tail_ms": "ms",
    "build_ms": "ms",
    "plan_ms": "ms",
    "codegen_ms": "ms",
    "codegen_classes": "count",
    **{f"stage.{s}_s": "s" for s in CRAWL_STAGES},
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "family.x_s": "s",
    "family.m_s": "s",
    "family.u_s": "s",
    "executor_cpu_s": "s",
    "input_mb": "MB",
    "input_rows": "count",
    "index_ms": "ms",
    "page_exec_ms": "ms",
    "cache_hit_ratio": "ratio",
    "cache_build_ms": "ms",
    "cache_write_mb_per_build": "MB",
    "rows_read_per_row_returned": "ratio",
    "http_ms": "ms",
    "build_p50_ms": "ms",
    "gc_s": "s",
    "cached_left": "count",
    "self.op_ms": "ms",
    "self.build_ms": "ms",
    "self.exec_ms": "ms",
    "self.plan_ms": "ms",
    "self.http_ms": "ms",
    "self.index_ms": "ms",
    "self.page_ms": "ms",
    "trace_overhead_pct": "%",
}

# candidate percentiles for the tail, highest first
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    k = max(1, -(-p * len(s) // 100))  # ceil(p*n/100)
    return s[int(k) - 1]


def tail(xs):
    """(p, value): the highest candidate percentile with at least ten
    samples beyond it, so the tail is never one or two outliers."""
    for p in TAIL_PERCENTILES:
        if len(xs) * (100 - p) / 100 >= 10:
            return p, percentile(xs, p)
    return 50, percentile(xs, 50) if xs else 0.0


def failures(ops):
    """(attempted, failed, failed_frac). Every operation counts once; an
    exception or a non-200 reply marks it failed."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed, (failed / attempted if attempted else 1.0)


def self_times(spans):
    """span id -> self time in ms: the span's duration minus the part of
    its interval that its children cover (overlapping children count
    once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def _latencies(workload, ops):
    """The operations whose latency a user waits on: page reads when
    serving, stages in a batch."""
    return [o["lat_ms"] for o in ops
            if o["ok"] and (workload != "serve_pages" or o["kind"] == "page")]


def op_ms(workload, ops):
    """Typical operation latency: the median page read when serving; the
    geometric mean of the stage latencies in a batch, whose stages are
    different queries, so each stage's relative change weighs the same."""
    xs = _latencies(workload, ops)
    if not xs:
        return 0.0
    return median(xs) if workload == "serve_pages" else statistics.geometric_mean(xs)


def block_wall(ops, block):
    """Serving: seconds per block of requests, from the completions up to
    the last request's dispatch, while every client was still busy; the
    drain after it, a few long requests finishing alone, is left out.
    Every block has the same mix, so this is the closed loop's throughput
    read as a time."""
    last = max(o["start_ms"] for o in ops)
    done = sum(1 for o in ops if o["start_ms"] + o["lat_ms"] <= last)
    return last / 1e3 * block / done if done else 0.0


def end_to_end(workload, raw):
    """Metrics of an untraced run from the JVM's raw samples, plus the
    details printed beside them."""
    ops = raw["ops"]
    wall = raw["pass"]["wall_s"]
    lat = _latencies(workload, ops)
    p, t = tail(lat) if lat else (50, 0.0)
    detail = {f"op_p{p}_ms": t, "op_samples": len(lat)}
    if workload == "serve_pages":
        by_query = {}
        for o in ops:
            if o["kind"] == "page" and o["ok"]:
                by_query.setdefault(o["name"], []).append(o["lat_ms"])
        misses = [o["lat_ms"] for o in ops if o["kind"] == "miss" and o["ok"]]
        detail.update({
            "page_p50_ms": median(lat), "pages_per_s": len(lat) / wall,
            "build_p50_ms": median(misses), "misses": len(misses), "clients": raw["clients"],
            "page_p50_ms_by_query": {q: median(v) for q, v in sorted(by_query.items())},
        })
        wall = block_wall(ops, raw["block"])
    else:
        detail["stage_ms"] = {o["name"]: round(o["lat_ms"], 1) for o in ops}
    attempted, failed, frac = failures(ops)
    detail.update({"attempted": attempted, "failed": failed, "failed_frac": frac,
                   "cached_left": raw["cached_left"]})
    metrics = {"setup_s": raw["setup_s"], "wall_s": wall, "op_ms": op_ms(workload, ops)}
    return metrics, detail, attempted, failed


def per_layer(workload, raw, base_wall_s=None):
    """Per-layer metrics of a traced run: totals over the timed pass
    (batch workloads), or per traced request (serve_pages). Layers a
    workload does not touch read 0. `base_wall_s` is the wall_s of an
    untraced pass of the same seed, the base of a batch run's tracing
    overhead."""
    m = {k: 0.0 for k in PER_LAYER}
    spans = raw.get("spans", [])
    selfs = self_times(spans)
    m["cached_left"] = raw["cached_left"]
    m["gc_s"] = raw["pass"]["gc_s"]
    lat = _latencies(workload, raw["ops"])
    m["op_tail_ms"] = tail(lat)[1] if lat else 0.0
    if workload == "serve_pages":
        _serve_layers(m, raw, spans, selfs)
    else:
        _batch_layers(m, raw, spans, selfs)
        if base_wall_s:
            m["trace_overhead_pct"] = (raw["pass"]["wall_s"] / base_wall_s - 1.0) * 100.0
    return m


def _sum_attrs(spans, key):
    return sum(s["attrs"].get(key, 0.0) for s in spans)


def _dur(s):
    return s["end_ms"] - s["start_ms"]


def _batch_layers(m, raw, spans, selfs):
    def total(name):
        return sum(_dur(s) for s in spans if s["name"] == name)

    m["build_ms"] = total("build")
    m["plan_ms"] = total("plan")
    m["codegen_ms"] = _sum_attrs(spans, "codegen_ns") / 1e6
    m["codegen_classes"] = _sum_attrs(spans, "codegen_classes")
    m["jobs"] = _sum_attrs(spans, "jobs")
    m["tasks"] = _sum_attrs(spans, "tasks")
    m["shuffle_write_mb"] = _sum_attrs(spans, "shuffle_write_b") / 1e6
    m["shuffle_read_mb"] = _sum_attrs(spans, "shuffle_read_b") / 1e6
    m["spill_mb"] = _sum_attrs(spans, "spill_b") / 1e6
    m["executor_cpu_s"] = _sum_attrs(spans, "cpu_ns") / 1e9
    m["input_mb"] = _sum_attrs(spans, "input_b") / 1e6
    m["input_rows"] = _sum_attrs(spans, "input_rows")
    m["task_skew"] = max([k for s in spans for k in s["skew"]], default=1.0)
    for name in ("op", "build", "exec", "plan"):
        m[f"self.{name}_ms"] = sum(selfs[s["id"]] for s in spans if s["name"] == name)
    for o in raw["ops"]:
        if o["ok"]:
            if f"stage.{o['name']}_s" in m:
                m[f"stage.{o['name']}_s"] = o["lat_ms"] / 1e3
            if f"family.{o['name'][0]}_s" in m:
                m[f"family.{o['name'][0]}_s"] += o["lat_ms"] / 1e3


def _serve_layers(m, raw, spans, selfs):
    ops = raw["ops"]
    by_key = {}
    for s in spans:
        by_key.setdefault(s["key"], {}).setdefault(s["name"], []).append(s)
    build, index, page_exec, http, cache_build = [], [], [], [], []
    rows_read = rows_out = 0.0
    for named in by_key.values():
        one = {n: ss[0] for n, ss in named.items()}
        if "build" in one:
            build.append(_dur(one["build"]))
        if "index" in one and "page" in one:
            index.append(_dur(one["index"]))
            page_exec.append(_dur(one["page"]) - _dur(one["index"]))
            rows_read += one["page"]["attrs"].get("input_rows", 0.0)
            rows_out += sum(s["attrs"].get("rows", 0.0) for s in named.get("page_rows", []))
            if "http" in one:
                http.append(_dur(one["http"]) - _dur(one["page"]))
        if "cache_build" in one:
            cache_build.append(_dur(one["cache_build"]))
    traced = [o for o in ops if o["traced"]]
    m["build_ms"] = median(build)
    m["index_ms"] = median(index)
    m["page_exec_ms"] = median(page_exec)
    m["http_ms"] = median(http)
    m["cache_build_ms"] = median(cache_build)
    m["cache_hit_ratio"] = sum(1 for o in traced if o["hit"]) / len(traced) if traced else 0.0
    entries = raw["cache_entries"]
    m["cache_write_mb_per_build"] = raw["cache_bytes"] / entries / 1e6 if entries else 0.0
    m["rows_read_per_row_returned"] = rows_read / rows_out if rows_out else 0.0
    # Spark work per traced request, over its direct calls
    n = sum(1 for s in spans if s["name"] == "direct") or 1
    under = [s for s in spans if s["name"] in ("build", "index", "page")]
    m["jobs"] = _sum_attrs(under, "jobs") / n
    m["tasks"] = _sum_attrs(under, "tasks") / n
    m["shuffle_write_mb"] = _sum_attrs(under, "shuffle_write_b") / 1e6 / n
    m["shuffle_read_mb"] = _sum_attrs(under, "shuffle_read_b") / 1e6 / n
    m["spill_mb"] = _sum_attrs(under, "spill_b") / 1e6 / n
    m["executor_cpu_s"] = _sum_attrs(under, "cpu_ns") / 1e9 / n
    m["input_mb"] = _sum_attrs(under, "input_b") / 1e6 / n
    m["input_rows"] = _sum_attrs(under, "input_rows") / n
    misses = [o["lat_ms"] for o in ops if o["kind"] == "miss" and o["ok"] and not o["traced"]]
    m["build_p50_ms"] = median(misses)
    for name in ("http", "build", "index", "page"):
        m[f"self.{name}_ms"] = median([selfs[s["id"]] for s in spans if s["name"] == name])
    # untraced requests run beside traced ones in the same run
    reads_t = [o["lat_ms"] for o in ops if o["kind"] == "page" and o["ok"] and o["traced"]]
    reads_u = [o["lat_ms"] for o in ops if o["kind"] == "page" and o["ok"] and not o["traced"]]
    if reads_t and reads_u:
        m["trace_overhead_pct"] = (median(reads_t) / median(reads_u) - 1.0) * 100.0


def result_line(correct, attempted, failed, metrics, units):
    return {"correct": bool(correct), "attempted": int(max(1, attempted)),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}


def summary(workload, e2e, layers, detail, bad):
    """The human-readable line: every metric as name=value unit, then the
    details (sample counts, failure fraction, per-query latencies)."""
    parts = [f"{k}={v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    parts += [f"{k}={v:.6g} {PER_LAYER[k]}" for k, v in layers.items()]
    return (f"perfbench {workload}: " + " ".join(parts)
            + f" | checks_failed={len(bad)} | " + json.dumps(detail, sort_keys=True))
