"""Checks and metrics computed from one harness output (pure functions).

The harness writes every op's rows, latency and, in a traced run, its spans,
Spark jobs and Catalyst phase times. This module checks the rows against the
reference answers and turns the rest into the run's metrics.
"""

import math
import statistics

# The op kind whose latency is a workload's headline figure.
PRIMARY = {"write_mix": "write", "upload_pipeline": "pipeline"}

# Per-layer metrics reported by every traced run, with units. Each is a
# mean per timed op unless its name says otherwise.
LAYER_UNITS = {
    "cypher.parse_ms": "ms", "cypher.compile_ms": "ms", "cypher.compile_jobs": "count",
    "cypher.compile_job_s": "s",
    "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_wait_ms": "ms", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.scan_rows_per_result_row": "ratio",
    "cache.blocks_written": "count", "cache.blocks_dropped": "count",
    "cache.block_mb_written": "MB", "cache.storage_mb": "MB",
    "sources.from_sqlite_s": "s", "sources.rows": "count", "model.erd_s": "s",
    "graph.build_s": "s", "graph.save_s": "s", "graph.save_mb": "MB",
    "graph.edges_dropped": "count",
    "graph.cc_s": "s", "graph.cc_jobs": "count", "graph.pagerank_s": "s",
    "graph.pagerank_jobs": "count", "graph.bfs_s": "s", "graph.bfs_jobs": "count",
    "graph.degrees_s": "s", "graph.degrees_jobs": "count",
    "jvm.gc_ms": "ms", "trace.coverage": "ratio",
}

MB = 1048576.0


# ---------------------------------------------------------------- statistics


def percentile(values, q, min_beyond=10):
    """Nearest-rank q-th percentile, or None when fewer than `min_beyond`
    samples lie beyond it (so p90 needs at least 100 samples)."""
    n = len(values)
    if n == 0:
        return None
    beyond = math.floor(n * (100 - q) / 100.0)
    if q > 50 and beyond < min_beyond:
        return None
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * n))
    return s[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# -------------------------------------------------------------------- spans


def union_ns(intervals):
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
    """span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - union_ns(kids)
    return out


def attribute(jobs, spans):
    """job id -> span id. A job carries the id of the span open when it was
    submitted; a job without one (submitted from a thread that did not
    inherit it) goes to the innermost span whose interval holds its
    submission time, or to None outside every span."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        if j.get("span") not in (None, "") and int(j["span"]) in by_id:
            out[j["id"]] = int(j["span"])
            continue
        t = j["submit_ms"] * 1_000_000
        best = None
        for s in spans:
            if s["start_ns"] <= t <= s["end_ns"]:
                if best is None or s["start_ns"] >= best["start_ns"]:
                    best = s
        out[j["id"]] = None if best is None else best["id"]
    return out


# ------------------------------------------------------------------- checks


def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        f = float(v)
        if f == int(f) and abs(f) < 2**53:
            return int(f)
        return float(f"{f:.9g}")
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(actual, expected):
    """Rows compared as multisets, numbers to 1e-9 relative."""
    if expected is None:
        return True
    if actual is None or len(actual) != len(expected):
        return False
    key = lambda r: repr(_canon(r))
    return all(_close(a, e) for a, e in zip(sorted(actual, key=key), sorted(expected, key=key)))


def pipeline_match(actual, expected):
    """An upload pipeline's summary against what the generator knows."""
    if actual is None:
        return False
    if actual["tables"] != expected["tables"]:
        return False
    for label, e in expected["edges"].items():
        a = actual["edges"].get(label)
        if a is None or (a["input"], a["clean"], a["committed"]) != (e["input"], e["clean"], e["committed"]):
            return False
    if actual["largest_edge"] != expected["largest_edge"]:
        return False
    ea, aa = expected["analytics"], actual["analytics"]
    for k in ("vertices", "components", "largest_component", "bfs_source", "bfs_levels",
              "degree_sum", "degree_max"):
        if aa[k] != ea[k]:
            return False
    return math.isclose(aa["pagerank_max"], ea["pagerank_max"], rel_tol=1e-6)


def expected_for(workload, expected, op):
    """The reference answer of one timed op (streams are cycled)."""
    i = op["i"]
    if workload == "write_mix":
        flat = [(s, j) for s, sess in enumerate(expected["sessions"]) for j in range(len(sess))]
        s, j = flat[i % len(flat)]
        return expected["sessions"][s][j]
    return expected["files"][i % len(expected["files"])]


def check_ops(workload, ops, expected):
    """Mark each op ok / failed (threw) / wrong (returned other rows)."""
    for op in ops:
        if op["error"] is not None:
            op["status"] = "failed"
            continue
        exp = expected_for(workload, expected, op)
        good = pipeline_match(op["rows"], exp) if workload == "upload_pipeline" \
            else rows_match(op["rows"], exp)
        op["status"] = "ok" if good else "wrong"
    return ops


# ------------------------------------------------------------------ metrics


def template_gmean(ops):
    """Geometric mean over op templates of each template's median latency.
    A plain median over a stream that mixes 100 ms and 500 ms templates
    jumps with the few ops a run adds or drops of either kind; this figure
    weights every template once, whatever the run's mix."""
    by = {}
    for o in ops:
        by.setdefault(o["template"], []).append(o["ms"])
    if not by:
        return None
    return math.exp(sum(math.log(median(v)) for v in by.values()) / len(by))


def end_to_end(workload, out):
    """Untraced figures: (metrics {name: (value, unit, samples)}, extras)."""
    ops = out["ops"]
    ok = [o for o in ops if o["status"] == "ok"]
    total_s = sum(o["ms"] for o in ops) / 1000.0
    spark_s = (out["session_ready_ms"] - out["jvm_start_ms"]) / 1000.0
    m = {}
    # JVM start to the first timed op: Spark session, store build, warm-up
    m["setup_s"] = ((out["first_op_ms"] - out["jvm_start_ms"]) / 1000.0, "s", 1)
    m["p50_gmean_ms"] = (template_gmean(ok), "ms", len(ok))
    m["ops_per_s"] = (len(ok) / total_s if total_s else 0.0, "1/s", len(ops))
    m["storage_peak_mb"] = (out["storage_peak_mb"], "MB", len(ops) + 1)
    # the workload-specific figures, in the record only
    x = {}
    prim = [o["ms"] for o in ok if o["kind"] == PRIMARY[workload]]
    x["op_p50_ms"] = (median(prim), "ms", len(prim))
    for kind, name in (("read", "read"), ("write", "write")):
        lat = [o["ms"] for o in ok if o["kind"] == kind]
        if lat:
            x[f"{name}_p50_ms"] = (median(lat), "ms", len(lat))
            p90 = percentile(lat, 90)
            if p90 is not None:
                x[f"{name}_p90_ms"] = (p90, "ms", len(lat))
    pipes = [o for o in ok if o["kind"] == "pipeline"]
    if pipes:
        x["pipeline_p50_s"] = (median([o["ms"] for o in pipes]) / 1000.0, "s", len(pipes))
    bad = sum(1 for o in ops if o["status"] != "ok")
    x["error_rate"] = (bad / len(ops), "ratio", len(ops))
    x["spark_start_s"] = (spark_s, "s", 1)
    return m, x


def per_layer(out, expected=None):
    """Traced figures, {name: (value, unit, samples)}; see LAYER_UNITS."""
    ops = out["ops"]
    n = max(1, len(ops))
    spans = out["spans"]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    owner = attribute(out["jobs"], spans)
    jobs = [j for j in out["jobs"] if owner.get(j["id"]) is not None]

    def layer_of(span_id):
        return by_id[span_id]["name"] if span_id is not None else None

    def span_sum(name, self_time=True):
        return sum((selfs[s["id"]] if self_time else s["end_ns"] - s["start_ns"])
                   for s in spans if s["name"] == name)

    def jobs_under(name):
        return [j for j in jobs if layer_of(owner[j["id"]]) == name]

    v = {}
    v["cypher.parse_ms"] = span_sum("cypher.parse") / 1e6 / n
    v["cypher.compile_ms"] = span_sum("cypher.compile") / 1e6 / n
    cj = jobs_under("cypher.compile")
    v["cypher.compile_jobs"] = len(cj) / n
    v["cypher.compile_job_s"] = sum(j["end_ms"] - j["submit_ms"] for j in cj) / 1000.0 / n
    t0, t1 = out["first_op_ms"], out["end_ms"]
    cat = [c for c in out["catalyst"] if t0 <= c[0] <= t1]
    v["catalyst.analyze_ms"] = sum(c[1] for c in cat) / n
    v["catalyst.optimize_ms"] = sum(c[2] for c in cat) / n
    v["catalyst.plan_ms"] = sum(c[3] for c in cat) / n
    v["exec.ms"] = union_ns([(j["submit_ms"] * 1e6, j["end_ms"] * 1e6) for j in jobs]) / 1e6 / n
    v["exec.jobs"] = len(jobs) / n
    v["exec.stages"] = sum(j["stages"] for j in jobs) / n
    v["exec.tasks"] = sum(j["tasks"] for j in jobs) / n
    v["exec.task_s"] = sum(j["task_ms"] for j in jobs) / 1000.0 / n
    v["exec.task_wait_ms"] = sum(j["wait_ms"] for j in jobs) / n
    v["exec.shuffle_read_mb"] = sum(j["shuffle_read"] for j in jobs) / MB / n
    v["exec.shuffle_write_mb"] = sum(j["shuffle_write"] for j in jobs) / MB / n
    v["exec.spill_mb"] = sum(j["spill"] for j in jobs) / MB / n
    scans = [o for o in ops if o.get("result_rows")]
    v["exec.scan_rows_per_result_row"] = (
        sum(o["scan_rows"] for o in scans) / sum(o["result_rows"] for o in scans) if scans else 0.0)
    b = out["blocks"]
    v["cache.blocks_written"] = b["written"] / n
    v["cache.blocks_dropped"] = b["dropped"] / n
    v["cache.block_mb_written"] = b["bytes_written"] / MB / n
    v["cache.storage_mb"] = sum(o["storage_mb"] for o in ops) / n
    # Graft.fromSqlite reads, normalizes and models in one call
    v["sources.from_sqlite_s"] = span_sum("sources.from_sqlite", False) / 1e9 / n
    pipes = [o for o in ops if o["kind"] == "pipeline" and o["error"] is None]
    v["sources.rows"] = (sum(expected["files"][o["i"] % len(expected["files"])]["rows"] for o in pipes) / n
                         if pipes and expected else 0.0)
    v["model.erd_s"] = span_sum("model.erd", False) / 1e9 / n
    for layer in ("build", "save"):
        v[f"graph.{layer}_s"] = span_sum(f"graph.{layer}", False) / 1e9 / n
    v["graph.save_mb"] = sum(o.get("save_bytes", 0) for o in ops) / MB / n
    v["graph.edges_dropped"] = sum(o["rows"]["edges_dropped"] for o in pipes) / n if pipes else 0.0
    for algo in ("cc", "pagerank", "bfs", "degrees"):
        v[f"graph.{algo}_s"] = span_sum(f"graph.{algo}", False) / 1e9 / n
        v[f"graph.{algo}_jobs"] = len(jobs_under(f"graph.{algo}")) / n
    v["jvm.gc_ms"] = out["gc_ms"] / n
    op_spans = [s for s in spans if s["parent"] == -1]
    covered = sum((s["end_ns"] - s["start_ns"]) - selfs[s["id"]] for s in op_spans)
    total = sum(s["end_ns"] - s["start_ns"] for s in op_spans)
    v["trace.coverage"] = covered / total if total else 0.0
    return {k: (v[k], LAYER_UNITS[k], len(ops)) for k in LAYER_UNITS}


def span_table(out):
    """Mean self time and call count per op, by span name (ms)."""
    n = max(1, len(out["ops"]))
    selfs = self_times(out["spans"])
    table = {}
    for s in out["spans"]:
        t = table.setdefault(s["name"], {"self_ms": 0.0, "calls": 0})
        t["self_ms"] += selfs[s["id"]] / 1e6 / n
        t["calls"] += 1
    return table


def pipeline_extras(out, expected):
    """ingest_rows_per_s: source rows over file-to-saved-store time."""
    pipes = [o for o in out["ops"] if o["kind"] == "pipeline" and o["status"] == "ok"]
    if not pipes:
        return {}
    rows = sum(expected["files"][o["i"] % len(expected["files"])]["rows"] for o in pipes)
    secs = sum(o["ingest_ms"] for o in pipes) / 1000.0
    return {"ingest_rows_per_s": (rows / secs, "1/s", len(pipes))}
