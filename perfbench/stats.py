"""Metric arithmetic of the benchmark: percentiles, interval unions, span
attribution and the end-to-end and per-layer metric sets. Pure functions
over the driver's JSON records, tested by perfbench/tests."""
import json
import statistics

# percentile ladder the tail rule picks from
LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)

# span name prefix → layer (module) name
LAYER_OF = {
    "Warehouse": "engine.Warehouse",
    "Ingest": "engine.Ingest",
    "Wrangle": "engine.Wrangle",
    "GridVegPipelines": "engine.Wrangle",
    "JoinPolicy": "engine.Wrangle",
    "Quality": "engine.Quality",
    "IvfIndex": "operators.IvfIndex",
    "TextIndex": "operators.TextIndex",
    "Dedup": "operators.Dedup",
    "CorpusStats": "operators.CorpusStats",
    "Fuzzy": "operators.Fuzzy",
    "Overlap": "operators.Overlap",
    "Graph": "operators.Graph",
}
LAYERS = sorted(set(LAYER_OF.values()))
LAYER_FIELDS = (("calls", "count"), ("busy_s", "s"), ("eager_s", "s"),
                ("jobs", "count"), ("driver_gap_s", "s"), ("task_s", "s"),
                ("plan_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
                ("failed", "count"))
RATIOS = (("engine.Ingest.new_row_ratio", "ratio"),
          ("engine.Warehouse.bytes_written_mb", "MB"),
          ("operators.IvfIndex.rows_per_result", "ratio"),
          ("operators.IvfIndex.recall_at_k", "ratio"),
          ("operators.TextIndex.rows_per_result", "ratio"),
          ("operators.Dedup.admit_ratio", "ratio"),
          ("operators.Graph.plan_growth", "ratio"))
MB = 1024.0 * 1024.0


def layer_of(span_name):
    return LAYER_OF.get(span_name.split(".", 1)[0])


# ── percentiles ────────────────────────────────────────────────────────

def percentile(values, p):
    """Harrell-Davis estimate of the p-th percentile (p in 0..100) of a
    non-empty list: a Beta-weighted mean of all order statistics. A round
    mixes calls of very different cost, so the plain order statistic at
    rank p jumps between call kinds from run to run; this weighted mean
    moves smoothly. The Beta weights are integrated numerically (midpoint
    rule, 200 points per order statistic) and normalised."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    n = len(xs)
    q = min(max(p / 100.0, 1.0 / (n + 1)), n / (n + 1.0))
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    steps = 200 * n
    w = [0.0] * n
    for k in range(steps):
        t = (k + 0.5) / steps
        w[k * n // steps] += t ** (a - 1.0) * (1.0 - t) ** (b - 1.0)
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail_percentile(n):
    """The highest ladder percentile with at least 10 of `n` samples beyond
    it, or None when even the median has fewer."""
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


# ── intervals ──────────────────────────────────────────────────────────

def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def subtract(base, cut):
    """Parts of the `base` intervals not covered by any `cut` interval."""
    cut = union(cut)
    out = []
    for s, e in union(base):
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
        if cur < e:
            out.append((cur, e))
    return out


# ── span attribution ───────────────────────────────────────────────────

def innermost(spans, t, op=None):
    """The deepest span containing time `t` (of op `op` when given). Spans
    nest, so the containing span with the latest start is the innermost;
    ties go to the later-created span."""
    best = None
    for s in spans:
        if op is not None and s["op"] != op:
            continue
        if s["t0"] <= t <= s["t1"]:
            if best is None or (s["t0"], s["id"]) >= (best["t0"], best["id"]):
                best = s
    return best


def self_intervals(span, children):
    return subtract([(span["t0"], span["t1"])],
                    [(c["t0"], c["t1"]) for c in children])


def attribute(trace):
    """Assign every traced job and SQL execution to its innermost span.
    Jobs go by start time within their op; executions by end time.
    Returns {span id: {"jobs": [...], "execs": [...]}}."""
    spans = trace["spans"]
    out = {s["id"]: {"jobs": [], "execs": []} for s in spans}
    for j in trace["jobs"]:
        if j["op"] < 0:
            continue
        s = innermost(spans, j["t0"], op=j["op"])
        if s is not None:
            out[s["id"]]["jobs"].append(j)
    for x in trace["executions"]:
        if x["t1"] < 0:
            continue
        s = innermost(spans, x["t1"])
        if s is not None:
            out[s["id"]]["execs"].append(x)
    return out


def load_trace(path, res):
    """The traced run's spans and events, restricted to traced rounds, plus
    the op records and round timings the renderer needs."""
    with open(path) as f:
        t = json.load(f)
    traced = [r for r in t["rounds"] if r["traced"]]
    ops = {o["id"]: o for o in res["ops"]}
    t["ops"] = [ops[k] for k in sorted(ops)]
    t["round_stats"] = res["rounds"]
    t["n_traced_rounds"] = len(traced)
    t["spans"] = [s for s in t["spans"] if s["op"] >= 0]
    return t


def span_table(trace):
    """Per-span derived numbers: self time, eager time, attributed jobs,
    driver gap, task time, planning time, shuffle, spill, bytes written,
    scan rows."""
    spans = trace["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    att = attribute(trace)
    stage = {}
    for st in trace["stages"]:
        stage[st["id"]] = st
    owner = {}
    for j in sorted(trace["jobs"], key=lambda j: j["id"]):
        for sid in j["stages"]:
            owner.setdefault(sid, j["id"])
    op_jobs = {}
    for j in trace["jobs"]:
        if j["op"] >= 0 and j["t1"] >= 0:
            op_jobs.setdefault(j["op"], []).append((j["t0"], j["t1"]))
    rows = []
    for s in spans:
        own = self_intervals(s, kids.get(s["id"], []))
        jobs = att[s["id"]]["jobs"]
        execs = att[s["id"]]["execs"]
        sts = [stage[sid] for j in jobs for sid in j["stages"]
               if sid in stage and owner.get(sid) == j["id"]]
        gap = length(subtract(own, op_jobs.get(s["op"], [])))
        rows.append({
            "span": s, "layer": layer_of(s["name"]),
            "self_s": length(own) / 1000.0,
            "eager_s": (s["eager"] - s["t0"]) / 1000.0,
            "jobs": len(jobs),
            "driver_gap_s": gap / 1000.0,
            "task_s": sum(x["task_ms"] for x in sts) / 1000.0,
            "plan_s": sum(x["plan_ms"] for x in execs) / 1000.0,
            "shuffle_mb": sum(x["shuffle_bytes"] for x in sts) / MB,
            "spill_mb": sum(x["spill_bytes"] for x in sts) / MB,
            "written_mb": sum(x.get("output_bytes", 0) for x in sts) / MB,
            "scan_rows": sum(x["scan_rows"] for x in execs),
            "plans": [x["plan_ms"] for x in sorted(execs, key=lambda x: x["t1"])],
        })
    return rows


def layer_rows(table):
    """Sum the span table per layer (None = the benchmark's own op spans)."""
    agg = {}
    for r in table:
        a = agg.setdefault(r["layer"], {k: 0.0 for k, _ in LAYER_FIELDS})
        a["calls"] += 1
        a["busy_s"] += r["self_s"]
        # a benchmark op span's body is its whole op: no eager part
        a["eager_s"] += r["eager_s"] if r["layer"] else 0.0
        a["jobs"] += r["jobs"]
        a["driver_gap_s"] += r["driver_gap_s"]
        a["task_s"] += r["task_s"]
        a["plan_s"] += r["plan_s"]
        a["shuffle_mb"] += r["shuffle_mb"]
        a["spill_mb"] += r["spill_mb"]
        a["failed"] += 1 if r["span"].get("failed") else 0
    return agg


def _ratio(num, den):
    return num / den if den else 0.0


def layer_metrics(trace, facts, res):
    """The per-layer metric set, each value per traced stream pass."""
    n = max(trace["n_traced_rounds"], 1)
    table = span_table(trace)
    agg = layer_rows(table)
    ops = {o["id"]: o for o in trace["ops"]}
    out = {}
    for layer in LAYERS:
        a = agg.get(layer, {k: 0.0 for k, _ in LAYER_FIELDS})
        for k, unit in LAYER_FIELDS:
            out[f"{layer}.{k}"] = {"value": a[k] / n, "unit": unit}

    def spans_named(prefix):
        return [r for r in table if r["span"]["name"].startswith(prefix)]

    def rows_per_result(prefix):
        rs = spans_named(prefix)
        got = sum(ops[r["span"]["op"]]["rows"] for r in rs
                  if r["span"]["op"] in ops)
        return _ratio(sum(r["scan_rows"] for r in rs), got)

    appended = res["facts"].get("appended", [])
    ratios = {
        "engine.Ingest.new_row_ratio": _ratio(sum(a[2] for a in appended),
                                              sum(a[1] for a in appended)),
        "engine.Warehouse.bytes_written_mb":
            sum(r["written_mb"] for r in table
                if r["layer"] == "engine.Warehouse") / n,
        "operators.IvfIndex.rows_per_result":
            rows_per_result("IvfIndex.probePq"),
        "operators.IvfIndex.recall_at_k":
            statistics.fmean(res["facts"]["recall_at_k"])
            if res["facts"].get("recall_at_k") else 0.0,
        "operators.TextIndex.rows_per_result":
            rows_per_result("TextIndex.search"),
        "operators.Dedup.admit_ratio": admit_ratio(trace["ops"], facts),
        "operators.Graph.plan_growth": plan_growth(spans_named("Graph.")),
    }
    for k, unit in RATIOS:
        out[k] = {"value": ratios[k], "unit": unit}
    return out


def admit_ratio(ops, facts):
    """Admitted rows over arrivals of the semantic admission path."""
    arrive = {"idx.semDedupAdmit": facts.get("sem_arrivals", 0)}
    adm = sum(o["rows"] for o in ops if o["name"] in arrive and o["ok"])
    tot = sum(arrive[o["name"]] for o in ops if o["name"] in arrive and o["ok"])
    return _ratio(adm, tot)


def plan_growth(graph_rows):
    """Median over graph calls of the last execution's planning time over
    the first's (executions of one call in end-time order)."""
    g = [r["plans"][-1] / r["plans"][0] for r in graph_rows
         if len(r["plans"]) >= 2 and r["plans"][0] > 0]
    return statistics.median(g) if g else 0.0


# ── end-to-end ─────────────────────────────────────────────────────────

def end_to_end(res, gen_s, verdict):
    rounds = res["rounds"]
    ops = [o for o in res["ops"] if o["ok"]]
    lat = [o["ms"] for o in ops]
    writes = [o["ms"] for o in ops if o["write"]]
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    m = {
        "setup_s": (gen_s + (res["setup_end_ms"] - res["launch_ms"]) / 1000.0,
                    "s"),
        "wall_s": (statistics.median(r["wall_s"] for r in rounds), "s"),
        "op_p50_ms": (percentile(lat, 50), "ms"),
        "op_p90_ms": (percentile(lat, 90), "ms"),
        "write_p50_ms": (percentile(writes, 50) if writes else 0.0, "ms"),
        "task_s": (statistics.median(r["task_s"] for r in rounds), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "stored_mb": (statistics.median(r["stored_bytes"] for r in rounds) / MB,
                      "MB"),
        "tmp_left_mb": (res["tmp_left_bytes"] / MB, "MB"),
        "op_ok_ratio": (1.0 - _ratio(failed, attempted), "ratio"),
        "check_ok_ratio": (1.0 - _ratio(verdict["wrong"],
                                        max(verdict["checked"], 1)), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
