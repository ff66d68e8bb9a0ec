"""Metric arithmetic of the benchmark: percentiles, the layer metrics of a
traced run, span self time and the verdict of a comparison. Pure functions
over the raw record the JVM writes, so the tests can feed them by hand.

Raw record (all times in ms since the benchmark started):
  statements: [{id, name, pass, thread, start, end, rows, error, counters}]
  spans:      [{name, start, end, stmt}]
  timed:      {start, end} of the timed region
Passes are not fenced: with several clients, pass k+1 starts while pass k
finishes, so a pass's wall is from its first start to its last end.
"""
import statistics

MIN_BEYOND = 10   # samples a reported percentile needs above it


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p):
    """Value at percentile p (0..100) by linear interpolation."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(values, p):
    """Percentile p, or None unless at least MIN_BEYOND samples lie above it."""
    if not values:
        return None
    v = percentile(values, p)
    return v if sum(1 for x in values if x > v) >= MIN_BEYOND else None


# -- intervals and spans ----------------------------------------------------

def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


CALLS = ("graftsql.rewrite", "graft.query", "operators.build", "driver.collect")
TOLERANCE_MS = 1.0   # scheduler and Catalyst stamps have millisecond resolution


def rank(name):
    if name == "statement":
        return 0
    if name in CALLS:
        return 1
    if name.startswith("catalyst."):
        return 2
    if name == "exec.job":
        return 3
    return 4   # exec.stage


def layer(name):
    return "statement" if name == "statement" else name.split(".")[0]


def build_spans(raw):
    """Statement spans plus the recorded ones, each with an id and the id of
    its parent: the innermost higher-ranked span of the same statement that
    contains it, else the statement itself."""
    out = []
    for st in raw["statements"]:
        out.append({"id": f"s{st['id']}", "name": "statement", "start": st["start"],
                    "end": st["end"], "stmt": st["id"], "parent": None})
    by_stmt = {}
    for i, sp in enumerate(raw["spans"]):
        by_stmt.setdefault(sp["stmt"], []).append(dict(sp, id=f"{sp['stmt']}.{i}"))
    for stmt, spans in by_stmt.items():
        for sp in spans:
            parent, best = f"s{stmt}", None
            for cand in spans:
                if (rank(cand["name"]) < rank(sp["name"])
                        and cand["start"] - TOLERANCE_MS <= sp["start"]
                        and sp["end"] <= cand["end"] + TOLERANCE_MS):
                    key = (rank(cand["name"]), -(cand["end"] - cand["start"]))
                    if best is None or key > best:
                        parent, best = cand["id"], key
            out.append(dict(sp, parent=parent))
    return out


def self_times(spans):
    """{span id: duration minus the part of it covered by its children}."""
    children = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"])
            - union_length(children.get(sp["id"], []), sp["start"], sp["end"])
            for sp in spans}


def driver_gap(stmt, spans):
    """Statement wall minus the union of its own jobs' intervals."""
    jobs = [(s["start"], s["end"]) for s in spans
            if s["stmt"] == stmt["id"] and s["name"] == "exec.job"]
    return (stmt["end"] - stmt["start"]) - union_length(jobs, stmt["start"], stmt["end"])


def covered(stmt, spans):
    """(ms of the statement's wall covered by its named layer spans, wall)."""
    wall = stmt["end"] - stmt["start"]
    named = [(s["start"], s["end"]) for s in spans
             if s["stmt"] == stmt["id"] and s["name"] != "statement"]
    return union_length(named, stmt["start"], stmt["end"]), wall


# -- metrics ------------------------------------------------------------------

def timed_statements(raw):
    return [s for s in raw["statements"] if s["pass"] > 0]


def pass_walls(stmts):
    """{pass: ms from its first statement's start to its last one's end}."""
    span = {}
    for s in stmts:
        lo, hi = span.get(s["pass"], (s["start"], s["end"]))
        span[s["pass"]] = (min(lo, s["start"]), max(hi, s["end"]))
    return {p: hi - lo for p, (lo, hi) in span.items()}


def end_to_end(raw):
    """Every end-to-end metric of one run, with unit, quartiles and count."""
    stmts = timed_statements(raw)
    lat = [s["end"] - s["start"] for s in stmts]
    passes = [ms / 1000.0 for ms in pass_walls(stmts).values()]
    wall_s = (raw["timed"]["end"] - raw["timed"]["start"]) / 1000.0
    failed = sum(1 for s in stmts if s["error"])
    m = {}

    def put(name, value, unit, samples=None):
        entry = {"value": value, "unit": unit}
        if samples:
            q1, _, q3 = quartiles(samples)
            entry.update(q1=q1, q3=q3, n=len(samples))
        m[name] = entry

    put("setup_s", raw["setup_s"], "s")
    put("pass_s", median(passes), "s", passes)
    put("query_p50_ms", median(lat), "ms", lat)
    p90 = supported_percentile(lat, 90)
    if p90 is not None:
        put("query_p90_ms", p90, "ms")
    put("qps", len(stmts) / wall_s, "1/s")
    put("failed_frac", failed / len(stmts), "ratio")
    put("heap_retained_mb", raw["heap_retained_mb"], "MB")
    return m


SUMMED = [
    ("graftsql.rewrite_ms", "ms"), ("graft.query_ms", "ms"), ("operators.build_ms", "ms"),
    ("operators.eager_jobs", "count"), ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("plans.compaction_ms", "ms"), ("catalyst.exchanges", "count"),
    ("codegen.compiles", "count"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.sched_delay_ms", "ms"), ("exec.task_run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.gc_ms", "ms"),
    ("exec.input_mb", "MB"), ("exec.task_failures", "count"), ("driver.gap_ms", "ms"),
]
SPAN_TIMES = {"graftsql.rewrite_ms": "graftsql.rewrite", "graft.query_ms": "graft.query",
              "operators.build_ms": "operators.build",
              "catalyst.analysis_ms": "catalyst.analysis",
              "catalyst.optimization_ms": "catalyst.optimization",
              "catalyst.planning_ms": "catalyst.planning"}
RATIOS = [("plans.compaction_effective_ratio", "ratio"), ("exec.busy_frac", "ratio"),
          ("exec.rows_read_per_row_out", "ratio"), ("trace.coverage", "ratio")]
SETUP = ["setup.session_ms", "setup.prepare_ms", "setup.tables_ms", "setup.warm_ms"]


def statement_values(stmt, spans):
    """Per-statement layer values before they are summed per pass."""
    own = [s for s in spans if s["stmt"] == stmt["id"]]
    v = dict(stmt["counters"])
    for metric, span_name in SPAN_TIMES.items():
        v[metric] = sum(s["end"] - s["start"] for s in own if s["name"] == span_name)
    v["driver.gap_ms"] = driver_gap(stmt, own)
    v["covered_ms"], v["wall_ms"] = covered(stmt, own)
    v["rows_out"] = stmt["rows"]
    return v


def per_layer(raw):
    """Layer metrics of a traced run: each is summed over the statements of
    a timed pass (ratios are taken of those sums), and the median over
    passes is reported. Set-up times are reported once."""
    slots = raw["slots"]
    stmts = timed_statements(raw)
    walls = pass_walls(stmts)
    per_pass = {}
    for st in stmts:
        acc = per_pass.setdefault(st["pass"], {})
        for k, x in statement_values(st, raw["spans"]).items():
            acc[k] = acc.get(k, 0.0) + x
    rows = []
    for p, acc in sorted(per_pass.items()):
        g = acc.get
        row = {name: g(name, 0.0) for name, _ in SUMMED}
        inv = g("plans.compaction_invocations", 0.0)
        row["plans.compaction_effective_ratio"] = g("plans.compaction_effective", 0.0) / inv if inv else 0.0
        row["exec.busy_frac"] = g("exec.task_run_ms", 0.0) / (walls[p] * slots)
        row["exec.rows_read_per_row_out"] = g("exec.input_rows", 0.0) / max(1.0, g("rows_out", 0.0))
        row["trace.coverage"] = g("covered_ms", 0.0) / g("wall_ms") if g("wall_ms") else 0.0
        rows.append(row)
    m = {}
    for name, unit in SUMMED + RATIOS:
        vals = [r[name] for r in rows]
        q1, med, q3 = quartiles(vals)
        m[name] = {"value": med, "unit": unit, "q1": q1, "q3": q3, "n": len(vals)}
    for name in SETUP:
        m[name] = {"value": raw["setup"].get(name, 0.0), "unit": "ms"}
    return m


def layer_self_time(spans, passes):
    """{layer: self time in ms per timed pass} and the same per span name."""
    st = self_times(spans)
    n = max(1, passes)
    by_layer, by_name = {}, {}
    for sp in spans:
        by_layer[layer(sp["name"])] = by_layer.get(layer(sp["name"]), 0.0) + st[sp["id"]] / n
        by_name[sp["name"]] = by_name.get(sp["name"], 0.0) + st[sp["id"]] / n
    return by_layer, by_name


# -- comparison ---------------------------------------------------------------

def verdict(parent, change, better, bound):
    """Verdict of one metric on one workload, from the runs of each side
    (paired in order). `bound` is the worsening allowed as a share of the
    parent median, or None for a metric without one."""
    pm, cm = median(parent), median(change)
    q1, _, q3 = quartiles(parent)
    sign = 1.0 if better == "lower" else -1.0

    def beats(c, p):
        return sign * (p - c) > 0

    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if beats(c, p))
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (q3 - q1):
        return "improved"
    if bound is None:
        return "no bound"
    every_better = all(beats(c, p) for c in change for p in parent)
    if pm and (q3 - q1) / abs(pm) > bound and not every_better:
        return "unresolved"
    if pm and sign * (cm - pm) / abs(pm) > bound:
        return "regressed"
    return "within bound"
