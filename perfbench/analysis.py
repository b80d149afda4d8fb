"""Arithmetic on a run record written by perfbench.Main.

Everything here is a pure function of the record, so it is tested at toy
scale in test_analysis.py. Times in the record are epoch milliseconds;
metrics come out in seconds (or MB, counts, ratios).
"""
import re
import statistics

# Golden-log facts every star_etl op must reproduce.
STAR_EXPECTED = {
    "dim_date": 3169, "dim_state": 6, "dim_category": 170, "fact": 378657,
    "unsuccessful": 244701, "successful": 133956, "null_fk": 0,
}

# The named-query workloads: their ops, the engine stages those ops read
# (built in set-up) and the fewest passes an untraced run times. Each op's
# time is also a per-layer metric, op.<id>_s. On the committed sf0.01 data
# every op is floor-bound (about 0.5-1.5 s warm, mostly fixed per-op cost),
# so op_p50_s and op_p90_s are not set by a fixed light or heavy group.
QUERY_WORKLOADS = {
    "query_mix": {
        "ops": [
            # scan/agg/join
            "q01_revenue_by_nation", "q05_join_lookup",
            # operators: MinHash LSH dedup, rolling distinct, weighted quantiles
            "q21_dedup_minhash_lsh", "q164_events_rolling_distinct",
            "q191_weighted_price_quantiles",
        ],
        "stages": [],
        # two passes, so the pooled percentiles rest on 10 ops, not 5
        "passes": 2,
    },
    "ingest_commit": {
        "ops": [
            # TxTable streams (a source and a sink), a TxTable merge, TxGroup
            # multi-table commits
            "q213_txtable_ingest_stream", "q238_txtable_sink_stream",
            "q218_txtable_merge", "q237_txgroup_atomic_ingest",
        ],
        "stages": ["docs_feed"],
        "passes": 1,
    },
}
OPS = [op for w in QUERY_WORKLOADS.values() for op in w["ops"]]

# Ops whose plan graft.operators builds (Dedup.minhashLshPairs,
# RangeJoin.pointInInterval) but leaves lazy: the jobs of the benchmark's
# action on them do the operators' work. Every other op's action jobs
# count as graft.queries.
PLAN_LAYER = {"q21_dedup_minhash_lsh": "operators", "q164_events_rolling_distinct": "operators"}

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s", "written_mb": "MB",
}

LAYER_UNITS = {
    "etl.csv_scans": "ratio", "etl.task_s": "s",
    "star.jobs": "count", "star.write_s": "s", "star.readback_s": "s",
    "star.driver_gap_s": "s", "star.output_mb": "MB",
    "queries.plan_s": "s", "queries.jobs": "count", "queries.tasks": "count",
    "queries.driver_gap_s": "s",
    "operators.task_s": "s", "operators.parallelism": "ratio",
    "operators.shuffle_mb": "MB", "operators.spill_mb": "MB", "operators.cache_peak_mb": "MB",
    "streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.add_batch_s": "s",
    "streaming.log_commit_s": "s", "streaming.planning_s": "s",
    "sources.jobs": "count", "sources.job_s": "s", "sources.files_written": "count",
    "jvm.gc_s": "s",
    # G1's adaptive heap sizing moves the JVM's peak RSS by up to a third
    # between identical runs, too much for an end-to-end bound
    "jvm.peak_rss_mb": "MB",
}
LAYER_UNITS.update({f"op.{op}_s": "s" for op in OPS})
LAYER_UNITS.update({"trace_overhead": "ratio", "trace.residual_max": "ratio"})


# ---- intervals and spans -------------------------------------------------

def clip(intervals, lo, hi):
    """The parts of (start, end) intervals that fall inside [lo, hi]."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def union_length(intervals):
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_time(span):
    """Span duration minus the time its child spans cover."""
    kids = clip([(c["start"], c["end"]) for c in span.get("children", [])],
                span["start"], span["end"])
    return span["end"] - span["start"] - union_length(kids)


# How far plan + jobs + gap may overshoot an op's wall before a traced run
# flags its breakdown.
RESIDUAL_LIMIT = 0.05


def breakdown(wall_iv, job_ivs, plan_ivs):
    """Split a wall interval into planning, job and driver-gap time (ms).

    plan = planning phases summed (each clipped to the wall); jobs = union
    of job intervals; gap = wall time covered by neither. The residual is
    how far plan + jobs + gap overshoots the wall, as a share of it: it is
    non-zero only when planning overlaps jobs or other planning.
    """
    lo, hi = wall_iv
    wall = hi - lo
    jobs = clip(job_ivs, lo, hi)
    plans = clip(plan_ivs, lo, hi)
    plan = sum(e - s for s, e in plans)
    job = union_length(jobs)
    gap = wall - union_length(jobs + plans)
    residual = (plan + job + gap - wall) / wall if wall > 0 else 0.0
    return {"wall": wall, "plan": plan, "jobs": job, "gap": gap, "residual": residual}


# ---- statistics ------------------------------------------------------------

def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) and the sample count."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return statistics.median(values) if values else 0.0


# ---- attribution -----------------------------------------------------------

_FRAME = re.compile(r"\bgraft\.([a-z]\w*)\.")
# A by-name wrapper the benchmark puts around every named query: on the
# stack of the query's action, but the work is not its own.
_WRAPPERS = ("graft.operators.CacheScope",)


def graft_module(call_site):
    """The graft module named by a recorded call site, or None.

    The frames of a call site run innermost first. The innermost frame in
    a graft sub-package names the module (``graft.operators.Dedup$.x(...)``
    -> ``operators``). Frames from the first ``perfbench.`` frame outward
    are the benchmark's own calls, so graft frames there (and the
    ``CacheScope`` wrapper anywhere) do not count.
    """
    for line in (call_site or "").splitlines():
        if "perfbench." in line:
            break
        m = _FRAME.search(line)
        if m and not any(w in line for w in _WRAPPERS):
            return m.group(1)
    return None


def module_of(call_site, streaming=False):
    """The graft module a job belongs to. A job with no graft frame is a
    micro-batch of a stream (``streaming``) or the benchmark's own action
    on a named query's plan (``queries``, unless the op's plan layer says
    otherwise: see ``pass_layers``)."""
    return graft_module(call_site) or ("streaming" if streaming else "queries")


LAYER_OF_MODULE = {"functions": "operators"}


def layer_of(call_site, streaming=False):
    mod = module_of(call_site, streaming)
    return LAYER_OF_MODULE.get(mod, mod)


def job_layers(trace):
    """Each recorded job with its interval, layer and call site. ``action``
    marks a job the benchmark's own action started (no graft frame, not a
    stream's micro-batch)."""
    execs = {e["id"]: e for e in trace["execs"]}
    out = []
    for j in trace["jobs"]:
        if j["end"] < 0:
            continue
        ex = execs.get(j["exec"]) if j["exec"] is not None else None
        long_site = ex["long"] if ex and ex["long"] else j["long"]
        short_site = ex["short"] if ex and ex["short"] else j["short"]
        action = graft_module(long_site) is None and not j["stream"]
        out.append(dict(j, layer=layer_of(long_site, j["stream"]), site=short_site, action=action))
    return out


def plan_intervals(trace):
    return [(p["start"], p["end"]) for p in trace["phases"] if p["end"] >= p["start"]]


# ---- metrics ---------------------------------------------------------------

def star_check_ok(check):
    return all(check.get(k) == v for k, v in STAR_EXPECTED.items())


def judge(record, expected):
    """(attempted, failed, problems) over timed ops and output checks."""
    problems = []
    attempted = failed = 0
    for p in record["passes"]:
        for o in p["ops"]:
            attempted += 1
            if not o["ok"]:
                failed += 1
                problems.append(f"op {o['op']} threw")
    for c in record["checks"]:
        if not ({"error", "star", "rows"} & c.keys()):
            continue  # a fact for the analysis (the CSV size), not a check
        attempted += 1
        if c.get("error"):
            failed += 1
            problems.append(f"check {c['op']} threw")
        elif "star" in c:
            if not star_check_ok(c["star"]):
                failed += 1
                problems.append(f"star output {c['star']}")
        elif "rows" in c:
            want = expected.get(c["op"])
            if want is None or want["rows"] != c["rows"] or want["fingerprint"] != c["fingerprint"]:
                failed += 1
                problems.append(f"{c['op']} rows={c['rows']} fingerprint={c['fingerprint']} want={want}")
    # exceptions outside the timed ops and checks (e.g. a post-pass check)
    extra = [f for f in record["failures"] if not f["what"].startswith(("op ", "verify "))]
    attempted += len(extra)
    failed += len(extra)
    problems += [f"{f['what']}: {f['error']}" for f in extra]
    return attempted, failed, problems


def op_walls(passes):
    return [(o["span"]["end"] - o["span"]["start"]) / 1e3 for p in passes for o in p["ops"]]


def end_to_end(record):
    """The user-visible metrics and their sample counts."""
    passes = [p for p in record["passes"] if not p["traced"]]
    walls = [(p["end"] - p["start"]) / 1e3 for p in passes]
    ops = op_walls(passes)
    setup = record["setup"]
    p50, n50 = percentile(ops, 0.5)
    p90, n90 = percentile(ops, 0.9)
    metrics = {
        "setup_s": (setup["session_s"] + median(setup["prep_s"]) + setup["warm_s"], len(setup["prep_s"])),
        "pass_s": (median(walls), len(walls)),
        "op_p50_s": (p50, n50),
        "op_p90_s": (p90, n90),
        "written_mb": (median([p["wchar"] / 1e6 for p in passes]), len(passes)),
    }
    return metrics


def op_medians(record):
    """Median wall of each op over the untraced passes, with its count."""
    walls = {}
    for p in record["passes"]:
        if not p["traced"]:
            for o in p["ops"]:
                walls.setdefault(o["op"], []).append((o["span"]["end"] - o["span"]["start"]) / 1e3)
    return {op: (median(w), len(w)) for op, w in sorted(walls.items())}


def pass_layers(record, pass_rec, csv_bytes):
    """Per-layer metrics of one traced pass, plus per-op breakdowns."""
    trace = record["trace"]
    lo, hi = pass_rec["start"], pass_rec["end"]
    jobs = [j for j in job_layers(trace) if lo <= j["start"] <= hi]
    plans = plan_intervals(trace)
    m = {k: 0.0 for k in LAYER_UNITS if k not in ("trace_overhead", "trace.residual_max")}

    ops = []
    for o in pass_rec["ops"]:
        s = o["span"]
        own = [j for j in jobs if s["start"] <= j["start"] <= s["end"]]
        # the benchmark's action executes the plan the op's query built
        for j in own:
            if j["action"]:
                j["layer"] = PLAN_LAYER.get(o["op"], "queries")
        ivs = [(j["start"], j["end"]) for j in own]
        b = breakdown((s["start"], s["end"]), ivs, plans)
        b.update(op=o["op"], self={c["name"]: self_time(c) / 1e3 for c in [s] + s["children"]})
        ops.append(b)
        if f"op.{o['op']}_s" in m:
            m[f"op.{o['op']}_s"] = b["wall"] / 1e3
    star_run = record["workload"] == "star_etl"
    gaps = sum(b["gap"] for b in ops) / 1e3
    if star_run:
        m["star.driver_gap_s"] = gaps
    else:
        m["queries.plan_s"] = sum(b["plan"] for b in ops) / 1e3
        m["queries.jobs"] = float(len(jobs))
        m["queries.tasks"] = float(sum(j["tasks"] for j in jobs))
        m["queries.driver_gap_s"] = gaps

    m["etl.task_s"] = sum(j["csv_task_ms"] for j in jobs) / 1e3
    if csv_bytes:
        m["etl.csv_scans"] = sum(j["csv_input"] for j in jobs) / csv_bytes

    star = [j for j in jobs if j["layer"] == "star"]
    m["star.jobs"] = float(len(star))
    m["star.write_s"] = union_length([(j["start"], j["end"]) for j in star
                                      if j["site"].startswith(("parquet at", "save at"))]) / 1e3
    m["star.readback_s"] = union_length([(j["start"], j["end"]) for j in star
                                         if j["site"].startswith("count at")]) / 1e3
    m["star.output_mb"] = sum(j["output"] for j in star) / 1e6

    opj = [j for j in jobs if j["layer"] == "operators"]
    m["operators.task_s"] = sum(j["task_ms"] for j in opj) / 1e3
    span = union_length([(j["start"], j["end"]) for j in opj]) / 1e3
    m["operators.parallelism"] = m["operators.task_s"] / span if span > 0 else 0.0
    m["operators.shuffle_mb"] = sum(j["shuffle_write"] for j in opj) / 1e6
    m["operators.spill_mb"] = sum(j["spill"] for j in opj) / 1e6
    m["operators.cache_peak_mb"] = (pass_rec["cache_peak"] or 0) / 1e6

    batches = [b for b in trace["batches"] if lo <= b["time"] <= hi]
    d = [b["durations"] for b in batches]
    m["streaming.batches"] = float(len(batches))
    m["streaming.batch_p50_s"] = median([x.get("triggerExecution", 0) for x in d]) / 1e3
    m["streaming.add_batch_s"] = sum(x.get("addBatch", 0) for x in d) / 1e3
    m["streaming.log_commit_s"] = sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1e3
    m["streaming.planning_s"] = sum(x.get("queryPlanning", 0) + x.get("getBatch", 0)
                                    + x.get("latestOffset", 0) for x in d) / 1e3

    src = [j for j in jobs if j["layer"] == "sources"]
    m["sources.jobs"] = float(len(src))
    m["sources.job_s"] = union_length([(j["start"], j["end"]) for j in src]) / 1e3
    m["sources.files_written"] = float(sum(
        e["files_written"] for e in trace["execs"]
        if lo <= e["start"] <= hi and layer_of(e["long"]) == "sources"))
    m["jvm.gc_s"] = pass_rec["gc_s"]
    m["jvm.peak_rss_mb"] = record["peak_rss_kb"] / 1024.0
    return m, ops


def per_layer(record, csv_bytes):
    """Median of each layer metric over the traced passes, the trace
    overhead, and the per-op breakdowns for the trace file."""
    traced = [p for p in record["passes"] if p["traced"]]
    plain = [p for p in record["passes"] if not p["traced"]]
    per_pass, breakdowns = [], []
    for p in traced:
        m, ops = pass_layers(record, p, csv_bytes)
        per_pass.append(m)
        breakdowns.append({"pass": p["index"], "layers": m, "ops": ops})
    metrics = {k: median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
    tw = median([(p["end"] - p["start"]) / 1e3 for p in traced])
    pw = median([(p["end"] - p["start"]) / 1e3 for p in plain])
    metrics["trace_overhead"] = tw / pw if pw > 0 else 0.0
    metrics["trace.residual_max"] = max((o["residual"] for b in breakdowns for o in b["ops"]), default=0.0)
    return metrics, breakdowns
