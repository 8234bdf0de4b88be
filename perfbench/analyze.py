"""Metric arithmetic over the harness's raw records.

The JVM side only records: per-operation due/sent/start/end times and,
when traced, Spark's job, stage, task and SQL-execution events plus the
benchmark's own spans. Every number the benchmark reports is derived
here, from pure functions that `test_analyze.py` covers.
"""
import re
import statistics

MB = 1048576.0
# the layers a job can be attributed to, by the innermost graft frame
MODULES = ("engine", "plans", "sources", "operators")
ENGINE_CALLS = ("preview", "infer_schema", "execute_sql", "apply_transforms",
                "quality_score", "export")
# the layer the benchmark calls on each workload
ENTRY_LAYER = {"interactive_api": "engine", "curation_pipeline": "plans"}
FRAME = re.compile(r"^(?:\S*/)?([A-Za-z_$][\w$]*(?:\.[\w$]+)+)\(")


def percentile(values, q):
    """Linear-interpolation percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n, ladder=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest percentile of the ladder with at least ten of `n` samples
    beyond it, or None when even the median has fewer."""
    for q in ladder:
        if n * (1.0 - q / 100.0) >= 10.0 - 1e-9:
            return q
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def module_of(callsite):
    """Layer of the innermost `graft.*` frame of a Spark call site (the
    long form: one stack frame per line, innermost first), or None."""
    for line in (callsite or "").splitlines():
        m = FRAME.match(line.strip())
        if not m:
            continue
        frame = m.group(1)
        if frame.startswith("graft.Engine"):
            return "engine"
        for pkg, module in (("graft.plans.", "plans"), ("graft.sources.", "sources"),
                            ("graft.operators.", "operators"), ("graft.functions.", "operators")):
            if frame.startswith(pkg):
                return module
    return None


def open_loop_times(op):
    """(latency, lateness) of one call: latency runs from the due time,
    so a stall also charges the calls queued behind it; lateness is how
    far behind schedule the generator issued the call."""
    return op["end"] - op["due"], op["sent"] - op["due"]


def end_to_end(result, slo_ms):
    ops = result["ops"]
    lat = [open_loop_times(o)[0] for o in ops]
    ok = [o for o in ops if o["ok"]]
    wall_s = sum(o["end"] - o["start"] for o in ok) / 1000.0
    return {
        "setup_s": statistics.median(result["setup_s"]),
        "op_p50_ms": percentile(lat, 50),
        "op_p95_ms": percentile(lat, 95),
        "slo_met_frac": sum(1 for o, l in zip(ops, lat) if o["ok"] and l <= slo_ms) / len(ops),
        "rows_per_s": sum(o["rows_in"] for o in ok) / wall_s if wall_s > 0 else 0.0,
        "ok_frac": len(ok) / len(ops),
        "live_heap_mb": result["live_heap_mb"],
    }


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(result):
    """Per-operation layer figures from a traced run (means over the
    traced operations unless the name says otherwise)."""
    workload = result["workload"]
    entry = ENTRY_LAYER[workload]
    ops = result["ops"]
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    ids = {o["id"] for o in traced}
    tr = result["trace"]
    n = len(traced)

    execs = {e["exec"]: e for e in tr["execs"]}
    ends = {j["job"]: j for j in tr["job_ends"]}
    by_op = {i: {"jobs": [], "stages": [], "tasks": [], "phases": []} for i in ids}
    unlinked = via_span = 0
    mod_jobs = {m: 0 for m in MODULES}
    mod_ms = {m: 0.0 for m in MODULES}
    job_iv = {i: [] for i in ids}
    for j in tr["jobs"]:
        g = j["group"]
        if g in ids:
            by_op[g]["jobs"].append(j)
        elif g.split("/")[0] not in ids:
            # jobs of an output check carry "<op>/check"; anything else
            # has lost its operation
            unlinked += 1
            continue
        else:
            continue
        mod = module_of(j["callsite"])
        if mod is None and j.get("sql_exec"):
            e = execs.get(int(j["sql_exec"]))
            mod = module_of(e["callsite"]) if e else None
        if mod is None:
            mod, via_span = entry, via_span + 1
        end = ends.get(j["job"], {}).get("end", j["start"])
        mod_jobs[mod] = mod_jobs.get(mod, 0) + 1
        mod_ms[mod] = mod_ms.get(mod, 0.0) + (end - j["start"])
        job_iv[g].append((j["start"], end))
    for s in tr["stages"]:
        if s["group"] in ids:
            by_op[s["group"]]["stages"].append(s)
    for t in tr["tasks"]:
        if t["group"] in ids:
            by_op[t["group"]]["tasks"].append(t)
    exec_of_query = {q["query"]: q["exec"] for q in tr["queries"]}
    for p in tr["phases"]:
        e = execs.get(exec_of_query.get(p["query"]))
        if e and e["group"] in ids:
            by_op[e["group"]]["phases"].append(p)

    spans = result["spans"]
    layer_spans = [s for s in spans if s["name"] != "plans.parse" and s["op"] in ids]
    parse = [s["end"] - s["start"] for s in spans if s["name"] == "plans.parse"]

    m = {}
    for call in ENGINE_CALLS:
        xs = [o["end"] - o["start"] for o in traced if o["kind"] == call]
        m[f"engine.{call}_p50_ms"] = percentile(xs, 50) if xs else 0.0
    for layer in ("engine", "plans"):
        self_ms = [(s["end"] - s["start"]) - union_length(clip(job_iv[s["op"]], s["start"], s["end"]))
                   for s in layer_spans if s["name"].startswith(layer + ".")]
        m[f"{layer}.self_ms"] = _mean(self_ms)
    m["plans.parse_ms"] = _mean(parse)
    for mod in MODULES:
        m[f"{mod}.jobs"] = mod_jobs[mod] / n if n else 0.0
        m[f"{mod}.job_ms"] = mod_ms[mod] / n if n else 0.0

    def per_op(f):
        return _mean([f(o, by_op[o["id"]]) for o in traced])

    def task_sum(key, scale=1.0):
        return per_op(lambda o, b: sum(t[key] for t in b["tasks"]) / scale)

    m["op.wall_ms"] = per_op(lambda o, b: o["end"] - o["start"])
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = per_op(lambda o, b: sum(p[f"{phase}_ms"] for p in b["phases"]))
    m["codegen.compiles"] = per_op(lambda o, b: o["compiles"])
    m["codegen.compile_ms"] = m["codegen.compiles"] * (result.get("codegen_mean_ms") or 0.0)
    m["sched.jobs"] = per_op(lambda o, b: len(b["jobs"]))
    m["sched.stages"] = per_op(lambda o, b: len(b["stages"]))
    m["sched.tasks"] = per_op(lambda o, b: len(b["tasks"]))
    m["sched.driver_only_ms"] = per_op(lambda o, b: (o["end"] - o["start"]) - union_length(
        clip([(t["launch"], t["finish"]) for t in b["tasks"]], o["start"], o["end"])))
    m["exec.run_ms"] = task_sum("run_ms")
    m["exec.cpu_ms"] = task_sum("cpu_ns", 1e6)
    m["exec.gc_ms"] = task_sum("gc_ms")
    busy = sum(t["finish"] - t["launch"] for o in traced for t in by_op[o["id"]]["tasks"])
    wall = sum(o["end"] - o["start"] for o in traced)
    m["exec.slot_busy_frac"] = busy / (wall * result["slots"]) if wall > 0 else 0.0
    m["sources.input_mb"] = task_sum("in_bytes", MB)
    m["sources.output_mb"] = task_sum("out_bytes", MB)
    m["sources.input_records"] = task_sum("in_records")
    m["sources.output_records"] = task_sum("out_records")
    m["shuffle.write_mb"] = task_sum("shuffle_write_bytes", MB)
    m["shuffle.read_mb"] = task_sum("shuffle_read_bytes", MB)
    m["shuffle.fetch_wait_ms"] = task_sum("fetch_wait_ms")
    m["spill.mb"] = task_sum("spill_bytes", MB)
    skews = [stage_skew(b["stages"], b["tasks"]) for b in (by_op[o["id"]] for o in traced)]
    skews = [s for s in skews if s is not None]
    m["exec.stage_skew"] = statistics.median(skews) if skews else 0.0
    m["driver.result_mb"] = task_sum("result_bytes", MB)
    m["jvm.gc_ms"] = per_op(lambda o, b: o["gc_ms"])
    m["storage.cached_mb"] = max((o["cached_mb"] for o in traced), default=0.0)
    m["sched.failed_jobs"] = float(sum(1 for j in tr["job_ends"] if not j["ok"]))
    m["sched.failed_tasks"] = float(sum(1 for t in tr["tasks"] if not t["ok"]))
    m["gen.lag_p95_ms"] = percentile([open_loop_times(o)[1] for o in ops], 95)
    p_t = percentile([open_loop_times(o)[0] for o in traced], 50) if traced else 0.0
    p_u = percentile([open_loop_times(o)[0] for o in untraced], 50) if untraced else 0.0
    m["trace.overhead_ms"] = p_t - p_u
    m["trace.overhead_frac"] = (p_t - p_u) / p_u if p_u > 0 else 0.0
    m["trace.jobs_unlinked"] = float(unlinked)
    m["trace.jobs_via_span"] = float(via_span)
    return m


def stage_skew(stages, tasks):
    """max/median task time in the operation's longest stage."""
    done = [s for s in stages if s["submitted"] >= 0 and s["completed"] >= 0]
    if not done:
        return None
    longest = max(done, key=lambda s: s["completed"] - s["submitted"])
    durs = [t["finish"] - t["launch"] for t in tasks if t["stage"] == longest["stage"]]
    if not durs:
        return None
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0
