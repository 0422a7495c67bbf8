"""Per-layer metrics from one traced workflow run.

The JVM side (Tracer.scala) records raw listener events: jobs with their
call sites and task sums, SQL executions with the call site of the
action, Catalyst phase intervals and operator times per query, and
streaming micro-batches. Here every job and phase is placed in the span
(CLI call) whose interval it overlaps most, every job is attributed to
the repository module whose code issued its action, and the results are
summed into the metric names listed in BENCHMARK.json.
"""

import re
import statistics

MB = 1e6
# busy + Catalyst + idle time of a span may exceed its wall by this share
# (where jobs and Catalyst phases overlap) before its attribution fails
ACCOUNTED_LIMIT = 1.10
MODULES = ("cli", "core", "sources", "model", "operators", "streaming")
MODULE_METRICS = ("jobs", "busy_s", "task_s", "shuffle_mb")
OP_KINDS = ("exchange", "agg", "join", "sort", "scan", "generate", "window")
SPANS = ("train.itemcf", "predict.itemcf", "evaluate.itemcf",
         "train.als", "predict.als", "evaluate.als",
         "curate.run", "curate.ingest")

# "pkg.Class$.method(File.scala:12)" or "at pkg.Class.method(...)"
_FRAME = re.compile(r"^(?:at\s+)?([A-Za-z_$][\w$]*(?:\.[A-Za-z_$][\w$]*)+)\.[^.(]+\(")


def module_of(call_site):
    """Repository module of the innermost `graft.*` frame of a long call
    site: `graft.<module>.X` gives <module>, a class directly in `graft`
    gives "graft", the benchmark's own frames give "bench". None when
    the call site holds no graft frame."""
    for line in call_site.splitlines():
        m = _FRAME.match(line.strip())
        if not m:
            continue
        cls = m.group(1)
        if cls.startswith("graft.perfbench."):
            return "bench"
        if cls.startswith("graft."):
            parts = cls.split(".")
            return parts[1] if len(parts) > 2 else "graft"
    return None


def job_module(job, executions):
    """Module that issued a job. Micro-batch jobs belong to `streaming`
    by their query id. Jobs an adaptive query submits from its own
    threads carry only Spark frames, so the call site of their SQL
    execution (or its root execution) is read instead."""
    if job["stream_query"]:
        return "streaming"
    sites = [job["call_site"]]
    ex = executions.get(job["sql_execution"])
    if ex:
        sites.append(ex["call_site"])
        root = executions.get(ex["root"])
        if root:
            sites.append(root["call_site"])
    for site in sites:
        m = module_of(site)
        if m:
            return m
    return "spark"


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _overlap(a, b):
    return min(a[1], b[1]) - max(a[0], b[0])


def _owner(interval, spans):
    """Index of the span overlapping `interval` most; None if none does.
    Zero-length intervals inside a span count as overlapping it."""
    best, best_ov = None, None
    for i, sp in enumerate(spans):
        ov = _overlap(interval, (sp["start_ms"], sp["end_ms"]))
        if ov >= 0 and (best_ov is None or ov > best_ov):
            best, best_ov = i, ov
    return best


def breakdown(result):
    """(per-layer metrics dict, per-span rows) for one traced run. Each
    row also holds the same metrics computed over that span alone."""
    pairs = list(zip(result["spans"], _assign(result)))
    metrics, rows = _aggregate(pairs)
    for row, pair in zip(rows, pairs):
        row["metrics"] = _aggregate([pair])[0]
    return metrics, rows


def _assign(result):
    """Per span: the jobs, Catalyst phases, operator times and
    micro-batches that fall in it."""
    spans = result["spans"]
    executions = {e["id"]: e for e in result.get("executions", [])}
    per_span = [dict(jobs=[], phases=[], ops={}, batches=[]) for _ in spans]

    for job in result.get("jobs", []):
        end = job["end_ms"] if job["end_ms"] >= job["submit_ms"] else job["submit_ms"]
        i = _owner((job["submit_ms"], end), spans)
        if i is not None:
            per_span[i]["jobs"].append(dict(job, end_ms=end,
                                            module=job_module(job, executions)))
    for q in result.get("queries", []):
        for ph in q["phases"]:
            i = _owner((ph["start_ms"], ph["end_ms"]), spans)
            if i is not None:
                per_span[i]["phases"].append(ph)
        i = _owner((q["end_ms"], q["end_ms"]), spans)
        if i is not None:
            ops = per_span[i]["ops"]
            for kind, ms in (q["op_ms"] or {}).items():
                ops[kind] = ops.get(kind, 0.0) + ms
    for b in result.get("batches", []):
        i = _owner((b["start_ms"], b["start_ms"] + b["duration_ms"]), spans)
        if i is not None:
            per_span[i]["batches"].append(b)
    return per_span


def _aggregate(pairs):
    """Metrics summed over (span, assigned events) pairs, and one row per
    span splitting its wall into busy, Catalyst and idle time."""
    m = {f"span.{name}_s": 0.0 for name in SPANS}
    for mod in MODULES:
        m.update({f"{mod}.jobs": 0, f"{mod}.busy_s": 0.0, f"{mod}.task_s": 0.0,
                  f"{mod}.shuffle_mb": 0.0})
    for k in ("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
              "codegen.compile_s", "scheduler.busy_s", "scheduler.driver_idle_s",
              "scheduler.delay_s", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
              "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
              "shuffle.fetch_wait_s", "io.input_mb", "io.output_mb", "jvm.jit_s",
              "stream.batch_p50_s"):
        m[k] = 0.0
    for k in ("codegen.classes", "scheduler.jobs", "scheduler.stages",
              "scheduler.stages_skipped", "scheduler.tasks", "stream.batches",
              "stream.state_rows"):
        m[k] = 0
    m.update({f"op.{k}_s": 0.0 for k in OP_KINDS})

    rows = []
    module_iv = {mod: [] for mod in MODULES}
    batch_durations = []
    for sp, got in pairs:
        lo, hi = sp["start_ms"], sp["end_ms"]
        wall = (hi - lo) / 1e3
        clip = lambda s, e: (max(s, lo), min(e, hi))
        job_iv = [clip(j["submit_ms"], j["end_ms"]) for j in got["jobs"]]
        phase_iv = [clip(p["start_ms"], p["end_ms"]) for p in got["phases"]]
        busy = union_length(job_iv) / 1e3
        catalyst = sum(e - s for s, e in phase_iv) / 1e3
        idle = wall - union_length(job_iv + phase_iv) / 1e3
        accounted = (busy + catalyst + idle) / wall if wall > 0 else 1.0
        rows.append(dict(span=sp["name"], wall_s=wall, self_s=wall, busy_s=busy,
                         catalyst_s=catalyst, idle_s=idle, accounted=accounted,
                         jobs=len(got["jobs"]), tasks=sum(j["tasks"] for j in got["jobs"]),
                         codegen_classes=sp["codegen_classes"], jit_s=sp["jit_ms"] / 1e3))
        if sp["name"] in SPANS:
            m[f"span.{sp['name']}_s"] = wall
        for ph in got["phases"]:
            m[f"catalyst.{ph['name']}_s"] += (ph["end_ms"] - ph["start_ms"]) / 1e3
        m["codegen.compile_s"] += sp["codegen_ms"] / 1e3
        m["codegen.classes"] += sp["codegen_classes"]
        m["jvm.jit_s"] += sp["jit_ms"] / 1e3
        m["scheduler.busy_s"] += busy
        m["scheduler.driver_idle_s"] += idle
        for j, iv in zip(got["jobs"], job_iv):
            m["scheduler.jobs"] += 1
            m["scheduler.stages"] += j["stages"]
            m["scheduler.stages_skipped"] += max(0, j["stages"] - j["stages_run"])
            m["scheduler.tasks"] += j["tasks"]
            m["scheduler.delay_s"] += j["sched_delay_ms"] / 1e3
            m["exec.task_run_s"] += j["task_run_ms"] / 1e3
            m["exec.task_cpu_s"] += j["task_cpu_ns"] / 1e9
            m["exec.task_gc_s"] += j["task_gc_ms"] / 1e3
            m["shuffle.write_mb"] += j["shuffle_write_bytes"] / MB
            m["shuffle.read_mb"] += j["shuffle_read_bytes"] / MB
            m["shuffle.spill_mb"] += j["spill_bytes"] / MB
            m["shuffle.fetch_wait_s"] += j["fetch_wait_ms"] / 1e3
            m["io.input_mb"] += j["input_bytes"] / MB
            m["io.output_mb"] += j["output_bytes"] / MB
            mod = j["module"]
            if mod in module_iv:
                module_iv[mod].append(iv)
                m[f"{mod}.jobs"] += 1
                m[f"{mod}.task_s"] += j["task_run_ms"] / 1e3
                m[f"{mod}.shuffle_mb"] += j["shuffle_write_bytes"] / MB
        for kind, ms in got["ops"].items():
            if kind in OP_KINDS:
                m[f"op.{kind}_s"] += ms / 1e3
        m["stream.batches"] += len(got["batches"])
        batch_durations += [b["duration_ms"] / 1e3 for b in got["batches"]]
        m["stream.state_rows"] = max([m["stream.state_rows"]] +
                                     [b["state_rows"] for b in got["batches"]])
    for mod, ivs in module_iv.items():
        m[f"{mod}.busy_s"] = union_length(ivs) / 1e3
    if batch_durations:
        m["stream.batch_p50_s"] = statistics.median(batch_durations)
    m["trace.accounted_max"] = max((r["accounted"] for r in rows), default=1.0)
    return m, rows
