"""Benchmark of graft's command-line workflows.

    python3 perfbench/run.py --workload <recsys|curate> --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the program
and the benchmark driver from source with sbt (perfbench/build.sbt); later
runs reuse that build while the sources are unchanged. The seed's inputs
are generated under perfbench/.work (generation time is in no metric),
then fresh JVMs run the workflow through the `cli` entry points at
local[nproc] until --seconds have been measured (at least once). Outputs
are checked in DuckDB. Human-readable metric lines go to stdout, and the
last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
runs the workflow with Spark listeners attached and reports the
per-layer metrics. Each run leaves a JSON record, with the per-span
breakdown of a traced run, in perfbench/.work/<workload>/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import layers  # noqa: E402

WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 160
# A run must end within this many seconds of its build being ready; a
# workflow JVM takes up to JVM_S seconds on a quiet 4-vCPU host (about 40
# and 60 measured, plus margin).
RUN_LIMIT_S = 165
JVM_S = {"recsys": 50, "curate": 85}
# Largest share of the machine's CPU time a hypervisor may give to other
# guests while a workflow JVM runs. Timings from a JVM above it are not
# comparable with timings from a quiet host: the JVM is discarded and run
# again, and a run that gets no JVM below it fails without a result. The
# share is first checked STEAL_GRACE_S after launch, then every
# STEAL_POLL_S, so a JVM on a busy host is stopped early.
STEAL_CEILING = 0.10
STEAL_GRACE_S, STEAL_POLL_S = 10, 2
STAGES = {
    "recsys": {"train_s": "train.", "predict_s": "predict.", "evaluate_s": "evaluate."},
    "curate": {"curate_s": "curate.run", "ingest_s": "curate.ingest"},
}
# The module opens the repository's own build passes to forked runs, and
# a heap far above what the workflows keep live.
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


class BenchError(Exception):
    pass


class BusyHost(Exception):
    def __init__(self, share):
        super().__init__(f"steal_share {share:.4f} > ceiling {STEAL_CEILING}")
        self.share = share


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    singles = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "project", "build.properties")]
    plugin_dir = os.path.join(ROOT, "project")
    if os.path.isdir(plugin_dir):
        singles += [os.path.join(plugin_dir, f) for f in sorted(os.listdir(plugin_dir))
                    if f.endswith((".sbt", ".scala"))]
    files = [f for f in singles if os.path.isfile(f)]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """(classpath of the program plus the benchmark driver, source digest),
    compiled with sbt when the sources differ from the last build in this
    checkout."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"not a source checkout: {need} is missing under {ROOT}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")
    digest = source_hash()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["hash"] == digest and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"], digest
    log("building with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise BenchError(f"sbt build failed with exit code {proc.returncode}")
    lines = [l.strip() for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise BenchError("sbt printed no classpath")
    classpath = lines[-1].split(os.pathsep)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, digest


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generated input dir for (workload, seed), reused when complete.
    Older seeds' inputs are removed so the work dir stays small."""
    base = os.path.join(WORK, workload)
    d = os.path.join(base, f"input-{seed}")
    marker = os.path.join(d, "_generated.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, json.load(f)
    if os.path.isdir(base):
        for old in os.listdir(base):
            if old.startswith("input-"):
                shutil.rmtree(os.path.join(base, old))
    rows, size = gen.generate(workload, d, seed)
    info = {"rows": rows, "bytes": size}
    with open(marker, "w") as f:
        json.dump(info, f)
    return d, info


# ---------------------------------------------------------------- one JVM run

def cpu_ticks():
    """(steal, total) CPU ticks of the whole machine so far, from
    /proc/stat; None where that file does not exist."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_share(ticks0, ticks1):
    """Share of the machine's CPU time between two cpu_ticks() readings
    that a hypervisor gave to other guests; None if unknown."""
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        return (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    return None


def run_workflow(classpath, workload, inp, traced):
    """One cold-JVM workflow run; returns its result record with
    `setup_s` (process launch to session ready and a trivial action
    done) and `steal_share` (see steal_share) added. Raises BusyHost,
    having stopped the JVM, when the steal share exceeds STEAL_CEILING."""
    run_dir = os.path.join(WORK, workload, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ([shutil.which("java")] + JVM_OPTS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", os.pathsep.join(classpath), "graft.perfbench.Workflow",
            workload, inp, os.path.join(run_dir, "out"), "1" if traced else "0", result_path])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        ticks0 = cpu_ticks()
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            code = None
            while code is None:
                elapsed = time.time() - launched
                share = steal_share(ticks0, cpu_ticks())
                if elapsed >= STEAL_GRACE_S and share is not None and share > STEAL_CEILING:
                    raise BusyHost(share)
                if elapsed > JVM_TIMEOUT_S:
                    raise BenchError(f"{workload} JVM timed out after {JVM_TIMEOUT_S} s")
                try:
                    code = proc.wait(timeout=STEAL_POLL_S)
                except subprocess.TimeoutExpired:
                    pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"{workload} JVM exited with code {code}")
    share = steal_share(ticks0, cpu_ticks())
    if share is not None and share > STEAL_CEILING:
        raise BusyHost(share)
    with open(result_path) as f:
        result = json.load(f)
    result["setup_s"] = result["ready_ms"] / 1e3 - launched
    result["steal_share"] = share
    result["out_dir"] = os.path.join(run_dir, "out")
    return result


def wall_s(result):
    return sum(s["end_ms"] - s["start_ms"] for s in result["spans"]) / 1e3


# ---------------------------------------------------------------- reporting

def end_to_end(runs, rows):
    """End-to-end metrics: medians over the run's untraced iterations."""
    med = lambda xs: stats.summarize(xs)["median"]
    walls = [wall_s(r) for r in runs]
    return {
        "setup_s": (med([r["setup_s"] for r in runs]), "s"),
        "wall_s": (med(walls), "s"),
        "rows_per_s": (rows / med(walls), "1/s"),
        "cpu_s": (med([sum(s["cpu_ns"] for s in r["spans"]) / 1e9 for r in runs]), "s"),
        "peak_heap_mb": (med([r["peak_heap_bytes"] / layers.MB for r in runs]), "MB"),
    }


def stage_metrics(workload, runs):
    out = {}
    for name, prefix in STAGES[workload].items():
        vals = [sum(s["end_ms"] - s["start_ms"] for s in r["spans"]
                    if s["name"].startswith(prefix)) / 1e3 for r in runs]
        out[name] = (stats.summarize(vals)["median"], "s")
    return out


def per_layer_units(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "trace.accounted_max":
        return "ratio"
    return "count"


def _history_file(workload):
    return os.path.join(WORK, workload, "untraced_walls.json")


def load_history(workload, digest):
    """`wall_s` of the latest untraced runs of a workload built from the
    sources with this digest; walls of other source trees do not count."""
    try:
        with open(_history_file(workload)) as f:
            past = json.load(f)
        return past["walls"] if past["hash"] == digest else []
    except (OSError, ValueError, KeyError, TypeError):
        return []


def save_history(workload, digest, walls):
    past = load_history(workload, digest)
    with open(_history_file(workload), "w") as f:
        json.dump({"hash": digest, "walls": (past + walls)[-20:]}, f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(STAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classpath, digest = build()
    inp, info = inputs(args.workload, args.seed)
    log(f"{args.workload} seed={args.seed}: {info['rows']} input rows, {info['bytes']} bytes")

    runs, traced_run, discarded = [], None, []  # discarded: steal shares
    attempted = failed = 0
    check_lines = []

    def execute(traced):
        nonlocal attempted, failed
        r = run_workflow(classpath, args.workload, inp, traced)
        for s in r["spans"]:
            attempted += 1
            if not s["ok"]:
                failed += 1
                check_lines.append(f"stage {s['name']} FAILED: {s['error']}")
        for name, ok, detail in checks.run_checks(args.workload, inp, r["out_dir"], r["spans"]):
            attempted += 1
            failed += 0 if ok else 1
            check_lines.append(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
        return r

    start = time.time()

    def execute_quiet(traced):
        """One JVM run below the steal ceiling; JVMs above it are
        discarded and rerun while a whole run would end within
        RUN_LIMIT_S."""
        while True:
            try:
                return execute(traced)
            except BusyHost as busy:
                discarded.append(busy.share)
                print(f"JVM discarded: {busy}")
                if time.time() - start + JVM_S[args.workload] > RUN_LIMIT_S:
                    raise BenchError(
                        f"host too busy: other guests took {busy.share:.1%} of the CPU "
                        f"(ceiling {STEAL_CEILING:.0%}); timings would not be comparable")

    if args.trace:
        traced_run = execute_quiet(True)
        # the untraced wall the traced run is compared with: earlier
        # untraced runs of these sources, else one untraced run now if it
        # still ends within the run limit
        baseline = load_history(args.workload, digest)
        if not baseline and time.time() - start + JVM_S[args.workload] <= RUN_LIMIT_S:
            try:
                runs.append(execute(False))
                baseline = [wall_s(runs[0])]
            except BusyHost as busy:
                discarded.append(busy.share)
    else:
        while not runs or time.time() - start < args.seconds:
            runs.append(execute_quiet(False))
        save_history(args.workload, digest, [wall_s(r) for r in runs])

    if traced_run is not None:
        layer, rows = layers.breakdown(traced_run)
        off = [f"{r['span']} {r['accounted']:.3f}" for r in rows
               if abs(r["accounted"] - 1) > layers.ACCOUNTED_LIMIT - 1]
        attempted += 1
        failed += 1 if off else 0
        check_lines.append(f"check trace.accounted: {'FAILED' if off else 'ok'} (busy + catalyst"
                           f" + idle within {layers.ACCOUNTED_LIMIT - 1:.0%} of each span's wall"
                           + (f"; off: {', '.join(off)})" if off else ")"))
    for line in check_lines:
        print(line)
    kept = runs + ([traced_run] if traced_run else [])
    steal = [r["steal_share"] for r in kept if r["steal_share"] is not None]
    if steal:
        print(f"steal_share = {max(steal):.4f} (largest share of CPU time other guests took "
              f"during a kept JVM; ceiling {STEAL_CEILING}; {len(discarded)} JVMs discarded)")
    error_rate = failed / attempted

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "input_rows": info["rows"], "input_bytes": info["bytes"],
              "checks": check_lines, "discarded_steal_shares": discarded,
              "jvms": [{"traced": r["traced"], "setup_s": r["setup_s"],
                        "steal_share": r["steal_share"],
                        "spans": [{k: s[k] for k in ("name", "start_ms", "end_ms", "cpu_ns",
                                                     "jit_ms", "codegen_classes", "codegen_ms",
                                                     "heap_bytes")} for s in r["spans"]]}
                       for r in kept]}
    if traced_run is not None:
        if baseline:
            layer["trace.overhead_s"] = wall_s(traced_run) - stats.summarize(baseline)["median"]
        else:
            layer["trace.overhead_s"] = 0.0
            print("trace.overhead_s: no untraced run to compare with, reported as 0")
        record["spans"] = rows
        for r in rows:
            print("span {span:<16} wall {wall_s:7.3f} s  busy {busy_s:7.3f}  catalyst {catalyst_s:6.3f}"
                  "  idle {idle_s:6.3f}  accounted {accounted:5.3f}  jobs {jobs:4d}  tasks {tasks:5d}"
                  .format(**r))
        metrics = {k: (v, per_layer_units(k)) for k, v in sorted(layer.items())}
        shown = dict(metrics)
    else:
        metrics = end_to_end(runs, info["rows"])
        shown = dict(metrics, **stage_metrics(args.workload, runs))
        print(f"iterations {len(runs)}, input {info['rows']} rows / {info['bytes']} bytes")
    shown["error_rate"] = (error_rate, "ratio")
    for name, (value, unit) in shown.items():
        print(f"{name} = {value:.6g} {unit}")
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}
    record_file = os.path.join(WORK, args.workload, f"record-{args.seed}-trace{args.trace}.json")
    with open(record_file, "w") as f:
        json.dump(record, f, indent=1)

    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
