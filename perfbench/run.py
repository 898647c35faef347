#!/usr/bin/env python3
"""Pipeline benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds
the engine sources and the benchmark program under `perfbench/` with sbt; later runs
reuse the build while the sources are unchanged. A run then

1. generates the workload's inputs for the seed (`gen.py`, untimed),
2. times JVM set-up up to a ready SparkSession several times,
3. runs the benchmark JVM (`perfbench.Main`): one cold pass, then warm passes
   for `--seconds`, one client, closed loop,
4. checks the outputs (`check.py`) with DuckDB, outside all timing, and
5. prints one JSON line: with `--trace 0` the end-to-end metrics, with
   `--trace 1` the per-layer metrics of the traced run.

Workloads, metrics and bounds are described in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("forecast_dag", "corpus_curation")
LAYERS = ("ingest", "validate", "timeseries", "analytics", "text", "graph", "vector",
          "sample", "multimodal", "sources", "streaming")
SETUP_PROBES = 1
# host-noise control: seconds of Main.calibrate on a quiet 4-core host
# (the one the bounds were set on). A run is flagged when the control,
# before or after, is more than DRIFT_FLAG slower than this reference or
# than its own other sample.
CALIB_REF_S = 0.16
DRIFT_FLAG = 0.25
# ... or when the hypervisor stole more than this share of CPU time
# while the benchmark JVMs ran
STEAL_FLAG = 0.05
RUN_LIMIT_S = 170
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def _sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    for base in (ROOT, HERE):
        yield os.path.join(base, "build.sbt")
        yield os.path.join(base, "project", "build.properties")


def build():
    """Compile engine + benchmark unless the stamp matches the sources; the
    runtime classpath comes from the build itself."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "GraftSession.scala")):
        fail("engine sources not found: run from the root of a repository checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    log("building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    paths = [line for line in r.stdout.splitlines()
             if not line.startswith("[") and ".jar" in line]
    if r.returncode != 0 or not paths:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(CLASSPATH, "w") as fh:
        fh.write(paths[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java_cmd(work, *args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               "-cp", open(CLASSPATH).read(), "perfbench.Main"] + list(args))


def cpu_times():
    """(stolen, total) CPU jiffies of the host so far, from /proc/stat;
    (0, 0) where there is none. Stolen time is what a hypervisor gave to
    other guests while this one wanted to run."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def launch(cmd, err_path, deadline):
    """Start a JVM that is killed at `deadline`; return (process, seconds
    until it printed READY)."""
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=open(err_path, "ab"),
                         text=True, cwd=ROOT)
    killer = threading.Timer(max(0.0, deadline - t0), p.kill)
    killer.daemon = True
    killer.start()
    line = p.stdout.readline()
    ready = time.perf_counter() - t0
    if line.strip() != "READY":
        p.kill()
        p.wait()
        fail(f"benchmark JVM did not start (see {err_path})")
    return p, ready


def finish(p):
    p.stdout.read()
    if p.wait() != 0:
        fail(f"benchmark JVM exited with {p.returncode} (killed at the run time limit if negative)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    t_start = time.perf_counter()
    deadline = t_start + RUN_LIMIT_S
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(work)
    err = os.path.join(work, "jvm.log")
    manifest = gen.generate(a.workload, a.seed, os.path.join(work, "data"))
    t_gen = time.perf_counter()
    cpu0 = cpu_times()

    setups = []
    for _ in range(SETUP_PROBES):
        p, ready = launch(java_cmd(work, "probe"), err, deadline)
        finish(p)
        setups.append(ready)
    result = os.path.join(work, "result.json")
    p, ready = launch(java_cmd(work, "run", a.workload, os.path.join(work, "data"), work,
                               str(a.seconds), str(a.trace), result), err, deadline)
    setups.append(ready)
    finish(p)
    with open(result) as fh:
        res = json.load(fh)
    t_jvm = time.perf_counter()
    cpu1 = cpu_times()
    steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])

    verdict = check.run_checks(a.workload, work, res)
    for msg in verdict["messages"]:
        log(msg)
    t_check = time.perf_counter()
    log(f"phases: generate {t_gen - t_start:.1f}s, benchmark JVMs {t_jvm - t_gen:.1f}s, "
        f"checks {t_check - t_jvm:.1f}s; CPU time stolen by the host {steal:.1%}")
    calib = (res["calib_before_s"], res["calib_after_s"])
    flagged = max(calib) > CALIB_REF_S * (1 + DRIFT_FLAG) or \
        abs(calib[1] - calib[0]) / min(calib) > DRIFT_FLAG or steal > STEAL_FLAG
    if flagged:
        log(f"host-noise control {calib[0]:.3f}s -> {calib[1]:.3f}s (reference "
            f"{CALIB_REF_S:.3f}s), {steal:.1%} stolen: this run's timings are suspect")
    # for steady.py: the host-noise verdict, which the result line has no key for
    with open(os.path.join(WORK, "host.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "calib_before_s": calib[0],
                   "calib_after_s": calib[1], "steal": steal, "flagged": flagged}, fh)

    warm = [p for p in res["passes"] if p["pass"] > 0]
    plain = [p["seconds"] for p in warm if not p["traced"]]
    traced = [p["seconds"] for p in warm if p["traced"]]
    if a.trace == 0:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "first_pass_s": (res["first_pass_s"], "s"),
            "pass_s": (statistics.median(plain), "s"),
            "bytes_stored_per_input_byte": (verdict["bytes_stored"] / manifest["input_bytes"], "ratio"),
        }
    else:
        metrics = layer_metrics(res, warm, verdict, calib)
        metrics["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
        write_report(work, res, warm, metrics)
    out = {"correct": verdict["failed"] == 0,
           "attempted": verdict["attempted"],
           "failed": verdict["failed"],
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))


def layer_metrics(res, warm, verdict, calib):
    traced = [p for p in warm if p["traced"]]
    n = len(traced)
    cores = res["cores"]
    m = {}
    for layer in LAYERS:
        rows = [p["layers"].get(layer) for p in traced]
        rows = [r for r in rows if r]

        def tot(k):
            return sum(r[k] for r in rows) / n
        busy = tot("busy_s") if rows else 0.0
        m[f"{layer}.busy_s"] = (busy, "s")
        m[f"{layer}.plan_s"] = (tot("plan_s") if rows else 0.0, "s")
        m[f"{layer}.core_util"] = (tot("task_s") / (busy * cores) if busy > 0 else 0.0, "ratio")
        m[f"{layer}.tasks"] = (tot("tasks") if rows else 0.0, "count")
        m[f"{layer}.shuffle_mb"] = (tot("shuffle_bytes") / 1048576 if rows else 0.0, "MB")
        m[f"{layer}.spill_mb"] = (tot("spill_bytes") / 1048576 if rows else 0.0, "MB")
        m[f"{layer}.rows_out"] = (tot("rows_out") if rows else 0.0, "count")
        m[f"{layer}.failed"] = (verdict["failed_by_layer"].get(layer, 0), "count")

    def mean(k):
        return sum(p[k] for p in warm) / len(warm)
    m["jvm.peak_heap_mb"] = (res["peak_heap_mb"], "MB")
    m["jvm.retained_heap_mb"] = (max(p["retained_heap_mb"] for p in warm), "MB")
    m["spark.gc_s"] = (mean("gc_s"), "s")
    m["spark.codegen_s"] = (mean("codegen_s"), "s")
    m["spark.codegen_classes"] = (mean("codegen_classes"), "count")
    m["spark.first_pass_codegen_s"] = (res["passes"][0]["codegen_s"], "s")
    m["sources.files_written"] = (verdict["files_written"], "count")
    m["sources.bytes_written_mb"] = (verdict["bytes_stored"] / 1048576, "MB")
    m["streaming.batches"] = (mean("stream_batches"), "count")
    m["host.calib_s"] = ((calib[0] + calib[1]) / 2, "s")
    m["run.fail_ratio"] = (verdict["failed"] / verdict["attempted"], "ratio")
    m["vector.ann_recall"] = (verdict.get("ann_recall", 0.0), "ratio")
    m["text.dedup_recall"] = (verdict.get("dedup_recall", 0.0), "ratio")
    return m


def write_report(work, res, warm, metrics):
    """Per-layer self time of the traced passes: each layer span's
    duration minus the part of it its Spark job spans cover (planning,
    work on the Spark driver thread and scheduling gaps remain)."""
    traced = {p["pass"] for p in warm if p["traced"]}
    spans = [json.loads(line) for line in open(os.path.join(work, "spans.jsonl")) if line.strip()]
    jobs = {}
    for s in spans:
        if s["kind"] == "job":
            jobs.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    busy, self_s = {}, {}
    for s in spans:
        if s["kind"] != "layer" or s["pass"] not in traced:
            continue
        layer = s["name"].split("/")[0]
        covered, end = 0, s["start_ns"]
        for a, b in sorted(jobs.get(s["id"], [])):
            a, b = max(a, end), min(b, s["end_ns"])
            if b > a:
                covered += b - a
                end = b
        dur = s["end_ns"] - s["start_ns"]
        busy[layer] = busy.get(layer, 0) + dur / 1e9 / len(traced)
        self_s[layer] = self_s.get(layer, 0) + (dur - covered) / 1e9 / len(traced)
    lines = ["layer        busy_s   self_s   (per traced warm pass)"]
    lines += [f"{layer:12s} {busy[layer]:8.3f} {self_s[layer]:8.3f}" for layer in LAYERS if layer in busy]
    lines.append(f"tracing overhead per pass: {metrics['trace.overhead_s'][0]:.3f} s")
    with open(os.path.join(work, "trace_report.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    for line in lines:
        log(line)


if __name__ == "__main__":
    main()
