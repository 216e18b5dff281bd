#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (cached under
perfbench/.work/build), generates the workload's inputs from the seed,
runs them in one JVM with Spark local[n], checks the outputs and prints,
as the last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. See NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("ohlc_cron", "corpus_ingest")
RUN_LIMIT_S = 170        # one run, build excluded
BUILD_LIMIT_S = 800      # a cold build in the first run of a checkout

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs a command in its own process group. Kills the group and waits
    for it on a timeout (returns None) and on any other way out, such as
    SIGTERM or Ctrl-C."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def exit_on_sigterm(signum, frame):
    # raises SystemExit, so run_bounded's cleanup stops the child first
    sys.exit(128 + signum)


def classpath():
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    sbt = shutil.which("sbt") or die("sbt is not on PATH")
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as out:
        rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log_path).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "perfbench" in l.split(":")[0]]
    if rc != 0 or not cps:
        die(f"build failed (exit {rc}); see {log_path}:\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except (OSError, ValueError):
        return None


def java_cmd(cp, args, work):
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    # a class-data archive of the library, Spark and the harness: the first
    # run in a checkout writes it at exit, later runs map it at start
    cds = os.path.join(BUILD, "classes.jsa")
    cmd = ["java", "-Xshare:auto", f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
           else f"-XX:ArchiveClassesAtExit={cds}"]
    for o in opens:
        cmd += ["--add-opens", o]
    # few GC threads: the run uses two task slots of a shared host
    cmd += ["-Xmx3g", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"] + args
    return cmd


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the repository root")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, exit_on_sigterm)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the library's sources (src/main/scala/graft) are not in this checkout")
    bench = spec()
    cp = classpath()
    start = time.time()  # the run's clock starts after the build

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        sizes = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - start
        # two task slots: the loops are driver-bound (a few KB per Spark
        # job), and the rest of a shared host's cores stay free for the
        # driver, the JIT and GC
        cores = min(2, os.cpu_count() or 1)
        result_file = os.path.join(run_dir, "result.json")
        jvm_log = os.path.join(run_dir, "jvm.log")
        launch = time.time()
        ticks0 = cpu_ticks()
        with open(jvm_log, "w") as err:
            rc = run_bounded(java_cmd(cp, [a.workload, inputs, run_dir, str(a.seconds),
                                           str(a.trace), str(cores), result_file], run_dir),
                             RUN_LIMIT_S - (launch - start), stdout=err,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        ticks1 = cpu_ticks()
        steal = (None if not ticks0 or not ticks1 or ticks1[1] == ticks0[1]
                 else (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]))
        if rc != 0 or not os.path.exists(result_file):
            tail = open(jvm_log).read().splitlines()[-30:]
            die(f"the benchmark JVM {'timed out' if rc is None else f'exited {rc}'}:\n"
                + "\n".join(tail))
        with open(result_file) as f:
            r = json.load(f)
        report(a, bench, sizes, gen_s, start, launch, steal, r)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, bench, sizes, gen_s, start, launch, steal, r):
    host = r["host"]
    log(f"host: nproc={host['nproc']} spark=local[{host['spark_cores']}] "
        f"heap_max={host['heap_max_mb']}MiB cpu_calibration "
        f"start={host['cpu_calibration_start_s']:.4f}s end={host['cpu_calibration_end_s']:.4f}s "
        f"steal={'n/a' if steal is None else f'{steal:.1%}'} of host CPU time during the JVM")
    log(f"inputs: {json.dumps({k: v for k, v in sizes.items() if k != 'why'})}")
    out = r["outcome"]
    if out is not None:
        cycles_end = r["setup_done_ms"] / 1000 + out["cycle_s"] * out["cycles"]
        log(f"phases: generate {gen_s:.2f} s, JVM start and calibration "
            f"{r['setup_start_ms'] / 1000 - launch:.2f} s, set-ups (session + input load) "
            f"{' '.join(f'{x:.2f}' for x in r['setup_s'])} s, "
            f"launch to first timed op {r['setup_done_ms'] / 1000 - launch:.2f} s, "
            f"cycles {cycles_end - r['setup_done_ms'] / 1000:.2f} s, checks "
            f"{r['checks_done_ms'] / 1000 - cycles_end:.2f} s, total {time.time() - start:.2f} s")
    ops = r["ops"]
    failed = [o for o in ops if o["error"]]
    for o in failed:
        log(f"FAILED {o['kind']} {o['label']}: {o['error']}")
    if out is None:
        log(f"the loop stopped at a failed operation: {r['failed_op']}")
        checks, metrics = [], {}
    else:
        checks = out["checks"]
        metrics = e2e_or_layers(a, bench, r, out)
        for m in out["named"]:
            log(f"{m['name']} = {fmt(m['value'])} {m['unit']}")
        # CPU seconds of every JVM thread per cycle: printed, not gated
        log(f"cycle_cpu_s = {fmt(out['cycle_cpu_s'])} s")
    for c in checks:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    correct = out is not None and not failed and all(c["ok"] for c in checks)
    if not correct:
        log("OUTPUT CHECK FAILED")
    for k, v in metrics.items():
        log(f"{k} = {fmt(v['value'])} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    if not correct:
        sys.exit(1)


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def e2e_or_layers(a, bench, r, out):
    untraced_file = os.path.join(WORK, f"last_untraced_{a.workload}.json")
    if a.trace == 0:
        values = {
            # median of the run's set-ups (a Spark session start and the
            # input load); the first one also pays the JVM's class loading
            "setup_s": statistics.median(r["setup_s"]),
            "cycle_s": out["cycle_s"],
            "bytes_per_row": out["bytes_per_row"],
        }
        with open(untraced_file, "w") as f:
            json.dump({"cycle_s": values["cycle_s"]}, f)
        return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                for m in bench["end_to_end"]}
    values = {m["name"]: m["value"] for m in out["layers"]}
    unknown = set(values) - {m["name"] for m in bench["per_layer"]}
    if unknown:
        die(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    write_trace(a, r)
    base = json.load(open(untraced_file)).get("cycle_s") if os.path.exists(untraced_file) else None
    if base:
        traced = out["cycle_s"]
        log(f"tracing overhead: traced cycle {traced:.4f} s vs last untraced "
            f"{base:.4f} s ({(traced / base - 1) * 100:+.1f}%); tracer bookkeeping "
            f"{values['trace.overhead_s']:.4f} s")
    # a layer this workload never calls did no work: 0
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in bench["per_layer"]}


def write_trace(a, r):
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{r['run_id']}-seed{a.seed}.json")
    with open(path, "w") as f:
        json.dump({"run_id": r["run_id"], "workload": a.workload, "seed": a.seed,
                   "spans": r["spans"]}, f)
    log(f"trace: {len(r['spans'])} spans written to {os.path.relpath(path, ROOT)}")
    by_parent = {}
    for s in r["spans"]:
        by_parent.setdefault(s["parent"], []).append(s)
    cycles = {s["id"] for s in r["spans"] if s["name"] == "cycle"}
    # each timed operation's wall time as its children's self times plus
    # the part no child span covers
    for s in r["spans"]:
        if s["parent"] in cycles:
            kids = by_parent.get(s["id"], [])
            log(f"  {s['name']} {s['wall_s']:.3f} s = "
                + "".join(f"{k['name']} {k['self_s']:.3f} + " for k in kids)
                + f"untraced {s['self_s']:.3f}")


if __name__ == "__main__":
    main()
