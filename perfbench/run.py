#!/usr/bin/env python3
"""Benchmark of the graft engine, timed from outside the library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 25 --trace 0

Workloads (BENCHMARK.json says why each was chosen):
  catalog       one catalog entry per operator module on the sf0.001 tables
  daily_report  tabjolt.Pipeline.runDaily over seeded, generated TabJolt logs

The script compiles the library (src/main/scala) and the harness
(perfbench/harness) with the Scala compiler shipped in Spark's jars,
caching the classes under .bench_build/ by a hash of the sources. Each
run gets a fresh private state directory (java.io.tmpdir and
SPARK_LOCAL_DIRS), which is measured and deleted at the end.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The exit code is non-zero when any output is wrong or a run fails.

Other modes:
  --workload all       run every workload in turn
  --record-expected    re-record the catalog checksums in perfbench/expected/
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import tabjolt_logs  # noqa: E402

WORKLOADS = ("catalog", "daily_report")
FIXTURE = os.path.join(BENCH, "data", "sf0.001")
SETUP_PROBES = 1        # extra JVM launches timed for setup_s
DEADLINE_S = 170        # a run must end well inside 180 s
MAX_HEAP_MB = 2048

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def spark_jars(root):
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt's
    `unmanagedBase` names."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BenchError("SPARK_HOME is unset and build.sbt names no unmanagedBase")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise BenchError(f"no Spark jars with scala-compiler under {d}")
    return jars


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                       recursive=True))
    if not lib:
        raise BenchError(f"no library sources under {root}/src/main/scala: "
                         "run from the root of a graft checkout")
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    return lib, harness


def scalac(jars, out, classpath, files, deadline):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join(classpath), *files]
    p = subprocess.run(cmd, capture_output=True, text=True,
                       timeout=max(1, deadline - time.time()))
    if p.returncode != 0:
        raise BenchError("compile failed:\n" + (p.stdout + p.stderr)[-4000:])


def build(root, deadline):
    """Compile library and harness once per source tree; returns the
    classpath for the harness JVM."""
    lib, harness = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in lib + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, ".bench_build", "graftbench")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "done")):
        for old in glob.glob(os.path.join(base, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        t0 = time.time()
        scalac(jars, os.path.join(out, "lib"), jars, lib, deadline)
        scalac(jars, os.path.join(out, "harness"), jars + [os.path.join(out, "lib")],
               harness, deadline)
        open(os.path.join(out, "done"), "w").close()
        log(f"built library and harness in {time.time() - t0:.1f}s")
    return [os.path.join(out, "harness"), os.path.join(out, "lib")] + jars


# -------------------------------------------------------------------- run

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb():
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(MAX_HEAP_MB, total_kb // 2048)


def dir_bytes(d):
    n = 0
    for base, _, files in os.walk(d):
        for f in files:
            try:
                n += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return n


def jvm(classpath, run_dir, args, deadline):
    """Launch the harness JVM with its private state dirs; returns the
    parsed result file."""
    state = os.path.join(run_dir, "state")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    if os.path.exists(result):
        os.remove(result)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(state, "local")
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    # A fixed, pre-touched heap: peak RSS is then the heap plus the JVM's
    # peak native memory, instead of wherever G1's heap sizing happened
    # to stop (which swings by a third between runs).
    heap = f"{heap_mb()}m"
    cmd = ["java", "-Xms" + heap, "-Xmx" + heap, "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(state, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "org.apache.spark.graftbench.Harness",
            "--cores", str(cores()), "--result", result,
            "--launch-ms", str(int(time.time() * 1000)), *args]
    with open(os.path.join(run_dir, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise BenchError("harness JVM ran past the deadline")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM exited {rc}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def prepare_input(workload, seed, run_dir):
    data = os.path.join(run_dir, "input")
    if workload == "daily_report":
        tabjolt_logs.generate(data, seed)
    else:
        if not os.path.isdir(FIXTURE):
            raise BenchError(f"missing fixture {FIXTURE}")
        # a private, writable copy: round-trip entries write beside their inputs
        os.makedirs(data)
        for f in os.listdir(FIXTURE):
            shutil.copyfile(os.path.join(FIXTURE, f), os.path.join(data, f))
    return data


def run_one(root, classpath, workload, seed, seconds, trace, deadline, record=False):
    run_dir = os.path.join(root, ".bench_build", "graftbench", f"run-{os.getpid()}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = prepare_input(workload, seed, run_dir)
        setups = []
        for _ in range(SETUP_PROBES):
            setups.append(jvm(classpath, run_dir, ["--setup-only", "1"], deadline)["setup_s"])
            shutil.rmtree(os.path.join(run_dir, "state"))
        expected = os.path.join(BENCH, "expected", workload + ".json")
        r = jvm(classpath, run_dir, [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", data, "--expected", expected,
            "--record", "1" if record else "0",
            "--spans", os.path.join(root, ".bench_build", "graftbench", "traces",
                                    f"{workload}-seed{seed}.spans.jsonl") if trace else ""],
            deadline)
        r["metrics"]["setup_s"] = statistics.median(setups + [r["metrics"]["setup_s"]])
        r["metrics"]["state_mb"] = dir_bytes(os.path.join(run_dir, "state")) / 1048576.0
        return r
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(spec, r, trace):
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in r["metrics"]:
            raise BenchError(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": r["metrics"][m["name"]], "unit": m["unit"]}
    correct = r["failed"] == 0
    return {"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    deadline = time.time() + DEADLINE_S
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
        # the first run in a checkout also builds; the build has its own budget
        classpath = build(root, time.time() + 600)
        deadline = time.time() + DEADLINE_S
        if a.record_expected:
            return record(root, classpath, a.seed, seconds)
        names = WORKLOADS if a.workload == "all" else (a.workload,)
        ok = True
        for w in names:
            if len(names) > 1:
                deadline = time.time() + DEADLINE_S
            t0 = time.time()
            r = run_one(root, classpath, w, a.seed, seconds, a.trace == 1, deadline)
            log(f"{w} seed {a.seed}: pass walls " +
                " ".join(f"{p:.2f}" for p in r["passes"]) + f" s, run {time.time() - t0:.1f} s")
            for f in r.get("failures", []):
                log(f"{w}: FAILED {f}")
            out = report(spec, r, a.trace == 1)
            ok &= out["correct"]
            if len(names) > 1:
                for k, m in out["metrics"].items():
                    print(f"{w:15s} {k:28s} {m['value']:.6g} {m['unit']}")
            print(json.dumps(out), flush=True)
        return 0 if ok else 1
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2


def record(root, classpath, seed, seconds):
    """Re-record each catalog entry's (rows, checksum) from this tree. Every
    pass of the recording run must agree with the first."""
    os.makedirs(os.path.join(BENCH, "expected"), exist_ok=True)
    for w in ("catalog",):
        r = run_one(root, classpath, w, seed, seconds, False, time.time() + 900, record=True)
        if r["failed"]:
            for f in r["failures"]:
                log(f"{w}: {f}")
            return 1
        with open(os.path.join(BENCH, "expected", w + ".json"), "w") as f:
            json.dump(dict(sorted(r["recorded"].items())), f, indent=1)
            f.write("\n")
        log(f"recorded {len(r['recorded'])} entries for {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
