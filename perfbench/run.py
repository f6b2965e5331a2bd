#!/usr/bin/env python3
"""The repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds N --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into .bench_build/ and target/;
later runs reuse the build while the sources are unchanged. The run itself
is one JVM (perfbench.Main) on local[nproc] with as many shuffle
partitions as cores.

Workloads (see README.md): invoice_stream, lifecycle_serve. With
--trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 it carries the per-layer metrics of a
traced run, the span trace is kept under .bench_build/perfbench/traces/
and the deterministic counters are compared with reference/counters.json.
Every failed operation is listed on stderr with its cause.
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("invoice_stream", "lifecycle_serve")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Builds the program and the benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources (build.sbt, src/main/scala) beside {HERE}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", "-Xmx2g"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true",
           f"-Dsbt.global.base={os.path.join(STATE, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export perfbench/Runtime/fullClasspath"]
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    p = run_bounded(cmd, HERE, BUILD_LIMIT_S, env=env, capture=True)
    out = p[1]
    if p[0] != 0:
        sys.stderr.write(out[-4000:])
        die(f"build failed (exit {p[0]})")
    cps = [l.strip() for l in out.splitlines()
           if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(out[-4000:])
        die("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f}s")
    return cps[-1]


def java_command(cp):
    cmd = ["java"]
    for m in JDK17_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-Xmx3g", "-cp", cp]


_child = None


def _terminate(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(3)


def run_bounded(cmd, cwd, limit_s, env=None, capture=False, stdout=None):
    """Runs cmd in its own process group; kills the group at the limit and
    waits for it. Returns (exit code, captured output)."""
    global _child
    _child = subprocess.Popen(
        cmd, cwd=cwd, env=env, start_new_session=True,
        stdout=subprocess.PIPE if capture else stdout,
        stderr=subprocess.STDOUT, text=capture or None)
    try:
        out, _ = _child.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        die(f"{cmd[0]} did not finish within {limit_s}s")
    code = _child.returncode
    _child = None
    return code, out or ""


def permute_tables(src, dst, seed):
    """Copies each table with its rows in a seeded order. The queries'
    results do not depend on row order, so the committed fingerprints
    hold for every seed, while the physical input differs."""
    import numpy as np
    import pyarrow.parquet as pq
    os.makedirs(dst)
    rng = np.random.RandomState(seed)
    for name in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, name))
        pq.write_table(t.take(rng.permutation(t.num_rows)), os.path.join(dst, name))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cp = build()
    t_start = time.time()

    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        logfile = os.path.join(STATE, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
        data = DATA
        if a.workload == "lifecycle_serve":
            data = os.path.join(work, "data")
            permute_tables(DATA, data, a.seed)
        cmd = java_command(cp) + [
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", data]
        with open(logfile, "w") as lf:
            code, _ = run_bounded(cmd, work, RUN_LIMIT_S - (time.time() - t_start),
                                  stdout=lf)
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            die(f"benchmark JVM exited with {code}; log: {logfile}")
        with open(result_path) as f:
            res = json.load(f)
        attempted = res["attempted"]
        failures = list(res["failures"])

        if a.workload == "lifecycle_serve":
            import fingerprints
            ref = json.load(open(os.path.join(HERE, "reference", "fingerprints.json")))
            results = os.path.join(work, "results")
            names = sorted(os.listdir(results)) if os.path.isdir(results) else []
            for name, fp in fingerprints.of_results(results, names).items():
                attempted += 1
                if fp != ref.get(name):
                    failures.append(f"{name}: result fingerprint {fp} differs "
                                    f"from the DuckDB oracle's {ref.get(name)}")

        if a.trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(
                STATE, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
            import counters
            counters.report(a.workload, res["metrics"])

        got = res["metrics"]
        wanted = bench["per_layer" if a.trace else "end_to_end"]
        known = {m["name"] for m in bench["per_layer"] + bench["end_to_end"]}
        unknown = sorted(set(got) - known)
        if unknown:
            die(f"metrics missing from BENCHMARK.json: {unknown}")
        metrics = {}
        for m in wanted:
            v = got.get(m["name"], {}).get("value")
            if v is None and not a.trace:
                die(f"end-to-end metric {m['name']} was not measured; log: {logfile}")
            # a per-layer metric of a layer this workload does not use
            metrics[m["name"]] = {"value": 0 if v is None else v, "unit": m["unit"]}
        for f in failures:
            log(f"FAILED {f}")
        with open(os.path.join(STATE, f"last-{a.workload}.json"), "w") as f:
            json.dump({"seed": a.seed, "trace": a.trace, "failures": failures,
                       "metrics": got}, f, indent=1)
        print(json.dumps({"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
