#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload traverse --seed 1 --seconds 28 --trace 0

Builds the harness together with the graft sources of this checkout the
first time (sbt, output under perfbench/target), then runs the harness
JVM once. The last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The full result (facts, set-up parts, per-request rows, tails) is kept in
perfbench/target/results/, and a traced run also writes its spans there.

The data directories come from the table in TESTDATA.md; the environment
variables PERFBENCH_DATA and PERFBENCH_WARM override them.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
RESULTS = os.path.join(TARGET, "results")

HEAP = "2g"
YOUNG = "512m"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(sha):
    """Compile once per source tree; returns the runtime class path."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sha") == sha and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)):
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        fail(3, "sbt is not on PATH")
    log("building the harness and the graft sources (sbt compile)")
    t = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(3, "build failed")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"sha": sha, "classpath": classpath}, fh)
    log(f"built in {time.time() - t:.1f} s")
    return classpath


def data_dirs():
    """(data dir, warm-up dir): the sf 0.1 and sf 0.01 rows of TESTDATA.md."""
    dirs = {}
    md = os.path.join(ROOT, "TESTDATA.md")
    if os.path.exists(md):
        with open(md) as fh:
            for m in re.finditer(r"^\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", fh.read(), re.M):
                dirs[m.group(1)] = m.group(2).rstrip("/")
    data = os.environ.get("PERFBENCH_DATA", dirs.get("0.1"))
    warm = os.environ.get("PERFBENCH_WARM", dirs.get("0.01"))
    for d in (data, warm):
        if not d or not os.path.isdir(d):
            fail(2, f"data directory {d!r} not found (TESTDATA.md or PERFBENCH_DATA)")
    return data, warm


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or fail(3, "java is not on PATH")


def run_jvm(classpath, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the heap and its young generation are pinned, so adaptive sizing
    # does not move peak RSS; the heap is not pre-touched, so the heap
    # pages the requests use show in it. Only the C1 compiler runs: Spark
    # compiles new classes for most requests, and C2 recompiling them
    # took over half the process CPU, on the cores the requests need.
    # Spark's cleaner calls System.gc() every minute; it runs as a
    # concurrent cycle, not as a full pause inside a timed request.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:TieredStopAtLevel=1", "-XX:+ExplicitGCInvokesConcurrent",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            "-cp", classpath, "graftbench.Main"] + args
    # the harness JVM's own output goes to stderr: stdout is the result
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        fail(128 + signum, "stopped")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(5, f"harness JVM exceeded {RUN_TIMEOUT_S} s")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["traverse", "analytics", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=28)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-golden", metavar="OUT_DIR",
                    help="regenerate golden/digests.tsv for the traverse and "
                         "analytics pools and dump their results under OUT_DIR "
                         "for tools/check.py")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(2, f"no graft sources under {ROOT}/src/main/scala/graft")
    spec = load_spec()
    data, warm = data_dirs()
    sha = source_sha()
    classpath = build(sha)

    work = os.path.join(TARGET, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    golden = os.path.join(HERE, "golden", "digests.tsv")
    if a.make_golden:
        try:
            code = run_jvm(classpath, work, [
                "--mode", "golden", "--data", data, "--warm", warm, "--work", work,
                "--out", os.path.abspath(a.make_golden), "--golden", golden])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    if not a.workload:
        fail(2, "--workload is required")
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(RESULTS, name + ".json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--warm", warm, "--work", work, "--out", out,
            "--golden", golden]
    try:
        code = run_jvm(classpath, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        fail(4, f"harness JVM failed (exit {code})")

    with open(out) as fh:
        res = json.load(fh)
    res["facts"].update({"git_commit": git_commit(), "source_sha": sha,
                         "heap": HEAP, "young": YOUNG})
    if a.trace:
        res["tracing_overhead"] = overhead(res, a.workload, a.seed, sha)
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    pool = res["layers"] if a.trace else res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in pool]
    if missing:
        fail(4, f"result lacks metrics {missing}")
    metrics = {m["name"]: {"value": pool[m["name"]]["value"], "unit": m["unit"]}
               for m in wanted}

    f = res["facts"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"requests {res['attempted']}  failed {res['failed']}  "
          f"rounds {res['rounds']}  timed {res['timed_s']:.2f} s")
    print(f"nproc {f['nproc']}  slots {f['task_slots']}  heap {HEAP}  "
          f"spark {f['spark']}  jvm {f['jvm']}  commit {f['git_commit']}  "
          f"steal {f['steal_jiffies']} jiffies  data {f['data_dir']}")
    for k, v in metrics.items():
        print(f"  {k:32s} {v['value']:14.6f} {v['unit']}")
    for k, t in res["tails"].items():
        print(f"  {k} tail: p{t['percentile']:.1f} of {t['samples']} samples, "
              f"{t['beyond']} beyond")
    if a.trace:
        for k, d in res["tracing_overhead"].items():
            print(f"  overhead {k:23s} {d}")
    for e in res["errors"]:
        print(f"  error: {e}")
    print(f"full result: {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def overhead(traced, workload, seed, sha):
    """Traced minus untraced end-to-end metrics of the same seed, as a share
    of the untraced value, when an untraced run of this tree is on file."""
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this seed on file"}
    with open(path) as fh:
        plain = json.load(fh)
    if plain["facts"].get("source_sha") != sha:
        return {"note": "the untraced run on file is of another source tree"}
    out = {}
    for k, v in traced["metrics"].items():
        base = plain["metrics"].get(k, {}).get("value")
        if base:
            out[k] = f"{(v['value'] - base) / base:+.1%} ({base:.4g} -> {v['value']:.4g} {v['unit']})"
    return out


if __name__ == "__main__":
    main()
