#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run is one fresh JVM
(perfbench.Main). Human-readable details go first; the last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics (end-to-end metrics, or per-layer metrics with
--trace 1). Exits non-zero on a wrong result, a failed unit of work or a
failed run. Everything the run writes stays under .bench_build/.
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

BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build: engine and harness sources plus
    the harness build definition."""
    h = hashlib.sha256()
    files = [os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for top in (os.path.join("src", "main"), os.path.join("perfbench", "src", "main")):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, log_path):
    """Run cmd in its own process group with output to log_path; on
    timeout kill the whole group. Returns the exit code, or None on
    timeout. Always waits until the process has ended."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def build(root, bdir):
    """Compile engine + harness once per source state; return the
    runtime classpath, the seconds spent building and the source stamp."""
    stamp = source_stamp(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip(), 0.0, stamp
    t0 = time.monotonic()
    env = dict(os.environ, COURSIER_MODE="offline")
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                     os.path.join(root, "perfbench"), env, BUILD_TIMEOUT_S, log)
    built = os.path.join(root, "perfbench", "target", "runtime-classpath.txt")
    if code != 0 or not os.path.exists(built):
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {code})", 1)
    shutil.copyfile(built, cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    with open(cp_file) as c:
        return c.read().strip(), time.monotonic() - t0, stamp


def driver_memory():
    """Heap for the benchmark JVM: a quarter of the machine, 2-3 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{max(2, min(3, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def print_details(res, other):
    d = res.get("details", {})
    for k in sorted(d):
        print(f"  detail {k} = {d[k]}")
    for c in res.get("checks", []):
        print(f"  check {'PASS' if c['pass'] else 'FAIL'} {c['name']}: {c['detail']}")
    for k, v in res.get("end_to_end", {}).items():
        print(f"  end_to_end {k} = {v['value']} {v['unit']}")
    if other is not None:
        # the traced run and the untraced run of the same seed measure the
        # same end-to-end figures; their ratio is the tracing overhead
        traced, plain = (res, other) if res.get("traced") else (other, res)
        for k, v in traced.get("end_to_end", {}).items():
            base = plain.get("end_to_end", {}).get(k, {}).get("value")
            if base:
                print(f"  trace_overhead {k} = {v['value'] / base - 1:+.4f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) in this directory; "
             "run from the root of a checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    bdir = os.path.join(root, BUILD_DIR)
    for sub in ("results", "logs", "work", "tmp"):
        os.makedirs(os.path.join(bdir, sub), exist_ok=True)
    cp, build_s, stamp = build(root, bdir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(bdir, "results", tag + ".json")
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(bdir, "tmp", f"{tag}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    for stale in (out, out + ".spans.json"):
        if os.path.exists(stale):
            os.remove(stale)
    mem = driver_memory()
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap (-Xms = -Xmx) keeps the resident high-water mark
        # from following the collector's heap-sizing decisions
        f"-Xms{mem}", f"-Xmx{mem}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--work", work,
        "--cache", os.path.join(bdir, "cache", stamp[:16])]
    log = os.path.join(bdir, "logs", tag + ".log")
    code = run_group(cmd, root, dict(os.environ), max(60, RUN_TIMEOUT_S - build_s), log)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        sys.stderr.write(tail(log))
        fail("run timed out", 3)
    if not os.path.exists(out):
        sys.stderr.write(tail(log))
        fail(f"run failed without a result (exit {code})", 1)
    with open(out) as fh:
        res = json.load(fh)
    res["traced"] = bool(a.trace)
    with open(out, "w") as fh:
        json.dump(res, fh)

    other_path = os.path.join(bdir, "results", f"{a.workload}-seed{a.seed}-trace{1 - a.trace}.json")
    other = None
    if os.path.exists(other_path):
        with open(other_path) as fh:
            other = json.load(fh)
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}"
          f" build_s={build_s:.1f} jvm_exit={code}")
    print_details(res, other)

    metrics = res["metrics"]
    missing = [k for k in want if k not in metrics]
    if missing:
        fail(f"run reported no {missing}", 1)
    ok = bool(res["completed"]) and bool(res["correct"]) and res["failed"] == 0 and code == 0
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": {k: metrics[k] for k in want}}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
