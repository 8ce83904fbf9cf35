#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 graftbench/run.py --workload <mixed|analytics>
                              --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline, from the local dependency cache)
and caches the resulting classpath; later runs reuse it until a source
file changes. Each run starts one JVM, which measures the workload and
prints the contract JSON as its last stdout line. This script prints that
line last and exits with the JVM's code (1 when an output check failed).

Everything a run writes stays under graftbench/: sbt output in target/,
scratch stores in .work/ (deleted after the run), per-run reports and
trace spans in out/. A traced run also writes its tracing overhead: its
own end-to-end figures minus those of the untraced run of the same
workload and seed, when that run's report exists.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAMP = os.path.join(HERE, "target", "graftbench-classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (the program's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for base in ("build.sbt", "project", "src/main", "graftbench/build.sbt",
                 "graftbench/project", "graftbench/src/main"):
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            out.append(base)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))
                    or "resources" in d]
    return sorted(set(out))


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when a source changed."""
    fp = fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(p.stderr)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    for x in lines[:-1]:
        print(x, file=sys.stderr)
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(f"build failed (sbt exit {p.returncode})")
        sys.exit(2)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def declared_metrics(traced):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def report_overhead(out, workload, seed):
    """Traced end-to-end figures minus the untraced ones, same seed."""
    def load(t):
        p = os.path.join(out, f"result-{workload}-seed{seed}-trace{t}.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)["end_to_end"]
        return None
    plain, traced = load(0), load(1)
    if plain is None or traced is None:
        log("no untraced run of this workload and seed: tracing overhead not computed")
        return
    over = {k: {"untraced": plain[k]["value"], "traced": traced[k]["value"],
                "overhead": traced[k]["value"] - plain[k]["value"], "unit": plain[k]["unit"]}
            for k in plain if k in traced and plain[k]["value"] is not None
            and traced[k]["value"] is not None}
    with open(os.path.join(out, f"overhead-{workload}-seed{seed}.json"), "w") as f:
        json.dump(over, f, indent=1)
    for k, v in over.items():
        log(f"tracing overhead {k}: {v['overhead']:+.4g} {v['unit']} "
            f"({v['untraced']:.4g} -> {v['traced']:.4g})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["mixed", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources next to the benchmark (expected {ROOT}/build.sbt "
            "and src/main/scala): run it from a checkout of the repository")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        sys.exit(2)

    cp = classpath()
    work_root = os.path.join(HERE, ".work")
    shutil.rmtree(work_root, ignore_errors=True)  # left over from a killed run
    work = os.path.join(work_root, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    out = os.path.join(HERE, "out")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        shutil.rmtree(work_root, ignore_errors=True)
        sys.exit(1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work_root, ignore_errors=True)

    lines = stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stdout.write(stdout)
        log(f"the run printed no result (exit {proc.returncode})")
        sys.exit(proc.returncode or 1)
    code = proc.returncode
    want = declared_metrics(a.trace == 1)
    if want is not None and sorted(want) != sorted(result["metrics"]):
        log(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}")
        code = code or 1
    for x in lines[:-1]:
        print(x)
    if a.trace == 1:
        report_overhead(out, a.workload, a.seed)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
