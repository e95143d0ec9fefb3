#!/usr/bin/env python3
"""Outside-in benchmark of the graft library.

Usage (from the repository root):

    python3 perfbench/run.py --workload <serve|ingest|corpus|queryset> \
        --seed <n> --seconds <s> --trace <0|1> [--size full|tiny]

Builds the harness (perfbench/build.sbt, which compiles the library's own
sources beside the harness) into .bench_build/ when the sources changed,
runs one workload in a fresh JVM, and prints as the LAST stdout line one
JSON object {"correct", "attempted", "failed", "metrics"}: every
end-to-end metric of BENCHMARK.json with --trace 0, every per-layer metric
with --trace 1. All files it writes stay under .bench_build/ and
.bench_work/ in the repository root; span traces land in
.bench_work/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.realpath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
WORK = os.path.join(REPO, ".bench_work")
LIB_SRC = os.path.join(REPO, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
WORKLOADS = ("serve", "ingest", "corpus", "queryset")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170
HEAP = "3g"
# the JVM module opens Spark needs outside spark-submit (as build.sbt sets)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    for base in (LIB_SRC, HARNESS_SRC):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    return p.returncode


def java_cmd(cp, work, extra=()):
    """The JVM invocation of the harness; `extra` goes before the main class."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
             "-Xlog:disable", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + list(extra) + ["-cp", cp, "perfbench.Main", "--work", work,
                             "--cpus", str(len(os.sched_getaffinity(0)))])


def build():
    """Compiles library + harness into one jar once per source state, then
    dumps a class-data-sharing archive from one tiny training run, so each
    measured JVM maps pre-parsed classes instead of loading ~30k from jars.
    Returns the classpath."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        die(2, f"library sources not found under {LIB_SRC}")
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (fp_file, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "package",
                        "export Runtime/fullClasspathAsJars"],
                       BUILD_TIMEOUT_S, cwd=HERE, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln.strip() for ln in lines if ln.strip().startswith(BUILD) and ":" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(3, f"build failed (exit {rc}); log in {log}")
    cp = cp[-1]
    train = os.path.join(WORK, "train")
    with open(os.path.join(BUILD, "train.log"), "w") as out:
        rc = run_group(java_cmd(cp, train, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
                       + ["--workload", "serve", "--seed", "0", "--seconds", "1",
                          "--trace", "0", "--size", "tiny"],
                       TRAIN_TIMEOUT_S, cwd=REPO, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        die(3, f"class-archive training run failed (exit {rc}); log in {BUILD}/train.log")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return cp


def contract_line(raw, workload, trace):
    """Keeps exactly the metrics BENCHMARK.json lists for this mode; a
    workload BENCHMARK.json does not list keeps every metric it measured."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if workload not in [w["name"] for w in spec["workloads"]]:
        return raw
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = raw["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            die(4, f"metric {m['name']} missing from the run")
        if got["unit"] != m["unit"]:
            die(4, f"metric {m['name']} unit {got['unit']} != {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    if not os.path.exists(os.path.join(REPO, "BENCHMARK.json")):
        die(2, "BENCHMARK.json not found at the repository root")
    cp = build()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    cmd = java_cmd(cp, run_dir, [f"-XX:SharedArchiveFile={ARCHIVE}"]) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds",
        str(a.seconds), "--trace", a.trace, "--size", a.size]
    out_file = os.path.join(run_dir, "stdout.txt")
    err_file = os.path.join(run_dir, "stderr.txt")
    try:
        with open(out_file, "w") as out, open(err_file, "w") as err:
            rc = run_group(cmd, RUN_TIMEOUT_S, cwd=REPO, stdout=out, stderr=err,
                           stdin=subprocess.DEVNULL)
        with open(out_file) as fh:
            lines = fh.read().splitlines()
        raw = None
        for ln in lines:
            if ln.startswith('{"correct"'):
                raw = json.loads(ln)
            else:
                print(ln)
        if rc != 0 or raw is None:
            with open(err_file) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            die(5, f"workload run failed (exit {rc})")
        print(json.dumps(contract_line(raw, a.workload, a.trace == "1")))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
