#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one measured run.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark from source (scalac from the Spark distribution), writes
the seeded fixture, and warms the catalog's layout root; all of that
lives under `.perfbench/` and is reused by later runs. Each run then
launches one JVM (`perfbench.Main`), which sets up once, runs whole
passes of the workload's ops for `--seconds`, checks every output
outside the timed interval, and writes a raw record. This script turns
the record into metrics and prints them as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones. See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402
import metrics  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench"
AMPLIFY = 10
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: no SPARK_HOME and no spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"perfbench: no Spark jars under {home}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit("perfbench: no program sources (src/main/scala); "
                         "run from the root of a full checkout")
    return sorted(main.rglob("*.scala")), sorted((BENCH / "src").rglob("*.scala"))


def scalac(jars, classpath, out, files):
    out.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")


def build(jars):
    """Compile the program and the benchmark once per source state."""
    main, bench = sources()
    h = hashlib.sha256()
    for f in main + bench:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = WORK / "build" / h.hexdigest()[:16]
    if out.is_dir():
        return out
    log("building program and benchmark")
    tmp = out.with_suffix(".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jars, f"{jars}/*", tmp, main)
    scalac(jars, f"{tmp}:{jars}/*", tmp, bench)
    tmp.rename(out)
    return out


def fixture():
    d = WORK / "data" / "base-v1"
    if not d.is_dir():
        d.parent.mkdir(parents=True, exist_ok=True)
        gen.base(str(d))
    return d


def amplified(base, seed):
    d = WORK / "data" / f"amp{AMPLIFY}-s{seed}-v1"
    if not d.is_dir():
        gen.amplify(str(base), str(d), seed, AMPLIFY)
    return d


def jvm(classes, jars, tmpdir, args, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main in its own work dir; return its raw record."""
    run_dir = WORK / "runs" / f"{os.getpid()}-{time.monotonic_ns()}"
    run_dir.mkdir(parents=True)
    Path(tmpdir).mkdir(parents=True, exist_ok=True)
    out = run_dir / "record.json"
    # no perf-data file: the JVM would write it to the system temp dir
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Main", f"work={run_dir}",
              f"out={out}", f"refs={BENCH / 'refs'}"]
           + [f"{k}={v}" for k, v in args.items()])
    try:
        with subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True) as p:
            try:
                log_text, _ = p.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                raise SystemExit("perfbench: JVM run timed out")
            if p.returncode != 0 or not out.exists():
                sys.stderr.write(log_text[-6000:])
                raise SystemExit(f"perfbench: JVM run failed ({p.returncode})")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def history(workload):
    """Untraced pass walls of earlier runs in this checkout."""
    return WORK / "history" / f"{workload}.json"


def warm_root(classes, jars, data):
    """The catalog's layout root, built once per checkout."""
    root = WORK / "warm-v1"
    if not root.is_dir():
        log("warming the catalog layout root")
        tmp = root.with_suffix(".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        jvm(classes, jars, tmp, {"mode": "prepare", "data": data})
        tmp.rename(root)
    return root


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    jars = spark_jars()
    classes = build(jars)
    base = fixture()
    args = {"mode": "run", "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "data": base}
    input_bytes = gen.tree_bytes(str(base))
    past = json.loads(history(a.workload).read_text()) if history(a.workload).exists() else []
    scratch = WORK / "tmp" / f"{os.getpid()}"
    try:
        if a.workload == "catalog":
            tmpdir = warm_root(classes, jars, base)
        elif a.workload == "pipelines-10x":
            amp = amplified(base, a.seed)
            args["amp"] = amp
            input_bytes = gen.tree_bytes(str(amp))
            tmpdir = scratch
        else:
            tmpdir = scratch  # cold-layouts: a fresh root, deleted below
        raw = jvm(classes, jars, tmpdir, args)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    raw["input_bytes"] = input_bytes
    # trace.overhead_ratio compares a traced run with the untraced runs
    # before it, so a traced run needs no untraced pass of its own
    raw["untraced_wall"] = statistics.median(past) if past else None
    if a.trace and not past:
        log("no untraced run in this checkout yet: trace.overhead_ratio reads 0")
    if not a.trace:
        h = history(a.workload)
        h.parent.mkdir(parents=True, exist_ok=True)
        h.write_text(json.dumps(past + [p["wall_s"] for p in raw["passes"]]))

    result = metrics.summarize(a.workload, raw, bool(a.trace))
    for o in result["named_failures"]:
        log(f"op {o}")
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "env": raw["env"], **result["line"]}
    for k in ("setup_s", "setup_parts", "phases_s", "passes", "ops", "vm_hwm_kb"):
        artifact[k] = raw[k]
    if a.trace:
        artifact["spans"] = metrics.self_times(raw["spans"])
    out = WORK / "artifacts" / f"{a.workload}-s{a.seed}-t{a.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(artifact, indent=1))
    print(json.dumps({"env": raw["env"], "artifact": str(out.relative_to(ROOT))}))
    print(json.dumps(result["line"]))


if __name__ == "__main__":
    main()
