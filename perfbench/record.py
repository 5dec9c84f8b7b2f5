#!/usr/bin/env python3
"""Record the benchmark's reference outputs (perfbench/refs/).

    python3 perfbench/record.py catalog
    python3 perfbench/record.py layouts
    python3 perfbench/record.py pipelines base 1 2

`catalog` runs every catalog query once over the benchmark fixture,
cross-checks each result that has a DuckDB oracle with
tools/check_oracle.py (read-only), and writes refs/catalog.tsv: name,
result hash, row count, and 1 when the oracle matched (0 marks an
unoracled query). A query whose oracle does not match is not recorded,
so the benchmark reports it as wrong. Each query's time is kept in
.perfbench/record-times.json: the catalog workload's op lists take the
cheapest query of each module from it.

`layouts` builds every layout into a fresh root and writes
refs/layouts.tsv: name, hash and rows of the build's output.

`pipelines` runs the flagship and the funnel once per input and writes
refs/pipelines.tsv: input, trainMse, forecast hash and rows, funnel
hash. `base` is the fixture itself (the catalog workload's pipelines
ops, one GBT iteration); a number is the pipelines-10x seed whose
amplification is used (ten GBT iterations).
Run each at the commit whose outputs are the reference.
"""
import json
import re
import shutil
import subprocess
import sys

import run

REFS = run.BENCH / "refs"


def catalog():
    jars = run.spark_jars()
    classes = run.build(jars)
    base = run.fixture()
    verify = run.WORK / "verify"
    shutil.rmtree(verify, ignore_errors=True)
    tmp = run.WORK / "tmp" / "record"
    shutil.rmtree(tmp, ignore_errors=True)
    raw = run.jvm(classes, jars, tmp, {"mode": "record", "data": base, "verify": verify},
                  timeout=3600)
    shutil.rmtree(tmp, ignore_errors=True)
    r = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check_oracle.py"),
                        str(base), str(verify)], stdout=subprocess.PIPE, text=True)
    matched = set(re.findall(r"^ok\s+(\S+)", r.stdout, re.M))
    failed = re.findall(r"^FAIL (\S+): (.*)$", r.stdout, re.M)
    lines = ["# name\thash\trows\toracled"]
    for q in sorted(raw["queries"], key=lambda q: q["name"]):
        if "error" in q:
            print(f"error {q['name']}: {q['error']}")
        elif q["oracled"] and q["name"] not in matched:
            print(f"oracle mismatch {q['name']}")
        else:
            lines.append(f"{q['name']}\t{q['hash']}\t{q['rows']}\t{int(q['oracled'])}")
    for name, msg in failed:
        print(f"FAIL {name}: {msg[:200]}")
    REFS.mkdir(exist_ok=True)
    (REFS / "catalog.tsv").write_text("\n".join(lines) + "\n")
    times = {q["name"]: q.get("seconds") for q in raw["queries"]}
    (run.WORK / "record-times.json").write_text(json.dumps(
        {"times": times, "modules": {q["name"]: q["module"] for q in raw["queries"]}}, indent=1))
    print(f"{len(lines) - 1} recorded, {len(matched)} oracle matches, {len(failed)} oracle failures")


def layouts():
    jars = run.spark_jars()
    classes = run.build(jars)
    tmp = run.WORK / "tmp" / "record"
    shutil.rmtree(tmp, ignore_errors=True)
    raw = run.jvm(classes, jars, tmp, {"mode": "record-layouts", "data": run.fixture()},
                  timeout=900)
    shutil.rmtree(tmp, ignore_errors=True)
    REFS.mkdir(exist_ok=True)
    (REFS / "layouts.tsv").write_text("# name\thash\trows\n" + "".join(
        f"{x['name']}\t{x['hash']}\t{x['rows']}\n" for x in raw["layouts"]))
    print(f"{len(raw['layouts'])} layouts recorded")


def pipelines(inputs):
    rows = {}
    path = REFS / "pipelines.tsv"
    if path.exists():
        for line in path.read_text().splitlines():
            if line and not line.startswith("#"):
                rows[line.split("\t")[0]] = line
    jars = run.spark_jars()
    classes = run.build(jars)
    base = run.fixture()
    for x in inputs:
        key, data = ("base", base) if x == "base" else \
            (f"x{run.AMPLIFY}-s{x}", run.amplified(base, int(x)))
        raw = run.jvm(classes, jars, run.WORK / "tmp" / "record",
                      {"mode": "record-pipelines", "data": base, "input": data}, timeout=900)
        rows[key] = "\t".join([key] + [str(raw[k]) for k in
                                        ("mse", "forecast_hash", "forecast_rows", "funnel_hash")])
        print(rows[key])
    REFS.mkdir(exist_ok=True)
    path.write_text("# input\ttrainMse\tforecast_hash\tforecast_rows\tfunnel_hash\n" +
                    "".join(rows[k] + "\n" for k in sorted(rows)))


if __name__ == "__main__":
    if sys.argv[1] == "catalog":
        catalog()
    elif sys.argv[1] == "layouts":
        layouts()
    else:
        pipelines(sys.argv[2:])
