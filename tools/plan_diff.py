#!/usr/bin/env python3
"""Diff two PlanAudit dumps query by query.

Usage: python3 tools/plan_diff.py <before.txt> <after.txt> <outDir>

Each input is the output of `sbt "runMain graft.PlanAudit <sfDir>"`: a
`========== <query> ==========` header, then the query's formatted
physical plan. sbt's `[info] ` prefix is dropped, and the per-JVM
counters a plan prints are normalized (COUNTERS below), so two runs of
the same code compare equal. Writes `<outDir>/SUMMARY.md` (query count,
changed queries) and, for every changed query, its normalized before
and after plans as `<query>_before.txt` / `<query>_after.txt`. Exit
status 1 when any plan changed.
"""
import os
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
# per-JVM counters, not plan shape: expression ids (`#123`), exchange
# ids (`plan_id=123`), lambda variable suffixes (`x_20`), RDD ids
# (`MapPartitionsRDD[388]`), JVM lambda class names with their
# identity hashes (`Bpe$$$Lambda$7300/0x00007f2fa591df70@636280d2`) and
# byte-array literals, printed by identity (`[B@5ba3e590`), and the
# source line an RDD was created at (`localCheckpoint at Foo.scala:884`),
# which moves with any edit above it in that file
COUNTERS = [
    (re.compile(r"(#|plan_id=)\d+"), r"\1N"),
    (re.compile(r"(lambda [A-Za-z]+_)\d+"), r"\1N"),
    (re.compile(r"(RDD\[)\d+\]"), r"\1N]"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), r"$Lambda"),
    (re.compile(r"\[B@[0-9a-f]+"), r"[B@N"),
    (re.compile(r"( at \w+\.scala:)\d+"), r"\1N"),
]


def normalize(line):
    for rx, repl in COUNTERS:
        line = rx.sub(repl, line)
    return line


def plans(path):
    """query name -> normalized plan text"""
    out, name, lines = {}, None, []
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif line.startswith("["):
                continue  # sbt's own [warn]/[error]/[success] lines
            m = HEADER.match(line)
            if m:
                if name:
                    out[name] = "\n".join(lines).strip() + "\n"
                name, lines = m.group(1), []
            elif name:
                lines.append(normalize(line))
    if name:
        out[name] = "\n".join(lines).strip() + "\n"
    return out


def main(before_path, after_path, out_dir):
    before, after = plans(before_path), plans(after_path)
    names = sorted(set(before) | set(after))
    changed = [n for n in names if before.get(n) != after.get(n)]
    os.makedirs(out_dir, exist_ok=True)
    for n in changed:
        for tag, side in (("before", before), ("after", after)):
            with open(os.path.join(out_dir, f"{n}_{tag}.txt"), "w") as f:
                f.write(side.get(n, "(missing)\n"))
    with open(os.path.join(out_dir, "SUMMARY.md"), "w") as f:
        f.write(f"queries: {len(names)} (before {len(before)}, "
                f"after {len(after)})\nchanged: {len(changed)}\n")
        f.writelines(f"- {n}\n" for n in changed)
    print(f"{len(names)} queries, {len(changed)} changed")
    return 1 if changed else 0


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
