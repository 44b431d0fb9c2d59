#!/usr/bin/env python3
"""Diff two PlanAudit dumps with the run-to-run noise masked.

Usage: python3 tools/plandiff.py <parent dump> <change dump>

A dump is PlanAudit's stdout, either as sbt prints it (`[info] `-prefixed
lines mixed with other output) or already stripped to the plan lines.
Everything before the first `================ q_` header is dropped.

Masked, because it differs between any two runs of the same commit:
  - expression ids `#<id>`;
  - `plan_id=<n>` and `RDD[<n>]`;
  - the per-JVM artifact root `graft_sig_idx_<pid>`;
  - the session suffix of session-table names (`graft_<name>_<key>_<session>`;
    the 16-hex key stays, it is artifact key material);
  - lambda addresses (`$$Lambda$<n>/0x<addr>@<hash>`);
  - call sites `at <File>.scala:<line>`, which move with any edit to a file.

Prints a unified diff of what remains and exits 1, or prints nothing and
exits 0. The `Expand` column order of q_profile and q_stickiness can differ
between two runs of the same commit (Spark groups distinct aggregates in a
hash map keyed on expression ids); the script does not hide it.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(graft_[a-z0-9_]+_[0-9a-f]{16})_[0-9a-f]{8}\b"), r"\1_SESSION"),
    (re.compile(r"graft_sig_idx_\d+(?![0-9a-f])"), "graft_sig_idx_PID"),
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\bat [A-Za-z0-9_$]+\.scala:\d+"), "at CALLSITE"),
]


SBT_LEVEL = re.compile(r"^\[(error|warn|success|debug)\] ")


def plan_lines(path):
    out, on = [], False
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif SBT_LEVEL.match(line):
                continue  # Spark's log, which sbt tags [error]
            if not on and line.startswith("================ q_"):
                on = True
            if on:
                for rx, rep in MASKS:
                    line = rx.sub(rep, line)
                out.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a, b = plan_lines(argv[1]), plan_lines(argv[2])
    diff = list(difflib.unified_diff(a, b, argv[1], argv[2], lineterm="", n=2))
    for line in diff:
        print(line)
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
