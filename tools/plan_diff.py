#!/usr/bin/env python3
"""Per-query diff of two `graft.tools.Explain` outputs.

    python3 tools/plan_diff.py <before.txt> <after.txt> [<before2.txt>]

Each input is the captured console output (stdout and stderr) of

    sbt -batch "runMain graft.tools.Explain <row> [<row> ...]"

at one commit. sbt and log lines are dropped, then what moves between
runs or commits without any change to the plan is normalized: expression
ids (`#123`) and exchange plan ids (`[plan_id=308]`), both session
counters; RDD call sites (`RDD[7] at localCheckpoint at
TrainingQueries.scala:2864`); the process-scoped artifact root
(`/tmp/graft_<pid>`); the JVM's per-run name of a lambda class
(`TopK$$$Lambda$5510/0x00007f92a0de1ff0`); and the identity hash in an
object's default `toString` (`graft.functions.KmvAgg@10744fff`). For every query
the script prints `same` or a unified diff of the normalized plans, then
a one-line summary. With a second run of the before commit
(`before2.txt`), a query whose two before runs already differ is
printed `unresolved` instead: its plan moves without any change, so a
comparison cannot show it the same. It exits 1 when any query differs,
is unresolved or is present on one side only.
"""
import difflib
import re
import sys

MARKER = re.compile(r"^========== (\S+) ==========$")
LOG = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d [A-Z]+ ")
NORMALIZE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at \w+\.scala:\d+"),
     r"RDD[N] at \1 at <site>"),
    (re.compile(r"/tmp/graft_\d+"), "/tmp/graft_<pid>"),
    (re.compile(r"Lambda[$\d]*/0x[0-9a-f]+"), "Lambda_N"),
    (re.compile(r"\b([\w.$]+)@[0-9a-f]+\b"), r"\1@<obj>"),
)


def plans(path):
    """Query name -> normalized plan lines, in the order Explain printed."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\r\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif line.startswith("[") or LOG.match(line):
                continue  # sbt's [warn]/[error]/[success] lines, log4j
            m = MARKER.match(line)
            if m:
                cur = out.setdefault(m.group(1), [])
            elif cur is not None and line.strip():
                for pat, rep in NORMALIZE:
                    line = pat.sub(rep, line)
                cur.append(line)
    return out


def main(before_path, after_path, before2_path=None):
    before, after = plans(before_path), plans(after_path)
    before2 = plans(before2_path) if before2_path else before
    names = list(before) + [n for n in after if n not in before]
    differ = []
    for name in names:
        if name not in before or name not in after:
            side = "after" if name not in before else "before"
            print(f"== {name}: only in {side}")
            differ.append(name)
        elif before2.get(name) != before[name]:
            print(f"== {name}: unresolved (the two before runs differ)")
            differ.append(name)
        elif before[name] == after[name]:
            print(f"== {name}: same")
        else:
            print(f"== {name}: differs")
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    before[name], after[name], "before", "after",
                    lineterm="", n=2))
            differ.append(name)
    print(f"{len(names) - len(differ)}/{len(names)} queries same"
          + (f"; differ or unresolved: {' '.join(differ)}"
             if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
