#!/usr/bin/env python3
"""Same-code / cross-commit bench A/B via git worktrees — the STANDING
drift-adjudication protocol (r19 verdict task #5).

Round-over-round raw bench drift on this shared sandbox is frequently
ENVIRONMENTAL (co-tenant CPU/page-cache pressure), and r19 proved both
calibration gauges can lie in the same round (calib 1.05x up while
calib_mt 0.87x down under a 1.27x raw drift). The one honest
instrument is a back-to-back A/B of the two CODE STATES on the SAME
machine minutes apart: check out the previous round's snapshot commit
and HEAD in separate git worktrees, time the worst-moving queries in
both, interleaved. Code-state ratios within ~±10-15% while the
snapshot ratio is much larger = the drift is the machine, not the
code (r14/r15 and r18/r19 both adjudicated this way).

compare_bench.py prints the trigger: when the shared-query raw ratio
exceeds 1.15x (either direction), run this script and paste its table
into tools/bench_snapshots/cmp_r{N-1}_r{N}.txt.

Usage:
  bench_ab.py <old_ref> <new_ref> --queries q1,q2,...  [options]
  bench_ab.py <old_ref> <new_ref> --snapshots old.json new.json [options]
  bench_ab.py <old> <new> --perfbench <workload> --pairs N [--seed0 K]

With --snapshots, the N biggest shared movers IN EITHER DIRECTION
(max of new/old and old/new — the protocol fires on improvements too)
are picked automatically. Options: --passes (default 4; min is reported),
--top (default 5, with --snapshots), --sfdir (default
/root/testdata/sf0.1), --full (time via -full materialization).

Worktrees land at /tmp/graft_ab_<ref> and are REUSED if present
(compile is the slow step); remove them with `git worktree remove`
when done. Each (ref, query) runs one fresh JVM (TimeQuery), old/new
interleaved per query so machine drift cannot masquerade as a code
delta.

--perfbench runs the repository benchmark (perfbench/run.py, declared
in BENCHMARK.json) N times on each side, at the run length BENCHMARK.json
sets (`run_seconds`), in pairs: pair i uses seed
--seed0 + i on both sides, and the side that runs first alternates
from pair to pair. <old> and <new> are refs (prepared as worktrees as
above) or directories holding a checkout, used as they are; run.py
builds each side itself. For every end-to-end metric it prints each
side's median and quartiles, the share of pairs the new side wins, and
whether a claimed gain would hold: new better in at least 9 of 10
pairs, the medians further apart than the old side's interquartile
range, and no more failed calls on the new side than on the old.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sh(cmd, **kw):
    print(f"+ {' '.join(cmd)}", file=sys.stderr)
    return subprocess.run(cmd, check=True, **kw)


_TOOLS_DIR = os.path.dirname(os.path.abspath(__file__))
if _TOOLS_DIR not in sys.path:
    sys.path.insert(0, _TOOLS_DIR)


def load_snapshot(path):
    """One bench-JSON-line extractor for the tools/ scripts: reuse
    compare_bench.load so a Bench stdout format change cannot break
    the auto-picker and the comparator out of step."""
    from compare_bench import load
    return load(path)


def worst_movers(old_path, new_path, top):
    """Biggest movers in EITHER direction (max(r, 1/r)): the drift
    protocol fires on improvements too (raw < 1/1.15x — r20's 0.80x
    was exactly that), and for a downward drift the queries worth
    adjudicating are the big improvers, which a slowdown-only sort
    would bury at the bottom."""
    oq = load_snapshot(old_path)["queries"]
    nq = load_snapshot(new_path)["queries"]
    # a 0-second timing in either snapshot is a broken measurement, not
    # a mover to skip silently — refuse to adjudicate around it (the
    # no-silent-caps discipline: an excluded query would escape A/B
    # adjudication with no notice)
    broken = sorted(q for q in oq if q in nq
                    and (oq[q] <= 0 or nq[q] <= 0))
    if broken:
        raise SystemExit(
            f"snapshot has non-positive timings for {', '.join(broken)}"
            " — fix the snapshot (re-bench) before adjudicating")
    shared = [q for q in oq if q in nq]
    ranked = sorted(shared, key=lambda q: -max(
        nq[q] / oq[q], oq[q] / nq[q]))
    return ranked[:top]


def prepare_worktree(repo, ref, compile_it=True):
    # resolve the ref FIRST (check=True): a typo'd ref must fail here,
    # not masquerade as a stale-worktree complaint below. Peel to the
    # COMMIT (^{commit}): an annotated tag's rev-parse is the tag
    # object SHA, which would never equal the worktree's HEAD commit
    # and falsely reject a correct reused worktree.
    want = sh(["git", "-C", repo, "rev-parse", "--verify",
               f"{ref}^{{commit}}"],
              capture_output=True, text=True).stdout.strip()
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", ref)
    wt = f"/tmp/graft_ab_{safe}"
    if not os.path.isdir(wt):
        sh(["git", "-C", repo, "worktree", "add", "--detach", wt, ref])
    head = subprocess.run(["git", "-C", wt, "rev-parse", "HEAD"],
                          capture_output=True, text=True).stdout.strip()
    if head != want:
        raise SystemExit(
            f"{wt} exists but sits at {head[:9]}, not {ref} ({want[:9]})"
            f" — remove it (git worktree remove {wt}) and re-run")
    # always (re)compile: sbt is a no-op when up to date, while a
    # non-empty classes dir left by a compile that died midway would
    # otherwise be trusted and every TimeQuery run would die with
    # NoClassDefFoundError surfaced only as "produced no timings"
    if compile_it:
        sh(["sbt", "-batch", "compile"], cwd=wt)
    return wt


def time_query(wt, query, passes, sfdir, full):
    cp = f"{wt}/target/scala-2.13/classes:/opt/spark/jars/*"
    cmd = ["java", "-Xmx16g"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "graft.tools.TimeQuery"]
    if full:
        cmd.append("-full")
    cmd += [query, str(passes)]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir)
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    times = [float(m.group(1)) for m in re.finditer(
        r"pass \d+: ([0-9.]+) s", r.stdout)]
    if not times:
        print(r.stdout[-2000:], file=sys.stderr)
        print(r.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"TimeQuery produced no timings for {query} "
                         f"in {wt} (rc={r.returncode})")
    # a JVM that died mid-run (OOM after pass 1) would otherwise
    # silently contribute a cold-only min — refuse to adjudicate on a
    # crashed measurement
    if r.returncode != 0 or len(times) < passes:
        print(r.stdout[-2000:], file=sys.stderr)
        print(r.stderr[-2000:], file=sys.stderr)
        raise SystemExit(
            f"TimeQuery for {query} in {wt} completed only "
            f"{len(times)}/{passes} passes (rc={r.returncode}) — "
            f"partial timings are cold-biased; fix the crash and "
            f"re-run")
    return min(times)


def perfbench_run(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`; returns its result object."""
    cmd = ["python3", "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    print(f"+ ({checkout}) {' '.join(cmd)}", file=sys.stderr)
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith('{"correct"')]
    if r.returncode != 0 or not lines:
        print(r.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"perfbench run in {checkout} failed "
                         f"(rc={r.returncode})")
    res = json.loads(lines[-1])
    # the settings line carries the host's steal time over the run
    for l in r.stdout.splitlines():
        if l.startswith('{"settings"'):
            res["steal_s"] = json.loads(l)["settings"].get("steal_s")
    return res


def quartiles(xs):
    """(first quartile, median, third quartile)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def perfbench_ab(old_dir, new_dir, workload, pairs, seed0):
    with open(os.path.join(new_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    runs = {"old": [], "new": []}
    for i in range(pairs):
        order = [("old", old_dir), ("new", new_dir)]
        if i % 2:
            order.reverse()
        for side, d in order:
            res = perfbench_run(d, workload, seed0 + i, seconds)
            runs[side].append(res)
            vals = ", ".join(
                f"{m['name']} {res['metrics'][m['name']]['value']:.4g}"
                for m in metrics)
            print(f"  pair {i + 1} {side}: correct {res['correct']}, "
                  f"failed {res['failed']}/{res['attempted']}, {vals}, "
                  f"steal_s {res.get('steal_s')}")

    print(f"\nperfbench A/B, {workload}, {pairs} pairs at --seconds "
          f"{seconds} (old {old_dir}, new {new_dir}):")
    print(f"  {'metric':18s} {'old q1':>9s} {'old med':>9s} {'old q3':>9s}"
          f" {'new q1':>9s} {'new med':>9s} {'new q3':>9s} {'change':>7s}"
          f" {'wins':>6s}  claim")
    failed = {side: sum(r["failed"] for r in runs[side])
              for side in ("old", "new")}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        old = [r["metrics"][name]["value"] for r in runs["old"]]
        new = [r["metrics"][name]["value"] for r in runs["new"]]
        wins = sum((n < o) if lower else (n > o) for o, n in zip(old, new))
        oq1, omed, oq3 = quartiles(old)
        nq1, nmed, nq3 = quartiles(new)
        gain = (omed - nmed) if lower else (nmed - omed)
        holds = (wins >= 0.9 * pairs and gain > oq3 - oq1
                 and failed["new"] <= failed["old"])
        print(f"  {name:18s} {oq1:9.4g} {omed:9.4g} {oq3:9.4g} {nq1:9.4g}"
              f" {nmed:9.4g} {nq3:9.4g} {nmed / omed - 1:+7.1%}"
              f" {wins:3d}/{pairs:<2d}  {'holds' if holds else 'no'}")
    for side in ("old", "new"):
        tried = sum(r["attempted"] for r in runs[side])
        print(f"  {side}: {failed[side]}/{tried} calls failed, correct on "
              f"{sum(r['correct'] for r in runs[side])}/{pairs} runs")
    return 0


def checkout_of(repo, ref):
    """A directory used as it is, or a ref prepared as a worktree."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    return prepare_worktree(repo, ref, compile_it=False)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old_ref")
    ap.add_argument("new_ref")
    ap.add_argument("--queries")
    ap.add_argument("--snapshots", nargs=2,
                    metavar=("OLD_JSON", "NEW_JSON"))
    ap.add_argument("--top", type=int, default=5)
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--sfdir", default="/root/testdata/sf0.1")
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--repo", default=".")
    ap.add_argument("--perfbench", metavar="WORKLOAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()

    if a.perfbench:
        return perfbench_ab(checkout_of(a.repo, a.old_ref),
                            checkout_of(a.repo, a.new_ref), a.perfbench,
                            a.pairs, a.seed0)
    if a.queries:
        queries = a.queries.split(",")
    elif a.snapshots:
        queries = worst_movers(a.snapshots[0], a.snapshots[1], a.top)
        print(f"worst {a.top} movers from snapshots: "
              f"{', '.join(queries)}")
    else:
        ap.error("need --queries or --snapshots")

    old_wt = prepare_worktree(a.repo, a.old_ref)
    new_wt = prepare_worktree(a.repo, a.new_ref)

    rows = []
    for q in queries:
        to = time_query(old_wt, q, a.passes, a.sfdir, a.full)
        tn = time_query(new_wt, q, a.passes, a.sfdir, a.full)
        rows.append((q, to, tn, tn / to))
        print(f"  {q}: old {to:.3f}s new {tn:.3f}s = {tn / to:.2f}x")

    print(f"\nworktree A/B ({a.old_ref} vs {a.new_ref}, "
          f"min-of-{a.passes}, sf={a.sfdir}"
          + (", -full" if a.full else "") + "):")
    print(f"  {'query':32s} {'old_s':>8s} {'new_s':>8s} {'ratio':>6s}")
    for q, to, tn, r in rows:
        print(f"  {q:32s} {to:8.3f} {tn:8.3f} {r:5.2f}x")
    so, sn = sum(r[1] for r in rows), sum(r[2] for r in rows)
    print(f"  {'TOTAL':32s} {so:8.3f} {sn:8.3f} {sn / so:5.2f}x")
    print("\nadjudication guide: code-state ratios within ~±10-15% "
          "(the same-code re-run noise bound measured in r19) while "
          "the snapshot ratio is much larger => the snapshot drift is "
          "ENVIRONMENTAL; a query whose A/B ratio REPRODUCES its "
          "snapshot ratio is a REAL code regression — paste this "
          "table into the round's cmp file either way.")
    return 0


if __name__ == "__main__":
    sys.exit(main())
