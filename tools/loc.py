#!/usr/bin/env python3
"""Net lines of code between two git refs.

    python3 tools/loc.py <base-ref> <head-ref> [--files]
    python3 tools/loc.py --reach [<ref>]

Counts non-blank, non-comment lines of the source files (.scala, .java,
.py, .sh) under src/main, src/test and tools at both refs, reading
blobs with git only (no checkout, so the working tree is not touched).
Scala/Java `//` and `/* ... */` comments (scaladoc included) and `#`
comments of Python/shell are not counted. A triple-quoted string stays
open across lines, so comment markers inside it (`/*.parquet` in
embedded SQL) are text, and its lines count as code; a line holding both code and
a comment is code. `--files` also lists every file whose count changed.

It then reports the configuration surface at both refs: the fields of
`ConsumerConfig`, the `graft.*` Spark conf keys and the environment
variables read under src/main.

`--reach` lists instead the src/main files (at <ref>, default HEAD)
that no root reaches, with their code-line counts. The roots are the
entry points (SparkEntry, Verify, Bench, GraftExtensions,
GraftSession), ConsumerPipeline, every `main` under graft/tools and the
sources under perfbench/src. A file reaches another when its code (with
comments removed as above) names a top-level type or object that the
other file defines at column 0, bare or fully qualified. A package object
is reached when a reached file sits in its package or names it. The
list must be empty: `--reach` exits 1 when it lists any file, 0 when
it lists none.
"""
import re
import subprocess
import sys

AREAS = ("src/main", "src/test", "tools")
C_LIKE = (".scala", ".java")
HASH = (".py", ".sh")


def git(*args):
    return subprocess.run(("git",) + args, check=True,
                          capture_output=True).stdout


def files(ref):
    out = git("ls-tree", "-r", "--name-only", ref, "--", *AREAS)
    return [f for f in out.decode().splitlines()
            if f.endswith(C_LIKE + HASH)]


def show(ref, path):
    return git("show", f"{ref}:{path}").decode("utf-8", "replace")


def c_like_code(text):
    """The text of each line with // and /* */ comments removed; string
    and char literals are skipped so comment markers inside them are
    not mistaken for comments."""
    out = []
    depth = 0  # block-comment nesting (Scala nests them)
    quote = None  # '"' or '"""' while inside a string literal
    for line in text.splitlines():
        kept = []
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif quote:
                # a multi-line string's body is code
                step = 2 if line[i] == "\\" and quote != '"""' else 1
                if line.startswith(quote, i):
                    step = len(quote)
                    quote = None
                kept.append(line[i:i + step])
                i += step
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                kept.append(" ")
                depth = 1
                i += 2
            else:
                step = 1
                if line.startswith('"""', i):
                    quote = '"""'
                    step = 3
                elif line[i] == '"':
                    quote = '"'
                elif re.match(r"'(\\.|[^\\'])'", line[i:i + 4]):
                    step = line.index("'", i + 2) + 1 - i
                kept.append(line[i:i + step])
                i += step
        if quote != '"""':
            quote = None
        out.append("".join(kept))
    return out


def c_like_code_lines(text):
    """Lines with code left after removing comments (see c_like_code)."""
    return sum(1 for line in c_like_code(text) if line.strip())


def hash_code_lines(text):
    return sum(1 for line in text.splitlines()
               if line.strip() and not line.strip().startswith("#"))


def count(ref):
    per_file = {}
    for f in files(ref):
        text = show(ref, f)
        per_file[f] = (c_like_code_lines(text) if f.endswith(C_LIKE)
                       else hash_code_lines(text))
    return per_file


def area_of(path):
    return next(a for a in AREAS if path.startswith(a + "/"))


def consumer_config_fields(ref):
    path = "src/main/scala/graft/model/ConsumerConfig.scala"
    try:
        text = show(ref, path)
    except subprocess.CalledProcessError:
        return []
    m = re.search(r"case class ConsumerConfig\((.*?)\)\s*\{", text, re.S)
    if not m:
        return []
    return re.findall(r"^\s*(\w+)\s*:", m.group(1), re.M)


def surface(ref):
    conf, env = set(), set()
    for f in files(ref):
        if not f.startswith("src/main/"):
            continue
        text = show(ref, f)
        conf.update(re.findall(r'"(graft\.[A-Za-z0-9_.]+)"', text))
        env.update(re.findall(
            r'sys\.env(?:\.get|\.getOrElse)?\(\s*"([A-Z0-9_]+)"', text))
    return {"ConsumerConfig fields": set(consumer_config_fields(ref)),
            "graft.* conf keys": conf,
            "environment variables": env}


ROOTS = ("SparkEntry", "Verify", "Bench", "GraftExtensions",
         "GraftSession", "ConsumerPipeline")
TOOLS = "src/main/scala/graft/tools/"
TOP_LEVEL = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|"
    r"abstract\s+|implicit\s+|case\s+)*(?:object|class|trait|type)\s+"
    r"(\w+)", re.M)
IDENT = re.compile(r"[A-Za-z_]\w*")


def package_of(code):
    """The package a file's chained `package a.b` clauses declare."""
    return ".".join(re.findall(r"^package\s+(?!object\b)([\w.]+)", code,
                               re.M))


def reach(ref):
    """(reached src/main files, unreached src/main files -> code lines)."""
    out = git("ls-tree", "-r", "--name-only", ref, "--", "src/main",
              "perfbench/src")
    srcs = {}
    for f in out.decode().splitlines():
        if f.endswith(".scala"):
            srcs[f] = "\n".join(c_like_code(show(ref, f)))
    info = {}
    for f, code in srcs.items():
        pkg_obj = re.search(r"^package\s+object\s+(\w+)", code, re.M)
        pkg = package_of(code)
        info[f] = {
            "pkg": pkg,
            "defines": set(TOP_LEVEL.findall(code)),
            "tokens": set(IDENT.findall(code)),
            "pkg_object": f"{pkg}.{pkg_obj.group(1)}" if pkg_obj else None,
        }
    main = [f for f in srcs if f.startswith("src/main/")]
    roots = [f for f in srcs if not f.startswith("src/main/")
             or info[f]["defines"] & set(ROOTS)
             or (f.startswith(TOOLS) and re.search(r"\bdef main\(",
                                                   srcs[f]))]
    reached, todo = set(roots), list(roots)
    while todo:
        a = todo.pop()
        for b in main:
            if b in reached:
                continue
            ib = info[b]
            if ib["pkg_object"]:
                hit = (info[a]["pkg"] == ib["pkg_object"]
                       or ib["pkg_object"] in srcs[a])
            else:
                hit = bool(ib["defines"] & info[a]["tokens"])
            if hit:
                reached.add(b)
                todo.append(b)
    unreached = {f: sum(1 for line in srcs[f].splitlines() if line.strip())
                 for f in main if f not in reached}
    return reached, unreached


def report_reach(ref):
    reached, unreached = reach(ref)
    n_main = sum(1 for f in reached if f.startswith("src/main/"))
    print(f"reach at {ref}: {n_main} of {n_main + len(unreached)} "
          f"src/main files reached from the roots")
    for f in sorted(unreached):
        print(f"{unreached[f]:>6}  {f}")
    print(f"unreached: {len(unreached)} files, "
          f"{sum(unreached.values())} code lines")
    return not unreached


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if "--reach" in argv:
        if len(args) > 1:
            sys.exit(__doc__)
        sys.exit(0 if report_reach(args[0] if args else "HEAD") else 1)
    if len(args) != 2:
        sys.exit(__doc__)
    base, head = args
    old, new = count(base), count(head)
    print(f"{'area':<10} {base[:12]:>12} {head[:12]:>12} {'delta':>8}")
    totals = [0, 0]
    for area in AREAS:
        o = sum(v for f, v in old.items() if area_of(f) == area)
        n = sum(v for f, v in new.items() if area_of(f) == area)
        totals[0] += o
        totals[1] += n
        print(f"{area:<10} {o:>12} {n:>12} {n - o:>+8}")
    print(f"{'total':<10} {totals[0]:>12} {totals[1]:>12} "
          f"{totals[1] - totals[0]:>+8}")
    if "--files" in argv:
        print()
        for f in sorted(set(old) | set(new)):
            o, n = old.get(f, 0), new.get(f, 0)
            if o != n:
                print(f"{n - o:>+6}  {f}")
    print()
    s_old, s_new = surface(base), surface(head)
    for name in s_old:
        o, n = s_old[name], s_new[name]
        line = f"{name}: {len(o)} -> {len(n)}"
        if n - o:
            line += "  added: " + ", ".join(sorted(n - o))
        if o - n:
            line += "  removed: " + ", ".join(sorted(o - n))
        print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
