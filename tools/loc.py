#!/usr/bin/env python3
"""Net lines of code between two git refs.

    python3 tools/loc.py <base-ref> <head-ref> [--files]

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


def c_like_code_lines(text):
    """Lines with code left after removing // and /* */ comments; string
    and char literals are skipped so comment markers inside them are
    not mistaken for comments."""
    n = 0
    depth = 0  # block-comment nesting (Scala nests them)
    quote = None  # '"' or '"""' while inside a string literal
    for line in text.splitlines():
        code = False
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
                if not line[i].isspace():
                    code = True  # a multi-line string's body is code
                if line[i] == "\\" and quote != '"""':
                    i += 2
                elif line.startswith(quote, i):
                    i += len(quote)
                    quote = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            else:
                if line.startswith('"""', i):
                    quote = '"""'
                elif line[i] == '"':
                    quote = '"'
                elif re.match(r"'(\\.|[^\\'])'", line[i:i + 4]):
                    i += line.index("'", i + 2) + 1 - i
                    code = True
                    continue
                if not line[i].isspace():
                    code = True
                i += len(quote) if quote else 1
        if quote != '"""':
            quote = None
        n += code
    return n


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


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
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
