#!/usr/bin/env python3
"""Size report for Scala sources: the three counts a simplifying change
reports before and after.

  1. non-blank, non-comment lines per file (Scala block comments nest);
  2. public `def`s declared directly in each `object` body (not
     private/protected, not inside a nested class, trait or def);
  3. the `graft.*` configuration keys and `SPARK_GRAFT_*` environment
     variables the files name as whole string literals.

Usage:
  python3 tools/size_report.py <file.scala>...
  python3 tools/size_report.py --json <file.scala>...

Compare two trees by running it on each checkout's files.
"""
import json
import re
import sys

CONF_KEY = re.compile(r"graft(\.[a-z][A-Za-z0-9_]*)+")
ENV_VAR = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")
DEF = re.compile(r"^\s*((?:@\S+\s+)*)((?:[a-z]+(?:\[[\w.]+\])?\s+)*)def\s")


def strip(src):
    """Return (code, literals): `src` with comments removed and string
    literal bodies blanked (newlines kept, so line numbers hold), plus
    every string literal's text."""
    out, lits = [], []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j
            while j + 3 < n and src[j + 3] == '"':  # closing run of >3 quotes
                j += 1
            body = src[i + 3:j]
            lits.append(body)
            out.append('""' + "\n" * body.count("\n"))
            i = j + 3
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            lits.append(src[i + 1:j])
            out.append('""')
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append("' '")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out), lits


def public_defs(code):
    """{object name: public def count} over the objects in `code`."""
    counts = {}
    # stack of (kind, name, depth at which its body opens)
    stack, depth, pending = [], 0, None
    for line in code.split("\n"):
        m = DEF.match(line)
        if m and stack and stack[-1][0] == "object" and depth == stack[-1][2]:
            if not re.search(r"\b(private|protected)\b", m.group(2)):
                # nested objects are named by their enclosing objects' path
                name = ".".join(s[1] for s in stack if s[0] == "object")
                counts[name] = counts.get(name, 0) + 1
        for tok in re.finditer(r"[{}]|\b(class|trait|object|def|val|var|new)\b(\s+[A-Za-z_][A-Za-z0-9_]*)?", line):
            t = tok.group(0)
            if t == "{":
                depth += 1
                if pending:
                    stack.append((pending[0], pending[1], depth))
                    pending = None
                else:
                    stack.append(("block", None, depth))
            elif t == "}":
                if stack and stack[-1][2] == depth:
                    stack.pop()
                depth -= 1
            else:
                kind = tok.group(1)
                name = (tok.group(2) or "").strip()
                pending = (kind, name)
        # a declaration whose body did not open on its line (`def f = x`)
        # only keeps pending across lines while the line is unfinished
        if pending and not line.rstrip().endswith(("=", "(", ",", "extends", "with")):
            pending = None if pending[0] != "object" else pending
    return counts


def report(paths):
    files, objects, keys, envs = {}, {}, set(), set()
    for p in paths:
        src = open(p, encoding="utf-8").read()
        code, lits = strip(src)
        files[p] = sum(1 for l in code.split("\n") if l.strip())
        for name, k in public_defs(code).items():
            objects[f"{p}:{name}"] = k
        keys |= {l for l in lits if CONF_KEY.fullmatch(l)}
        envs |= {l for l in lits if ENV_VAR.fullmatch(l)}
    return {
        "ncloc": files,
        "ncloc_total": sum(files.values()),
        "public_defs": objects,
        "conf_keys": sorted(keys),
        "env_vars": sorted(envs),
        "options_total": len(keys) + len(envs),
    }


def main(argv):
    as_json = "--json" in argv
    paths = [a for a in argv if a != "--json"]
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    r = report(paths)
    if as_json:
        print(json.dumps(r, indent=2))
        return 0
    print("non-blank non-comment lines")
    for p, k in r["ncloc"].items():
        print(f"  {k:7d}  {p}")
    print(f"  {r['ncloc_total']:7d}  total")
    print("public defs per object")
    for o, k in sorted(r["public_defs"].items()):
        print(f"  {k:7d}  {o}")
    print(f"graft.* conf keys ({len(r['conf_keys'])}): {', '.join(r['conf_keys'])}")
    print(f"SPARK_GRAFT_* variables ({len(r['env_vars'])}): {', '.join(r['env_vars'])}")
    print(f"options total: {r['options_total']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
