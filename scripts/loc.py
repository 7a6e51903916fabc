#!/usr/bin/env python3
"""Code lines of the Scala sources under src/main, per package.

Usage:
    python3 scripts/loc.py [--root DIR] [--against GIT_REF]

A code line is a line of a `.scala` file under `src/main` that holds
something outside a comment: blank lines, `//` lines and the lines of
`/* ... */` blocks (scaladoc included; Scala's nested block comments are
followed) do not count, and a line with code before a trailing comment
does. String literals are code, so a `//` or `/*` inside one starts no
comment. The package of a file is its directory under `src/main/scala`,
dotted (`src/main/scala/graft/api/X.scala` is `graft.api`).

Without `--against` it prints each package's code lines and the total for
the working tree under DIR (default: the current directory). With
`--against REF` it prints, per package, the lines at REF (read with
`git show`, so the working tree is not touched), in the working tree, and
the difference: a negative total means the tree has fewer code lines than
REF. Deleted comments, blank lines and reflowed scaladoc change nothing.
"""

import argparse
import os
import subprocess
import sys

MAIN = "src/main"
SCALA_ROOT = MAIN + "/scala/"


def code_lines(text):
    """How many lines of `text` (Scala source) hold code."""
    count = 0
    depth = 0          # open /* */ comments (Scala nests them)
    in_triple = False  # inside a """ string
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth > 0:
                close = line.find("*/", i)
                opened = line.find("/*", i)
                if opened >= 0 and (close < 0 or opened < close):
                    depth += 1
                    i = opened + 2
                elif close >= 0:
                    depth -= 1
                    i = close + 2
                else:
                    break
            elif in_triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
                while i < n and line[i] == '"':
                    i += 1
            elif line[i].isspace():
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'":
                has_code = True
                # a char literal: 'x' or '\n'; otherwise a lone quote
                if line.startswith("\\", i + 1):
                    close = line.find("'", i + 3)
                    i = close + 1 if close > 0 else i + 1
                elif i + 2 < n and line[i + 2] == "'":
                    i += 3
                else:
                    i += 1
            else:
                has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def package_of(path):
    """`graft.api` for `src/main/scala/graft/api/X.scala`."""
    rel = path[len(SCALA_ROOT):] if path.startswith(SCALA_ROOT) \
        else path[len(MAIN) + 1:]
    return os.path.dirname(rel).replace("/", ".") or "(root)"


def tally(files):
    """{package: code lines} over (path, text) pairs of `.scala` files."""
    out = {}
    for path, text in files:
        if path.endswith(".scala"):
            pkg = package_of(path)
            out[pkg] = out.get(pkg, 0) + code_lines(text)
    return out


def tree_files(root):
    """(repo-relative path, text) of every file under root/src/main."""
    base = os.path.join(root, MAIN)
    for dirpath, _, names in os.walk(base):
        for name in sorted(names):
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            with open(full, encoding="utf-8") as f:
                yield rel, f.read()


def ref_files(root, ref):
    """(path, text) of every file under src/main at git revision `ref`."""
    def git(*args):
        return subprocess.run(["git", "-C", root] + list(args), check=True,
                              capture_output=True).stdout.decode("utf-8")
    for path in git("ls-tree", "-r", "--name-only", ref, "--", MAIN).split("\n"):
        if path:
            yield path, git("show", f"{ref}:{path}")


def report(tree, base=None, ref=None):
    """The printed table: per package, then the total."""
    pkgs = sorted(set(tree) | set(base or {}))
    width = max([len(p) for p in pkgs] + [len("total")])
    if base is None:
        rows = [(p, tree[p]) for p in pkgs]
        rows.append(("total", sum(tree.values())))
        return "\n".join(f"{p:<{width}}  {n:>7}" for p, n in rows)
    rows = [(p, base.get(p, 0), tree.get(p, 0)) for p in pkgs]
    rows.append(("total", sum(base.values()), sum(tree.values())))
    head = f"{'package':<{width}}  {ref[:12]:>12}  {'tree':>7}  {'delta':>7}"
    return "\n".join([head] + [f"{p:<{width}}  {b:>12}  {t:>7}  {t - b:>+7}"
                               for p, b, t in rows])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=".",
                    help="repository root (default: current directory)")
    ap.add_argument("--against", metavar="GIT_REF",
                    help="also count src/main at this revision and print the delta")
    args = ap.parse_args(argv)
    tree = tally(tree_files(args.root))
    base = tally(ref_files(args.root, args.against)) if args.against else None
    print(report(tree, base, args.against))
    return 0


if __name__ == "__main__":
    sys.exit(main())
