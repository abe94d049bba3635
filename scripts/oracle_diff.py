#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps written by graft.Verify.

Usage: python3 scripts/oracle_diff.py A/oracle_sql.json B/oracle_sql.json \
           --root-a DIR --root-b DIR

The oracle SQL embeds absolute staging paths (QueryShared.predsPath,
`<checkout>/target/tmp/<tag>/<name>`), so each dump's checkout root is
replaced by one placeholder before comparing. Runs of whitespace outside
single-quoted SQL literals are collapsed to one blank; whitespace inside a
literal is kept, since it is data (a two-blank `string_split` separator,
for one). Prints every added, removed or differing key and exits 1 if
there is any, else 0.
"""
import argparse
import difflib
import json
import sys


def normalize(sql: str) -> str:
    """Collapse whitespace runs outside '...' literals ('' escapes a quote)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif c.isspace():
            while i < n and sql[i].isspace():
                i += 1
            out.append(" ")
        else:
            out.append(c)
            i += 1
    return "".join(out).strip()


def load(path: str, root: str) -> dict:
    with open(path) as f:
        oracles = json.load(f)
    root = root.rstrip("/") + "/"
    return {k: v.replace(root, "<root>/") for k, v in oracles.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--root-a", required=True,
                    help="checkout root that A's Verify ran in")
    ap.add_argument("--root-b", required=True,
                    help="checkout root that B's Verify ran in")
    args = ap.parse_args()
    a, b = load(args.a, args.root_a), load(args.b, args.root_b)
    removed, added = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    common = sorted(a.keys() & b.keys())
    differing = [k for k in common if normalize(a[k]) != normalize(b[k])]
    spacing = [k for k in common if a[k] != b[k] and k not in differing]
    for k in removed:
        print(f"REMOVED {k}")
    for k in added:
        print(f"ADDED {k}")
    for k in differing:
        print(f"DIFFERS {k}")
        sys.stdout.writelines(difflib.unified_diff(
            (a[k] + "\n").splitlines(True), (b[k] + "\n").splitlines(True),
            fromfile=f"a/{k}", tofile=f"b/{k}"))
        print()
    print(f"{len(common)} common keys: {len(differing)} differ, "
          f"{len(spacing)} differ only in whitespace, "
          f"{len(common) - len(differing) - len(spacing)} identical; "
          f"{len(removed)} removed, {len(added)} added")
    return 1 if removed or added or differing else 0


if __name__ == "__main__":
    sys.exit(main())
