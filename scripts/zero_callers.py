#!/usr/bin/env python3
"""List the public defs/vals of src/main/scala that nothing calls.

For each public `def` / `val` declared as a member of a top-level class,
object or trait (two-space indent; no `private` / `protected` modifier,
no `override`), the name is word-grepped against every .scala file under
src/main and perfbench/src. The defining line and comment lines (those
starting with `//`, `/*` or `*`) are left out, so a name cited only in
scaladoc counts as uncalled. Tests are not searched: a def only a test
calls has no product caller. Names that the language or Spark calls by
convention (`apply`, `unapply`, `main`, `toString`, ...) are skipped.

The grep is by word, not by symbol, so it errs on the side of keeping:
two members sharing a name count each other's callers, and a name that
also appears as a local identifier counts as called.

Usage: scripts/zero_callers.py [repo_root]   (default: the current dir)
Prints `path:line name` for each public member with no caller.
"""
import os
import re
import sys

SEARCH_DIRS = ["src/main", "perfbench/src"]
DEFINING_DIR = "src/main/scala"
CONVENTIONAL = {"apply", "unapply", "unapplySeq", "main", "toString",
                "equals", "hashCode", "readResolve", "writeReplace"}

MEMBER = re.compile(
    r"^  (?:(?:final|lazy|implicit|inline|@\w+(?:\([^)]*\))?)\s+)*"
    r"(?:def|val)\s+([A-Za-z_][A-Za-z0-9_]*)")


def scala_files(root, rel):
    base = os.path.join(root, rel)
    for dirpath, _, names in os.walk(base):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(dirpath, n)


def is_comment(line):
    s = line.lstrip()
    return s.startswith("//") or s.startswith("/*") or s.startswith("*")


def main(root):
    lines = {}
    for rel in SEARCH_DIRS:
        for path in scala_files(root, rel):
            with open(path, encoding="utf-8") as f:
                lines[path] = f.read().split("\n")

    defs = []  # (path, line index, name)
    for path in scala_files(root, DEFINING_DIR):
        for i, line in enumerate(lines[path]):
            m = MEMBER.match(line)
            if m and m.group(1) not in CONVENTIONAL:
                defs.append((path, i, m.group(1)))

    words = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    # name -> [(path, line index)] of every non-comment occurrence
    seen = {}
    wanted = {name for _, _, name in defs}
    for path, text in lines.items():
        for i, line in enumerate(text):
            if is_comment(line):
                continue
            for w in set(words.findall(line)):
                if w in wanted:
                    seen.setdefault(w, []).append((path, i))

    out = []
    for path, i, name in defs:
        if not any(p != path or j != i for p, j in seen.get(name, [])):
            out.append(f"{os.path.relpath(path, root)}:{i + 1} {name}")
    print("\n".join(sorted(out)))


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".")
