#!/usr/bin/env python3
"""Design-size counters for the engine's main sources.

Prints three numbers, each over the Scala files under src/main:

  code_lines      non-blank lines that are not wholly comment (`//` line
                  comments and `/* ... */` / Scaladoc blocks are dropped;
                  a line holding code before or after a comment counts)
  main_entries    `def main(` entry points (tools and drivers)
  mutable_holders object-level mutable state, found by MUTABLE_HOLDER
                  below; every match is printed as path:line so a reader
                  can check it

Usage: python3 scripts/code_stats.py [repo_root]   (default: the repo
holding this script). The last stdout line is the three counts as JSON.
"""
import json
import os
import re
import sys

# A member declared directly in a top-level `object` body (two-space
# indent inside an `object` that opens at column 0) that is either a
# `var`, or a `val` initialised with a mutable container or cell:
# scala.collection.mutable.*, java.util.concurrent.* (atomics, concurrent
# maps), java.util HashMap/WeakHashMap/IdentityHashMap, or a bare
# Atomic*/ConcurrentHashMap. Class members, locals and nested objects are
# not object-level state and are not matched.
MUTABLE_HOLDER = re.compile(
    r"^  (?:(?:private|protected)(?:\[\w+\])?\s+)?(?:@volatile\s+)?"
    r"(?:var\s+\w+"
    r"|(?:lazy\s+)?val\s+\w+\s*(?::[^=]*)?=\s*(?:new\s+)?(?:scala\.)?"
    r"(?:collection\.mutable\.|mutable\.|java\.util\.concurrent\.|Atomic|ConcurrentHashMap"
    r"|java\.util\.(?:HashMap|WeakHashMap|IdentityHashMap)))")
TOP_OBJECT = re.compile(r"^(?:(?:private|final|case)(?:\[\w+\])?\s+)*object\s+\w+")
MAIN_DEF = re.compile(r"\bdef\s+main\s*\(")


def code_lines(text):
    """Count non-blank lines that keep some code once comments go."""
    n = 0
    in_block = False
    for line in text.splitlines():
        out = []
        i = 0
        in_str = False
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block = False
                    i = end + 2
                continue
            c = line[i]
            if in_str:
                out.append(c)
                if c == "\\":
                    out.append(line[i + 1:i + 2])
                    i += 2
                    continue
                if c == '"':
                    in_str = False
                i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                in_block = True
                i += 2
                continue
            if c == '"':
                in_str = True
            out.append(c)
            i += 1
        if "".join(out).strip():
            n += 1
    return n


def scan(root):
    base = os.path.join(root, "src", "main")
    lines = entries = 0
    holders = []
    for d, _, files in sorted(os.walk(base)):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            p = os.path.join(d, f)
            with open(p, encoding="utf-8") as fh:
                text = fh.read()
            lines += code_lines(text)
            entries += len(MAIN_DEF.findall(text))
            in_object = False
            for no, line in enumerate(text.splitlines(), 1):
                if TOP_OBJECT.match(line):
                    in_object = True
                elif line.startswith("}"):
                    in_object = False
                elif in_object and MUTABLE_HOLDER.match(line):
                    holders.append(f"{os.path.relpath(p, root)}:{no}: {line.strip()}")
    return lines, entries, holders


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    lines, entries, holders = scan(root)
    for h in holders:
        print(f"holder  {h}")
    print(json.dumps({"code_lines": lines, "main_entries": entries,
                      "mutable_holders": len(holders)}))


if __name__ == "__main__":
    main()
