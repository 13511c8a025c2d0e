#!/usr/bin/env python3
"""List the top-level Scala objects in src/main that nothing else reaches.

An object counts as reached when its name appears, as a whole word, in
the code (comments removed, string literals kept) of ANOTHER src/main
file or of any file under perfbench/harness. Everything else is printed,
one line each, as `path:line  Name`, with ` [main]` appended when the
object defines `def main(` (an entry point, reached from the command
line rather than from code).

Usage: python3 scripts/unreached.py [repo_root]   (default: the parent
of this script's directory). Exit status is 0 whatever it prints.
"""
import os
import re
import sys

OBJECT_RE = re.compile(
    r"^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|case\s+)*object\s+(\w+)")


def strip_comments(src):
    """Blank out // and (nested) /* */ comments; keep strings and newlines."""
    out = []
    i, n, depth = 0, len(src), 0
    while i < n:
        c = src[i]
        if depth:
            if src.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif src.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                if c == "\n":
                    out.append(c)
                i += 1
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)  # char literal such as '"' or '\n'
            j = n if j < 0 else j + 1
            out.append(src[i:j])
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(root):
    for d, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main():
    repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    main_root = os.path.join(repo, "src", "main")
    harness_root = os.path.join(repo, "perfbench", "harness")
    code = {}
    for root in (main_root, harness_root):
        for path in scala_files(root):
            with open(path, encoding="utf-8") as f:
                code[path] = strip_comments(f.read())

    unreached = []
    for path in sorted(p for p in code if p.startswith(main_root + os.sep)):
        lines = code[path].split("\n")
        for lineno, line in enumerate(lines, 1):
            m = OBJECT_RE.match(line)
            if not m:
                continue
            name = m.group(1)
            word = re.compile(r"\b%s\b" % re.escape(name))
            if any(word.search(text) for other, text in code.items()
                   if other != path):
                continue
            # the object's body: up to the next top-level declaration
            end = next((j for j in range(lineno, len(lines))
                        if re.match(r"[^\s}]", lines[j])), len(lines))
            body = "\n".join(lines[lineno - 1:end])
            tag = " [main]" if re.search(r"\bdef\s+main\s*\(", body) else ""
            unreached.append("%s:%d  %s%s" % (
                os.path.relpath(path, repo), lineno, name, tag))
    for entry in unreached:
        print(entry)


if __name__ == "__main__":
    main()
