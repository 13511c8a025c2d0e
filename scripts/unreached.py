#!/usr/bin/env python3
"""List the top-level Scala objects, members and types in src/main that
nothing else reaches.

"Code" below means a file's text with comments removed and string
literals kept, over every src/main file and every file under
perfbench/harness. Output is three blocks, separated by one blank line
each.

Objects: an object counts as reached when its name appears, as a whole
word, in the code of ANOTHER file. Everything else is printed, one line
each, as `path:line  Name`, with ` [main]` appended when the object
defines `def main(` (an entry point, reached from the command line
rather than from code).

Members: for each direct `def`/`val` member of a top-level object or
class (one indentation step in), skipping `private`/`protected` members
(qualified ones too), `override` and `implicit` members (reached through
a type, not by name) and `def main`, the member is printed as
`path:line  Owner.name` when its name appears, as a whole word, only
once in the code of its own file (at its definition) and in no other
file whose code also names the owner (`Owner(` in such a file counts as
a use of `apply`). Requiring the owner keeps a common member name (load,
run, stats) from being taken as reached through an unrelated use.
Overloads share a name, so one used overload hides the others.

Types: a top-level `class` or `trait` (case classes included) is printed
as `path:line  Name` when its name appears, as a whole word, only once
in all the code: at its definition. Such a type is built by reflection
(a service loader, a config string) or not at all.

scripts/unreached_allow.tsv lists every name this script may print and
why each stays; ReachabilitySpec fails when the two differ.

Usage: python3 scripts/unreached.py [repo_root]   (default: the parent
of this script's directory). Exit status is 0 whatever it prints.
"""
import os
import re
import sys

MODS = r"(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+)*"
OBJECT_RE = re.compile(r"^" + MODS + r"object\s+(\w+)")
TYPE_RE = re.compile(r"^" + MODS + r"(?:class|trait)\s+(\w+)")
MEMBER_RE = re.compile(
    r"^  ((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|"
    r"implicit\s+|lazy\s+)*)(?:def|val)\s+(\w+)")


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

    def word(name):
        return re.compile(r"\b%s\b" % re.escape(name))

    def used_elsewhere(name, path):
        w = word(name)
        return any(w.search(text) for other, text in code.items()
                   if other != path)

    def member_used_elsewhere(owner, member, path):
        # a bare name is common (load, run, stats, ...): a use in another
        # file counts only where that file also names the owner, and
        # `Owner(` is a call of its `apply`
        w, o = word(member), word(owner)
        call = re.compile(r"\b%s\s*\(" % re.escape(owner))
        return any(o.search(text) and (w.search(text) or
                                       (member == "apply" and call.search(text)))
                   for other, text in code.items() if other != path)

    unreached, members, types = [], [], []
    for path in sorted(p for p in code if p.startswith(main_root + os.sep)):
        rel = os.path.relpath(path, repo)
        lines = code[path].split("\n")
        for lineno, line in enumerate(lines, 1):
            obj, typ = OBJECT_RE.match(line), TYPE_RE.match(line)
            if not (obj or typ):
                continue
            name = (obj or typ).group(1)
            # the body: up to the next top-level declaration
            end = next((j for j in range(lineno, len(lines))
                        if re.match(r"[^\s}]", lines[j])), len(lines))
            for j in range(lineno, end):
                mm = MEMBER_RE.match(lines[j])
                if (not mm or re.search(r"private|protected|override|implicit",
                                        mm.group(1)) or mm.group(2) == "main"):
                    continue
                member = mm.group(2)
                if (len(word(member).findall(code[path])) == 1
                        and not member_used_elsewhere(name, member, path)):
                    members.append("%s:%d  %s.%s" % (rel, j + 1, name, member))
            if typ:
                if (len(word(name).findall(code[path])) == 1
                        and not used_elsewhere(name, path)):
                    types.append("%s:%d  %s" % (rel, lineno, name))
                continue
            if used_elsewhere(name, path):
                continue
            body = "\n".join(lines[lineno - 1:end])
            tag = " [main]" if re.search(r"\bdef\s+main\s*\(", body) else ""
            unreached.append("%s:%d  %s%s" % (rel, lineno, name, tag))
    print("\n".join(unreached))
    print()
    print("\n".join(members))
    print()
    print("\n".join(types))


if __name__ == "__main__":
    main()
