#!/usr/bin/env python3
"""Defaulted parameters: every parameter with a default value in a `def`
or a class constructor (case or plain) under a source tree.

    python3 tools/knob_census.py [<dir>]        (default: src/main/scala)

Each defaulted parameter is a value a caller may set; one that no caller
sets is a tuning decision spelled as an option. The tool prints one line
per parameter, `file:line  owner  parameter = default`, in file then
line order, and last the total.

Comments and the contents of string literals are blanked before the
scan, so a `def` inside scaladoc or SQL text is not counted. The owner
is the `def` or class name; a parameter list is any `(...)` that
directly follows the name, its type parameters or an earlier list. A
parameter has a default when its text holds a `=` at bracket depth
zero that is not part of `=>`, `==`, `<=`, `>=` or `!=`.
"""
import re
import sys
from pathlib import Path

OWNER = re.compile(r"\b(?:def\s+([^\s(\[:=]+)|class\s+(\w+))")


def blank(src, strings=True):
    """`src` with comments, and string contents unless `strings` is
    false, replaced by spaces; newlines and offsets are kept."""
    out = list(src)
    i, n = 0, len(src)

    def wipe(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            wipe(i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            if strings:
                wipe(i + 3, j - 3)
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            if strings:
                wipe(i + 1, j)
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def closing(text, i):
    """Index just past the bracket group opening at `text[i]`."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = []
    while i < len(text):
        c = text[i]
        if c in pairs:
            stack.append(pairs[c])
        elif stack and c == stack[-1]:
            stack.pop()
            if not stack:
                return i + 1
        i += 1
    return len(text)


def split_top(body):
    """Split a parameter list's text on commas at bracket depth zero,
    returning (offset, text) pieces."""
    parts, depth, start = [], 0, 0
    for k, c in enumerate(body):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append((start, body[start:k]))
            start = k + 1
    parts.append((start, body[start:]))
    return parts


def default_of(param):
    """(name, offset of the default's `=`) when `param` has a default,
    else None."""
    depth = 0
    for k, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = param[k - 1] if k else ""
            nxt = param[k + 1] if k + 1 < len(param) else ""
            if nxt in "=>" or prev in "=<>!":
                continue
            head = param[:k].split(":")[0].split()
            return (head[-1] if head else "?"), k
    return None


def census(path, src):
    text = blank(src)
    shown = blank(src, strings=False)
    found = []
    for m in OWNER.finditer(text):
        owner = m.group(1) or m.group(2)
        i = m.end()
        while True:
            while i < len(text) and text[i] in " \t\n":
                i += 1
            if i >= len(text) or text[i] not in "([":
                break
            end = closing(text, i)
            if text[i] == "(":
                for off, param in split_top(text[i + 1:end - 1]):
                    d = default_of(param)
                    if d:
                        a = i + 1 + off
                        line = text.count("\n", 0, a + len(param) - len(param.lstrip())) + 1
                        default = " ".join(shown[a + d[1] + 1:a + len(param)].split())
                        found.append((path, line, owner, d[0], default))
            i = end
    return found


def main(root):
    rows = []
    for p in sorted(Path(root).rglob("*.scala")):
        rows.extend(census(str(p), p.read_text()))
    for path, line, owner, name, default in rows:
        print(f"{path}:{line}  {owner}  {name} = {default}")
    print(f"defaulted parameters: {len(rows)}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
