#!/usr/bin/env python3
"""List the src/main members that nothing outside their own spec reaches.

Usage: python3 tools/unreached.py [repoRoot]

A public member of a top-level Scala object under src/main/scala is
printed as unreached when all three hold:
  * no other file under src/main/scala, perfbench/src or tools/ names it
    (comments and plain string contents excluded);
  * its own file names it only on the lines that define it;
  * for a tool main (an object with `def main`), no doc tells a user to
    run it: no Markdown file in the repo or tools/ script holds
    `graft.tools.<Name>` next to `runMain` or `run_main.sh`.
Each line also names the specs under src/test/scala that mention it.

This is a grep heuristic over identifiers, not a compiler pass: an
overloaded or common name (`run`, `apply`) counts as reached wherever the
same word appears, and a named argument (`drugExposure = Some(d)`) counts
as a use. Check every entry by hand before acting on it.
"""
import os
import re
import sys
from collections import Counter

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MEMBER = re.compile(
    r"^\s*((?:(?:final|implicit|lazy|sealed|case|abstract|override|"
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)"
    r"(def|val|var|class|object|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
TOP_OBJECT = re.compile(r"^object\s+([A-Za-z_][A-Za-z0-9_]*)")


INTERP = re.compile(r"\$\{[^}]*\}|\$[A-Za-z_][A-Za-z0-9_]*")


def literal(text, interpolated):
    """A string literal as code sees it: only its `$x` / `${...}` parts
    name members (a column called "simhash" does not); newlines kept."""
    keep = " ".join(INTERP.findall(text)) if interpolated else ""
    return '""' + keep + "\n" * text.count("\n")


def strip_scala(text):
    """Blank out // and /* */ comments and plain string contents, keeping
    interpolated expressions and newlines."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(literal(text[i:j], i > 0 and text[i - 1].isalpha()))
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(literal(text[i:j + 1], i > 0 and text[i - 1].isalpha()))
            i = j + 1
        elif text[i] == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            j = n if j < 0 else j + 1
            out.append(text[i:j])
            i = j
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def strip_hash(text):
    return "\n".join(re.sub(r"(^|\s)#.*$", "", line) for line in text.split("\n"))


def read(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read()


def files_under(root, sub, exts):
    base = os.path.join(root, sub)
    for d, _, names in os.walk(base):
        for name in sorted(names):
            if name.endswith(exts):
                yield os.path.join(d, name)


def stripped(path):
    text = read(path)
    return strip_scala(text) if path.endswith(".scala") else strip_hash(text)


def members(code):
    """(objectName, memberName, kind) for depth-1 public members of top-level objects."""
    found, depth, obj = [], 0, None
    for line in code.split("\n"):
        if depth == 0:
            m = TOP_OBJECT.match(line)
            if m:
                obj = m.group(1)
        elif depth == 1 and obj:
            m = MEMBER.match(line)
            if m and not re.search(r"\b(private|protected|override)\b", m.group(1)):
                kind = "main" if m.group(3) == "main" and m.group(2) == "def" else m.group(2)
                found.append((obj, m.group(3), kind))
        prev = depth
        depth = max(0, depth + line.count("{") - line.count("}"))
        if prev > 0 and depth == 0:
            obj = None
    return found


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    mains = list(files_under(root, "src/main/scala", (".scala",)))
    others = (list(files_under(root, "perfbench/src", (".scala", ".py"))) +
              list(files_under(root, "tools", (".py", ".sh"))))
    specs = list(files_under(root, "src/test/scala", (".scala",)))
    code = {p: stripped(p) for p in mains + others + specs}
    words = {p: Counter(IDENT.findall(c)) for p, c in code.items()}
    docs = [p for p in files_under(root, ".", (".md",))
            if not re.search(r"/(target|\.bench_build|\.git)/", p)]
    docs += list(files_under(root, "tools", (".sh",)))
    run_lines = [l for d in docs for l in read(d).split("\n")
                 if "runMain" in l or "run_main.sh" in l]

    def named_elsewhere(own, name):
        return any(words[p][name] for p in mains + others if p != own)

    rows = []
    for path in mains:
        pkg = re.search(r"^package\s+([\w.]+)", code[path], re.M)
        pkg = pkg.group(1) if pkg else ""
        defs = members(code[path])
        for obj, name, kind in defs:
            if kind == "main":
                fq = f"{pkg}.{obj}"
                told = any(re.search(rf"\b{re.escape(fq)}\b", l) for l in run_lines)
                if told or named_elsewhere(path, obj):
                    continue
                label, word = fq, obj
            else:
                n_defs = sum(1 for o, nm, _ in defs if nm == name)
                if words[path][name] > n_defs or named_elsewhere(path, name):
                    continue
                label, word = f"{pkg}.{obj}.{name}", name
            users = [os.path.relpath(p, os.path.join(root, "src/test/scala"))
                     for p in specs if words[p][word]]
            rows.append((kind, label, users))
    for kind, label, users in sorted(rows, key=lambda r: (r[0] != "main", r[1])):
        print(f"{kind:6} {label}  specs: {', '.join(users) or '-'}")
    print(f"{len(rows)} unreached")


if __name__ == "__main__":
    main()
