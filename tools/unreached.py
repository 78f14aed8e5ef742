#!/usr/bin/env python3
"""List the src/main members that nothing outside their own spec reaches.

Usage: python3 tools/unreached.py [repoRoot]

A public member `m` of a top-level Scala object `O` under src/main/scala
is printed as unreached when all three hold:
  * no other file under src/main/scala, perfbench/src or tools/ reaches
    it: a file reaches `O.m` where it writes `O.m`, or where it imports
    `O._` or `O.{..., m, ...}` and names `m` (comments and plain string
    contents excluded; an interpolated string's `$x` / `${...}` parts
    are code);
  * its own file names it only on the lines that define it;
  * for a tool main (an object with `def main`), no doc tells a user to
    run it: no Markdown file in the repo or tools/ script holds
    `graft.tools.<Name>` next to `runMain` or `run_main.sh`.
Each line also names the specs under src/test/scala that mention it.

This is a grep heuristic over identifiers, not a compiler pass: inside
its own file or a file importing its object, an overloaded or common name
(`run`, `apply`) counts as reached wherever the same word appears, and a
member reached only through an alias of its object (`val D = O; D.m`) is
listed. Check every entry by hand before acting on it.
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


def skip_plain_string(text, j, n):
    """Index just past the plain "..." literal whose body starts at j."""
    while j < n and text[j] != '"' and text[j] != "\n":
        j += 2 if text[j] == "\\" else 1
    return j + 1


def match_brace(text, j, n):
    """Index just past the `}` closing the `{` at j; string literals inside
    (an interpolation's arguments) do not count."""
    depth = 0
    while j < n:
        c = text[j]
        if c == '"':
            if text.startswith('"""', j):
                k = text.find('"""', j + 3)
                j = n if k < 0 else k + 3
            else:
                j = skip_plain_string(text, j + 1, n)
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    return n


def scan_string(text, i, n, interpolated):
    """(end, code) of the literal opening at i: `code` is its `$x` and
    `${...}` parts when interpolated (only those name members; a column
    called "simhash" does not), blank otherwise."""
    triple = text.startswith('"""', i)
    j = i + (3 if triple else 1)
    exprs = []
    while j < n:
        if triple and text.startswith('"""', j):
            while text.startswith('""""', j):  # trailing quotes belong to the body
                j += 1
            return j + 3, exprs
        c = text[j]
        if not triple and (c == '"' or c == "\n"):
            return j + 1, exprs
        if c == "\\" and not triple:
            j += 2
        elif c == "$" and interpolated:
            if text.startswith("${", j):
                k = match_brace(text, j + 1, n)
                exprs.append(text[j + 2:k - 1])
                j = k
            else:
                m = IDENT.match(text, j + 1)
                if m:
                    exprs.append(m.group(0))
                    j = m.end()
                else:
                    j += 2 if text.startswith("$$", j) else 1
        else:
            j += 1
    return n, exprs


def strip_scala(text):
    """Blank out // and /* */ comments and plain string contents, keeping
    interpolated expressions (themselves stripped) and newlines."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text[i] == '"':
            j, exprs = scan_string(text, i, n, i > 0 and text[i - 1].isalpha())
            out.append('""' + " ".join(strip_scala(e) for e in exprs) +
                       "\n" * text.count("\n", i, j))
            i = j
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

    def imports_member(c, obj, name):
        for m in re.finditer(rf"\bimport\s[^\n]*?\b{obj}\.(_|\{{[^}}]*\}})", c):
            if m.group(1) == "_" or re.search(rf"\b{name}\b", m.group(1)):
                return True
        return False

    def reached_elsewhere(own, obj, name):
        qualified = re.compile(rf"\b{obj}\s*\.\s*{name}\b")
        return any(qualified.search(code[p]) or
                   (words[p][name] and imports_member(code[p], obj, name))
                   for p in mains + others if p != own)

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
                if words[path][name] > n_defs or reached_elsewhere(path, obj, name):
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
