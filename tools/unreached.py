#!/usr/bin/env python3
"""List the public defs nothing outside their own file reaches.

Usage: python3 tools/unreached.py

Prints each public member `def` under src/main (one not marked private or
protected, declared in an object, class or trait body rather than inside a
method) whose name has no word match in any other Scala file under src/main
or perfbench/src, as `<file>:<line> <name>`. Such a def is reached only
from its own file or from tests. A word match is a plain text search, so a
name that is also an ordinary word elsewhere (a field, a local, a comment)
is not listed even if nothing calls it: the list is a floor, not a proof."""
import os, re, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main")
SEARCHED = [MAIN, os.path.join(ROOT, "perfbench", "src")]

DEF_RE = re.compile(r"^\s*((?:[a-z]+(?:\[[\w.]+\])?\s+)*)def\s+([A-Za-z_]\w*)")
TEMPLATE_RE = re.compile(r"^\s*((?:[a-z]+(?:\[[\w.]+\])?\s+)*)(?:object|class|trait)\s")
STATEMENT_RE = re.compile(r"^\s*(?:[a-z]+(?:\[[\w.]+\])?\s+)*(?:def|val|var|type)\s")
HIDDEN = ("private", "protected")

def scala_files(top):
    for d, _, names in os.walk(top):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)

def code_only(text):
    """The text with comments, string and char literals blanked (newlines kept)."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j += 1
        elif re.match(r"'(?:\\.|[^\\'])'", text[i:i + 4]):
            j = text.index("'", i + 1 + (text[i + 1] == "\\")) + 1
        else:
            out.append(text[i])
            i += 1
            continue
        out.append(re.sub(r"[^\n]", " ", text[i:j]))
        i = j
    return "".join(out)

def hidden(modifiers):
    return any(w.startswith(HIDDEN) for w in modifiers.split())

def public_member_defs(text):
    """(line, name) of each public def declared directly in the body of a
    public object, class or trait."""
    # stack: one entry per open brace, True for the body of a public template
    stack, pending = [], False
    for i, line in enumerate(code_only(text).split("\n"), 1):
        m = DEF_RE.match(line)
        if m and all(stack) and not hidden(m.group(1)):
            yield i, m.group(2)
        t = TEMPLATE_RE.match(line)
        if t:
            pending = not hidden(t.group(1))
        elif STATEMENT_RE.match(line):
            pending = False
        for c in line:
            if c == "{":
                stack.append(pending)
                pending = False
            elif c == "}" and stack:
                stack.pop()

def main():
    texts = {p: open(p, encoding="utf-8").read()
             for top in SEARCHED if os.path.isdir(top)
             for p in scala_files(top)}
    seen = set()
    for path in sorted(p for p in texts if p.startswith(MAIN + os.sep)):
        for line, name in public_member_defs(texts[path]):
            word = re.compile(r"\b%s\b" % re.escape(name))
            if name in seen or any(
                    word.search(t) for p, t in texts.items() if p != path):
                continue
            seen.add(name)
            print(f"{os.path.relpath(path, ROOT)}:{line} {name}")
    print(f"\n{len(seen)} unreached public defs", file=sys.stderr)

if __name__ == "__main__":
    main()
