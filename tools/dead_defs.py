#!/usr/bin/env python3
"""Report the size of src/main and the defs nothing in the program calls.

Prints the src/main Scala line count (the figure `find src/main -name
'*.scala' | xargs cat | wc -l` gives), then every `def` in src/main whose
name appears nowhere in src/main or perfbench/src outside comments and
scaladoc except at its own definition, with the test files that use it.

A name match is textual: a def that shares its name with any other
identifier counts as called, so the list can miss dead code but never
names a def the program calls. `override def`, `main`, `apply` and
`unapply` are skipped (the runtime or the compiler calls them).

Usage: python3 tools/dead_defs.py   (from anywhere in the repo)
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
# string literals are kept (a name in a SQL string is a use); comments go
TOKEN = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|/\*[\s\S]*?\*/|//[^\n]*')
DEF = re.compile(r'^(?P<pre>.*?)\bdef\s+(?P<name>[A-Za-z_]\w*)', re.M)
SKIP = {"main", "apply", "unapply"}


def code(path):
    """The file's text with comments blanked, line breaks kept."""
    def blank(m):
        t = m.group(0)
        return t if t.startswith('"') else re.sub(r"[^\n]", " ", t)
    return TOKEN.sub(blank, path.read_text(encoding="utf-8"))


def sources(*dirs):
    return {p: code(p) for d in dirs for p in sorted((ROOT / d).rglob("*.scala"))}


def main():
    main_src = sorted((ROOT / "src/main").rglob("*.scala"))
    lines = sum(len(p.read_text(encoding="utf-8").splitlines()) for p in main_src)
    print(f"src/main: {lines} lines in {len(main_src)} files")
    program = sources("src/main", "perfbench/src")
    tests = sources("src/test")
    words = {}
    for text in program.values():
        for w in re.findall(r"[A-Za-z_]\w*", text):
            words[w] = words.get(w, 0) + 1
    dead = []
    for path, text in program.items():
        if not path.is_relative_to(ROOT / "src/main"):
            continue
        for m in DEF.finditer(text):
            name = m.group("name")
            if name in SKIP or "override" in m.group("pre"):
                continue
            if words[name] > 1:  # the definition itself is one
                continue
            line = text.count("\n", 0, m.start("name")) + 1
            users = [p.stem for p, t in tests.items() if re.search(rf"\b{name}\b", t)]
            dead.append((f"{path.relative_to(ROOT)}:{line}", name, users))
    for where, name, users in dead:
        print(f"{where}  {name}  tests: {', '.join(users) or '-'}")
    print(f"== {len(dead)} defs with no caller in src/main or perfbench/src ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
