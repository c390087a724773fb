#!/usr/bin/env python3
"""Count the size of the library's source and option surface.

Usage: python3 tools/count_surface.py [repo_root]

Prints four numbers for the Scala sources under `src/main`:

- lines: the physical line count of every `*.scala` file (what `wc -l`
  reports), comments and blank lines included.
- default parameters: parameters that declare a default value in a
  `def` that is not itself marked `private` or `private[...]`. Every
  parameter list of the def counts (`def f(a: Int = 1)(b: Int = 2)`
  is two). A parameter has a default when it holds an `=` at its own
  nesting depth that is not part of `=>`, `==`, `<=`, `>=` or `!=`.
  Comments and string literals are blanked before parsing, so neither
  a default inside a comment nor a parenthesis inside a string counts.
  Class constructor parameters are not counted.
- conf keys: distinct string literals that start with `spark.graft.`.
- env vars: distinct string literals of the form `SPARK_GRAFT_<NAME>`.

Conf keys and env vars are counted from the raw source, so a key named
only in a comment does not count, and one read in two files counts once.
"""
import re
import sys
from pathlib import Path

ROOT = Path(sys.argv[1] if len(sys.argv) > 1 else ".")
SOURCES = sorted((ROOT / "src" / "main").rglob("*.scala"))

CONF_KEY = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')
ENV_VAR = re.compile(r'"(SPARK_GRAFT_[A-Z0-9_]+)"')
DEF = re.compile(r"\bdef\s+([^\s(\[:=]+)")
PRIVATE = re.compile(r"\bprivate\b(\[[^\]]*\])?[^;{}()]*$")
DEFAULT = re.compile(r"(?<![=<>!:])=(?![=>])")


def blank(text: str) -> str:
    """Replace comments and string/char literals with spaces, keeping
    newlines and offsets."""
    out = list(text)
    i, n = 0, len(text)

    def wipe(a: int, b: int) -> None:
        for k in range(a, min(b, n)):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            wipe(i, j)
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            wipe(i, j)
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            wipe(i + 1, j - 1)
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            wipe(i + 1, j)
            i = j + 1
        elif text[i] == "'" and i + 2 < n and (
                text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            j = n if j < 0 else j
            wipe(i + 1, j)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def group(text: str, i: int, open_: str, close: str) -> int:
    """Index just past the bracket group opening at `i`."""
    depth = 0
    for j in range(i, len(text)):
        if text[j] == open_:
            depth += 1
        elif text[j] == close:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(text)


def split_top(params: str) -> list:
    parts, depth, cur = [], 0, []
    for ch in params:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def top_level(param: str) -> str:
    """The parameter with every nested bracket group removed."""
    out, depth = [], 0
    for ch in param:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def defaults(text: str) -> int:
    count = 0
    for m in DEF.finditer(text):
        line_start = text.rfind("\n", 0, m.start()) + 1
        if PRIVATE.search(text[line_start:m.start()]):
            continue
        i = m.end()
        while i < len(text) and text[i].isspace():
            i += 1
        if i < len(text) and text[i] == "[":
            i = group(text, i, "[", "]")
        while True:
            while i < len(text) and text[i].isspace():
                i += 1
            if i >= len(text) or text[i] != "(":
                break
            end = group(text, i, "(", ")")
            for p in split_top(text[i + 1:end - 1]):
                if DEFAULT.search(top_level(p)):
                    count += 1
            i = end
    return count


def main() -> None:
    lines = params = 0
    conf, env = set(), set()
    for f in SOURCES:
        raw = f.read_text(encoding="utf-8")
        lines += raw.count("\n")
        params += defaults(blank(raw))
        conf.update(CONF_KEY.findall(raw))
        env.update(ENV_VAR.findall(raw))
    print(f"src/main scala lines: {lines}")
    print(f"default parameters:   {params}")
    print(f"spark.graft.* keys:   {len(conf)}")
    print(f"SPARK_GRAFT_* vars:   {len(env)}")


if __name__ == "__main__":
    main()
