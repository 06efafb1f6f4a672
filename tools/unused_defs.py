#!/usr/bin/env python3
"""Report public members of src/main that nothing outside their file uses.

Usage: tools/unused_defs.py [repo_root]

A report, not a gate: it always exits 0. It lists every public ``def`` /
``val`` / ``var`` that is a member of a top-level or nested object, class
or trait in ``src/main/scala`` and whose name never appears, as a whole
word outside comments, in any OTHER file of ``src/main/scala`` or
``streambench/src``. Each is a candidate to delete or make private.
Those names split in two groups:

  * test-only: some file under ``src/test`` names it (a test is its only
    caller outside its own file);
  * own file only: nothing outside its own file names it (it may still
    be called inside that file, or from generated code).

Skipped: ``private``/``protected`` members, ``override``s (called through
their supertype), ``main``/``apply``/``unapply`` (called implicitly) and
members of anonymous classes or of blocks. Matching is by name, so a
common name used elsewhere for something else hides a dead member: the
counts are a lower bound.
"""
import pathlib
import re
import sys

IMPLICIT = {"main", "apply", "unapply"}
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MEMBER = re.compile(
    r"\b(?:lazy\s+)?(def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)")


def strip(src: str, keep_strings: bool) -> str:
    """Blank out comments (and string/char literals unless keep_strings),
    keeping newlines so line numbers survive."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
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
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...x"""" ends on the last
                j += 1
            lit = src[i:j]
            out.append(lit if keep_strings else re.sub(r"[^\n]", " ", lit))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            lit = src[i:j]
            out.append(lit if keep_strings else " " * len(lit))
            i = j
        elif c == "'":
            m = re.match(r"'(\\.|[^'\\\n])'", src[i:])
            if m:
                out.append(m.group(0) if keep_strings else " " * m.end())
                i += m.end()
            else:
                out.append(c)
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def members(code: str):
    """(name, line) of every public member of a named template body."""
    found = []
    stack = []          # True for a template body, False for any other block
    pending = False     # a class/object/trait header awaits its `{`
    parens = 0
    line = 1
    tokens = re.finditer(
        r"\n|[{}()\[\]]|\b(?:object|class|trait)\b|\bnew\b|" + MEMBER.pattern,
        code)
    for t in tokens:
        s = t.group(0)
        if s == "\n":
            line += 1
        elif s in "([":
            parens += 1
        elif s in ")]":
            parens -= 1
        elif s == "{":
            stack.append(pending and parens == 0)
            pending = False
        elif s == "}":
            if stack:
                stack.pop()
        elif s in ("object", "class", "trait"):
            pending = True
        elif s == "new":
            pending = False
        else:
            pending = False
            name = t.group(2)
            if parens or not stack or not all(stack) or name in IMPLICIT:
                continue
            start = code.rfind("\n", 0, t.start()) + 1
            mods = code[start:t.start()]
            if re.search(r"\b(private|protected|override)\b", mods):
                continue
            found.append((name, line))
    return found


def words(path: pathlib.Path) -> set:
    return set(WORD.findall(strip(path.read_text(), keep_strings=True)))


def main() -> None:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    bench_files = sorted((root / "streambench/src").rglob("*.scala"))
    test_files = sorted((root / "src/test").rglob("*.scala")) + \
        sorted((root / "src/test").rglob("*.java"))
    used = {f: words(f) for f in main_files + bench_files}
    test_words = set().union(*(words(f) for f in test_files)) \
        if test_files else set()

    total, test_only, own_only = 0, [], []
    for f in main_files:
        rel = f.relative_to(root)
        seen = set()
        for name, line in members(strip(f.read_text(), keep_strings=False)):
            if name in seen:  # overloads: one entry per name and file
                continue
            seen.add(name)
            total += 1
            if any(name in ws for g, ws in used.items() if g != f):
                continue
            (test_only if name in test_words else own_only).append(
                (str(rel), line, name))

    print(f"public members: {total}; not named outside their file in "
          f"src/main or streambench/src: {len(test_only) + len(own_only)} "
          f"(test-only: {len(test_only)}, own file only: {len(own_only)})")
    for title, rows in (("test-only", test_only),
                        ("own file only", own_only)):
        print(f"\n== {title} ({len(rows)}) ==")
        for rel, line, name in rows:
            print(f"{rel}:{line}: {name}")


if __name__ == "__main__":
    main()
