#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of Scala sources.

    python3 tools/code_lines.py                 # every file under src/main/scala
    python3 tools/code_lines.py path/to/dir_or_file ...

Prints one `<lines>  <file>` row per Scala file, then a total row per
argument. A line counts when it holds any character outside a comment:
`//` line comments and `/* ... */` block comments (scaladoc included)
are dropped, while comment markers inside string literals (including
triple-quoted SQL) are ordinary text. Deleting a comment therefore never
changes the count.
"""
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def code_lines(text: str) -> int:
    """Lines of `text` that carry at least one non-blank code character."""
    n = 0
    has_code = False
    depth = 0        # nesting depth of /* */ (Scala block comments nest)
    string = None    # None, '"' or '"""'
    i = 0
    while i < len(text):
        c = text[i]
        if c == "\n":
            n += has_code
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            if not c.isspace():
                has_code = True
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < len(text) and text[j] == '"':
                    j += 1
                string = None
                i = j
            else:
                i += 1
            continue
        if string == '"':
            has_code = True
            if c == "\\":
                i += 2
            elif c == '"':
                string = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < len(text) and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            string = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            string = '"'
            has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < len(text) and (
                text[i + 2] == "'" or text[i + 1] == "\\"):
            # char literal ('"', '\n', ...): skip so its quote opens nothing
            end = text.index("'", i + 2 if text[i + 1] != "\\" else i + 3)
            has_code = True
            i = end + 1
            continue
        if not c.isspace():
            has_code = True
        i += 1
    return n + has_code


def files(arg: Path):
    return sorted(arg.rglob("*.scala")) if arg.is_dir() else [arg]


def main(argv):
    args = [Path(a) for a in argv] or [ROOT / "src" / "main" / "scala"]
    for arg in args:
        total = 0
        for f in files(arg):
            k = code_lines(f.read_text(encoding="utf-8"))
            total += k
            try:
                shown = f.resolve().relative_to(ROOT)
            except ValueError:
                shown = f
            print(f"{k:7d}  {shown}")
        print(f"{total:7d}  total {arg}")


if __name__ == "__main__":
    main(sys.argv[1:])
