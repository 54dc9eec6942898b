#!/usr/bin/env python3
"""Count the Scala lines under src/main, twice: every line, and only the
lines that carry code (blank and comment-only lines dropped).

    python3 tools/loc.py [root]      # root defaults to the repo root

A line counts as code when any character of it lies outside a comment.
Block comments nest (as in Scala); string literals, including
triple-quoted ones that span lines, are code, so a "//" or "/*" inside
one opens no comment.
"""
import os
import sys


def code_lines(text):
    """Number of lines in `text` with at least one non-blank character
    outside a comment."""
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    count = 0
    for line in text.split("\n"):
        has_code = in_triple and line.strip() != ""
        i, n = 0, len(line)
        while i < n:
            if depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    # a run of more than three quotes closes at its end
                    while line.startswith('""""', i):
                        i += 1
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and (
                    line[i + 2] == "'" or line[i + 1] == "\\"):
                # a char literal such as '"' or '\n'
                has_code = True
                end = line.find("'", i + 2 if line[i + 1] != "\\" else i + 3)
                i = n if end < 0 else end + 1
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main")
    total = code = files = 0
    for d, _, names in os.walk(src):
        for name in names:
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                text = f.read()
            files += 1
            # wc -l semantics: a final line without its newline still counts
            total += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
            code += code_lines(text)
    print(f"src/main scala: {files} files, {total} lines, "
          f"{code} without blank and comment-only lines")


if __name__ == "__main__":
    main()
