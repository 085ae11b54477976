#!/usr/bin/env python3
"""Count code lines in the .scala files under one or more roots (a root
may also be a single file).

A code line is a line with at least one non-blank character outside
`//` line comments and `/* */` block comments (nested, as Scala nests
them). Comment markers inside string literals ("...", and triple-quoted
\"\"\"...\"\"\" strings that may span lines) and character literals do
not count as comments.

    python3 tools/loc.py src/main            # total for the root
    python3 tools/loc.py src/main --files    # per file, then the total
"""
import pathlib
import sys


def code_lines(text):
    """Number of lines in `text` carrying code outside comments."""
    n = 0
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """ string, which may span lines
    for line in text.splitlines():
        code = False
        i = 0
        in_str = False
        while i < len(line):
            c = line[i]
            two = line[i:i + 2]
            if depth:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = False
                    i += 1
                else:
                    i += 1
                continue
            if two == "//":
                break
            if two == "/*":
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_triple = True
                code = True
                i += 3
                continue
            if c == '"':
                in_str = True
                code = True
                i += 1
                continue
            if c == "'" and i + 2 < len(line) and line[i + 1] == "\\":
                # escaped char literal such as '\n' or '\''
                end = line.find("'", i + 3)
                code = True
                i = end + 1 if end > 0 else len(line)
                continue
            if c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                code = True  # plain char literal such as '"' or '/'
                i += 3
                continue
            if not c.isspace():
                code = True
            i += 1
        if code:
            n += 1
    return n


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    per_file = "--files" in argv
    if not args:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for root in args:
        p = pathlib.Path(root)
        for f in [p] if p.is_file() else sorted(p.rglob("*.scala")):
            k = code_lines(f.read_text(encoding="utf-8"))
            total += k
            if per_file:
                print(f"{k:7d} {f}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
