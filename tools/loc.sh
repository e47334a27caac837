#!/bin/bash
# Print the non-blank, non-comment line count of the Scala files under the
# given paths (default: src/main/scala of this repo), one line per path and
# a total. A line counts when code remains after removing `//` line comments
# and `/* ... */` block comments; string literals (including multi-line
# triple-quoted ones) are code, so "dir/*" inside a string opens no comment.
# Usage: tools/loc.sh [path ...]
set -e
if [ $# -eq 0 ]; then
  cd "$(dirname "$0")/.."
  set -- src/main/scala
fi
exec python3 - "$@" <<'EOF'
import os, sys

def code_lines(text):
    n, block, triple = 0, 0, False
    for line in text.split("\n"):
        code, i = False, 0
        while i < len(line):
            c = line[i]
            if block:
                if line.startswith("*/", i):
                    block -= 1; i += 2
                elif line.startswith("/*", i):
                    block += 1; i += 2
                else:
                    i += 1
            elif triple:
                code = True
                if line.startswith('"""', i):
                    triple = False; i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                block = 1; i += 2
            elif line.startswith('"""', i):
                code = triple = True; i += 3
            elif c == '"':
                code = True; i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and (line[i + 2:i + 3] == "'" or line[i + 1:i + 2] == "\\"):
                code = True; i = line.find("'", i + 3 if line[i + 1:i + 2] == "\\" else i + 2) + 1 or len(line)
            else:
                code = code or not c.isspace(); i += 1
        n += code
    return n

total = 0
for root in sys.argv[1:]:
    files = [root] if os.path.isfile(root) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".scala"))
    count = sum(code_lines(open(f, encoding="utf-8").read()) for f in files)
    total += count
    print(f"{count:8d} {root}")
if len(sys.argv) > 2:
    print(f"{total:8d} total")
EOF
