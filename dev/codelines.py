#!/usr/bin/env python3
"""Count the code lines of Scala source files.

Usage: python3 dev/codelines.py PATH [PATH ...]

Each PATH is a Scala file or a directory, which is searched recursively
for `*.scala` files (in sorted order).

A line counts when any of it is code or string literal; blank lines and
lines that are only `//` comments, `/* */` / Scaladoc comments (nested,
as in Scala) or a mix of those do not. String literals, including
triple-quoted ones spanning lines, count as code, so a `//` or `/*`
inside a string starts no comment. Prints one `<count> <file>` line per
file, then the total.
"""
import os
import sys


def code_lines(src):
    counted = set()
    line = 0
    depth = 0           # nesting depth of /* */ comments
    string = None       # None, '"' or '"""'
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == '\n':
            line += 1
            i += 1
            continue
        if depth:
            if src.startswith('/*', i):
                depth += 1
                i += 2
            elif src.startswith('*/', i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            counted.add(line)
            if src.startswith('"""', i):
                # a run of quotes closes on its last three
                while src.startswith('"', i + 3):
                    i += 1
                string = None
                i += 3
            else:
                i += 1
            continue
        if string == '"':
            counted.add(line)
            if c == '\\':
                i += 2
            else:
                if c == '"':
                    string = None
                i += 1
            continue
        if c.isspace():
            i += 1
        elif src.startswith('//', i):
            while i < n and src[i] != '\n':
                i += 1
        elif src.startswith('/*', i):
            depth = 1
            i += 2
        elif src.startswith('"""', i):
            counted.add(line)
            string = '"""'
            i += 3
        elif c == '"':
            counted.add(line)
            string = '"'
            i += 1
        elif c == "'" and i + 2 < n and (src[i + 1] == '\\' or src[i + 2] == "'"):
            # character literal: 'x' or an escape such as '\'' or '\u0000'
            counted.add(line)
            j = i + 3 if src[i + 1] == '\\' else i + 2
            while j < n and src[j] != "'" and src[j] != '\n':
                j += 1
            i = j + 1
        else:
            counted.add(line)
            i += 1
    return len(counted)


def scala_files(path):
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(d, f)
                  for d, _, fs in os.walk(path)
                  for f in fs if f.endswith('.scala'))


def main(args):
    if not args:
        sys.exit(__doc__)
    if args[0] in ('-h', '--help'):
        print(__doc__)
        return
    total = 0
    for p in (f for a in args for f in scala_files(a)):
        with open(p, encoding='utf-8') as f:
            k = code_lines(f.read())
        total += k
        print(f'{k} {p}')
    print(f'{total} total')


if __name__ == '__main__':
    main(sys.argv[1:])
