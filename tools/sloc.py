#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of src/main/**/*.scala at a git rev.

Usage: python3 tools/sloc.py [-v] [rev]     (default: the working tree,
untracked files included)

A line counts when anything other than whitespace is left after removing
`//` line comments and `/* ... */` block comments (scaladoc included,
nested blocks included, as Scala nests them). Comment markers inside
string literals (plain, interpolated and triple-quoted) and character
literals are not comments. Prints the total, then one line per file with
`-v`.
"""
import subprocess
import sys


def code_lines(text):
    """Number of lines of `text` that hold code once comments are removed."""
    count = 0
    depth = 0          # nesting depth of /* */ comments
    in_string = None   # None, '"' or '"""'
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_string == '"""':
                has_code = True
                if line.startswith('"""', i):
                    in_string = None
                    i += 3
                else:
                    i += 1
                continue
            if in_string == '"':
                has_code = True
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_string = None
                    i += 1
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_string = '"""'
                has_code = True
                i += 3
                continue
            if c == '"':
                in_string = '"'
                has_code = True
                i += 1
                continue
            if c == "'" and i + 2 < n and line[i + 1] == "\\":
                # escaped character literal such as '\n' or '\''
                end = line.find("'", i + 3)
                has_code = True
                i = n if end < 0 else end + 1
                continue
            if c == "'" and i + 2 < n and line[i + 2] == "'":
                has_code = True
                i += 3
                continue
            if not c.isspace():
                has_code = True
            i += 1
        if in_string == '"':
            in_string = None  # a single-line string never spans lines
        if has_code:
            count += 1
    return count


def scala_files(rev):
    if rev is None:
        out = subprocess.run(["git", "ls-files", "--cached", "--others", "--exclude-standard",
                              "src/main"], check=True, capture_output=True, text=True).stdout
        return [(p, open(p, encoding="utf-8").read())
                for p in out.split() if p.endswith(".scala")]
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "src/main"],
                         check=True, capture_output=True, text=True).stdout
    files = []
    for p in out.split():
        if p.endswith(".scala"):
            text = subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                                  capture_output=True, text=True).stdout
            files.append((p, text))
    return files


def main(argv):
    args = [a for a in argv[1:] if a != "-v"]
    if len(args) > 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    per_file = [(p, code_lines(t)) for p, t in scala_files(args[0] if args else None)]
    print(sum(n for _, n in per_file))
    if "-v" in argv:
        for p, n in sorted(per_file):
            print(f"{n:7d} {p}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
