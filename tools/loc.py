#!/usr/bin/env python3
"""Line counts of the tree at two git revisions.

    python3 tools/loc.py REV_A REV_B [PATH ...]

For `src/main`, `src/test` and every PATH given (a file or a directory),
prints the total lines and the code lines at both revisions, and the
change. A code line is any line that is not blank and does not start,
after indentation, with `//`, `*` or `/*` (the scaladoc and comment
forms this codebase uses). A path missing at a revision counts 0.
"""
import subprocess
import sys


def files(rev, path):
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", path],
                         check=True, capture_output=True, text=True).stdout
    return [f for f in out.splitlines() if f]


def count(rev, path):
    total = code = 0
    for f in files(rev, path):
        text = subprocess.run(["git", "show", f"{rev}:{f}"], check=True,
                              capture_output=True).stdout.decode("utf-8", "replace")
        for line in text.splitlines():
            total += 1
            s = line.strip()
            if s and not s.startswith(("//", "*", "/*")):
                code += 1
    return total, code


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    a, b, paths = argv[0], argv[1], ["src/main", "src/test"] + argv[2:]
    print(f"{'path':<56} {'total ' + a[:10]:>17} {'total ' + b[:10]:>17} "
          f"{'code ' + a[:10]:>16} {'code ' + b[:10]:>16} {'code Δ':>7}")
    for p in paths:
        (ta, ca), (tb, cb) = count(a, p), count(b, p)
        print(f"{p:<56} {ta:>17} {tb:>17} {ca:>16} {cb:>16} {cb - ca:>+7}")


if __name__ == "__main__":
    main(sys.argv[1:])
