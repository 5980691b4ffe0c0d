"""Line counts of the package and the tests: python tools/loc.py [BASE]

For each of ``netcdf4_variable_streamer_spark/`` and ``tests/`` prints the
raw line count and the code-only line count of its ``.py`` files in the
working tree. Code-only counts a line when a token other than a comment
starts or spans it; blank lines, comments and docstrings (a string that
is a statement on its own) do not count. With BASE (any git revision),
also prints the same counts at BASE and the delta from BASE, plus the
raw lines added and removed (``git diff --numstat`` from BASE to the
working tree)."""

import io
import os
import subprocess
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIRS = ("netcdf4_variable_streamer_spark", "tests")
_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    """Lines of ``src`` that hold code: not blank, comment or docstring."""
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []  # tokens of the current statement
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            if tok.type == tokenize.NEWLINE:
                # a statement that is one string literal is a docstring
                if not (len(stmt) == 1 and stmt[0].type == tokenize.STRING):
                    for t in stmt:
                        lines.update(range(t.start[0], t.end[0] + 1))
                stmt = []
            continue
        stmt.append(tok)
    return len(lines)


def counts(files: dict[str, str]) -> tuple[int, int]:
    """(raw, code-only) line totals over ``{path: source}``."""
    return (
        sum(len(s.splitlines()) for s in files.values()),
        sum(code_lines(s) for s in files.values()),
    )


def tree_files(d: str) -> dict[str, str]:
    out = {}
    for base, _, names in os.walk(os.path.join(ROOT, d)):
        for n in names:
            if n.endswith(".py"):
                with open(os.path.join(base, n), encoding="utf-8") as f:
                    out[os.path.join(base, n)] = f.read()
    return out


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout


def base_files(rev: str, d: str) -> dict[str, str]:
    paths = git("ls-tree", "-r", "--name-only", rev, "--", d).split()
    return {
        p: git("show", f"{rev}:{p}") for p in paths if p.endswith(".py")
    }


def added_removed(rev: str, d: str) -> tuple[int, int]:
    add = rem = 0
    for line in git("diff", "--numstat", rev, "--", d).splitlines():
        a, r, path = line.split("\t", 2)
        if path.endswith(".py") and a != "-":
            add, rem = add + int(a), rem + int(r)
    # files git does not track yet are all added lines
    untracked = git(
        "ls-files", "--others", "--exclude-standard", "--", d
    ).split()
    for p in untracked:
        if p.endswith(".py"):
            with open(os.path.join(ROOT, p), encoding="utf-8") as f:
                add += len(f.read().splitlines())
    return add, rem


def main(argv: list[str]) -> None:
    base = argv[0] if argv else None
    for d in DIRS:
        raw, code = counts(tree_files(d))
        line = f"{d + '/':34s} raw {raw:6d}  code {code:6d}"
        if base:
            braw, bcode = counts(base_files(base, d))
            add, rem = added_removed(base, d)
            line += (
                f"  | {base[:10]}: raw {braw:6d}  code {bcode:6d}"
                f"  | delta raw {raw - braw:+d} (+{add}/-{rem})"
                f"  code {code - bcode:+d}"
            )
        print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
