"""`.hashignore` filtering with gitignore semantics (reference P4).

quichash filters scanned files through gitignore-style patterns loaded from
`.hashignore` files in the scan root and its parents
(/root/reference/src/ignore_handler.rs:27-82, built on the `ignore` crate's
GitignoreBuilder; test matrix at ignore_handler.rs:90-197).

Spark re-expression: patterns compile ONCE (driver-side) to Java-regex
strings, and the per-row decision is a pure-JVM fold of `rlike` matches in
whole-stage codegen — no Python in the scan path, and simple cases stay
pushdown-friendly.  Semantics mirror `Gitignore::matched` (the method the
reference calls): the decision is for the given path itself — parent
directories are not consulted (use the dir-pattern on the directory row,
exactly like the reference's `should_ignore(path, is_dir)`).
Patterns arrive as text (:func:`parse_hashignore`); finding the
`.hashignore` files is left to the caller.

Supported gitignore features (public gitignore spec):
- blank lines and `#` comments (escape a literal leading `#`/`!` with `\\`)
- `!` negation, LAST matching rule wins
- trailing `/` => directory-only pattern
- a pattern containing `/` is anchored to the root; otherwise it matches
  the basename at any depth
- `*` (non-separator), `?`, `[...]` classes, and `**` globstar
- trailing spaces stripped unless backslash-escaped
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    negated: bool
    dir_only: bool
    regex: str  # full-path regex, already anchored with ^/$ as needed
    pattern: str  # original pattern text (for reports)


def _glob_regex(p: str) -> str:
    """Translate one gitignore glob to a regex over the relative path."""
    out: list[str] = []
    i, n = 0, len(p)
    while i < n:
        c = p[i]
        if c == "\\" and i + 1 < n:
            out.append(re.escape(p[i + 1]))
            i += 2
        elif c == "*":
            if p[i : i + 2] == "**" and (i == 0 or p[i - 1] == "/"):
                if i + 2 == n:  # trailing '**' matches everything below
                    out.append(".*")
                    i += 2
                elif p[i + 2] == "/":  # '**/' crosses any number of dirs
                    out.append("(?:.*/)?")
                    i += 3
                else:  # '**x' degrades to '*' per the spec
                    out.append("[^/]*")
                    i += 2
            else:
                out.append("[^/]*")
                i += 1
        elif c == "?":
            out.append("[^/]")
            i += 1
        elif c == "[":
            j = i + 1
            if j < n and p[j] in "!^":
                j += 1
            if j < n and p[j] == "]":
                j += 1
            while j < n and p[j] != "]":
                j += 1
            if j >= n:  # unterminated class: literal '['
                out.append(re.escape(c))
                i += 1
            else:
                inner = p[i + 1 : j]
                if inner.startswith(("!", "^")):
                    inner = "^" + inner[1:]
                out.append("[" + inner + "]")
                i = j + 1
        else:
            out.append(re.escape(c))
            i += 1
    return "".join(out)


def parse_hashignore(lines: list[str] | str) -> list[Rule]:
    """Parse `.hashignore` content into ordered rules (first to last)."""
    if isinstance(lines, str):
        lines = lines.splitlines()
    rules: list[Rule] = []
    for raw in lines:
        line = raw.rstrip("\n")
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        negated = False
        if line.startswith("!"):
            negated = True
            line = line[1:]
        elif line.startswith(("\\#", "\\!")):
            line = line[1:]
        while line.endswith(" ") and not line.endswith("\\ "):
            line = line[:-1]
        if not line:
            continue
        dir_only = line.endswith("/")
        line = line.rstrip("/") if dir_only else line
        anchored = "/" in line
        if line.startswith("/"):
            line = line.lstrip("/")
            anchored = True
        if not line:
            continue
        core = _glob_regex(line)
        regex = ("^" if anchored else "(^|/)") + core + "$"
        rules.append(Rule(negated, dir_only, regex, raw.strip()))
    return rules


def should_ignore(rules: list[Rule], path: str, is_dir: bool = False) -> bool:
    """Pure-Python twin of the Spark column (tests + driver-side use)."""
    decision = False
    for r in rules:
        if r.dir_only and not is_dir:
            continue
        if re.search(r.regex, path):
            decision = not r.negated
    return decision


def ignored_col(
    rules: list[Rule], path_col: Column, is_dir_col: Column | None = None
) -> Column:
    """Boolean Column: is this path ignored?  Pure JVM `rlike` fold.

    Later rules override earlier ones (gitignore last-match-wins), encoded
    as a nested `when` chain built in rule order.
    """
    decision: Column = F.lit(False)
    for r in rules:
        cond = path_col.rlike(r.regex)
        if r.dir_only:
            cond = cond & (is_dir_col if is_dir_col is not None else F.lit(False))
        decision = F.when(cond, F.lit(not r.negated)).otherwise(decision)
    return decision


def hashignore_filter(
    df: DataFrame,
    patterns: list[str] | str,
    path_col: str = "path",
    is_dir_col: str | None = None,
) -> DataFrame:
    """Drop rows whose path matches the ignore rules (reference P4)."""
    rules = parse_hashignore(patterns)
    return df.filter(
        ~ignored_col(
            rules, F.col(path_col), F.col(is_dir_col) if is_dir_col else None
        )
    )
