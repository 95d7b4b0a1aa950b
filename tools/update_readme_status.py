#!/usr/bin/env python
"""Regenerate README.md's machine-derived status block from the
artifacts themselves (r12, VERDICT r11 item 6: hand-maintained counts
drifted twice — 179-vs-178 catalog ids in r10, 658-vs-659 tests in r11).

The block between the STATUS:BEGIN / STATUS:END markers is OWNED by
this script: every number in it is read from the query registry and the
Achilles catalog, never typed. The pytest line is the one count a static
script cannot derive, so it is passed in
(``--pytest "659 passed, 1 skipped, 0 failed"``) and preserved
verbatim otherwise. ``tests/test_readme_status.py`` asserts the
committed README matches a fresh regeneration, the same pin style as
test_achilles_defaults' catalog-count assert. Bench numbers stay out of
the block: every bench run rewrites BENCH_DETAIL.json, so they are not
invariants a committed README can match.

Usage: python tools/update_readme_status.py [--pytest "..."]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BEGIN = "<!-- STATUS:BEGIN (generated by tools/update_readme_status.py) -->"
END = "<!-- STATUS:END -->"
_PYTEST_RE = re.compile(r"^- Test suite \(last full run\): (.+)$")


def build_status_lines(pytest_line: str) -> list[str]:
    sys.path.insert(0, str(REPO))
    from synthea2omop_etl_spark.analytics.achilles_default_ids import (
        ANALYSIS_NAMES,
    )
    from synthea2omop_etl_spark.queries import QUERIES

    n_oracle = sum(1 for s in QUERIES.values() if s.oracle)
    return [
        f"- Graded queries: {len(QUERIES)} "
        f"({n_oracle} with DuckDB oracles, "
        f"{len(QUERIES) - n_oracle} rows-only)",
        f"- Achilles default-analyses catalog: {len(ANALYSIS_NAMES)} ids",
        f"- Test suite (last full run): {pytest_line}",
    ]


def current_block(readme: str) -> tuple[int, int, list[str]]:
    """(start, end, inner lines) of the status block in README text."""
    b, e = readme.index(BEGIN), readme.index(END)
    inner = readme[b + len(BEGIN): e].strip("\n").splitlines()
    return b, e, inner


def main(argv: list[str] | None = None, repo: Path = REPO) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pytest", default=None,
                    help='e.g. "659 passed, 1 skipped, 0 failed"')
    args = ap.parse_args(argv)

    readme_path = repo / "README.md"
    readme = readme_path.read_text()
    b, e, inner = current_block(readme)
    pytest_line = args.pytest
    if pytest_line is None:
        for ln in inner:
            m = _PYTEST_RE.match(ln.strip())
            if m:
                pytest_line = m.group(1)
        if pytest_line is None:
            pytest_line = "(not recorded)"
    block = "\n".join(build_status_lines(pytest_line))
    readme_path.write_text(
        readme[:b] + BEGIN + "\n" + block + "\n" + readme[e:]
    )
    print(block)


if __name__ == "__main__":
    main()
