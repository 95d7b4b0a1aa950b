"""README status block must equal a fresh regeneration from the
artifacts (r12, VERDICT r11 item 6) — the same pin style as
test_achilles_defaults' catalog-count assert. No Spark needed."""

import json
import shutil
from pathlib import Path
import sys

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from update_readme_status import (  # noqa: E402
    build_status_lines,
    current_block,
    main,
    _PYTEST_RE,
)


def test_readme_status_block_matches_artifacts():
    readme = (REPO / "README.md").read_text()
    _, _, inner = current_block(readme)
    committed = [ln for ln in inner if ln.strip()]
    pytest_line = None
    for ln in committed:
        m = _PYTEST_RE.match(ln.strip())
        if m:
            pytest_line = m.group(1)
    assert pytest_line, "status block lost its pytest line"
    assert committed == build_status_lines(pytest_line)


def test_readme_status_survives_bench_rewrite(tmp_path):
    """A bench run rewrites BENCH_DETAIL.json; regenerating the block in a
    repo copy whose bench numbers differ must leave README unchanged."""
    shutil.copy(REPO / "README.md", tmp_path / "README.md")
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps({
        "queries": {"q": 1.5},
        "etl_rows_per_sec": 1,
        "tpch_queries": {"q1": 2.5},
        "sf1_total": 3.5,
    }))
    main([], repo=tmp_path)
    assert (tmp_path / "README.md").read_text() == \
        (REPO / "README.md").read_text()
