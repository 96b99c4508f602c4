"""``bench.py --scaling`` rewrites BENCH.md from its template and keeps
every section the template does not produce. Sections are told apart by
their whole header line, so a hand-written section whose header only
starts like a template one survives the rewrite."""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_extra_sections_match_whole_header_lines(tmp_path):
    md = tmp_path / "BENCH.md"
    md.write_text(
        "# BENCH — measured results\n\n"
        "## Host capacity calibration (why N=2)\n\ntemplate\n\n"
        "## Scaling result\n\ntemplate\n\n"
        "## Scaling result caveats\n\nhand-written caveat\n\n"
        "## Skew defusal: salted range plan vs naive partition-by-source\n\n"
        "template\n\n"
        "## Page sizing: fixed rows vs bytes target\n\ntemplate\n\n"
        "## Page sizing: notes\n\nhand-written note\n"
    )
    extra = _bench()._extra_sections(str(md))
    assert "## Scaling result caveats\n\nhand-written caveat" in extra
    assert "## Page sizing: notes\n\nhand-written note" in extra
    assert "template" not in extra
    assert "Host capacity" not in extra


def test_extra_sections_of_the_checked_in_bench_md():
    """Every template header in the repo's BENCH.md is recognised, and
    the hand-written sections it holds today are all kept."""
    text = (REPO / "BENCH.md").read_text()
    extra = _bench()._extra_sections(str(REPO / "BENCH.md"))
    headers = [line for line in text.splitlines() if line.startswith("## ")]
    kept = [line for line in extra.splitlines() if line.startswith("## ")]
    template = [h for h in headers if h not in kept]
    assert len(template) == 6, template
    assert "## Dict-page DISTINCT pushdown" in kept
