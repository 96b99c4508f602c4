"""``bench.py --scaling`` rewrites BENCH.md from its template and keeps
every section the template does not produce. Sections are told apart by
their whole header line, so a hand-written section whose header only
starts like a template one survives the rewrite. The default run ends
stdout with a compact headline line."""

from __future__ import annotations

import importlib.util
import json
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


def test_headline_is_a_short_parseable_last_line(tmp_path, capsys):
    """A full-size bench result (50+ queries, isolated re-timings, the
    host probe) still ends stdout with one compact JSON line, and the
    detail lands in the side file."""
    queries = {f"roundtrip_query_with_a_long_name_{i:02d}": 1.234 + i
               for i in range(60)}
    result = {
        "metric": "headline query suite wall-clock (encode/decode "
        "round-trips, codec selection, dedup, text, similarity) + "
        "flagship encode",
        "value": 123.456, "unit": "sec", "queries": queries, "sf": 0.1,
        "cpus": 16, "cpus_requested": 32,
        "host_effective_parallelism": 11.74,
        "host_capacity_probe": [
            {"procs": n, "wall_sec": 1.5, "effective_parallelism": 11.7,
             "per_proc_sec": [0.1] * n} for n in (8, 16)
        ],
        "flagship_tokens": 2_345_678, "tokens_per_sec": 2_100_000.5,
        "compression_ratio": 3.21,
        "isolated": dict(list(queries.items())[:5]),
        "isolated_note": "x" * 400,
    }
    detail = tmp_path / "detail.json"
    print("earlier progress output")
    _bench().emit_headline(result, str(detail))
    last = capsys.readouterr().out.rstrip("\n").splitlines()[-1]
    assert len(last.encode()) < 2048
    head = json.loads(last)
    assert head["value"] == 123.456
    assert head["tokens_per_sec"] == 2_100_000.5
    assert head["compression_ratio"] == 3.21
    assert head["sf"] == 0.1 and head["cpus"] == 16
    assert "queries" not in head
    assert json.loads(detail.read_text()) == result
