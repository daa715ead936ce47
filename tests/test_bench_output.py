"""bench.py stdout contract: the last line is the full payload."""

from __future__ import annotations

import json

import bench


def test_last_stdout_line_is_the_full_payload(capsys):
    summary = {"metric": "headline_queries_total", "value": 1.5, "unit": "sec"}
    full = {**summary, "queries": {"q1": 0.5, "q2": 1.0}, "query_runs": {}}
    bench.print_payload(summary, full)
    lines = capsys.readouterr().out.splitlines()
    assert json.loads(lines[0]) == summary
    last = json.loads(lines[-1])
    assert last == full
    assert last["queries"] == {"q1": 0.5, "q2": 1.0}
    assert summary.items() <= last.items()
