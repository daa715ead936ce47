"""bench.py stdout contract: the last line is the full payload."""

from __future__ import annotations

import json

import bench
from etl_pipeline_4handling_listings_spark.queries import QuerySpec


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



def test_a_failing_query_keeps_its_sentinel_and_names_its_exception(
    spark, capsys
):
    def broken(spark, sf_dir):
        raise ValueError("no such table: nowhere\n  at a stack frame")

    registry = {
        "ok": QuerySpec("ok", lambda spark, sf_dir: spark.range(3), None),
        "broken": QuerySpec("broken", broken, None),
    }
    errors: dict[str, str] = {}
    times = bench.time_queries(spark, registry, "unused", errors)
    assert times["broken"] == -1.0
    assert times["ok"] >= 0
    assert errors == {"broken": "ValueError: no such table: nowhere"}
    summary = {"metric": "headline_queries_total", "value": 0.0, "unit": "sec"}
    bench.print_payload(summary, {**summary, "queries": times, "errors": errors})
    last = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert last["queries"]["broken"] == -1.0
    assert last["errors"]["broken"].startswith("ValueError: ")
