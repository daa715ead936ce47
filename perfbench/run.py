"""listings-engine benchmark.

    python3 perfbench/run.py --workload daily_load --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one closed-loop client on a
``local[nproc]`` session. The workload's inputs are generated from
``--seed`` under ``.bench_work/``; set-up (session start + warm-up +
shared caches) is billed to ``setup_s``; then whole passes of the
workload run until ``--seconds`` have been measured, and the outputs
of the last pass are checked against an independent model. The
end-to-end times are CPU seconds of this process and its descendants
(the Spark JVM, its Python workers), plus the cores a pass kept busy:
its CPU seconds, and the seconds the hypervisor withheld from the
machine's CPUs (steal), per wall second. Wall and steal time are
printed beside them.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics plus the tracing overhead. Every metric is printed
as ``name value unit``; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per-workload breakdowns, reported per layer; 0 where the workload
# has no such call
WORKLOAD_LEVEL = (
    "load_rows_per_s", "curated_batch_s_p50", "history_batch_s_p50", "backfill_s",
    "bytes_per_live_byte", "dml_merge_s_p50", "dml_delete_s_p50", "dml_update_s_p50",
    "dml_optimize_s", "dml_read_s_p50", "dml_bytes_per_live_byte",
    "query_total_s", "query_s_p50",
)  # fmt: skip


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def make_workload(name: str, work: str, seed: int, tiny: bool):
    if name == "daily_load":
        from perfbench.daily_load import DailyLoad

        return DailyLoad(work, seed, **({"rows_per_day": 600, "dml": {"n_rows": 500, "batch": 100}} if tiny else {}))
    if name == "registry_mix":
        from perfbench.registry_mix import RegistryMix

        return RegistryMix(work, seed, **({"sf": 0.0005} if tiny else {}))
    raise ValueError(f"unknown workload {name!r}")


def run_passes(wl, seconds: float, tracer):
    """Whole passes until ``seconds`` of wall time have been measured.
    With a tracer, untraced and traced passes alternate, starting and
    ending untraced (at least U T U), so a trend across passes, such as
    a JIT still compiling after set-up, does not read as trace overhead.
    Returns the :class:`~perfbench.common.Clocks` of each pass and the
    call accounting, both keyed by traced or not."""
    from perfbench import common, layers

    ops = {False: common.Ops(), True: common.Ops()}
    passes = {False: [], True: []}
    t_start = time.perf_counter()
    try:
        while True:
            on = tracer is not None and len(passes[False]) > len(passes[True])
            wl.reset()
            if on:
                layers.install(tracer)
            start = common.Clocks.now()
            try:
                wl.run_pass(ops[on], tracer if on else common.NoTracer())
            finally:
                if on:
                    tracer.unwrap_all()
            passes[on].append(start.since())
            if time.perf_counter() - t_start >= seconds and (tracer is None or len(passes[False]) > len(passes[True]) > 0):
                return passes, ops
    except common.OpFailed:
        return passes, ops  # counted in ops; reported by the caller


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import common, layers

    try:
        import etl_pipeline_4handling_listings_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.prepare_process(work)

    wl = make_workload(args.workload, work, args.seed, args.tiny)
    setup_start = common.Clocks.now()
    spark = common.start_session(work)
    try:
        start_s = time.perf_counter() - setup_start.wall
        wl.warm(spark)
        setup = setup_start.since()

        tracer = common.Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
        passes, ops = run_passes(wl, args.seconds, tracer)
        attempted = ops[False].attempted + ops[True].attempted
        failed = ops[False].failed + ops[True].failed
        problems = wl.check() if not failed else ["outputs not checked: a call failed"]

        def med(traced: bool, clock: str, skip: int = 0) -> float:
            return common.median([getattr(p, clock) for p in passes[traced][skip:]])

        peak_mb, workers_mb = common.memory_mb()
        e2e = {
            "setup_s": setup.cpu,
            "pass_cpu_s": med(False, "cpu"),
            "pass_cores": common.median([(p.cpu + p.steal) / p.wall for p in passes[False]]),
        }
        breakdown = {
            "setup_wall_s": setup.wall,
            "pass_wall_s": med(False, "wall"),
            "steal_s": med(False, "steal"),
            "peak_rss_mb": peak_mb,
            "python_workers_pss_mb": workers_mb,
            "ops_failed_ratio": failed / max(1, attempted),
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        if not failed:
            for name, (value, unit) in wl.workload_metrics(ops[False]).items():
                breakdown[name] = value
                units[name] = unit
        per_layer = {}
        if tracer is not None and not failed:
            tracer.resolve_jobs()
            per_layer = {
                "session.start_s": start_s,
                "session.warm_s": setup.wall - start_s,
                # against the untraced passes after the first, which
                # still pays for JIT compiling left over from set-up
                "trace.overhead_s": med(True, "cpu") - med(False, "cpu", skip=1),
                **{name: 0.0 for name in WORKLOAD_LEVEL},
                **breakdown,
                **layers.metrics(tracer, len(passes[True]), wl.input_rows, getattr(wl, "transport", None)),
            }
            tracer.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        common.stop_session(spark)

    for err in ops[False].errors + ops[True].errors:
        print(f"FAILED {err}")
    for p in problems:
        print(f"CHECK FAILED {p}")
    print(f"workload {args.workload} seed {args.seed} passes {len(passes[False])} untraced {len(passes[True])} traced")
    for name, value in {**e2e, **breakdown, **per_layer}.items():
        print(f"{name} {value:.6g} {units.get(name, '')}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    result = {
        "correct": not failed and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in wanted
            if math.isfinite(values.get(m["name"], math.nan))
        },
    }
    print(json.dumps(result), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
