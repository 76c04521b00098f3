"""Benchmark of the IRStats2 user-facing path.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Generates the workload's inputs from ``--seed`` (cached per seed under
``.perfbench/inputs``), starts Spark, sets up ``SETUP_REPS`` times, measures
for at least ``--seconds`` and checks the program's outputs. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones of a second, traced measurement). The lines before it
give every end-to-end metric with its unit, ``failed_frac``, the sample
counts, ``nproc``, the load average and a CPU calibration probe; the full
record, with the input properties, goes to ``.perfbench/last/``.
``--workload all`` runs every workload in its own process and prints one
row per workload.

Per-layer metric -> the end-to-end metric it should move, on which workload:

    access_log.*                      etl_events_per_s (nightly_etl)
    filters.*, processors.*, sets.*   etl_s (nightly_etl)
    storage.write_s/files/bytes       etl_s, gold_bytes_per_event (nightly_etl)
    storage.replay_*, stream.*        ingest_p50_ms (ingest_and_serve)
    http.parse_ms, plan.*, export.*   req_p50_ms (nightly_etl)
    exec.collect_ms/jobs/tasks        req_p50_ms, req_per_s (nightly_etl)
    exec.codegen_fallbacks            etl_s (nightly_etl)
    cache.hit_ratio/get_ms/put_ms     req_p50_ms (ingest_and_serve)
    cache.prewarm_s                   etl_s (nightly_etl)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
KEEP_SEEDS = 40  # input sets kept in the cache

# name -> unit; the same list, in order, as BENCHMARK.json's end_to_end
END_TO_END = {
    "setup_s": "s",
    "etl_s": "s",
    "etl_events_per_s": "1/s",
    "gold_bytes_per_event": "B",
    "req_p50_ms": "ms",
    "req_per_s": "1/s",
    "ingest_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prune_inputs(cache_root: str) -> None:
    if not os.path.isdir(cache_root):
        return
    dirs = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root)),
        key=os.path.getmtime,
    )
    for d in dirs[:-KEEP_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)


def _tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def run_one(args) -> int:
    sys.path[:0] = [HERE, ROOT]
    try:
        import duckdb  # noqa: F401
        import irstats2_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program or its toolchain: {e}", file=sys.stderr)
        return 2
    import gen
    import layers
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = W.WORKLOADS[args.workload]
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    robots = gen.RobotLists(os.path.join(ROOT, "irstats2_spark", "operators", "data"))
    inputs = os.path.join(WORK, "inputs")
    _prune_inputs(inputs)
    inp, inroot = gen.ensure_inputs(inputs, args.seed, cls.spec, robots)

    run = W.Run(work, args.seed, args.seconds)
    try:
        wl = cls(run, inp, inroot)
        W.log("inputs ready")
        run.new_session()  # the JVM launch is not part of any set-up rep
        calib = run.calibrate()
        W.log("session started")
        wl.prepare()
        W.log("prepared")
        setup = []
        for _ in range(W.SETUP_REPS):
            t0 = time.perf_counter()
            run.new_session()
            wl.setup_once()
            setup.append(time.perf_counter() - t0)
            W.log(f"setup rep {len(setup)}: {setup[-1]:.2f} s")
        m = wl.measure()
        per_layer = None
        if args.trace:
            per_layer = layers.traced_measure(run, wl, m)
        m["setup_s"] = W.median(setup)
        m["peak_rss_mb"] = run.peak_rss_mb()
    except Exception:
        traceback.print_exc()
        print("perfbench: driver log tail:\n" + _tail(run.log_path), file=sys.stderr)
        return 1
    finally:
        run.shutdown()

    tally = run.tally
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "calib_s": round(calib, 4),
        "setup_reps_s": [round(t, 4) for t in setup],
        "failed_frac": tally.failed_frac,
        "failures": tally.notes,
        "inputs": gen.properties(inp),
        **run.info,
        "end_to_end": m,
        "per_layer": per_layer,
    }
    os.makedirs(os.path.join(WORK, "last"), exist_ok=True)
    with open(os.path.join(WORK, "last", f"{args.workload}.json"), "w") as fh:
        json.dump(info, fh, indent=1, default=str)
    if run.tracer is not None:
        run.tracer.dump(os.path.join(WORK, "last", f"{args.workload}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    for k in ("nproc", "loadavg", "calib_s", "setup_reps_s"):
        print(f"# {k} = {info[k]}")
    props = {k: v for k, v in info["inputs"].items() if k != "spec"}
    print(f"# inputs = {json.dumps(props, sort_keys=True)}")
    p90 = "n/a" if m["req_p90_ms"] is None else f"{m['req_p90_ms']:.4f} ms"
    print(f"# requests = {m['req_samples']} (p90 {p90}), input lines = {m['input_lines']}")
    for name, unit in END_TO_END.items():
        print(f"{args.workload:18s} {name:22s} {m[name]:14.4f} {unit}")
    print(f"{args.workload:18s} {'failed_frac':22s} {tally.failed_frac:14.4f} ratio")
    for note in tally.notes:
        print(f"# FAILED: {note}")
    if per_layer is not None:
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; one row per workload."""
    sys.path.insert(0, HERE)
    import workloads as W

    rows, status = {}, 0
    for name in W.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"{name}: failed with exit code {p.returncode}", file=sys.stderr)
            status = 1
            continue
        rows[name] = json.loads(lines[-1])
        status |= 0 if rows[name]["correct"] else 1
    names = list(next(iter(rows.values()))["metrics"]) if rows else []
    print("workload".ljust(18) + "".join(n.rjust(24) for n in names + ["failed_frac"]))
    for wl, r in rows.items():
        cells = [f"{r['metrics'][n]['value']:.4f} {r['metrics'][n]['unit']}" for n in names]
        cells.append(f"{r['failed'] / r['attempted']:.4f} ratio")
        print(wl.ljust(18) + "".join(c.rjust(24) for c in cells))
    return status


def main(argv=None) -> int:
    args = _args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
