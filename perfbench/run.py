"""Benchmark entry point.

    python3 perfbench/run.py --workload qc_audio --seed 1 --seconds 10 --trace 0

Runs one workload in this process at local[<cores>] and prints, as the
last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). The lines
before it give the machine shape, the input shape and every metric with
its unit and sample count. ``--trace 1`` also writes the spans and layers
to a JSON artifact (``--trace-out``, default under the work directory).

``--workload all`` runs every workload, each in a fresh process;
``--smoke`` shrinks every input to a chunk or a few and runs each timed
job once, for the benchmark's own tests.

Inputs are generated from the seed and cached in the work directory
(``perfbench/_work``); the first run in a checkout builds them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec: dict, run, trace: bool) -> dict:
    """The result object printed last. Per-layer metrics a workload does not
    exercise read 0 (for example dedup.* on qc_audio)."""
    if trace:
        values = {m["name"]: (float(run.layers.get(m["name"], 0.0)), m["unit"]) for m in spec["per_layer"]}
    else:
        values = {m["name"]: (float(run.metrics[m["name"]][0]), m["unit"]) for m in spec["end_to_end"]}
    return {
        "correct": run.ck.failed == 0,
        "attempted": run.ck.attempted,
        "failed": run.ck.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }


def run_all(args) -> int:
    """Every workload in its own process; exit 0 only if all are correct."""
    from perfbench.workloads import WORKLOADS

    summary, ok = {}, True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.smoke:
            cmd.append("--smoke")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        summary[name] = res
        ok = ok and res is not None and res["correct"]
    print(json.dumps({"all": summary, "correct": ok}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench.harness import pin_environment

    machine = pin_environment(ROOT, WORK)
    try:
        from perfbench import gen
        from perfbench.workloads import WORKLOADS, Run
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)} or all")
    spec = load_spec()
    listed = [WORKLOADS[w["name"]] for w in spec["workloads"]]
    w = WORKLOADS[args.workload]
    gen.ensure_pools(sorted({x.pool for x in listed + [w]}, key=lambda p: p.name), WORK, machine["cores"])

    run = Run(w, args.seed, args.seconds, bool(args.trace), args.smoke, WORK, machine["cores"])
    print(f"machine: {json.dumps(machine)}")
    print(f"input: {json.dumps({'workload': w.name, 'seed': args.seed, 'chunks': run.inp.chunk_ids, **run.inp.shape})}")
    try:
        run.execute()
    except Exception:
        traceback.print_exc()
        if run.ck.failed == 0:
            run.ck.expect("run", False, "aborted")
    for msg in run.ck.failures:
        print(f"FAILED {msg}", file=sys.stderr)
    if run.ck.failed and "wall_s" not in run.metrics:
        return 1
    res = result_line(spec, run, bool(args.trace))
    lat = getattr(run, "latencies", [])
    print(f"latencies (n={len(lat)}): " + " ".join(f"{x:.3f}" for x in lat))
    for name, m in res["metrics"].items():
        n = f"  (n={len(lat)})" if name.startswith(("lat_", "wall_s", "clips_per_s")) and not args.trace else ""
        print(f"{name} = {m['value']:.6g} {m['unit']}{n}")
    if args.trace:
        out = args.trace_out or os.path.join(WORK, f"trace-{w.name}-{args.seed}.json")
        art = {"machine": machine, "input": {"workload": w.name, "seed": args.seed, **run.inp.shape},
               "metrics": {k: v for k, v in run.metrics.items()}, "layers": run.layers, "spans": run.tr.dump()}
        with open(out, "w") as f:
            json.dump(art, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"trace: {out}")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
