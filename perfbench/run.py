"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_encode --seed 1 --seconds 10 --trace 0

From the root of a checkout. Workloads: bulk_encode, append_maintain,
edges_index (see ``workloads.py`` for why each exists).
``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``;
``--trace 1`` is a separate run that spans every call into sparkcodec's
public functions and reports the per-layer metrics instead, including
each layer's self time per op (``self.<layer>_s``; they sum to the mean
op wall) and the tracing cost (``trace.bookkeeping_s``, and
``trace.op_p50_ms`` to read against the untraced ``op_p50_ms``). The
traced run's spans are written as JSON lines to
``perfbench/.cache/spans/<workload>-<seed>.jsonl`` when it ends.

Every line before the last is a human-readable report: each metric with
its unit and sample count, plus workload-specific figures. The last line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
Inputs are generated from ``--seed`` and cached under
``perfbench/.cache``; ``--scale tiny`` is the small scale the tests use.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metric_specs(valid_name) -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = [m["name"] for g in ("end_to_end", "per_layer") for m in spec[g]
           if not valid_name(m["name"])]
    if bad:
        raise ValueError(f"invalid metric names in BENCHMARK.json: {bad}")
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sparkcodec  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import sparkcodec from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_specs(harness.valid_metric_name)

    b = workloads.Bench(ROOT, args.workload, args.seed, args.seconds,
                        bool(args.trace), args.scale)
    try:
        workloads.prepare(b)
        b.start()
        if b.tracer:
            with harness.instrumented(b.tracer, b.counts):
                byte_metrics = workloads.WORKLOADS[args.workload](b)
        else:
            byte_metrics = workloads.WORKLOADS[args.workload](b)
        b.layer["host.cpu_burn_s"] = harness.cpu_burn()
        e2e = b.end_to_end(byte_metrics)
        metrics = b.per_layer(layer_units, e2e) if b.tracer else {
            k: e2e[k] for k in e2e_units}
        if b.tracer:
            spans_dir = os.path.join(b.cache, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            b.tracer.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        b.stop()

    n_ops = len(b.ops)
    walls: dict[str, list] = {}
    for o in b.ops:
        walls.setdefault(o["kind"], []).append(round(o["wall"], 3))
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} window_s={b.window_s:.2f} ops={n_ops} "
          f"warmup_walls_s={[round(w, 3) for w in b.warm_walls]} walls_s={walls}")
    samples = {"setup_s": 1, "compression_ratio": 1, "size_vs_parquet_zstd": 1}
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit} (samples: {samples.get(name, n_ops)})")
    for name, (value, unit, n) in b.detail.items():
        print(f"{name} = {value:.6g} {unit} (samples: {n})")
    print(f"host.cpu_burn_s = {b.layer['host.cpu_burn_s']:.4f} s (samples: 1)")
    print(json.dumps({
        "correct": b.failed == 0 and b.attempted > 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
