"""maggma_spark benchmark: one named workload, one seed, one result line.

    python3 perfbench/run.py --workload serve|etl|analytics --seed N \\
        --seconds S --trace 0|1 [--sf 0.1]

Run from the root of a checkout that holds `maggma_spark/`. The last
stdout line is one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it carries the
environment stamp and per-run detail. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("serve", "etl", "analytics")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms",
              "docs_per_s": "docs/s", "build_full_s": "s", "wall_s": "s",
              "peak_mem_mb": "MB", "ok_ratio": "ratio"}

COMMON_LAYERS = {"session.start_s": "s", "trace.op_p50_ms": "ms",
                 "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
                 "spark.tasks_per_op": "count", "spark.python_rows_per_op": "count",
                 "spark.shuffle_mb_per_op": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit: the
    common ones plus those of every workload, so every traced run prints
    the same set (a layer the workload does not exercise reads 0)."""
    from perfbench import analytics, etl, serve

    return dict(COMMON_LAYERS, **serve.LAYERS, **etl.LAYERS, **analytics.LAYERS)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale factor of the generated tables (default 0.1)")
    ap.add_argument("--plant-faults", type=int, default=0,
                    help="corrupt this many outputs before checking them "
                         "(tests the correctness check itself)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import maggma_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import maggma_spark from the checkout: {exc}",
              file=sys.stderr)
        return 2
    import importlib

    from perfbench import harness

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf)
    try:
        module = importlib.import_module(f"perfbench.{args.workload}")
        out = module.run_workload(run, plant_faults=args.plant_faults)
        if args.trace:
            units = per_layer_units()
            values = dict.fromkeys(units, 0.0)
            values["session.start_s"] = harness.median(run.session_s)
            values.update(out["layers"])
        else:
            units, values = END_TO_END, out["metrics"]
        if set(values) != set(units):
            raise RuntimeError(f"metric names differ from the declared set: "
                               f"{sorted(set(values) ^ set(units))}")
        metrics = {name: (values[name], unit) for name, unit in units.items()}
        detail = dict(run.env_stamp(), **run.detail)
        harness.emit(detail, out["failed"] == 0, out["attempted"], out["failed"], metrics)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.cleanup()


if __name__ == "__main__":
    sys.exit(main())
