"""Run one benchmark workload in this process and print its result.

    python3 perfbench/run.py --workload sql_serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 the per-layer ones, from spans around the program's public
calls and from Spark's status store. Everything the run writes lives
under one temp root in .perfbench/ that is removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-layer metrics every workload measures
COMMON_LAYER_METRICS = [
    "session.build_s", "workload.import_s", "process.peak_rss_mb",
    "trace.overhead_s", "trace.spans",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.task_time_s",
    "spark.core_busy_ratio",
]


class Setup:
    """Set the workload up once, in this fresh process: `setup_s` runs
    from just before the program's imports until the workload is ready
    to time, so it covers the imports, the JVM start and the first
    session build. For `sql_serve` that is session + Engine +
    QueryServer + clients + one warm-up query; for `pipeline_ingest`
    session + `init_ingest` of the seeded corpus."""

    def __init__(self, h, workload: str, module, seed: int, tracer):
        import gen

        self.data_dir = gen.DATA_DIR
        self.stack = self.ingest = None
        t0 = time.perf_counter()
        import chapterhousedb_spark.engine  # noqa: F401
        import chapterhousedb_spark.server  # noqa: F401

        t1 = time.perf_counter()
        import chapterhousedb_spark.workload  # noqa: F401

        self.import_s = time.perf_counter() - t1
        if tracer is not None:
            module.install_tracing(tracer)
        tb = time.perf_counter()
        if workload == "sql_serve":
            from harness import CLIENTS, Stack

            self.stack = Stack(h, self.data_dir, CLIENTS)
            self.build_s = time.perf_counter() - tb
            self.stack.warmup(gen.warmup_statement(seed))
        else:
            spark = h.build_session()
            self.build_s = time.perf_counter() - tb
            self.ingest = module.Ingest(
                spark, h.path("ingest"),
                os.path.join(self.data_dir, "documents.parquet"), seed,
            )
        self.setup_s = time.perf_counter() - t0


def _workloads() -> dict:
    import batch
    import sql_serve

    return {"sql_serve": sql_serve, "pipeline_ingest": batch}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="with --trace 1, also write every "
                    "span as JSON lines to this file")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "chapterhousedb_spark", "__init__.py")):
        print(f"error: no chapterhousedb_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads)}", file=sys.stderr)
        return 2
    module = workloads[args.workload]

    from harness import Harness, peak_rss_mb
    from spans import Tracer

    tmp = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    h = Harness(tmp)
    tracer = Tracer() if args.trace else None
    setup = None
    try:
        setup = Setup(h, args.workload, module, args.seed, tracer)
        res = module.run(h, args, setup, tracer)
        rss = peak_rss_mb()
        if tracer is not None and args.spans_out:
            tracer.dump(args.spans_out)
    finally:
        try:
            if setup is not None and setup.stack is not None:
                setup.stack.close()
        finally:
            h.close()
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:  # another run's temp root is still there
                pass

    failed = len(res["failures"])
    for f in res["failures"][:20]:
        print(f"wrong: {f}", file=sys.stderr)
    summary = {
        "workload": args.workload, "seed": args.seed,
        "window_s": round(res["window_s"], 3),
        "failed_ratio": failed / res["attempted"],
        "setup_s": round(setup.setup_s, 3),
        **res["detail"],
    }
    if args.trace:
        values = {
            "session.build_s": setup.build_s,
            "workload.import_s": setup.import_s,
            "process.peak_rss_mb": rss,
            "trace.overhead_s": tracer.overhead_s,
            "trace.spans": len(tracer.spans),
            **res["layers"],
        }
        names = layer_metric_names(workloads)
        mine = COMMON_LAYER_METRICS + module.LAYER_METRICS
        if sorted(values) != sorted(mine):
            raise RuntimeError(f"layer metrics {sorted(set(values) ^ set(mine))} "
                               "measured but not declared, or the reverse")
        metrics = {n: (values.get(n, 0), _unit(n)) for n in names}
        summary["traced_e2e"] = {k: round(v, 6) for k, v in res["e2e"].items()}
    else:
        metrics = {
            "setup_s": (setup.setup_s, "s"),
            "main_op_s": (res["e2e"]["main_op_s"], "s"),
            "side_op_s": (res["e2e"]["side_op_s"], "s"),
            "throughput_per_s": (res["e2e"]["throughput_per_s"], "1/s"),
        }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metric_names(workloads: dict) -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = list(COMMON_LAYER_METRICS)
    for module in workloads.values():
        names += module.LAYER_METRICS
    return names


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from the last word of its measure
    (`workload.construct_share.<pipeline>` is a share)."""
    measure = name.split(".")[1] if name.startswith("workload.") else name
    if measure.endswith("_share"):
        return "fraction"
    if measure.endswith(("_ratio", "_amplification")) or "_per_row_" in measure:
        return "ratio"
    if measure.endswith("_bytes"):
        return "bytes"
    if measure.endswith("_mb"):
        return "MB"
    if measure.endswith("_s"):
        return "s"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
