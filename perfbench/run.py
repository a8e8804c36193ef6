"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload loader --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and perfbench/DESIGN.md):

- ``loader``: a backlog phase drains staged records through
  ``run_loader`` (``GZIP_INDEXED``) and replays the archive through
  ``archive_replay``; a paced phase feeds ``run_loader`` (``GZIP``) from
  an open-loop generator process and times records from due to commit;
- ``query_mix``: passes over registry queries, oracle-checked once.

Every run checks its outputs and prints, as the last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
workload runs twice in one process, untraced and then traced, and the
run prints the per-layer metrics, including the tracing overhead (traced
minus untraced end-to-end values). A readable summary goes to stderr.

Run from the root of a checkout of the repository. Inputs, archives,
checkpoints, event logs and Spark's temporary files live under
``.perfbench_work/`` and are removed when the run ends; the spans of a
traced run are written to ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("loader", "query_mix")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(root: str, work: str) -> None:
    """Environment for this process and everything it starts: Spark's
    Python workers and the generator must import the package,
    SPARK_GRAFT_CPUS pins local[N] to the cores this run may use, and
    temporary and Spark-local files stay under ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    paths = [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def run_workload(args, work: str, trace: bool):
    """One full workload run in this process: its own work directory and
    a cold set-up (a new Spark JVM)."""
    from harness import E2E_UNITS, Harness
    from tracing import Tracer

    if args.workload == "query_mix":
        from query_mix import run_query_mix as run
    else:
        from loaders import run_loader_workload as run
    h = Harness(work, args.workload, args.seed, trace)
    tracer = Tracer(h.run_id, trace)
    try:
        with tracer.span(args.workload, "bench"):
            res = run(h, tracer, args.seed, args.seconds)
        values = {k: res[k] for k in E2E_UNITS}
        if trace:
            from layers import collect

            values.update(collect(res, h, tracer))
            traces = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{h.run_id}.jsonl"))
    finally:
        h.close()
    return res, values


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    if not (os.path.isfile(os.path.join(ROOT, "kinesis_s3_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no kinesis_s3_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"p{os.getpid()}")
    configure_env(ROOT, work)

    from harness import E2E_UNITS, arm_watchdog, result_line, shutdown

    def cleanup() -> None:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    watchdog = arm_watchdog(cleanup=cleanup)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        untraced = None
        if args.trace:
            # the untraced twin runs first, with its own cold set-up,
            # so the traced run can report its own overhead
            _, untraced = run_workload(args, work, trace=False)
        res, values = run_workload(args, work, trace=bool(args.trace))
    finally:
        shutdown()
        watchdog.cancel()
        cleanup()

    e2e = {k: values[k] for k in E2E_UNITS}
    if args.trace:
        from layers import metric_names

        for k in E2E_UNITS:
            values[f"trace.overhead.{k}"] = e2e[k] - untraced[k]
        metrics = {k: (values[k], u) for k, u in metric_names().items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in E2E_UNITS.items()}
    summary(args, res, e2e, untraced)
    print(result_line(not res["problems"], res["attempted"], res["failed"], metrics), flush=True)
    return 0


def summary(args, res: dict, e2e: dict, twin: dict | None) -> None:
    """Human-readable lines on stderr."""
    from harness import E2E_UNITS

    w = sys.stderr.write
    w(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}\n")
    for k, u in E2E_UNITS.items():
        extra = f"   (untraced {twin[k]:.4g})" if twin else ""
        w(f"  {k:<16} {e2e[k]:>14.4f} {u}{extra}\n")
    w(f"  latency_p90_ms   {res['latency_p90_ms']:>14.4f} ms (few samples beyond p90)\n")
    frac = res["failed"] / max(1, res["attempted"])
    w(f"  failed_frac      {frac:>14.4f} fraction ({res['failed']}/{res['attempted']})\n")
    if res["workload"] == "query_mix":
        w(f"  query_mix_s      {res['pass_s']:>14.4f} s (median of {len(res['passes'])} passes)\n")
    if res["workload"] == "loader" and res["paced"] and res["paced"]["late_ms"]:
        paced = res["paced"]
        late = sorted(paced["late_ms"])
        w(f"  paced goodput    {paced['goodput_per_s']:>14.4f} 1/s\n")
        w(f"  generator late   p50 {late[len(late) // 2]:.1f} ms, max {late[-1]:.1f} ms\n")
    for p in res["problems"]:
        w(f"  CHECK FAILED: {p}\n")


if __name__ == "__main__":
    raise SystemExit(main())
