"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 8 --trace 0

Workloads: ``interactive_sql``, ``batch_pipeline``, ``ingest_mv`` (see
README.md in this directory). Run from the root of a checkout of the
repository. Every file the run writes (generated data, the Spark
warehouse and scratch, the Kafka file topic) goes under
``.perfbench_work/`` in the checkout and is removed at exit; a copy of
the detail line is kept under ``.perfbench_results/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics, with ``--trace 1``
the per-layer metrics. The line before it is a ``{"perfbench": ...}``
object with the environment, the workload's own figures, known-defect
reproducers and (traced) the full per-module split.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "interactive_sql": "perfbench.interactive",
    "batch_pipeline": "perfbench.batch",
    "ingest_mv": "perfbench.ingest",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, "otus_clickhouse_spark")):
        print(
            f"perfbench: no engine package under {ROOT}; run from a full "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.common import environment, load_avg
    from perfbench.session import BenchSession

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    workload = importlib.import_module(WORKLOADS[args.workload])
    session = BenchSession(work, trace=bool(args.trace), process_start=PROCESS_START)
    try:
        env = environment(ROOT, args.seed, workload.SF)
        outcome = workload.run(session, args.seed, args.seconds)
        env["load_after"] = load_avg()
    finally:
        session.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "env": env,
        "setup_phases_s": session.setup_phases,
        "mismatches": outcome.mismatches,
        **outcome.detail,
    }
    if args.trace:
        metrics = session.layer_metrics()
        detail["layers"] = session.layer_detail
        # measured with the spans installed: compare with an untraced
        # run of the same seed for the tracing overhead (overhead.py)
        detail["traced_end_to_end"] = {
            k: {"value": v, "unit": u} for k, (v, u) in outcome.metrics.items()
        }
    else:
        metrics = outcome.metrics
    metrics_json = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    detail["metrics"] = metrics_json
    line = json.dumps({"perfbench": detail}, default=str)
    print(line)
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(
        os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
        ),
        "w",
    ) as fh:
        fh.write(line + "\n")
    print(
        json.dumps(
            {
                "correct": not outcome.mismatches,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics_json,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
