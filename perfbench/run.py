"""Benchmark entry point.

    python3 perfbench/run.py --workload serve-web --seed 1 --seconds 10 --trace 0

Runs one seeded workload against the engine in this checkout, in one
process on ``local[<cores>]``, and prints as its last stdout line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see perfbench/README.md). A line before it
records the host settings, sizes and any failures. ``--smoke`` runs
tiny inputs (the benchmark's own tests use it).

Run it from the checkout root: it builds everything from the source
tree there and keeps its files under ``.perfbench/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("serve-web", "serve-zipf"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "searchengine_spark",
                                       "__init__.py")):
        print("perfbench: no searchengine_spark source tree at "
              f"{ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, workloads

    work = os.path.join(ROOT, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    settings = host.host_settings(ROOT, work)
    host.apply(settings)

    from searchengine_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=host.spark_conf(work))
    try:
        bench = workloads.Bench(
            spark, args.workload, args.seed, args.seconds,
            traced=bool(args.trace), smoke=args.smoke, work=work,
            t_process=T_PROCESS)
        metrics, attempted, failed = bench.run()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "smoke": args.smoke,
        "host": settings, "input_docs": bench.n_input,
        "indexed_docs": bench.n_docs,
        "setup_phases_s": {k: round(v, 3) for k, v in bench.phases.items()},
        "ops": [[o.req.kind, round(o.wall, 4), round(o.cpu, 3), o.ok,
                 o.repeat] for o in bench.ops],
        "failures": bench.failures[:20],
    }, ensure_ascii=False))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
