"""Repo benchmark: one workload per process, Spark ``local[nproc]``.

    python3 perfbench/run.py --workload apache_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics (spans go to
``.perfbench_out/``).  The line before it is a JSON context record (host
probe, load average, error rate with its base, correctness details).
Everything else the engine prints goes to stderr.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_PROCESS = time.time()

WORKLOADS = ("apache_ingest", "netflow_stream")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # stdout carries only the JSON records: route fd 1 (the JVM and Python
    # workers inherit it) to stderr and keep a private copy for the result
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import common

    os.makedirs(common.WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=common.WORK_ROOT)
    try:
        common.prepare_env(work)
        probe_before = common.host_probe()
        ticks_before = common.cpu_ticks()
        if args.workload == "apache_ingest":
            from perfbench import apache_ingest as wl
        else:
            from perfbench import netflow_stream as wl

        tracer = common.Tracer(enabled=bool(args.trace))
        with tracer.span("session.start"):
            spark = common.start_session(f"perfbench-{args.workload}")
        session_s = time.time() - T_PROCESS
        pid = common.jvm_pid(spark)
        try:
            res = wl.run(spark, args.seed, args.seconds, tracer, T_PROCESS, session_s)
            rss = common.peak_rss_mb(pid)
        finally:
            common.stop_session(spark)
        if not args.trace:
            res.put("peak_rss_mb", rss, "MB")
        else:
            tracer.write(
                os.path.join(
                    common.OUT_ROOT, f"{args.workload}-seed{args.seed}-spans.json"
                )
            )
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": common.host_cpus(),
            "driver_mem_mb": common.driver_mem_mb(),
            "derby_durability": common.DERBY_DURABILITY,
            "host_probe_before": probe_before,
            "host_probe_after": common.host_probe(),
            "cpu_steal_share": round(
                common.steal_share(ticks_before, common.cpu_ticks()), 4
            ),
            "error_rate": res.failed / res.attempted if res.attempted else None,
            "error_rate_base": res.attempted,
            "checks": res.checks,
        }
        result = {
            "correct": res.failed == 0 and res.attempted > 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in sorted(res.metrics.items())
            },
        }
        for name, (value, unit) in sorted(res.metrics.items()):
            print(f"{name:34s} {value:14.4f} {unit}", file=sys.stderr)
        out.write(json.dumps(context, ensure_ascii=False) + "\n")
        out.write(json.dumps(result) + "\n")
        out.flush()
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
