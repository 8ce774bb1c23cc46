"""Opt-in scaling entry (not one of the checked workloads).

    python3 perfbench/run.py --scaling --seed N [--seconds S]

Runs ``bulk_backfill`` at ``local[1]`` and ``local[<cpus>]``, each in its own
JVM, beside a ceiling job: a whole-stage-codegen hash over ``spark.range``
with no shuffle and no I/O, the best scaling this box gives Spark. Prints
one JSON line with ``scaling_eff_1_to_<cpus>`` (rate ratio divided by the
CPU ratio) for the workload and the ceiling, and the workload's efficiency
relative to the ceiling's.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CEILING_ROWS = 400_000_000


def _last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def _child(args: list[str]) -> dict:
    proc = subprocess.run([sys.executable, *args], capture_output=True, text=True,
                          timeout=900, check=False)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{' '.join(args)} exited {proc.returncode}")
    return _last_json(proc.stdout)


def ceiling(cpus: int, work: str) -> float:
    """Rows per second of the ceiling job at local[cpus], median of 3 after a warm run."""
    import run as bench

    spark = bench.start_spark(cpus, work)
    try:
        job = spark.range(0, CEILING_ROWS, 1, 4 * cpus).selectExpr("xxhash64(id, id * 7) AS h")
        rates = []
        for i in range(4):
            t0 = time.perf_counter()
            job.write.format("noop").mode("overwrite").save()
            if i:
                rates.append(CEILING_ROWS / (time.perf_counter() - t0))
        return statistics.median(rates)
    finally:
        bench.stop_spark(spark)


def main(args) -> int:
    hi = args.cpus
    if hi < 2:
        print("perfbench: --scaling needs at least 2 CPUs", file=sys.stderr)
        return 2
    run_py = os.path.join(HERE, "run.py")
    out = {"cpus": [1, hi]}
    rates, ceil = {}, {}
    for k in (1, hi):
        res = _child([run_py, "--workload", "bulk_backfill", "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", "0", "--cpus", str(k)])
        if not res["correct"]:
            print(f"perfbench: bulk_backfill at local[{k}] failed its check", file=sys.stderr)
            return 1
        rates[k] = res["metrics"]["apply_events_per_s"]["value"]
        ceil[k] = _child([os.path.abspath(__file__), "--ceiling", str(k)])["rows_per_s"]
    eff = rates[hi] / rates[1] / hi
    ceil_eff = ceil[hi] / ceil[1] / hi
    out.update({
        "apply_events_per_s": rates,
        "ceiling_rows_per_s": ceil,
        f"scaling_eff_1_to_{hi}": eff,
        f"ceiling_scaling_eff_1_to_{hi}": ceil_eff,
        f"scaling_eff_1_to_{hi}_vs_ceiling": eff / ceil_eff,
    })
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    # child mode: python3 scaling.py --ceiling <cpus>
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    cpus = int(sys.argv[2])
    work = os.path.join(root, ".bench_work", f"ceiling-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        print(json.dumps({"rows_per_s": ceiling(cpus, work)}))
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
