"""Knowledge-graph benchmark for ferenda_spark.

    python3 kgbench/run.py --workload full_build --seed 1 --seconds 20 --trace 0

Run from the repository root.  The seed generates the inputs; the
program under test only ever sees the generated tables.  The last line
of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: with `--trace 0` the end-to-end
metrics, with `--trace 1` the per-layer metrics of the traced walk.
Progress and a host-speed sidecar go to standard error.  See
kgbench/README.md for the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".kgbench_work"


def configure_env(trace: bool) -> int:
    """Environment for the Spark JVM and its Python workers; must run
    before the session starts.  Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")) // 1024
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_SHUFFLE_PARTITIONS=str(cpus),
        # the session factory defaults to 24g, more than many hosts have
        SPARK_DRIVER_MEM=f"{min(1024, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(WORK / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        # JVM perf data is written to /tmp whatever java.io.tmpdir says
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # workers start in the JVM's working directory, not ours
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return cpus


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["full_build", "serve_annotations"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["default", "tiny"], default="default")
    args = ap.parse_args()

    if not (ROOT / "ferenda_spark" / "__init__.py").is_file():
        print(f"kgbench: no ferenda_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    cpus = configure_env(bool(args.trace))
    sys.path.insert(0, str(ROOT))

    import sysmon
    import workloads as wl

    print(f"# context {json.dumps({'cpus': cpus, **sysmon.host_speed()})}", file=sys.stderr)
    scale = wl.SCALES[args.scale]
    tally = wl.Tally()
    spark = None
    try:
        t_setup = time.perf_counter()
        from ferenda_spark.session import get_spark

        spark = get_spark("kgbench", master=f"local[{cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            import layers

            metrics = layers.walk(spark, WORK, args.seed, scale, tally, cpus)
        else:
            work = wl.WORKLOADS[args.workload](spark, WORK, args.seed, scale, tally)
            work.setup()
            setup_s = time.perf_counter() - t_setup
            wl.log(f"setup {setup_s:.3f}s")
            jvm = spark.sparkContext._gateway.proc.pid
            with sysmon.RssSampler(jvm) as rss:
                done = wl.measure(work.op, args.seconds, tally)
            if not done:
                print("kgbench: no operation completed", file=sys.stderr)
                return 1
            secs = [dt for dt, _ in done]
            wl.log(f"{len(done)} ops, seconds {[round(s, 3) for s in secs]}, "
                   f"triples {[n for _, n in done]}, "
                   f"error_rate {tally.failed / tally.attempted:.4f}")
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "wall_s": metric(statistics.median(secs), "s"),
                "peak_rss_mb": metric(rss.peak_mb, "MB"),
            }
    finally:
        if spark is not None:
            sysmon.stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
