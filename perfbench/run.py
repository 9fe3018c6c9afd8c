"""kgpipe benchmark: run one workload and print one JSON result line.

Usage, from the root of a kgpipe checkout:

    python3 perfbench/run.py --workload wh-incremental --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` runs with
spans and Spark's event log and reports the per-layer metrics. Every
line before the last one is a human-readable record (environment, load,
input sizes, every metric with its unit); the last line is the JSON
object ``{"correct", "attempted", "failed", "metrics"}``. A full
artifact is written to ``.perfbench_out/<workload>-seed<n>-trace<t>.json``.
The benchmark reads and writes only inside the checkout; exit code 2
means the checkout holds no kgpipe package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
#: driver JVM heap: fits a 15 GB host shared with other work (the
#: session factory's 24g default does not)
DRIVER_MEM = "3g"


def _isolate(run_dir: str) -> None:
    """Point every temporary and scratch location of Python, the JVM and
    Spark into ``run_dir``, and size the session for this host. Must run
    before pyspark starts its JVM."""
    import hostinfo

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(hostinfo.nproc())
    os.environ["KGPIPE_DRIVER_MEM"] = DRIVER_MEM
    log4j = os.path.join(HERE, "log4j2.properties")
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dlog4j2.configurationFile=file:{log4j}"
    os.environ["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + jvm).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()


def report_lines(record: dict, metrics: dict) -> list[str]:
    lines = [
        f"workload {record['workload']} seed {record['seed']} trace {int(record['trace'])}",
        "env " + json.dumps(record["env"], sort_keys=True),
        f"load_1m start {record['load_1m_start']:.2f} end {record['load_1m_end']:.2f}",
        "sizes " + json.dumps(record["sizes"], sort_keys=True),
        f"timed passes {len(record['passes_s'])} over {record['window_s']:.3f} s: "
        + " ".join(f"{p:.3f}" for p in record["passes_s"]),
        f"correctness attempted {record['attempted']} failed {record['failed']} "
        f"fail_ratio {record['fail_ratio']:.4f}",
    ]
    lines += [f"metric {name} {v['value']:.6g} {v['unit']}" for name, v in metrics.items()]
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="shrink the inputs to a few pages (the benchmark's own tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgpipe", "__init__.py")):
        print(f"perfbench: no kgpipe package in {ROOT}; run from a kgpipe checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(OUT, f"{tag}-{os.getpid()}")
    _isolate(run_dir)
    try:
        bench = workloads.Bench(args.workload, args.seed, args.seconds,
                                bool(args.trace), run_dir, tiny=args.tiny)
        record = bench.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        units = dict(workloads.per_layer_names())
        values = record["per_layer"]
    else:
        units = dict(workloads.END_TO_END)
        values = record["end_to_end"]
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    with open(os.path.join(OUT, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    for line in report_lines(record, metrics):
        print(line)
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
