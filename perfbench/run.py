"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload creator_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted`` and ``failed`` ops, and
``metrics``, the end-to-end metrics with ``--trace 0`` or the per-layer
metrics with ``--trace 1``. Scratch files, Spark's local and temp
directories and the trace live under ``perfbench/out/``. Exits non-zero
without a result when the engine's sources are not beside ``perfbench/``
or an input is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

START = time.time()  # setup_s counts from here: all but interpreter start-up

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ig_etl_with_user_reports_2024_spark"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for needed in (os.path.join(PACKAGE, "__init__.py"), "__spark_entry__.py",
                   os.path.join("tools", "oracle_check.py")):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine too, and every scratch file stays
    # in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = os.path.join(ROOT, "perfbench", "out", "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM Spark starts, the launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")

    from perfbench import workloads
    from perfbench.harness import Harness

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}",
              file=sys.stderr)
        return 2
    catalog_ops = [op for w in workloads.CATALOG_WORKLOADS.values() for op in w.ops]
    harness = Harness(ROOT, work, workloads.get(args.workload), args.seed, args.seconds,
                      bool(args.trace), catalog_ops, start=START)
    try:
        result = harness.run()
    except (FileNotFoundError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
