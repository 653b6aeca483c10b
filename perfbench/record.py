"""Record the output gate's reference values for a range of seeds.

    python3 perfbench/record.py --workload full_dedup --seeds 0-31

Runs one operation per seed in one Spark session and stores the
workload's gate values (full_dedup: cluster count and clusters hash;
similarity_queries: rows and hash per query) in ``expected.json``, keyed
by workload, scale and seed. A seed whose operation fails its other gate
checks (recall, coverage) is not recorded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench-record")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="first-last, e.g. 0-31")
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = p.parse_args(argv)
    first, last = (int(x) for x in args.seeds.split("-"))
    work_dir = os.path.join(run.STATE_DIR, f"record-{args.workload}-{os.getpid()}")
    run.prepare_environment(work_dir)
    from workloads import EXPECTED_PATH, WORKLOADS, load_expected

    spark = run.start_session(work_dir)
    recorded = {}
    try:
        for seed in range(first, last + 1):
            wl = WORKLOADS[args.workload](
                spark, seed, args.scale, os.path.join(work_dir, str(seed))
            )
            wl.expected = None
            wl.build_inputs()
            result = wl.check(wl.run_once(0))
            spark.catalog.clearCache()
            if result["errors"]:
                print(f"seed {seed}: not recorded: {result['errors']}", file=sys.stderr)
                continue
            recorded[str(seed)] = wl.record_value(result)
            print(f"seed {seed}: {recorded[str(seed)]}", flush=True)
    finally:
        run.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    expected = load_expected()
    expected.setdefault(args.workload, {}).setdefault(args.scale, {}).update(recorded)
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
