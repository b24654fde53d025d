#!/usr/bin/env python3
"""Self-test of the algebra workload's generator: for several seeds, every
generated TaskGraph program must produce exactly the rows of the DuckDB
SQL the generator emits beside it (compared with scripts/check_oracle.py's
canon).

Usage (from the root of a checkout):
  python3 perfbench/selftest.py [--data DIR] [--seeds 1,2,3]

Without --data, the tables are generated at sf0.001 from each seed; with
--data (for example the repository's sf0.001 test tables, whose line ids
repeat) that directory serves every seed. Exits 0 when every program
agrees with its SQL, 1 otherwise.
"""
import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--data")
    ap.add_argument("--seeds", default="1,2,3")
    args = ap.parse_args()
    run.checkout_ok()
    cp = run.build()
    cores = len(os.sched_getaffinity(0))
    failures = 0
    for seed in [int(s) for s in args.seeds.split(",")]:
        data = os.path.abspath(args.data) if args.data else run.data_dir(seed, 0.001)
        out = os.path.join(run.WORK, "selftest", f"seed{seed}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        jvm_args = argparse.Namespace(workload="programs", seed=seed,
                                      seconds=0, trace=0)
        res = run.run_jvm(cp, jvm_args, data, out, cores,
                          time.time() + run.JVM_DEADLINE_S)
        bad = run.oracle_check(res, data, os.path.join(out, "verify"))
        for name in res["queries"]:
            print(f"{'FAIL' if name in bad else 'PASS'} seed {seed} {name}"
                  + (f": {bad[name]}" if name in bad else ""))
        failures += len(bad) + res["failed_runs"]
        shutil.rmtree(out, ignore_errors=True)
    print("selftest: " + ("ok" if failures == 0 else f"{failures} failures"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
