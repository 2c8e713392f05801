#!/usr/bin/env python3
"""Record the expected digests of the session workloads.

    python3 perfbench/record.py

Runs each session workload once with its cold results written out as
parquet, grades every query that has a DuckDB oracle with the repository's
oracle checker (`tools/check.py`), and writes `expected_digests.json` only
when every oracle passes and each query's cold, last-hot and written-file
digests agree. Run it when the bundled corpus or the query lists change,
never to make a failing benchmark pass.
"""
import argparse
import json
import os
import subprocess
import sys

import build
import run as bench

CHECKER = os.path.join(build.ROOT, "tools", "check.py")


def main():
    classpath = build.build()
    expected, ok = {}, True
    for workload in ("curation_session", "relational_session"):
        r = bench.Run(argparse.Namespace(workload=workload, seed=0), classpath)
        dump = os.path.join(r.dir, "dump")
        bench.remove_artifacts()
        try:
            res = r.jvm("session", workload=workload, corpus=bench.CORPUS, seconds=0,
                        trace=0, dump=dump)
            if res is None:
                sys.exit(f"{workload}: the session failed")
            graded = subprocess.run([sys.executable, CHECKER, dump, bench.CORPUS,
                                     *res["queries"]])
            ok &= graded.returncode == 0
        finally:
            bench.remove_artifacts()
            r.close()
        expected[workload] = {}
        for q, v in res["queries"].items():
            same = v["cold_digest"] == v["hot_digest"] == v["dump_digest"]
            if not same or v["errors"]:
                print(f"{workload} {q}: digests {v['cold_digest']} / {v['hot_digest']} / "
                      f"{v['dump_digest']}, errors {v['errors']}")
                ok = False
            expected[workload][q] = v["cold_digest"]
    if not ok:
        sys.exit("not recorded: an oracle failed or a digest is unstable")
    with open(bench.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {bench.EXPECTED}")


if __name__ == "__main__":
    main()
