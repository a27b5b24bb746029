#!/usr/bin/env python3
"""Times every registered query once at local[nproc], in name order, in
a fresh JVM, and records its output digest: the check round that set-up
runs, with no timed rounds after it. The frozen query lists and digests
in workloads.json were chosen from this output, taken over all ten sf0.1
test tables on the commit the benchmark was defined on. Run from the repository root:

    python3 perfbench/freeze.py DATA_DIR OUT.json [query ...]
"""
import json
import os
import re
import shutil
import sys

import run


def main():
    data_dir, out = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        with open("src/main/scala/graft/SparkEntry.scala") as f:
            names = sorted(set(re.findall(r'^\s*\(\s*"(q\d+_[a-z0-9_]+)"\s*,', f.read(), re.M)))
    run.build()
    run_dir = os.path.join(run.BUILD, "local", f"freeze-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        res, _ = run.launch({
            "workload_kind": "registry", "queries": names, "rounds": 0,
            "trace": False, "nproc": os.cpu_count(),
            "heap": run.heap(), "data_dir": os.path.abspath(data_dir),
        }, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    table = {o["name"]: {"s": round((o["end"] - o["start"]) / 1e3, 3),
                         "rows": o.get("rows"), "hash": o.get("hash"),
                         "error": o.get("error")}
             for o in res["checks"]}
    with open(out, "w") as f:
        json.dump({"nproc": os.cpu_count(), "heap": run.heap(),
                   "loadavg": run.loadavg(), "queries": table}, f, indent=1)


if __name__ == "__main__":
    main()
