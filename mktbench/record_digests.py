#!/usr/bin/env python3
"""Records the catalog's expected result digests, cross-checked first.

1. Builds the program and generates the catalog tables (`build.py`).
2. Runs `graft.Verify` on every query of the three catalog families and
   compares each result with its DuckDB oracle twin through
   `tools/check_oracle.py`; any failure stops here.
3. Runs the catalog harness over all queries of the families in record
   mode and writes their digests to `mktbench/expected_digests.json`.

    python3 mktbench/record_digests.py      # from the repo root
"""
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from run import HERE, JVM_OPTS  # noqa: E402

FAMILY = re.compile(r"^((p\d+|a[1-8]|w|j|j4|u1|r1|set)_|dd_|ta_|g_)")


def main() -> None:
    root = os.getcwd()
    cp = build.build(root)
    data = build.catalog_data(root)
    out = os.path.join(root, build.OUT, "record")
    os.makedirs(out, exist_ok=True)
    src = open(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")).read()
    names = sorted({n for n in re.findall(r'"([a-z0-9_]+)"\s*->', src) if FAMILY.match(n)})
    verify = os.path.join(out, "verify")
    subprocess.run(["java", *JVM_OPTS, "-cp", cp, "graft.Verify", data, verify, ",".join(names)],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(verify, "oracle_sql.json"), "w") as f:
        json.dump({n: oracle[n] for n in names}, f)
    check = subprocess.run([sys.executable, os.path.join(root, "tools/check_oracle.py"), data, verify],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout.strip().splitlines()[-1])
    if check.returncode != 0:
        sys.exit(check.stdout)
    res = os.path.join(out, "result.json")
    subprocess.run(["java", *JVM_OPTS, "-cp", cp, "mktbench.Main", "--mode", "catalog",
                    "--work", out, "--data", data, "--seed", "1", "--seconds", "1", "--trace", "0",
                    "--launch-ms", str(int(time.time() * 1000)), "--out", res, "--record"],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(res) as f:
        digests = json.load(f)["extra"]["digests"]
    missing = sorted(set(names) - set(digests)) + sorted(n for n, d in digests.items() if not d)
    if missing:
        sys.exit(f"no digest for {missing}")
    with open(os.path.join(HERE, "expected_digests.json"), "w") as f:
        json.dump({"tables": f"gen_tables.py --sf {build.CATALOG_SF}",
                   "oracle": f"{len(names)}/{len(names)} tools/check_oracle.py",
                   "digests": dict(sorted(digests.items()))}, f, indent=1)
    print(f"recorded {len(digests)} digests")


if __name__ == "__main__":
    main()
