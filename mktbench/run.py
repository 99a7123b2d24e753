#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 mktbench/run.py --workload <name> --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
from source (`mktbench/build.py`, cached under `.bench_build`), runs
one workload in a fresh JVM (`mktbench/harness`), checks the outputs and
prints, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the `end_to_end` list of
BENCHMARK.json, with `--trace 1` its `per_layer` list; a per-layer
metric of a layer the workload does not run reads 0. Everything else,
the full per-layer maps, the spans, the run stamp and the workload's
own named metrics, goes to a sidecar JSON under `.bench_build/results`,
whose path is printed to stderr. Failures are counted, never retried.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("market_replay", "catalog")
DEADLINE_S = 170  # a run must end within 180 s once built
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def contract_line(result: dict, spec: dict, trace: bool) -> str:
    """The stdout contract line for one harness result."""
    if trace:
        values = result.get("layers", {})
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = dict(result["e2e"], setup_s=result["setup_s"])
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    attempted, failed = int(result["attempted"]), int(result["failed"])
    return json.dumps({"correct": failed == 0 and bool(result.get("extra", {}).get("completed", True)),
                       "attempted": max(1, attempted), "failed": failed, "metrics": metrics},
                      separators=(",", ":"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classpath = build.build(root)
        data = build.catalog_data(root)
    except (OSError, ValueError, build.BuildError) as e:
        print(f"mktbench: cannot build: {e}", file=sys.stderr)
        return 2
    built_at = time.time()

    out = os.path.join(root, build.OUT)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    os.makedirs(work)
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    res_path = os.path.join(work, "result.json")
    log_path = os.path.join(out, "logs", tag + ".log")
    # Spark's scratch space (shuffle files, state-store working copies)
    # and the program's temp dirs stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # start with no dirty pages of earlier runs or of the build: the loop
    # fsyncs its state stores every batch
    os.sync()
    launch_ms = int(time.time() * 1000)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "mktbench.Main",
           "--mode", a.workload, "--work", work, "--data", data, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--launch-ms", str(launch_ms),
           "--out", res_path, "--python", sys.executable, "--gen", os.path.join(HERE, "market_gen.py"),
           "--digests", os.path.join(HERE, "expected_digests.json")]
    with open(log_path, "w") as log:
        # own process group: a timeout or a signal takes the generator down
        # with the JVM
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - built_at)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    try:
        os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
    except ProcessLookupError:
        pass
    if rc != 0 or not os.path.exists(res_path):
        print(f"mktbench: harness exited with {rc}; log: {log_path}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(res_path) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    os.sync()
    sidecar = os.path.join(out, "results", tag + ".json")
    result["workload"] = a.workload
    with open(sidecar, "w") as f:
        json.dump(result, f)
    print(f"mktbench: sidecar {sidecar}", file=sys.stderr)
    print(contract_line(result, spec, bool(a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
