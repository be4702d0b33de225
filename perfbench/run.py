"""paraslice_spark benchmark: one run of one workload, as a cold caller.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  A run

1. checks its input tables, the engine's sf0.1 fixtures committed under
   ``perfbench/data/sf0.1``, against the row counts and sha256 checksums
   pinned in ``workloads.json`` and stops (exit 2) on any difference;
2. starts ``perfbench/worker.py`` in a fresh process, the cold caller.
   ``setup_s`` runs from its spawn to session ready with the tables
   loaded; the worker then drives the workload;
3. prints a detail line (container probes, input provenance, sample
   counts, tail percentiles, correctness checks) and, last, one JSON line
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Workloads (``perfbench/workloads.json``): ``catalog_sf01`` and
``cpals_dense``; see ``METRICS.md``.  The
seed sets the warm-pass query order (the cold pass runs in list order, so
the same calls pay the fresh JVM's first-use costs on every seed), the
CP-ALS init seed and the synthetic dense tensor; the tables are the same
for every seed.

Exit codes: 0 on a result; 2 when the checkout, its inputs or the
arguments are unusable;
3 when a worker fails or runs out of time.  No result line is printed then.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STATE = ".perfbench"
SF01 = os.path.join(HERE, "data", "sf0.1")
#: A run past this is killed and reports no result.
MAX_SECONDS = 170


def fail(msg: str, code: int) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def provenance(sf_dir: str) -> dict:
    """Row count and sha256 of every parquet file in ``sf_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = {}
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            h = hashlib.sha256()
            with open(path, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
            try:
                rows = pq.ParquetFile(path).metadata.num_rows
            except pa.ArrowInvalid:  # not parquet: reported as a mismatch
                rows = None
            out[name[: -len(".parquet")]] = {"rows": rows, "sha256": h.hexdigest()}
    return out


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def spawn(args: list[str], env: dict, deadline: float, log: str) -> tuple[float, int]:
    """Run the worker in its own process group (it starts the JVM and the
    Python workers); kill whatever of the group outlives the worker or the
    deadline, and wait until every member is gone."""
    t0 = time.time()
    with open(log, "ab") as fh:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            env=env, stdout=fh, stderr=fh, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            while group_alive(proc.pid):
                time.sleep(0.05)
    return t0, code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir("paraslice_spark") or not os.path.isfile("bench.py"):
        return fail("run from the root of a paraslice_spark checkout", 2)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        config = json.load(fh)
    if args.workload not in config["workloads"]:
        return fail(f"unknown workload {args.workload!r}", 2)

    started = time.monotonic()
    deadline = started + MAX_SECONDS
    inputs, expected = provenance(SF01), config["inputs"]
    if inputs != expected:
        bad = sorted(k for k in expected.keys() | inputs.keys() if inputs.get(k) != expected.get(k))
        return fail(f"input tables in {SF01} differ from the rows and checksums pinned in workloads.json: {bad}", 2)
    run_dir = os.path.abspath(os.path.join(STATE, f"run-{os.getpid()}"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, PYTHONHASHSEED="0", PYTHONPATH=os.getcwd())
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    log = os.path.join(run_dir, "worker.log")
    try:
        out = os.path.join(run_dir, "result.json")
        t0, code = spawn(
            ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--sf-dir", SF01, "--out", out],
            env, deadline, log,
        )
        if code != 0 or not os.path.exists(out):
            with open(log, errors="replace") as fh:
                tail = fh.read()[-2000:]
            return fail(f"workload worker failed (exit {code}):\n{tail}", 3)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    e2e = res["end_to_end"]
    e2e["setup_s"] = {"value": res["ready_epoch"] - t0, "unit": "s"}
    readings = res["readings"]
    readings["inputs"] = inputs
    metrics = res["per_layer"] if args.trace else e2e
    attempted, failed = res["attempted"], res["failed"]
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "readings": readings, "checks": res["checks"],
        "failures": [{k: r.get(k) for k in ("op", "phase", "error", "message")} for r in res["ops"] if not r["ok"]],
        "end_to_end": e2e, "wall_s": time.monotonic() - started,
    }
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({**detail, "result": res}, fh, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
