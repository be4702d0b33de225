"""Readable report of one workload: every metric by name and unit, the
correctness checks, and with ``--trace`` the per-layer table, span self
times and the tracing overhead.

    python3 perfbench/report.py --workload catalog_sf01 --seed 1 [--trace] [--artifact FILE]

It runs ``perfbench/run.py`` untraced, then (with ``--trace``) traced with
the same seed.  The tracing overhead is the gap in ``cold_pass_s`` between
the two runs.  ``--artifact`` writes both runs, the spans and the table as
one JSON file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py exited {proc.returncode}")
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    with open(os.path.join(".perfbench", "runs", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        full = json.load(fh)
    return {"result": json.loads(lines[-1]), "detail": json.loads(lines[-2])["detail"], "full": full}


def cold_call_span_seconds(spans: list[dict]) -> tuple[float, float]:
    """The cold pass as the trace sees it: the summed build, plan and exec
    spans of each cold query and each cold fit span (the workload span's
    direct children), and the tracing bookkeeping between them (status
    store and ``/proc`` reads), i.e. the time from the workload's start to
    the end of its last cold call that no call span covers."""
    root = next(s for s in spans if s["kind"] == "workload")
    calls = {s["id"]: s for s in spans if s["parent"] == root["id"] and s["attrs"].get("phase") == "cold"}
    total = sum(s["end"] - s["start"] for s in calls.values() if s["kind"] == "fit")
    total += sum(s["end"] - s["start"] for s in spans if s["parent"] in calls and s["kind"] in ("build", "plan", "exec"))
    covered = sum(s["end"] - s["start"] for s in calls.values())
    window = max(s["end"] for s in calls.values()) - root["start"]
    return total, window - covered


def table(rows: list[tuple], header: tuple) -> str:
    widths = [max(len(str(r[i])) for r in rows + [header]) for i in range(len(header))]
    fmt = "  ".join(f"{{:<{w}}}" for w in widths)
    return "\n".join([fmt.format(*header), fmt.format(*("-" * w for w in widths))] + [fmt.format(*map(str, r)) for r in rows])


def fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--artifact")
    args = ap.parse_args()

    plain = run(args.workload, args.seed, args.seconds, 0)
    d = plain["detail"]
    res = plain["result"]
    print(f"== {args.workload} seed {args.seed}: attempted {res['attempted']}, failed {res['failed']}, correct {res['correct']}")
    r = d["readings"]
    print(f"probes: {json.dumps(r['probes'])}")
    tails = r.get("tail_percentiles", {})
    rows = []
    for name, m in res["metrics"].items():
        note = f"p{tails[name]}" if name in tails else ""
        rows.append((name, fmt(m["value"]), m["unit"], r["samples"].get(name, ""), note))
    print(table(rows, ("metric", "value", "unit", "samples", "tail")))
    bad = {k: v for k, v in d["checks"].items() if not v["ok"]}
    print(f"correctness: {len(d['checks']) - len(bad)}/{len(d['checks'])} checks pass")
    for k, v in bad.items():
        print(f"  FAIL {k}: {v}")
    for f in d["failures"]:
        print(f"  failed op {f['phase']} {f['op']}: {f['error']} {f.get('message') or ''}")

    artifact = {"workload": args.workload, "seed": args.seed, "untraced": {"result": res, "detail": d}}
    if args.trace:
        traced = run(args.workload, args.seed, args.seconds, 1)
        t_res, t_full = traced["result"], traced["full"]
        rows = [(name, fmt(m["value"]), m["unit"]) for name, m in t_res["metrics"].items()]
        print()
        print(table(rows, ("layer metric", "value", "unit")))
        spans = t_full["result"]["spans"]
        by_kind = t_full["result"]["self_time_by_kind"]
        print()
        print(table(sorted(((k, fmt(v)) for k, v in by_kind.items()), key=lambda x: x[0]), ("span kind", "self s")))
        cold_traced = t_full["end_to_end"]["cold_pass_s"]["value"]
        cold_plain = d["end_to_end"]["cold_pass_s"]["value"]
        cold_spans, bookkeeping = cold_call_span_seconds(spans)
        overhead = cold_traced - cold_plain
        steal = (d["readings"]["probes"]["steal_pct"], traced["detail"]["readings"]["probes"]["steal_pct"])
        print()
        print(f"cold_pass_s untraced {cold_plain:.3f} s, traced {cold_traced:.3f} s: tracing overhead {overhead:+.3f} s "
              f"({100 * overhead / cold_plain:+.1f} %; host steal {steal[0]:.1f} % and {steal[1]:.1f} %)")
        print(f"cold-pass spans (build+plan+exec per query, whole fit per fit) sum to {cold_spans:.3f} s: "
              f"{cold_spans - cold_plain:+.3f} s from the untraced cold_pass_s")
        print(f"tracing bookkeeping between the cold calls of the traced run: {bookkeeping:.3f} s")
        artifact["traced"] = {
            "result": t_res,
            "detail": traced["detail"],
            "spans": spans,
            "self_time_by_kind": by_kind,
            "ops": t_full["result"]["ops"],
        }
        artifact["tracing_overhead"] = {
            "cold_pass_s_untraced": cold_plain, "cold_pass_s_traced": cold_traced,
            "overhead_s": overhead, "overhead_frac": overhead / cold_plain, "cold_call_spans_s": cold_spans,
            "bookkeeping_s": bookkeeping, "steal_pct": steal,
        }
    if args.artifact:
        with open(args.artifact, "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
