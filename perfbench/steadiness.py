"""Steadiness record: run each workload traced twice with one seed and
compare the counters that should repeat exactly.

    python3 perfbench/steadiness.py --seed 101 [--seconds 3] [WORKLOAD ...]

Run from the root of a checkout. For every workload (default: all of
``BENCHMARK.json``'s) it makes two ``run.py --trace 1`` runs and compares,
over the epochs or queries both runs measured, the per-epoch (or per-query)
job, stage and task counts from the event-log ledger, and for
``curate_stream`` the per-epoch funnel (read, quality/perplexity/near-dup
rejected, accepted). It prints one line per workload and writes
``.perfbench_out/steadiness-<seed>.json``; the exit code is 1 if any
counter differs or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import WORKLOADS  # noqa: E402

COUNTERS = ("jobs", "stages", "tasks")


def _traced_run(workload: str, seed: int, seconds: int, keep: str) -> dict:
    """One traced run; returns its ledger (and funnel) from the out dir,
    copied to *keep* before the next run overwrites it."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if result is None or not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed}: run failed\n{proc.stderr[-3000:]}")
    out = os.path.join(".perfbench_out", f"{workload}-{seed}")
    shutil.rmtree(keep, ignore_errors=True)
    shutil.copytree(out, keep)
    record = {}
    for name in ("ledger", "funnel"):
        path = os.path.join(keep, f"{name}.json")
        if os.path.exists(path):
            with open(path) as f:
                record[name] = json.load(f)
    return record


def counters(record: dict) -> dict[str, dict]:
    """trace key -> the counters that must repeat: ledger job/stage/task
    counts per epoch or per query, and the curation funnel per epoch."""
    out: dict[str, dict] = {}
    for kind, rows in record.get("ledger", {}).items():
        for key, rec in rows.items():
            out[f"{kind}:{key}"] = {c: rec[c] for c in COUNTERS}
    for key, funnel in record.get("funnel", {}).items():
        out[f"funnel:{key}"] = dict(funnel)
    return out


def compare(a: dict, b: dict) -> tuple[list[str], list[str]]:
    """(keys both runs measured, keys whose counters differ)."""
    both = sorted(set(a) & set(b))
    return both, [k for k in both if a[k] != b[k]]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=3)
    p.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = p.parse_args(argv)
    report, ok = {}, True
    for wl in args.workloads:
        runs = [
            counters(_traced_run(wl, args.seed, args.seconds,
                                 os.path.join(".perfbench_out", f"steadiness-{wl}-{args.seed}-{i}")))
            for i in (1, 2)
        ]
        both, differ = compare(*runs)
        ok &= bool(both) and not differ
        report[wl] = {"compared": both, "differ": differ, "first": runs[0], "second": runs[1]}
        print(f"{wl}: {len(both)} traces compared, {len(differ)} differ"
              + (f" ({', '.join(differ)})" if differ else ""), flush=True)
    with open(os.path.join(".perfbench_out", f"steadiness-{args.seed}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
