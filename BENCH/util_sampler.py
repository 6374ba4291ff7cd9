#!/usr/bin/env python
"""Per-core utilization sampler.

Samples /proc/stat once per second for the given core list and prints one
JSON line per sample: elapsed seconds + busy fraction per core + mean.
Cross-referencing the timeline against a build's manifest stage commits
(``build.*_ms`` in a traced ``perfbench`` ingest run) shows
WHERE a pinned build leaves its cores idle (stage tails, barriers, serial
driver sections) — the mechanism behind sub-0.8 strong-scaling readings
that steal/iowait/host-delivery controls have ruled out.

Usage: python BENCH/util_sampler.py --cores 0-7 [--seconds 300] > out.jsonl
"""
from __future__ import annotations

import argparse
import json
import time


def parse_cores(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def snap(cores: list[int]) -> dict[int, tuple[int, int]]:
    """core -> (busy_jiffies, total_jiffies)."""
    res: dict[int, tuple[int, int]] = {}
    want = {f"cpu{c}": c for c in cores}
    with open("/proc/stat") as f:
        for line in f:
            key = line.split()[0]
            if key in want:
                v = list(map(int, line.split()[1:9]))
                idle = v[3] + v[4]  # idle + iowait
                res[want[key]] = (sum(v) - idle, sum(v))
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", default="0-7")
    ap.add_argument("--seconds", type=float, default=600.0)
    ap.add_argument("--interval", type=float, default=1.0)
    args = ap.parse_args()
    cores = parse_cores(args.cores)

    t0 = time.monotonic()
    prev = snap(cores)
    while time.monotonic() - t0 < args.seconds:
        time.sleep(args.interval)
        cur = snap(cores)
        busy = {}
        for c in cores:
            db = cur[c][0] - prev[c][0]
            dt = cur[c][1] - prev[c][1]
            busy[c] = round(db / dt, 3) if dt else 0.0
        prev = cur
        print(json.dumps({
            "t": round(time.monotonic() - t0, 1),
            "mean": round(sum(busy.values()) / len(cores), 3),
            "per_core": [busy[c] for c in cores],
        }), flush=True)


if __name__ == "__main__":
    main()
