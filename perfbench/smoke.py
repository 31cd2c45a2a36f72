#!/usr/bin/env python3
"""The benchmark's own smoke test: every workload at sf0.001
(``--scale 0.01``), untraced and traced, must print every metric named
in BENCHMARK.json with its unit, fail no operation, and attribute every
Spark job to a span or op.

    python3 perfbench/smoke.py            # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7", "--seconds", "1",
                                     "--trace", str(trace), "--scale", "0.01"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            lines = p.stdout.strip().splitlines()
            problems = []
            if p.returncode != 0 or not lines:
                problems.append(f"exit {p.returncode}: {p.stderr[-500:]}")
            else:
                out = json.loads(lines[-1])
                if set(out) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"keys {sorted(out)}")
                if not out.get("correct") or out.get("failed") != 0 or out.get("attempted", 0) < 1:
                    problems.append(f"failed_ops_frac {out.get('failed')}/{out.get('attempted')}")
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if got != want:
                    problems.append(f"metrics differ: {sorted(set(got.items()) ^ set(want.items()))}")
                if trace and out["metrics"]["spark.unattributed_jobs"]["value"] != 0:
                    problems.append("unattributed jobs")
                if not trace and not all(v["value"] > 0 for v in out["metrics"].values()):
                    problems.append("an end-to-end metric is 0")
            print(f"{w['name']:14s} trace={trace} {'ok' if not problems else 'FAIL ' + '; '.join(problems)}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
