"""Same-host A/B of the checkpoint-pin storage policy at sf4 (round-5).

The r5 scale-adaptive policy (kgp/reuse.py:default_reuse) switches the
pipeline's multi-consumer pins to serialized UnsafeRow blocks above
SER_BYTES (32 MB) of input parquet. sf16 measured -23% on
the 4-core leg from that switch, but the HEAD sf4 campaign
(BENCH/scaling_run.json @ 6516339) regressed BOTH legs vs the r4
deserialized-pin campaign (4652729): best 1-core 266.2 vs 241.9 s, best
4-core 86.1 vs 70.6 s. sf4's input (36 MB) sits just above the 32 MB
threshold, so the policy flipped it to serialized — this script measures
whether that flip is the cause, alternating KGP_CKPT_LEVEL=deser
(deserialized, the r4 behavior) vs KGP_CKPT_LEVEL=ser (what auto picks at
sf4) legs on the
same host, calm-window gated, pinned via taskset like scaling_bench.

Writes BENCH/pin_ab_sf4.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from scaling_bench import _git_sha, cpu_times, loadavg, wait_for_calm  # noqa: E402


def run_leg(level: str, cpus: int, sf_dir: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=sf_dir,
        BENCH_PIPELINE_ONLY="1",
        KGP_CKPT_LEVEL=level,
    )
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    cmd = ["taskset", "-c", f"0-{cpus - 1}" if cpus > 1 else "0"] + cmd
    wait_for_calm()
    load = loadavg()
    t0, s0 = cpu_times()
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=3600)
    t1, s1 = cpu_times()
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        return {"level": level, "cpus": cpus, "error": out.stderr.strip().splitlines()[-5:]}
    r = json.loads(lines[-1])
    leg = {
        "level": level,
        "cpus": cpus,
        "e2e_sec": r["queries"]["kg_pipeline_e2e"],
        "loadavg": load,
        "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1.0), 2),
        "code": _git_sha(),
    }
    print(json.dumps(leg), flush=True)
    return leg


def main() -> None:
    sf_dir = os.environ.get("SCALE_SF_DIR", os.path.join(REPO, "fixtures", "sf4"))
    rounds = int(os.environ.get("PIN_AB_ROUNDS", "2"))
    cpu_levels = [int(x) for x in os.environ.get("PIN_AB_CPUS", "4,1").split(",")]
    legs = []
    for _ in range(rounds):
        for cpus in cpu_levels:
            for level in ("deser", "ser"):  # alternate within a round: contention hits both arms
                legs.append(run_leg(level, cpus, sf_dir))
                with open(os.path.join(REPO, "BENCH", "pin_ab_sf4.json"), "w") as f:
                    json.dump({"sf": sf_dir, "legs": legs}, f, indent=1)
    # summary: best per (cpus, level) arm
    best: dict[tuple[int, str], float] = {}
    for l in legs:
        if "e2e_sec" not in l:
            continue
        k = (l["cpus"], l["level"])
        best[k] = min(best.get(k, 1e18), l["e2e_sec"])
    summary = {f"cpus{c}_{lv}": v for (c, lv), v in sorted(best.items())}
    with open(os.path.join(REPO, "BENCH", "pin_ab_sf4.json"), "w") as f:
        json.dump({"sf": sf_dir, "legs": legs, "best": summary}, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
