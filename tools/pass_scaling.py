"""Scaling evidence for the one-decode audio passes, with the
two-parallelism protocol of tools/bench_scaling.py (whose `run_at` builds
the spark-submit command), over a bounded deterministic slice of the
bench table so the local[1] leg stays minutes, not hours.

Passes:
  pipeline  tools/pipeline_job.py — extract_audio_features (features +
            dedup fingerprint from one decode) -> BENCH/scaling_pipeline.json
  curate    tools/curate_job.py — validate_and_extract_audio (north-rule
            verdicts + curation features + dedup key from one decode)
            -> BENCH/scaling_curate.json

Usage: python tools/pass_scaling.py {pipeline|curate} [table_path] [max_clips]
The BASELINE.md section is maintained by hand from the JSON file
(bench_scaling.py owns the main rewrite).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.bench_scaling import build_zip, hardware_ceiling, run_at  # noqa: E402

PASSES = {
    "pipeline": ("pipeline_job.py",
                 "audio_pipeline (features + fingerprint, one decode)",
                 "scaling_pipeline.json"),
    "curate": ("curate_job.py",
               "validate+curate (verdicts + features + dedup key, one decode)",
               "scaling_curate.json"),
}


def run_best(cores: int, table: str, zpath: str, job: str, max_clips: int,
             repeats: int) -> dict:
    best = None
    for _ in range(repeats):
        r = run_at(cores, table, zpath, job=job, job_arg=str(max_clips))
        print(f"local[{cores}]: {r}", flush=True)
        if best is None or r["wall_sec"] < best["wall_sec"]:
            best = r
    return best


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in PASSES:
        sys.exit(f"usage: {sys.argv[0]} {{{'|'.join(PASSES)}}} "
                 "[table_path] [max_clips]")
    job, label, out_name = PASSES[sys.argv[1]]
    table = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "build", "audio", "n240000", "audio_clips.parquet")
    max_clips = int(sys.argv[3]) if len(sys.argv) > 3 else 48000
    zpath = build_zip()
    low, high = 1, 4
    r_low = run_best(low, table, zpath, job, max_clips, repeats=1)
    r_high = run_best(high, table, zpath, job, max_clips, repeats=2)
    speedup = r_high["clips_per_sec"] / r_low["clips_per_sec"]
    hw = hardware_ceiling(2 * low, 2 * high)
    result = {
        "op": label,
        "low_cores": low, "high_cores": high, "n_clips": r_low["n"],
        "thr_low_clips_per_sec": r_low["clips_per_sec"],
        "thr_high_clips_per_sec": r_high["clips_per_sec"],
        "speedup": round(speedup, 2),
        "hardware_ceiling_speedup": round(hw, 2),
        "scaling_efficiency": round(speedup / (high / low), 3),
        "efficiency_vs_hardware": round(speedup / hw, 3),
    }
    print(json.dumps(result, indent=1))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
