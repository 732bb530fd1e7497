"""Interleaved A/B of the 8x4c max-cluster throughput point between an
older commit and HEAD — the drift-attribution procedure behind the
"Max-point drift A/B" section of BENCH.md.

Sequential per-round sweeps let a slow host window hit one round's
number but not another's; alternating short worker runs of BOTH code
versions inside one window makes the comparison valid. Usage:

    git worktree add /tmp/ab_old <commit>
    python tools/ab_max_point.py /tmp/ab_old

Prints per-round runs and a final JSON line with best-of seconds,
seq/s and the HEAD/old ratio. Round-5 result (old = fe9debd, the
round-3 sweep commit): ratio 0.93 best-of, HEAD faster by medians —
the cross-round 7.28M -> 6.2M decline reproduces on the OLD code too,
so it is host drift, not plan cost.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HEAD = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local-cluster[8,4,4096]"
N_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "64000000"))


def main() -> None:
    old = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sys.path.insert(0, HEAD)
    from kaskada_spark.session import get_spark
    from kaskada_spark.sources.tokens import synthesize_token_stream

    input_dir = tempfile.mkdtemp(prefix="ab_input_")
    spark = get_spark(app_name="ab-gen", master="local[32]")
    synthesize_token_stream(
        spark, N_ROWS, avg_tokens=64, hot_key_fraction=0.02, partitions=256
    ).write.mode("overwrite").parquet(input_dir)
    spark.stop()

    def run_worker(repo: str, tag: str):
        env = {**os.environ, "SPARK_GRAFT_BENCH_RUNS": "2",
               "SPARK_GRAFT_BENCH_MAX_RUNS": "2",
               "SPARK_GRAFT_LEVEL_BUDGET": "420"}
        out = subprocess.run(
            [sys.executable, os.path.join(repo, "bench.py"), "--worker",
             MASTER, input_dir, str(N_ROWS)],
            capture_output=True, text=True, env=env, cwd=repo, timeout=1800)
        if out.returncode != 0:
            print(f"{tag} FAILED:", out.stderr[-1500:])
            return None
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"{tag}: runs={r['runs']} best={r['sec']}s "
              f"{r['seq_per_sec'] / 1e6:.2f}M seq/s", flush=True)
        return r

    results: dict[str, list[float]] = {"old": [], "head": []}
    try:
        for rnd in range(rounds):
            print(f"--- round {rnd + 1} ---", flush=True)
            r = run_worker(old, "old ")
            if r:
                results["old"].extend(r["runs"])
            h = run_worker(HEAD, "head")
            if h:
                results["head"].extend(h["runs"])
    finally:
        shutil.rmtree(input_dir, ignore_errors=True)
    report = {
        "master": MASTER, "n_rows": N_ROWS, "old_repo": old,
        "old_runs": results["old"], "head_runs": results["head"],
    }
    # a side whose every run failed has no best time: print what exists
    bo, bh = min(results["old"], default=None), min(results["head"], default=None)
    if bo is not None:
        report.update(old_best_sec=bo, old_seq_per_sec=round(N_ROWS / bo, 1))
    if bh is not None:
        report.update(head_best_sec=bh, head_seq_per_sec=round(N_ROWS / bh, 1))
    if bo is not None and bh is not None:
        report["head_over_old"] = round(bo / bh, 3)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
