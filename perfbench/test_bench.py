"""The benchmark's own tests: a tiny-size smoke run of every workload, and a
negative case per workload where one output row is dropped before the check,
which must then report the run as failed.

    python3 perfbench/test_bench.py            # all workloads
    python3 perfbench/test_bench.py corpus_dedup
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ["pipeline_backfill", "stream_events", "corpus_dedup", "broker_roundtrip"]


def bench(workload, *extra):
    # the stream needs enough steady-phase micro-batches (about 1 s each)
    seconds = "10" if workload == "stream_events" else "2"
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", seconds, "--trace", "0", "--size", "tiny", *extra]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, f"{workload} {extra}: exit {r.returncode}\n{r.stderr[-2000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def main(workloads):
    failures = []
    for w in workloads:
        for extra, want_correct in (((), True), (("--corrupt",), False)):
            name = f"{w}{' --corrupt' if extra else ''}"
            try:
                out = bench(w, *extra)
                assert out["correct"] is want_correct, f"correct={out['correct']}"
                assert out["attempted"] >= 1
                assert (out["failed"] == 0) is want_correct, f"failed={out['failed']}"
                if want_correct:
                    assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]
                print(f"ok   {name}")
            except AssertionError as e:
                failures.append(name)
                print(f"FAIL {name}: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or WORKLOADS))
