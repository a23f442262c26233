#!/usr/bin/env python3
"""Benchmark of the graft library: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the runner from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs the
runner process (perfbench/src), checks its outputs (perfbench/checks.py)
and prints every metric with its median, quartiles and sample count. The
last line of standard output is the JSON result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. Exit code 0 means the run completed (a failed output check is
reported in the result); any other code means there is no result.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["pipeline_backfill", "stream_events", "corpus_dedup", "broker_roundtrip"]
XMX = "2g"
XMN = "512m"
# a run after the build must end within this many seconds
RUN_LIMIT_S = 170
# validity of an open-loop run: the generator kept its schedule, and the
# steady phase (--seconds long) spanned enough micro-batches
MAX_GEN_LATE_P99_MS = 100.0
MIN_STEADY_BATCHES = 5
# a burst's files are staged before its due time and published at it
BURST_LEAD_MS = 300
# steady-rate files dropped before the timed steady phase, as part of
# set-up: the first micro-batches of a run ran up to 30% slower than later
WARM_UP_S = 4
# a traced run traces burst b only; a and c, on either side, are untraced
BURSTS = ("a", "b", "c")

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Rejected(Exception):
    """The run is not valid and gives no result."""


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summary(xs):
    """(median, q1, q3, n) of a sample."""
    xs = list(xs)
    if len(xs) >= 2:
        q1, med, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = med = q3 = xs[0]
    return med, q1, q3, len(xs)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ stream

class StreamGenerator(threading.Thread):
    """Open-loop generator of stream_events, outside the program: files at
    a fixed period (each stamped with its due time), first for a warm-up
    phase that is part of set-up and then for the timed steady phase, then
    three bursts dropped at once, each once the program has drained what
    came before. It never waits for the program inside a phase."""

    def __init__(self, source, work, size, seconds, warm_lines):
        super().__init__(daemon=True)
        self.src, self.work, self.size = source, work, size
        self.ctl = work / "ctl"
        self.ctl.mkdir(parents=True, exist_ok=True)
        self.dropper = gen.Dropper(work, work / "stream_in")
        self.dropper.n = 1  # after the set-up file
        self.warm_files = int(WARM_UP_S * 1000 / size["stream_period_ms"])
        self.steady_files = max(1, int(seconds * 1000 / size["stream_period_ms"]))
        self.lines = list(warm_lines)  # every line dropped into the watched directory
        self.timed_lines = 0     # lines dropped after set-up
        self.late_ms = []
        self.files = []          # (first event id, write time ms) of steady files
        self.steady = (0, 0)
        self.bursts = {}
        self.error = None
        self.stop = threading.Event()

    def _wait(self, name, limit_s=150):
        deadline = time.time() + limit_s
        while not (self.ctl / name).exists():
            if self.stop.is_set() or time.time() > deadline:
                raise TimeoutError(f"program never wrote {name}")
            time.sleep(0.002)

    def _done(self, phase):
        """Tell the program a phase's files are all in place; wait until it
        has committed them."""
        tmp = self.ctl / f"{phase}_done.tmp"
        tmp.write_text(str(int(time.time() * 1000)))
        os.rename(tmp, self.ctl / f"{phase}_done")
        self._wait(f"drained_{phase}")

    def _paced(self, n_files, timed):
        """Drop `n_files` files at the steady period; returns the phase's
        (first, end) due times."""
        period = self.size["stream_period_ms"]
        t0 = int(time.time() * 1000) + 100
        for k in range(n_files):
            due = t0 + k * period
            delay = due / 1000.0 - time.time()
            if delay > 0:
                time.sleep(delay)
            first_id = self.src.next_id
            lines = self.src.file(self.size["stream_file_events"], due)
            self.lines.extend(lines)
            wrote = self.dropper.drop(lines)
            if timed:
                self.timed_lines += len(lines)
                self.late_ms.append(max(0.0, wrote - due))
                self.files.append((first_id, wrote))
        t1 = t0 + n_files * period
        time.sleep(max(0.0, t1 / 1000.0 - time.time()))
        return t0, t1

    def run(self):
        try:
            self._wait("ready")
            self._paced(self.warm_files, timed=False)
            self._done("warm")
            self.steady = self._paced(self.steady_files, timed=True)
            self._done("steady")
            # each burst lands on an idle engine, all at its due time
            for phase in BURSTS:
                due = int(time.time() * 1000) + BURST_LEAD_MS
                files = [self.src.file(self.size["burst_file_events"], due)
                         for _ in range(self.size["burst_files"])]
                names = [self.dropper.stage(lines) for lines in files]
                time.sleep(max(0.0, due / 1000.0 - time.time()))
                self.dropper.publish(names)
                n = sum(len(lines) for lines in files)
                for lines in files:
                    self.lines.extend(lines)
                self.timed_lines += n
                self.bursts[phase] = (due, n)
                self._done(f"burst_{phase}")
        except Exception as e:  # surfaced by the main thread
            self.error = e


def stream_metrics(work, g, result, trace):
    main, _ = checks.stream_outputs(work)
    commit = {int(c["batch"]): float(c["commit_ms"]) for c in result["commits"]}
    t0, t1 = g.steady
    steady = [(i, created, b) for i, created, b, err in main
              if err is None and t0 <= created < t1]
    lat = [commit[b] - created for _, created, b in steady]
    if not lat:
        raise Rejected("no steady-phase events reached the main sink")
    # events of one micro-batch share their commit, so the support of a
    # percentile is the number of batches holding events beyond it
    cut = {q: quantile(lat, q) for q in (0.5, 0.9)}
    beyond = {q: len({b for (_, _, b), x in zip(steady, lat) if x > c}) for q, c in cut.items()}
    batches = len({b for _, _, b in steady})
    late_p99 = quantile(g.late_ms, 0.99)
    if late_p99 > MAX_GEN_LATE_P99_MS:
        raise Rejected(f"generator fell behind: p99 lateness {late_p99:.1f} ms")
    if batches < MIN_STEADY_BATCHES:
        raise Rejected(f"only {batches} micro-batches in the steady phase "
                       f"(need {MIN_STEADY_BATCHES})")
    # a burst drains from its due time until its last event committed
    burst_rps = {}
    for phase, (due, n) in g.bursts.items():
        end = max(commit[b] for _, created, b, err in main if err is None and created == due)
        burst_rps[phase] = n / ((end - due) / 1000.0)
    # backlog: files written but not yet committed, at each steady write
    first_batch = {}
    for i, _, b, err in main:
        if err is None:
            first_batch[i] = b
    written = [w for _, w in g.files]
    committed = sorted(commit[first_batch[i]] for i, _ in g.files if i in first_batch)
    backlog = max((sum(1 for x in written if x <= w) - sum(1 for c in committed if c <= w))
                  for w in written) if written else 0
    out = {"latency_ms": lat, "steady_batches": batches,
           "batches_beyond_p50": beyond[0.5], "batches_beyond_p90": beyond[0.9],
           "burst_rps": burst_rps,
           "gen_late_ms_p99": late_p99, "backlog_files_max": backlog}
    if trace:
        # the untraced bursts bracket the traced one, so a drift over the
        # run (growing dedupe state, JIT) does not count as tracing cost
        out["overhead_share"] = 1.0 - burst_rps["b"] / statistics.mean(
            (burst_rps["a"], burst_rps["c"]))
    return out


# -------------------------------------------------------------------- run

def run(args):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    build.build()
    t_start = time.time()
    size = gen.SIZES[args.size]
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    rng = random.Random(args.seed)
    generator = None
    if args.workload == "stream_events":
        manifest, props, source, warm = gen.gen_stream(rng, work, size, HERE)
        generator = StreamGenerator(source, work, size, args.seconds, warm)
        generator.start()
    else:
        manifest, props = gen.GENERATORS[args.workload](rng, work, size, HERE)
    (work / "manifest.json").write_text(json.dumps(manifest))

    n_cores = cores()
    # no pre-touch and no fixed initial heap, so VmHWM follows the memory the
    # run touches. The young generation is fixed near the size G1 picks for
    # these workloads (eden 460-700 MB): left adaptive, it follows host load,
    # and peak RSS of stream_events ranged from 919 to 1349 MB over 5 runs.
    cmd = ["java", f"-Xmx{XMX}", f"-Xmn{XMN}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", *JVM_OPENS, "-cp", build.classpath(), "graftbench.Main", args.workload,
           str(work), str(args.seconds), str(args.trace), str(n_cores)]
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work)
        try:
            code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
        finally:
            if generator:
                generator.stop.set()
                generator.join(timeout=5)
    if code != 0:
        tail = log_path.read_text().splitlines()[-25:]
        raise RuntimeError(f"runner process exited with {code}:\n" + "\n".join(tail))
    if generator and generator.error:
        raise RuntimeError(f"generator: {generator.error}")
    result = json.loads((work / "result.json").read_text())

    stream = None
    if generator:
        stream = stream_metrics(work, generator, result, args.trace)
    if args.corrupt:
        checks.corrupt(work / "out" / {"pipeline_backfill": "backfill", "stream_events": "main",
                                       "corpus_dedup": "corpus",
                                       "broker_roundtrip": "broker"}[args.workload])
    if args.workload == "pipeline_backfill":
        attempted, failed, details = checks.check_backfill(work, manifest)
    elif args.workload == "corpus_dedup":
        attempted, failed, details = checks.check_corpus(work, manifest)
    elif args.workload == "broker_roundtrip":
        attempted, failed, details = checks.check_broker(work, manifest)
    else:
        attempted, failed, details = checks.check_stream(work, generator.lines)

    # samples of each end-to-end metric
    samples = {"setup_s": [result["setup_s"]], "peak_rss_mb": [result["peak_rss_mb"]]}
    if stream:
        timed_krec = generator.timed_lines / 1000.0
        samples["throughput_rps"] = list(stream["burst_rps"].values())
        samples["latency_p50_ms"] = stream["latency_ms"]
        samples["latency_p90_ms"] = stream["latency_ms"]
        samples["cpu_ms_per_krec"] = [result["timed_cpu_ms"] / timed_krec]
    elif not args.trace:
        samples["throughput_rps"] = result["throughput_rps"]
        samples["latency_p50_ms"] = result["pass_ms"]
        samples["latency_p90_ms"] = result["pass_ms"]
        samples["cpu_ms_per_krec"] = result["cpu_ms_per_krec"]
    values = {"setup_s": result["setup_s"], "peak_rss_mb": result["peak_rss_mb"]}
    for name in ("throughput_rps", "cpu_ms_per_krec"):
        if name in samples:
            values[name] = summary(samples[name])[0]
    for name, q in (("latency_p50_ms", 0.5), ("latency_p90_ms", 0.9)):
        if name in samples:
            values[name] = quantile(samples[name], q)

    if args.trace:
        layer = dict(result["layer"])
        layer["failed_share"] = failed / max(1, attempted)
        layer["gen.events"] = float(len(generator.lines) if generator else manifest["records"])
        layer["gen.late_ms_p99"] = stream["gen_late_ms_p99"] if stream else 0.0
        if stream:
            layer["stream.backlog_files_max"] = float(stream["backlog_files_max"])
            layer["output.rows"] = float(details["main_rows"])
            layer["output.dlq_rows"] = float(details["dlq_rows"])
            layer["trace.overhead_share"] = stream["overhead_share"]
        metric_specs = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in metric_specs}
    else:
        metric_specs = spec["end_to_end"]
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in metric_specs}

    env = {"nproc": n_cores, "spark_cores": n_cores, "loadavg": list(os.getloadavg()),
           "xmx": XMX, "xmn": XMN, "seconds": args.seconds, "size": args.size}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={n_cores} loadavg={' '.join(f'{x:.2f}' for x in env['loadavg'])} "
          f"xmx={XMX} xmn={XMN} setup_boot_s={result['setup_boot_s']:.3f}")
    print(f"# input: {json.dumps(props)}")
    print(f"# check: attempted={attempted} failed={failed} {json.dumps(details)}")
    if stream:
        print(f"# stream: steady_batches={stream['steady_batches']} "
              f"batches_beyond_p50={stream['batches_beyond_p50']} "
              f"batches_beyond_p90={stream['batches_beyond_p90']} "
              f"gen_late_ms_p99={stream['gen_late_ms_p99']:.2f} "
              f"backlog_files_max={stream['backlog_files_max']}")
    if not args.trace:
        print("# metric                      value      median          q1          q3     n")
        for m in metric_specs:
            med, q1, q3, n = summary(samples[m["name"]])
            print(f"# {m['name']:<18} {m['unit']:>9} {values[m['name']]:>11.4f} "
                  f"{med:>11.4f} {q1:>11.4f} {q3:>11.4f} {n:>5}")
    else:
        units = {m["name"]: m["unit"] for m in metric_specs}
        for name in sorted(set(layer) | set(units)):
            print(f"# {name:<32} {float(layer.get(name, 0.0)):>14.4f} {units.get(name, '')}")

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "env": env,
              "input": props, "check": details, "metrics": metrics,
              "samples": {k: list(v) for k, v in samples.items()}}
    runs = ROOT / ".bench_work" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record))
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(gen.SIZES), default="full",
                   help="input size profile (tiny: the benchmark's smoke tests)")
    p.add_argument("--corrupt", action="store_true",
                   help="drop one output row before the check (negative test)")
    args = p.parse_args()
    try:
        out = run(args)
    except Rejected as e:
        print(f"run rejected: {e}", file=sys.stderr)
        return 3
    except (Exception, SystemExit) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
