"""Seeded input generators of the four workloads.

Every generator takes a `random.Random` seeded from `--seed` and a size
profile, writes its files under the run's work directory, and returns the
manifest the runner process reads (paths, record counts) plus the ground
truth the output checks need. Only these files reach the program under test.
"""
import bisect
import json
import os
import string
import time
from pathlib import Path

# Size profiles. "full" is what the benchmark measures; "tiny" is the smoke
# size of the benchmark's own tests.
SIZES = {
    "full": dict(backfill_events=40000, backfill_files=4,
                 corpus_docs=1200, corpus_exact=80, corpus_near=80,
                 corpus_contam=40, corpus_lowq=40, eval_docs=100,
                 broker_msgs=40000,
                 stream_file_events=40, stream_period_ms=200, burst_files=4,
                 burst_file_events=1000, warm_file_events=200),
    "tiny": dict(backfill_events=3000, backfill_files=2,
                 corpus_docs=400, corpus_exact=20, corpus_near=20,
                 corpus_contam=10, corpus_lowq=10, eval_docs=20,
                 broker_msgs=2000,
                 stream_file_events=10, stream_period_ms=100, burst_files=2,
                 burst_file_events=100, warm_file_events=20),
}

# Input properties (shares of the generated records), recorded per run.
BACKFILL_DUP_SHARE = 0.10
STREAM_DUP_SHARE = 0.08
STREAM_LATE_SHARE = 0.05
STREAM_MALFORMED_SHARE = 0.02
ZIPF_S = 1.1
# words replaced in each planted near-duplicate of an 80-100 word document:
# its 3-word-shingle Jaccard to the original stays >= 0.85, far above the
# 0.4 LSH threshold, where a missed pair is no longer a matter of chance
# (at Jaccard 0.58 the 32x4 bands miss a pair about 2% of the time)
NEAR_DUP_WORDS = 2
KINDS = ["click", "view", "buy", "scroll", "share"]


class Zipf:
    """Zipf(s) sampler over ranks 1..n by inverse CDF."""

    def __init__(self, n, s, rng):
        w = [1.0 / (k ** s) for k in range(1, n + 1)]
        total = sum(w)
        acc, self.cdf = 0.0, []
        for x in w:
            acc += x / total
            self.cdf.append(acc)
        self.rng = rng

    def __call__(self):
        return min(bisect.bisect_left(self.cdf, self.rng.random()), len(self.cdf) - 1) + 1


def _words(rng, n):
    return ["".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 8)))
            for _ in range(n)]


def _write_lines(path, lines):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for line in lines:
            f.write(line + "\n")


# ---------------------------------------------------------------- backfill

def _event(rng, zipf, vocab, i):
    return {"id": i, "user": f"u{zipf()}", "kind": rng.choice(KINDS),
            "amount": rng.randint(1, 50000), "qty": rng.randint(1, 9),
            "ts": 1700000000000 + i * 37,
            "note": " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 12)))}


def backfill_events(rng, n):
    """n events, BACKFILL_DUP_SHARE of them exact copies of earlier ones."""
    zipf = Zipf(2000, ZIPF_S, rng)
    vocab = _words(rng, 500)
    uniq = [_event(rng, zipf, vocab, i) for i in range(int(n * (1 - BACKFILL_DUP_SHARE)))]
    out = list(uniq)
    for _ in range(n - len(uniq)):
        out.insert(rng.randrange(len(out) + 1), rng.choice(uniq))
    return [json.dumps(e, separators=(",", ":")) for e in out], len(uniq)


def gen_backfill(rng, work: Path, size, bench_dir: Path):
    lines, uniq = backfill_events(rng, size["backfill_events"])
    k = size["backfill_files"]
    step = (len(lines) + k - 1) // k
    for p in range(k):
        _write_lines(work / "in" / "main" / f"part-{p}.json", lines[p * step:(p + 1) * step])
    template = (bench_dir / "backfill.yaml").read_text()
    (work / "config.yaml").write_text(template.replace("{input}", str(work / "in" / "main"))
                                      .replace("{output}", str(work / "out" / "backfill")))
    manifest = {"input_dir": str(work / "in" / "main"), "records": len(lines),
                "sample_file": str(work / "in" / "main" / "part-0.json")}
    props = {"records": len(lines), "unique": uniq, "dup_share": BACKFILL_DUP_SHARE,
             "near_dup_share": 0.0, "malformed_share": 0.0, "late_share": 0.0,
             "skew": f"zipf({ZIPF_S}) over 2000 users"}
    return manifest, props


# ------------------------------------------------------------------ corpus

STOP = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "a"]


def _doc(rng, vocab, n_words):
    return " ".join(rng.choice(STOP) if rng.random() < 0.3 else rng.choice(vocab)
                    for _ in range(n_words)) + "."


def _mutate(rng, text, vocab, n):
    """`text` with `n` of its words replaced at random."""
    toks = text.rstrip(".").split(" ")
    for i in rng.sample(range(len(toks)), n):
        toks[i] = rng.choice(vocab)
    return " ".join(toks) + "."


def gen_corpus_docs(rng, size):
    """Corpus with planted structure. Returns (docs, eval_docs, truth)."""
    vocab = _words(rng, 4000)
    eval_docs = [(100000 + i, _doc(rng, vocab, 60)) for i in range(size["eval_docs"])]
    docs, truth = [], {"exact": [], "near": [], "contam": [], "lowq": [], "clean": []}
    next_id = [1]

    def add(text):
        i = next_id[0]
        next_id[0] += 1
        docs.append((i, text))
        return i

    for _ in range(size["corpus_docs"]):
        truth["clean"].append(add(_doc(rng, vocab, rng.randint(60, 100))))
    for _ in range(size["corpus_exact"]):
        base = _doc(rng, vocab, rng.randint(60, 100))
        truth["exact"].append([add(base) for _ in range(rng.randint(2, 4))])
    for _ in range(size["corpus_near"]):
        base = _doc(rng, vocab, rng.randint(80, 100))
        members = [add(base)] + [add(_mutate(rng, base, vocab, NEAR_DUP_WORDS))
                                 for _ in range(rng.randint(1, 3))]
        truth["near"].append(members)
    for _ in range(size["corpus_contam"]):
        ev = rng.choice(eval_docs)[1].rstrip(".").split(" ")
        start = rng.randrange(len(ev) - 14)
        span = " ".join(ev[start:start + 14])
        text = _doc(rng, vocab, 40).rstrip(".") + " " + span + " " + _doc(rng, vocab, 30)
        truth["contam"].append(add(text))
    for _ in range(size["corpus_lowq"]):
        junk = "".join(rng.choice("!?#$%&*+=@^~") for _ in range(rng.randint(10, 40)))
        truth["lowq"].append(add(junk))
    order = list(range(len(docs)))
    rng.shuffle(order)
    return [docs[i] for i in order], eval_docs, truth


def _write_docs(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                             "text": pa.array([r[1] for r in rows], pa.string())}), path)


def gen_corpus(rng, work: Path, size, bench_dir: Path):
    docs, eval_docs, truth = gen_corpus_docs(rng, size)
    _write_docs(work / "in" / "corpus.parquet", docs)
    _write_docs(work / "in" / "eval.parquet", eval_docs)
    (work / "truth.json").write_text(json.dumps(truth))
    n = len(docs)
    near_members = sum(len(c) - 1 for c in truth["near"])
    exact_members = sum(len(c) - 1 for c in truth["exact"])
    manifest = {"corpus": str(work / "in" / "corpus.parquet"),
                "eval": str(work / "in" / "eval.parquet"), "records": n}
    props = {"records": n, "dup_share": round(exact_members / n, 4),
             "near_dup_share": round(near_members / n, 4),
             "contaminated_share": round(len(truth["contam"]) / n, 4),
             "low_quality_share": round(len(truth["lowq"]) / n, 4),
             "malformed_share": 0.0, "late_share": 0.0, "skew": "none"}
    return manifest, props


# ------------------------------------------------------------------ broker

def broker_messages(rng, n):
    zipf = Zipf(500, ZIPF_S, rng)
    out = []
    for i in range(n):
        body = "".join(rng.choice(string.ascii_letters + string.digits)
                       for _ in range(rng.randint(40, 160)))
        out.append(json.dumps({"id": i, "key": f"k{zipf()}", "body": body},
                              separators=(",", ":")))
    return out


def gen_broker(rng, work: Path, size, bench_dir: Path):
    msgs = broker_messages(rng, size["broker_msgs"])
    _write_lines(work / "in" / "messages.jsonl", msgs)
    manifest = {"messages": str(work / "in" / "messages.jsonl"),
                "records": len(msgs), "bytes": sum(len(m) for m in msgs)}
    props = {"records": len(msgs), "dup_share": 0.0, "near_dup_share": 0.0,
             "malformed_share": 0.0, "late_share": 0.0,
             "skew": f"zipf({ZIPF_S}) over 500 keys"}
    return manifest, props


# ------------------------------------------------------------------ stream

class StreamSource:
    """Seeded event source of stream_events. Contents depend only on the
    seed; the creation stamp is the due time the scheduler passes in."""

    def __init__(self, rng):
        self.rng = rng
        self.zipf = Zipf(1000, ZIPF_S, rng)
        self.next_id = 0
        self.recent = []
        self.bad = 0

    def file(self, n, due_ms):
        rng, lines = self.rng, []
        for _ in range(n):
            r = rng.random()
            if r < STREAM_MALFORMED_SHARE:
                self.bad += 1
                lines.append('{"id": %d, "user": "u%d", "kind": "broken#%d"'
                             % (self.next_id, self.zipf(), self.bad))
            elif r < STREAM_MALFORMED_SHARE + STREAM_DUP_SHARE and self.recent:
                lines.append(rng.choice(self.recent))
            else:
                late = rng.random() < STREAM_LATE_SHARE
                ts = due_ms - (rng.randint(1000, 4000) if late else 0)
                line = json.dumps({"id": self.next_id, "user": f"u{self.zipf()}",
                                   "kind": rng.choice(KINDS), "amount": rng.randint(1, 9999),
                                   "ts": ts, "created_ms": due_ms}, separators=(",", ":"))
                self.next_id += 1
                lines.append(line)
                self.recent.append(line)
                if len(self.recent) > 4 * n:
                    self.recent.pop(0)
        rng.shuffle(lines)  # out of order within a file
        return lines


class Dropper:
    """Writes stream files with an atomic rename into the watched directory."""

    def __init__(self, work: Path, watched: Path):
        self.tmp = work / "stream_tmp"
        self.tmp.mkdir(parents=True, exist_ok=True)
        watched.mkdir(parents=True, exist_ok=True)
        self.watched = watched
        self.n = 0

    def stage(self, lines):
        """Write a file next to the watched directory; returns its name."""
        name = f"f{self.n:06d}.json"
        self.n += 1
        _write_lines(self.tmp / name, lines)
        return name

    def publish(self, names):
        """Rename staged files into the watched directory, back to back. A
        burst is a few large files rather than many small ones: with 80
        files, a directory listing often caught part of a burst, which then
        drained in one more micro-batch at about 25% lower throughput."""
        for name in names:
            os.rename(self.tmp / name, self.watched / name)
        return time.time() * 1000.0

    def drop(self, lines):
        return self.publish([self.stage(lines)])


def gen_stream(rng, work: Path, size, bench_dir: Path):
    """Writes the file the query commits while it starts into the watched
    directory now and returns its lines. The later files are dropped live
    by `run.StreamGenerator` from the returned source."""
    src = StreamSource(rng)
    manifest = {"input_dir": str(work / "stream_in"),
                "mapping": str(work / "stream_mapping.blobl")}
    warm = src.file(size["warm_file_events"], int(time.time() * 1000))
    Dropper(work, work / "stream_in").drop(warm)
    (work / "stream_mapping.blobl").write_text((bench_dir / "stream_mapping.blobl").read_text())
    manifest["records"] = 0
    props = {"dup_share": STREAM_DUP_SHARE, "late_share": STREAM_LATE_SHARE,
             "malformed_share": STREAM_MALFORMED_SHARE, "near_dup_share": 0.0,
             "skew": f"zipf({ZIPF_S}) over 1000 users",
             "rate_events_per_s": size["stream_file_events"] * 1000 / size["stream_period_ms"]}
    return manifest, props, src, warm


GENERATORS = {"pipeline_backfill": gen_backfill, "corpus_dedup": gen_corpus,
              "broker_roundtrip": gen_broker}
