"""Output checks of the four workloads.

Each check compares what the program wrote against an independent
reference (DuckDB SQL over the generated files, or the generator's planted
ground truth) and returns (attempted, failed, details). A record that is
missing, duplicated or wrong counts as one failed checked operation.
"""
import hashlib
import json
from pathlib import Path

import duckdb


def _parquet(path: Path) -> str:
    return str(path / "*.parquet")


def check_backfill(work: Path, manifest: dict):
    con = duckdb.connect()
    src = str(Path(manifest["input_dir"]) / "*.json")
    # the config's processors, as SQL: field mapping, hash/split mapping,
    # dedupe on id (duplicates in the input are exact copies)
    con.execute(f"""
        CREATE TABLE expected AS SELECT DISTINCT
          id, "user", upper(kind) AS kind, amount * qty AS total, ts, note,
          substr(sha256("user"), 1, 16) AS user_hash,
          len(string_split(note, ' ')) AS words
        FROM read_json('{src}', format = 'newline_delimited')""")
    con.execute(f"""
        CREATE TABLE got AS SELECT
          CAST(json_extract(content, '$.id') AS BIGINT) AS id,
          json_extract_string(content, '$.user') AS "user",
          json_extract_string(content, '$.kind') AS kind,
          CAST(json_extract(content, '$.total') AS BIGINT) AS total,
          CAST(json_extract(content, '$.ts') AS BIGINT) AS ts,
          json_extract_string(content, '$.note') AS note,
          json_extract_string(content, '$.user_hash') AS user_hash,
          CAST(json_extract(content, '$.words') AS BIGINT) AS words
        FROM read_parquet('{_parquet(work / "out" / "backfill")}')
        WHERE error IS NULL""")
    attempted = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL "
                          "SELECT * FROM got)").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                        "SELECT * FROM expected)").fetchone()[0]
    errored = con.execute(f"SELECT count(*) FROM read_parquet("
                          f"'{_parquet(work / 'out' / 'backfill')}') WHERE error IS NOT NULL"
                          ).fetchone()[0]
    return attempted, missing + extra + errored, {"missing": missing, "extra": extra,
                                                   "errored": errored}


def check_corpus(work: Path, manifest: dict):
    truth = json.loads((work / "truth.json").read_text())
    kept = {r[0] for r in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{_parquet(work / 'out' / 'corpus')}')").fetchall()}
    failed, details = 0, {}
    for kind in ("exact", "near"):
        bad = [c for c in truth[kind] if len(kept.intersection(c)) != 1]
        details[f"{kind}_clusters_not_one_survivor"] = len(bad)
        failed += len(bad)
    # recall over planted near-duplicate members: a cluster that kept one
    # survivor had all its other members found
    found = sum(len(c) - 1 for c in truth["near"] if len(kept.intersection(c)) == 1)
    details["near_dup_recall"] = found / max(1, sum(len(c) - 1 for c in truth["near"]))
    details["contaminated_kept"] = sum(1 for d in truth["contam"] if d in kept)
    details["low_quality_kept"] = sum(1 for d in truth["lowq"] if d in kept)
    details["clean_lost"] = sum(1 for d in truth["clean"] if d not in kept)
    failed += details["contaminated_kept"] + details["low_quality_kept"] + details["clean_lost"]
    if details["near_dup_recall"] < 0.95:
        failed += 1
    attempted = (len(truth["exact"]) + len(truth["near"]) + len(truth["contam"]) +
                 len(truth["lowq"]) + len(truth["clean"]))
    return attempted, failed, details


def check_broker(work: Path, manifest: dict):
    want = {}
    with open(manifest["messages"]) as f:
        for line in f:
            line = line.rstrip("\n")
            want[json.loads(line)["id"]] = hashlib.md5(line.encode()).hexdigest()
    seen = {}
    bad_hash = 0
    for (content,) in duckdb.sql(f"SELECT content FROM read_parquet("
                                 f"'{_parquet(work / 'out' / 'broker')}')").fetchall():
        i = json.loads(content)["id"]
        seen[i] = seen.get(i, 0) + 1
        if want.get(i) != hashlib.md5(content.encode()).hexdigest():
            bad_hash += 1
    missing = sum(1 for i in want if i not in seen)
    dups = sum(n - 1 for n in seen.values() if n > 1)
    extra = sum(1 for i in seen if i not in want)
    return len(want), missing + dups + extra + bad_hash, {
        "missing": missing, "duplicated": dups, "extra": extra, "hash_mismatch": bad_hash}


def stream_outputs(work: Path):
    """Main-sink rows (id, created_ms, batch_id) and DLQ contents."""
    main = duckdb.sql(
        f"SELECT CAST(json_extract(content, '$.id') AS BIGINT), "
        f"CAST(json_extract(content, '$.created_ms') AS BIGINT), batch_id, error "
        f"FROM read_parquet('{_parquet(work / 'out' / 'main')}')").fetchall()
    dlq_dir = work / "out" / "dlq"
    dlq = [] if not any(dlq_dir.glob("*.parquet")) else [r[0] for r in duckdb.sql(
        f"SELECT content FROM read_parquet('{_parquet(dlq_dir)}')").fetchall()]
    return main, dlq


def check_stream(work: Path, lines: list):
    """Every valid unique event exactly once in the main sink, every
    malformed line exactly once in the DLQ."""
    valid, bad = set(), {}
    for line in lines:
        try:
            valid.add(json.loads(line)["id"])
        except ValueError:
            bad[line] = bad.get(line, 0) + 1
    main, dlq = stream_outputs(work)
    count = {}
    errored = 0
    for i, _, _, err in main:
        count[i] = count.get(i, 0) + 1
        errored += err is not None
    lost = sum(1 for i in valid if i not in count)
    dup = sum(n - 1 for n in count.values() if n > 1)
    extra = sum(1 for i in count if i not in valid)
    dcount = {}
    for c in dlq:
        dcount[c] = dcount.get(c, 0) + 1
    dlq_lost = sum(1 for b in bad if b not in dcount)
    dlq_dup = sum(max(0, n - bad.get(c, 0)) for c, n in dcount.items())
    attempted = len(valid) + sum(bad.values())
    failed = lost + dup + extra + errored + dlq_lost + dlq_dup
    return attempted, failed, {"lost": lost, "duplicated": dup, "extra": extra,
                               "errored_in_main": errored, "dlq_lost": dlq_lost,
                               "dlq_duplicated": dlq_dup, "main_rows": len(main),
                               "dlq_rows": len(dlq)}


def corrupt(out_dir: Path):
    """Negative-test hook: drop one row of a parquet output directory."""
    con = duckdb.connect()
    tmp = out_dir.parent / (out_dir.name + ".corrupt.parquet")
    con.execute(f"COPY (SELECT * FROM read_parquet('{_parquet(out_dir)}') OFFSET 1) "
                f"TO '{tmp}' (FORMAT parquet)")
    for f in out_dir.glob("*.parquet"):
        f.unlink()
    tmp.rename(out_dir / "part-corrupt.parquet")
