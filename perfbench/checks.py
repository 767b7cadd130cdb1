"""Output checks. Each returns (attempted, failed, notes): the operations
the run attempted, how many of them failed or produced wrong output, and
one line per problem found. Checks run after the timed region."""
import glob
import json
import math
import os
import sys
from collections import Counter, defaultdict

import duckdb

# the repository's oracle compare: its value normalisation is the policy
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import norm  # noqa: E402


def _rows(con, sql):
    """Columns sorted by name and rows normalised, as tools/check.py compares them."""
    t = con.execute(sql).fetch_arrow_table()
    cols = sorted(t.column_names)
    t = t.select(cols)
    return cols, [tuple(norm(v) for v in r)
                  for r in zip(*(c.to_pylist() for c in t.columns))] if t.num_rows else []


def minhash_pairs(con, threshold=0.8):
    """dedup_minhash's exact answer: every (doc_a < doc_b, jac) whose
    distinct word-3-gram shingle sets have Jaccard >= threshold. Prefix
    filtering keeps it exact without comparing all pairs (the DuckDB
    oracle's brute force takes minutes)."""
    sh = {}
    for d, t in con.execute("SELECT doc_id, text FROM documents").fetchall():
        toks = t.split(" ")
        if len(toks) >= 3:
            sh[d] = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    freq = Counter(s for v in sh.values() for s in v)
    index, cands = defaultdict(list), set()
    for d in sorted(sh):
        v = sorted(sh[d], key=lambda s: (freq[s], s))
        for s in v[:len(v) - math.ceil(threshold * len(v)) + 1]:
            cands.update((e, d) for e in index[s])
            index[s].append(d)
    rows = []
    for a, b in sorted(cands):
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            rows.append((str(a), str(b), repr(j)))
    return ["doc_a", "doc_b", "jac"], rows


def key_mix(report, data, work):
    """Every key's rows against its oracle over the same tables: DuckDB
    running SparkEntry.oracleSql(key), compared as tools/check.py does, or
    minhash_pairs for dedup_minhash."""
    res = report["result"]
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    wrong, notes = set(), []
    for c in res["check"]:
        k = c["key"]
        if c["error"]:
            wrong.add(k); notes.append(f"{k}: {c['error']}")
            continue
        files = sorted(glob.glob(os.path.join(work, "key_out", k, "*.parquet")))
        oc, orows = minhash_pairs(con) if k == "dedup_minhash" else _rows(con, res["oracle"][k])
        sc, srows = _rows(con, f"SELECT * FROM read_parquet({files!r})")
        if oc != sc:
            wrong.add(k); notes.append(f"{k}: columns {sc} != oracle {oc}")
        elif orows != srows:
            wrong.add(k)
            bad = next((i for i, (a, b) in enumerate(zip(orows, srows)) if a != b),
                       min(len(orows), len(srows)))
            notes.append(f"{k}: {len(srows)} rows vs oracle {len(orows)}, first diff at row {bad}")
    ops = res["ops"]
    failed = sum(1 for o in ops if o["error"] or o["key"] in wrong)
    notes += [f"{o['key']}: {o['error']}" for o in ops if o["error"]][:5]
    probe_errors = res["layers"].get("errors", 0)
    if probe_errors:
        notes.append(f"arrival probe: {probe_errors} failed or wrong deliveries")
    return (len(ops) + len(res["check"]) + (4 if res["layers"] else 0),
            failed + len(wrong) + probe_errors, notes)


def stream_reference(work):
    """Session (5 s gap) counts per user and 10 s tumble sums from every
    event the generator wrote, keyed by window bounds in epoch µs."""
    con = duckdb.connect()
    drop = os.path.join(work, "stream", "drop")
    con.execute(f"""CREATE TABLE ev AS SELECT event_id, user_id,
        epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM read_json('{drop}/*.json',
        columns={{'event_id':'BIGINT','user_id':'BIGINT','ts':'VARCHAR','created_ms':'BIGINT'}},
        format='newline_delimited')""")
    sessions = con.execute("""
        WITH s AS (SELECT user_id, t, CASE WHEN LAG(t) OVER w IS NULL
                     OR t - LAG(t) OVER w >= 5000000 THEN 1 ELSE 0 END AS brk
                   FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             g AS (SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                     ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        SELECT user_id, MIN(t), MAX(t) + 5000000, COUNT(*) FROM g GROUP BY user_id, sid""").fetchall()
    tumbles = con.execute("""SELECT (t // 10000000) * 10000000 AS ws, ws + 10000000, SUM(event_id)
        FROM ev GROUP BY ws""").fetchall()
    max_t = con.execute("SELECT MAX(t) FROM ev").fetchone()[0]
    return sessions, tumbles, max_t


def stream_output(work):
    con = duckdb.connect()
    out = os.path.join(work, "stream", "out")
    s = con.execute(f"""SELECT user_id, epoch_us(window_start), epoch_us(window_end), total,
        CAST(batch AS BIGINT) FROM read_parquet('{out}/session/*/*.parquet', hive_partitioning=1)""").fetchall() \
        if glob.glob(f"{out}/session/*/*.parquet") else []
    t = con.execute(f"""SELECT epoch_us(window_start), epoch_us(window_end), id_sum,
        CAST(batch AS BIGINT) FROM read_parquet('{out}/tumble/*/*.parquet', hive_partitioning=1)""").fetchall() \
        if glob.glob(f"{out}/tumble/*/*.parquet") else []
    return s, t


def generator_late_ms(work, live_from):
    """How late the live generator wrote its files in the measured part of
    the live phase (scheduled at or after ``live_from``): the largest
    written-minus-scheduled wall-clock time, in ms."""
    log = os.path.join(work, "stream", "generator.ndjson")
    return max((g["written_ms"] - g["sched_ms"] for g in map(json.loads, open(log))
                if g["file"].startswith("l") and g["sched_ms"] >= live_from), default=0)


def stream(report, work, live_from, late_limit_ms):
    """Session and tumble rows whose window closed before the final
    watermark, against a plain reference from the generator's files:
    missing, extra and wrong rows, plus late drops (must be none). Emit
    delays start on the generator's schedule, so a run whose generator
    wrote a measured file more than ``late_limit_ms`` late is not valid."""
    res = report["result"]
    notes = []
    late = generator_late_ms(work, live_from)
    ref_s, ref_t, max_t = stream_reference(work)
    out_s, out_t = stream_output(work)
    cutoff = max_t - 12_000_000  # closed before the final watermark, 1 s margin
    ref_sess = {(u, a, b): n for u, a, b, n in ref_s if b < cutoff}
    got_sess = defaultdict(list)
    for u, a, b, n, _ in out_s:
        got_sess[(u, a, b)].append(n)
    ref_tum = {(a, b): s for a, b, s in ref_t if b < cutoff}
    got_tum = defaultdict(list)
    for a, b, s, _ in out_t:
        got_tum[(a, b)].append(s)
    bad = 0
    for name, ref, got in (("session", ref_sess, got_sess), ("tumble", ref_tum, got_tum)):
        missing = sum(1 for k in ref if k not in got)
        wrong = sum(1 for k, v in ref.items() if k in got and (len(got[k]) != 1 or got[k][0] != v))
        extra = sum(1 for k in got if k not in ref and k[-1] < cutoff)
        if missing or wrong or extra:
            notes.append(f"{name}: {missing} missing, {extra} extra, {wrong} wrong of {len(ref)}")
        bad += missing + wrong + extra
    dropped = sum(p["dropped_late"] for p in res["progress"])
    if dropped:
        notes.append(f"{dropped} rows dropped as late")
    for k in ("drained", "caught_up", "generator_ok"):
        if not res[k]:
            notes.append(f"run not valid: {k} is false"); bad += 1
    if late > late_limit_ms:
        notes.append(f"run not valid: the generator wrote a live file {late} ms late "
                     f"(limit {late_limit_ms:g} ms)"); bad += 1
    if res["query_error"]:
        notes.append(res["query_error"]); bad += 1
    attempted = len(ref_sess) + len(ref_tum)
    return attempted, bad + dropped, notes, out_s, out_t
