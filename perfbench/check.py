"""Answer checks against independent evaluations.

- SPARQL reads: each answer's row count and order-insensitive hash
  against the request's oracle SQL, run in DuckDB over the raw corpus.
- Headline queries: each answer written by the benchmark process
  against `SparkEntry.oracleSql`, with the same row-count, column-name
  and order-insensitive value comparison as the repository's oracle gate.
- Updates: the bench triples the final store holds against the op log's
  prediction.
"""
import hashlib
import os

import duckdb

import gen

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(corpus_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def answer_hash(cols, rows):
    """Same hash as the benchmark process's `Json.answerHash`: cells in
    column-name order joined by U+0001, rows sorted and joined by
    newlines, SHA-256."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\u0001".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def check_reads(con, samples, requests):
    """Failed read samples: [(id, reason)]. Every read that returned an
    answer is compared with its oracle; identical oracle SQL runs once."""
    oracle = {r["id"]: r["oracle"] for r in requests}
    memo, bad = {}, []
    for s in samples:
        if s["kind"] != "read" or s["status"] != 200:
            continue
        sql = oracle.get(s["id"])
        if sql is None:
            bad.append((s["id"], "no oracle for request"))
            continue
        if sql not in memo:
            rel = con.sql(sql)
            rows = rel.fetchall()
            memo[sql] = (len(rows), answer_hash(rel.columns, rows))
        n, h = memo[sql]
        if (s["rows"], s["hash"]) != (n, h):
            bad.append((s["id"], f"rows {s['rows']} vs oracle {n}, hash "
                                 f"{s['hash'][:12]} vs {h[:12]}"))
    return bad


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if v != v else repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _digest(cols, canon):
    return hashlib.sha256(repr((sorted(cols), canon)).encode("utf-8")).hexdigest()


def compare_table(con, got_dir, sql, cache_dir=None):
    """None when the parquet answer under `got_dir` equals the oracle's,
    else the first difference. The oracle's answer depends only on the
    corpus and the SQL, so its digest is kept under `cache_dir`; the
    oracle runs again only on a cache miss or to explain a mismatch."""
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
    grows, gcols = got.fetchall(), [c.lower() for c in got.columns]
    g = _canon(grows, gcols)
    path = None
    if cache_dir:
        os.makedirs(cache_dir, exist_ok=True)
        path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest())
        if os.path.exists(path):
            with open(path) as f:
                if f.read() == _digest(gcols, g):
                    return None
    exp = con.sql(sql)
    erows, ecols = exp.fetchall(), [c.lower() for c in exp.columns]
    e = _canon(erows, ecols)
    if path:
        with open(path, "w") as f:
            f.write(_digest(ecols, e))
    if sorted(gcols) != sorted(ecols):
        return f"columns {sorted(gcols)} vs oracle {sorted(ecols)}"
    if len(grows) != len(erows):
        return f"rows {len(grows)} vs oracle {len(erows)}"
    if g != e:
        i = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
        return f"sorted row {i}: {g[i]} vs oracle {e[i]}"
    return None


def check_answers(con, answers, oracle_sql, expected_names, cache_dir=None):
    """Failed headline queries: [(name, reason)]."""
    bad = []
    for name in expected_names:
        if name not in answers:
            bad.append((name, "no answer written"))
        elif name not in oracle_sql:
            bad.append((name, "no oracle SQL"))
        else:
            try:
                diff = compare_table(con, answers[name], oracle_sql[name], cache_dir)
            except duckdb.Error as e:
                diff = f"oracle error: {e}"
            if diff:
                bad.append((name, diff))
    return bad


def check_updates(got, predicted):
    """Differences between the bench triples the store holds and the
    prediction: [(reason)]."""
    got = {tuple(t) for t in got}
    missing, extra = predicted - got, got - predicted
    out = [f"missing {t}" for t in sorted(missing)[:5]]
    out += [f"unexpected {t}" for t in sorted(extra)[:5]]
    if missing or extra:
        out.insert(0, f"{len(missing)} missing, {len(extra)} unexpected bench triples")
    return out


def judge(res, reqs, con, cache_dir=None):
    """Verdict on one run's result (`jvm_result.json`) for the requests
    it was given: (failed, attempted, bad_ids, problems). Every operation
    counts once; a non-2xx status, an exception or a wrong answer fails
    it, a wrong final store state or headline answer adds one failure."""
    samples = res["samples"]
    bad = dict(check_reads(con, samples, reqs["reads"] + reqs["warmup"]))
    problems = [f"read {i}: {why}" for i, why in list(bad.items())[:10]]
    status_failed = [s for s in samples if not 0 < s["status"] < 300]
    problems += [f"{s['kind']} {s['id']} status {s['status']}: {s.get('error', '')}"
                 for s in status_failed[:10]]
    bad.update((s["id"], "status") for s in status_failed)
    failed, attempted = len(bad), len(samples)
    done = [s for s in sorted(samples, key=lambda s: s["start_ms"])
            if s["kind"] == "update"]
    if done:
        attempted += 1
        ids = [s["id"] for s in done]
        if ids != [op["id"] for op in reqs["updates"][:len(ids)]]:
            diff = ["updates did not run in op-log order"]
        elif any(s["id"] in bad for s in done):
            diff = []  # a failed update leaves no defined state to check
        else:
            diff = check_updates(res["store"]["bench_triples"],
                                 gen.predict(reqs["updates"], len(ids)))
        if diff:
            problems += diff
            failed += 1
    if "oracle_sql" in res:
        oracle, answers = res["oracle_sql"], res.get("answers", {})
        bad_q = check_answers(con, answers, oracle,
                              sorted(oracle.keys() | answers.keys()), cache_dir)
        problems += [f"query {n}: {why}" for n, why in bad_q]
        attempted += len(oracle.keys() | answers.keys())
        failed += len(bad_q)
    return failed, attempted, bad, problems
