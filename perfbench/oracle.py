"""Correctness checks in DuckDB, run outside every timed region.

* Curation: each query's engine output (parquet) is hashed the way the
  repository's correctness gate hashes it (columns sorted by name, rows in
  order, values repr-joined, md5) and compared with ``SparkEntry.oracleSql``
  run by DuckDB over the same generated corpus. Expected hashes are computed
  once per seed and corpus and cached beside the inputs.
* Ledger: the end state on disk is compared with a model replayed from the
  generated inputs and the client's log of ingests and UPDATEs, and a fixed
  set of engine reads is compared with the same reads in DuckDB.

Every check returns (name, ok, detail).
"""
import datetime as dt
import glob
import hashlib
import json
import os

import duckdb


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _hash(cur):
    # dataframe path: keeps DuckDB's dtype distinctions (HUGEINT sums read
    # as float64) exactly as the repository's gate sees them
    df = cur.df()
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in df.to_numpy().tolist()]
    text = "\n".join(",".join(repr(c) for c in row) for row in rows)
    return sorted(cols), len(rows), hashlib.md5(text.encode()).hexdigest()[:16]


def expected_hashes(corpus_dir, oracle_sql, cache_file):
    """Oracle hashes per query, computed once and cached in ``cache_file``."""
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cached = json.load(f)
        if set(cached) == set(oracle_sql):
            return cached
    con = _connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    by_sql = {}  # twins such as x38/x158 share one oracle
    for sql in set(oracle_sql.values()):
        cols, n, h = _hash(con.execute(sql))
        by_sql[sql] = {"cols": cols, "rows": n, "hash": h}
    out = {name: by_sql[sql] for name, sql in oracle_sql.items()}
    tmp = cache_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, sort_keys=True)
    os.replace(tmp, cache_file)
    return out


def check_curation(results_dir, expected):
    con = _connect()
    checks = []
    for name, exp in sorted(expected.items()):
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            checks.append((f"curation.{name}", False, "no engine output"))
            continue
        cols, n, h = _hash(con.execute(f"SELECT * FROM read_parquet({files!r})"))
        ok = cols == exp["cols"] and h == exp["hash"]
        checks.append((f"curation.{name}", ok,
                       f"rows engine={n} oracle={exp['rows']} hash engine={h} oracle={exp['hash']}"))
    return checks


def _iso_us(s):
    """Java Instant.toString -> epoch microseconds."""
    t = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return round(t.timestamp() * 1_000_000)


def check_ledger(inputs, result):
    """End state and fixed reads against DuckDB; returns (checks, live_rows)."""
    con = _connect()
    path = result["ledger_path"]
    # the files Spark would list: data files of the day partitions, not the
    # '_'/'.'-prefixed bookkeeping the writers keep beside them
    files = sorted(f for f in glob.glob(f"{path}/query_window_start_day=*/*.parquet")
                   if not os.path.basename(f).startswith(("_", ".")))
    con.execute(f"CREATE VIEW l AS SELECT * FROM read_parquet({files!r}, "
                "hive_partitioning = true, hive_types = {'query_window_start_day': DATE})")
    con.execute(f"CREATE TABLE m AS SELECT * FROM read_parquet('{inputs}/ledger.parquet')")
    checks = []
    for entry in result["op_log"]:
        if entry["op"] == "ingest":
            f = f"{inputs}/batches/b{entry['batch']:04d}.parquet"
            con.execute(f"INSERT INTO m SELECT DISTINCT * FROM read_parquet('{f}') "
                        "WHERE record_id NOT IN (SELECT record_id FROM m)")
        else:
            where = (f"pipeline_name = '{entry['pipeline']}' "
                     f"AND query_window_start_day = DATE '{entry['day']}'")
            n = con.execute(f"SELECT count(*) FROM m WHERE {where}").fetchone()[0]
            checks.append((f"ledger.update_affected.{entry['pipeline']}.{entry['day']}",
                           n == entry["affected"], f"engine={entry['affected']} model={n}"))
            con.execute(f"UPDATE m SET pipeline_status = '{entry['status']}' WHERE {where}")
    live, distinct = con.execute("SELECT count(*), count(DISTINCT record_id) FROM l").fetchone()
    model = con.execute("SELECT count(*) FROM m").fetchone()[0]
    checks.append(("ledger.rows_equal_distinct_ids", live == distinct,
                   f"rows={live} distinct={distinct}"))
    checks.append(("ledger.rows_equal_model", live == model, f"rows={live} model={model}"))
    got = dict(con.execute("SELECT pipeline_status, count(*) FROM l GROUP BY 1").fetchall())
    want = dict(con.execute("SELECT pipeline_status, count(*) FROM m GROUP BY 1").fetchall())
    checks.append(("ledger.status_counts", got == want, f"disk={got} model={want}"))

    fr = result["fixed_reads"]
    for status, n in fr["counts"].items():
        exp = con.execute("SELECT count(*) FROM l WHERE pipeline_status = ?", [status]).fetchone()[0]
        checks.append((f"read.count.{status}", n == exp, f"engine={n} duckdb={exp}"))
    exp = con.execute("SELECT record_id FROM l WHERE pipeline_status = 'pending' "
                      "ORDER BY query_window_start_ts DESC, record_id LIMIT 1").fetchone()
    got = fr["latest_pending"]
    checks.append(("read.latest_pending", (got and int(got)) == (exp and exp[0]),
                   f"engine={got} duckdb={exp}"))
    o = fr["overlap_for_input"]
    exp = [r[0] for r in con.execute(
        "SELECT record_id FROM l WHERE query_window_start_day <= CAST(?::TIMESTAMP AS DATE) "
        "AND query_window_end_day >= CAST(?::TIMESTAMP AS DATE) "
        "AND pipeline_name = ? AND index_name = ? "
        "AND query_window_start_ts < ?::TIMESTAMPTZ AND query_window_end_ts > ?::TIMESTAMPTZ "
        "ORDER BY record_id",
        [o["end"], o["start"], o["pipeline"], o["index"], o["end"], o["start"]]).fetchall()]
    checks.append(("read.overlap_for_input", o["ids"] == exp,
                   f"engine={len(o['ids'])} duckdb={len(exp)}"))
    c = fr["continuity"]
    exp = con.execute(
        "WITH s AS (SELECT query_window_start_ts st, query_window_end_ts en, record_id FROM l "
        "  WHERE CAST(query_window_start_ts AS DATE) = ?::DATE "
        "  AND pipeline_name = ? AND index_name = ?), "
        "w AS (SELECT st, lag(en) OVER (ORDER BY st, record_id) prev FROM s) "
        "SELECT epoch_us(prev), epoch_us(st) FROM w WHERE prev IS NOT NULL AND st <> prev "
        "ORDER BY 1, 2", [c["day"], c["pipeline"], c["index"]]).fetchall()
    got = [tuple(_iso_us(x) for x in g) for g in c["gaps"]]
    checks.append(("read.continuity", got == [tuple(r) for r in exp]
                   and c["continuous"] == (not exp), f"engine={len(got)} duckdb={len(exp)}"))
    s = fr["scalar_max"]
    exp = con.execute("SELECT epoch_us(max(query_window_end_ts)) FROM l WHERE pipeline_name = ?",
                      [s["pipeline"]]).fetchone()[0]
    got = s["max_end"] and _iso_us(s["max_end"])
    checks.append(("read.scalar_max", got == exp, f"engine={got} duckdb={exp}"))
    return checks, live
