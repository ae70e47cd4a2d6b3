"""Output checks for the graft benchmark.

Gates are checked against the DuckDB oracle SQL the repo declares in
`SparkEntry.oracleSql`, over the same generated parquet, with the
normalisation of tools/check_oracle.py (columns sorted by name, rows
sorted by all columns, exact values). bulk_federation ops are checked
against SQL over the generated `bulk` table, and the ingest and upsert
against the counts and sums the writes must leave behind.
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

# the repo's correctness tool; importing it only reads sys.argv
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import canon  # noqa: E402


def close(a, b, rel=1e-9):
    """Doubles summed in a different order agree to about 1e-15."""
    return a == b or abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def compare(spark_dir, con, sql):
    """None when the Spark result at spark_dir equals the oracle's,
    else a one-line reason. Also returns the oracle's row count."""
    tbl = pq.read_table(spark_dir)
    cols = [c.to_pylist() for c in tbl.columns]
    sn, sr = canon(tbl.column_names, list(zip(*cols)) if cols else [])
    duck = con.execute(sql)
    dn, dr = canon([d[0] for d in duck.description], duck.fetchall())
    if sn != dn:
        return f"columns spark={sn} duck={dn}", len(dr)
    if len(sr) != len(dr):
        return f"rows spark={len(sr)} duck={len(dr)}", len(dr)
    bad = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
    if bad:
        i = bad[0]
        return (f"{len(bad)}/{len(sr)} rows differ; first spark={sr[i]} "
                f"duck={dr[i]}"), len(dr)
    return None, len(dr)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    return con


def bulk_sql(n):
    """Oracle SQL for each bulk_federation read op over `n` base rows."""
    m, step = n // 50, n // 1000
    full = ("SELECT count(*) n, sum(c_double::DECIMAL(18, 3)) s, "
            "sum(c_int::BIGINT) k, "
            "sum(length(c_text)) t, sum(octet_length(c_bytes)) b, "
            "sum(length(c_json)) j, max(epoch_us(c_ts)) ts "
            "FROM bulk")
    return {
        "scan_full": full, "scan_range": full, "scan_transform": full,
        "scan_proj2": ("SELECT count(*) n, sum(c_double::DECIMAL(18, 3)) s, "
                       "sum(c_int::BIGINT) k FROM bulk"),
        "scan_struct": (
            "SELECT count(*) n, "
            "sum(regexp_extract(c_json, '\"grp\":([0-9]+)', 1)::BIGINT) g, "
            "sum(length(regexp_extract(c_json, '\"w\":\"([a-z]+)\"', 1))) w "
            "FROM bulk"),
        "q_filter": f"SELECT c_int, c_double, c_text FROM bulk "
                    f"WHERE c_int < {m}",
        "q_fn_filter": f"SELECT c_int, c_json FROM bulk WHERE "
                       f"substring(c_json, 1, 1) = '{{' AND "
                       f"c_int >= {n // 2} AND c_int < {n // 2 + m}",
        "q_groupby": "SELECT c_json, count(*) n, sum(c_int::BIGINT) s "
                     "FROM bulk GROUP BY c_json",
        "q_count": "SELECT count(*) n FROM bulk",
        "q_topn": "SELECT c_int, c_double FROM bulk "
                  "ORDER BY c_double DESC, c_int LIMIT 100",
        "q_join": f"SELECT c_int, 'k' || (c_int // {step}) k_tag, c_double "
                  f"FROM bulk WHERE c_int % {step} = 0 "
                  f"AND c_int // {step} < 1000",
    }


def bulk_writes(con, n):
    """Expected (count, sum of c_double) after the ingest and after the
    upsert, for `n` base rows (see Bulk in Workloads.scala)."""
    m, d = n // 5, n // 10
    ingest = con.execute(f"SELECT count(*), sum(c_double) FROM bulk "
                         f"WHERE c_int < {m}").fetchone()
    upsert = con.execute(
        f"SELECT count(*), sum(CASE WHEN c_int >= {m - d // 2} "
        f"THEN c_double + 1.0 ELSE c_double END) FROM bulk "
        f"WHERE c_int < {m + d // 2}").fetchone()
    return {"ingest": ingest, "upsert": upsert}


def check(workload, data_dir, jvm, plant=None):
    """Check a run. Returns (failures by op name, verified row count by
    op name); a write op whose table check fails gets an `error` itself.
    `plant` names an op whose expected result loses a row, to prove a
    wrong result is caught."""
    con = connect(data_dir)
    failures, rows = {}, {}
    if workload == "bulk_federation":
        n = con.execute("SELECT count(*) FROM bulk").fetchone()[0]
        oracle = bulk_sql(n)
        writes = bulk_writes(con, n)
    else:
        oracle, writes = jvm["oracle_sql"], {}
    if plant:
        oracle = dict(oracle, **{plant: f"SELECT * FROM ({oracle[plant]}) "
                                        f"q LIMIT (SELECT count(*) - 1 "
                                        f"FROM ({oracle[plant]}) r)"})
    for name, path in jvm["verify"].items():
        if isinstance(path, dict):
            failures[name] = f"verify run failed: {path['error']}"
            continue
        try:
            why, rows[name] = compare(path, con, oracle[name])
        except Exception as e:  # oracle or read error fails the op
            why = f"{type(e).__name__}: {e}"
        if why:
            failures[name] = why
    if workload == "bulk_federation":
        # scans are verified through a checksum; each delivers every row
        rows.update({k: n for k in oracle if k.startswith("scan_")})
        rows.update(ingest=n // 5, upsert=n // 10)
    for kind, (count, total) in writes.items():
        for op in jvm["ops"]:
            if op["kind"] != kind:
                continue
            got = op.get("check", {})
            if got.get("count") != count or got.get("sum") is None \
                    or not close(got["sum"], total):
                op.setdefault("error", f"{kind} left count/sum "
                              f"{got.get('count')}/{got.get('sum')}, "
                              f"expected {count}/{total}")
    return failures, rows
