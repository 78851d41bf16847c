"""Post-run correctness checks of a benchmark run.

- Sync targets: a parquet target kept after a sync must hold exactly the
  fake API's live set (same SHA-256 digest of its rows sorted by href as the
  harness computed from the live set), and the DELTA watermark in the kept
  state must not pass the largest modified the API had served.
- Query outputs: compared with the query's DuckDB SQL the way
  tools/check.py compares: same column names, same Arrow types, same rows
  once rows are sorted and columns ordered by name, values bit-exact.
"""
import hashlib
import os

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(table, cols):
    key = lambda r: [(v is None, str(v)) for v in r]
    return sorted([tuple(r[c] for c in cols) for r in table.to_pylist()],
                  key=key)


def compare(want, got):
    """None when equal, else the first difference found."""
    wcols, gcols = sorted(want.column_names), sorted(got.column_names)
    if wcols != gcols:
        return f"columns differ: oracle={wcols} spark={gcols}"
    types = [(c, str(want.schema.field(c).type), str(got.schema.field(c).type))
             for c in wcols
             if str(want.schema.field(c).type) != str(got.schema.field(c).type)]
    if types:
        return f"arrow types differ: {types}"
    wrows, grows = _rows(want, wcols), _rows(got, gcols)
    if len(wrows) != len(grows):
        return f"row count oracle={len(wrows)} spark={len(grows)}"
    for wr, gr in zip(wrows, grows):
        if wr != gr:
            return f"first diff oracle={wr} spark={gr}"
    return None


def target_digest(path):
    t = pq.read_table(path, columns=["href", "modified_ms", "jsondata"])
    rows = sorted(zip(t["href"].to_pylist(), t["modified_ms"].to_pylist(),
                      t["jsondata"].to_pylist()), key=lambda r: r[0])
    h = hashlib.sha256()
    for href, modified, json in rows:
        h.update(f"{href}\x01{modified}\x01{json}\n".encode("utf-8"))
    return h.hexdigest()


def check_targets(checks):
    """`checks`: [{"what", "dir", "digest", "max_modified_served"}].
    Returns [(what, reason)] for every kept target that is wrong."""
    bad = []
    for c in checks:
        try:
            if target_digest(os.path.join(c["dir"], "target")) != c["digest"]:
                bad.append((c["what"], "target differs from the live set"))
            state = os.path.join(c["dir"], "state")
            if os.path.exists(state):
                s = pq.read_table(state)
                s = s.filter(pc.equal(s["synctype"], "DELTA"))
                for wm in s["lastmodified"].to_pylist():
                    if wm > c["max_modified_served"]:
                        bad.append((c["what"], f"watermark {wm} passes the "
                                    f"largest modified served "
                                    f"{c['max_modified_served']}"))
        except Exception as e:  # an unreadable target is a failed check
            bad.append((c["what"], f"{type(e).__name__}: {e}"))
    return bad


def check_queries(data_dir, checks, threads=1):
    """`checks` maps a query name to {"dir": output dir, "sql": oracle SQL}.
    Returns [(name, reason)] for every query whose output differs."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = []
    for name, c in checks.items():
        try:
            got = con.execute(
                f"SELECT * FROM '{c['dir']}/*.parquet'").fetch_arrow_table()
            want = con.execute(c["sql"]).fetch_arrow_table()
            why = compare(want, got)
        except Exception as e:  # a broken output or SQL is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            bad.append((name, why))
    con.close()
    return bad
