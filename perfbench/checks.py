"""Output checks, made apart from the program and after the timed work.

Batch: each query's parquet result against DuckDB running the query's
`SparkEntry.oracleSql` over the same input parquet, canonicalised as
the engine's DuckDB gate does (columns ordered by name, rows sorted,
integer dtype parity, exact cells).

Stream: bronze, quarantine and gold against the generator's own record
of what it emitted (see `check_stream`).

Each check returns a list of failure strings; empty means correct.
"""
import glob
import math
import os

import duckdb

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}


def _connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: [repr(x) for x in t])


def _cell_equal(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def check_batch(data_dir, record, threads):
    con = _connect(threads)
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    outputs, oracle = record["check"]["outputs"], record["check"]["oracle"]
    fails = []
    for name in sorted(outputs):
        if name not in oracle:
            fails.append(f"{name}: no oracle SQL")
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{outputs[name]}/*.parquet')")
            gcols, gtypes, grows = got.columns, [str(t) for t in got.types], got.fetchall()
            exp = con.sql(oracle[name])
            ecols, etypes, erows = exp.columns, [str(t) for t in exp.types], exp.fetchall()
        except Exception as ex:  # a broken oracle or unreadable output is a failed check
            fails.append(f"{name}: {ex}")
            continue
        etype = dict(zip(ecols, etypes))
        drift = [(c, t, etype[c]) for c, t in zip(gcols, gtypes)
                 if c in etype and t != etype[c] and (t in INT_TYPES or etype[c] in INT_TYPES)]
        if drift:
            fails.append(f"{name}: integer dtype drift {drift}")
            continue
        gc, gr = _canon(grows, gcols)
        ec, er = _canon(erows, ecols)
        if gc != ec:
            fails.append(f"{name}: columns {gc} vs {ec}")
        elif len(gr) != len(er):
            fails.append(f"{name}: {len(gr)} rows vs oracle {len(er)}")
        else:
            bad = next((i for i, (a, b) in enumerate(zip(gr, er))
                        if not all(_cell_equal(x, y) for x, y in zip(a, b))), None)
            if bad is not None:
                fails.append(f"{name}: row {bad}: spark={gr[bad]} duckdb={er[bad]}")
    return fails


TYPES = [("view", "views"), ("click", "clicks"), ("purchase", "purchases"),
         ("signup", "signups"), ("error", "errors")]


def check_stream(record, threads):
    """Against the generator's record of every event it emitted:

    - bronze holds each valid event exactly once, quarantine each
      invalid one exactly once;
    - gold (user, minute) keys are unique;
    - per key and event type, the count over valid events that are not
      late <= the gold count <= the count over all valid events;
    - every valid event is counted once in gold or reported dropped by
      a stateful operator's watermark.
    """
    c = record["check"]
    if c.get("error"):
        return [f"stream: {c['error']}"]
    con = _connect(threads)
    con.execute(f"""CREATE VIEW gen AS
        SELECT *, date_trunc('minute', CAST(replace(event_ts, 'Z', '') AS TIMESTAMP)) AS minute
        FROM read_csv('{c['generated']}', header = true,
          columns = {{'event_id': 'VARCHAR', 'valid': 'BOOLEAN', 'late': 'BOOLEAN',
                      'user_id': 'VARCHAR', 'event_type': 'VARCHAR', 'event_ts': 'VARCHAR'}})""")
    for sink in ("bronze", "quarantine", "gold"):
        con.execute(f"CREATE VIEW {sink} AS SELECT * FROM read_parquet('{c[sink]}/*.parquet')")
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    fails = []

    def same_multiset(label, a, b):
        extra = q(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})")[0][0]
        missing = q(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})")[0][0]
        if extra or missing:
            fails.append(f"{label}: {extra} unexpected rows, {missing} missing")

    same_multiset("bronze", "SELECT event_id FROM bronze", "SELECT event_id FROM gen WHERE valid")
    same_multiset("quarantine",
                  "SELECT json_extract_string(raw_value, '$.event_id') FROM quarantine",
                  "SELECT event_id FROM gen WHERE NOT valid")

    dup = q("SELECT count(*) - count(DISTINCT (user_id, window_start)) FROM gold")[0][0]
    if dup:
        fails.append(f"gold: {dup} duplicate (user_id, window_start) keys")

    bounds = ",\n".join(
        f"count(*) FILTER (WHERE event_type = '{t}' AND NOT late) AS lo_{col},"
        f" count(*) FILTER (WHERE event_type = '{t}') AS hi_{col}" for t, col in TYPES)
    con.execute(f"""CREATE VIEW expect AS SELECT user_id, minute, {bounds}
                    FROM gen WHERE valid GROUP BY user_id, minute""")
    # a gold key the generator never produced, or a generated key whose
    # gold counts fall outside [lo, hi] (a missing gold row counts 0)
    outside = " OR ".join(
        f"coalesce(g.{col}, 0) < e.lo_{col} OR coalesce(g.{col}, 0) > e.hi_{col}"
        for _, col in TYPES)
    bad = q(f"""SELECT count(*) FROM gold g
                FULL OUTER JOIN expect e
                  ON g.user_id = e.user_id AND g.window_start = e.minute
                WHERE e.user_id IS NULL OR {outside}""")[0][0]
    if bad:
        fails.append(f"gold: {bad} (user, minute) keys outside the generator's bounds")

    counted = q("SELECT coalesce(sum(" + " + ".join(col for _, col in TYPES) + "), 0) FROM gold")[0][0]
    valid = q("SELECT count(*) FROM gen WHERE valid")[0][0]
    if counted + c["wm_dropped"] != valid:
        fails.append(f"gold: {counted} counted + {c['wm_dropped']} dropped by watermark"
                     f" != {valid} valid events")
    return fails
