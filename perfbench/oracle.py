"""Output checks: catalog results against their DuckDB oracle SQL, and the
dispatch workload's exactly-once invariants against an independent DuckDB
count over the same lineitem table."""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _kind(t):
    """Value class of a DuckDB type; integer widths compare equal, as the
    driver's hash sees Python ints."""
    t = str(t)
    for prefix, kind in (("HUGEINT", "hugeint"), ("DECIMAL", "decimal"),
                         ("TIMESTAMP", "timestamp")):
        if t.startswith(prefix):
            return kind
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
             "UINTEGER", "UBIGINT"):
        return "integer"
    return "float" if t in ("FLOAT", "DOUBLE") else t


def _normalized(rel, cols, alias):
    """The relation's columns in name order, NaN read as NULL."""
    exprs = []
    for c in cols:
        q = '"' + c.replace('"', '""') + '"'
        kind = _kind(rel.types[rel.columns.index(c)])
        exprs.append(f"CASE WHEN isnan({q}) THEN NULL ELSE {q} END AS {q}"
                     if kind == "float" else q)
    return f"SELECT {', '.join(exprs)} FROM {alias}"


def compare(con, spark, duck):
    """None if the two relations hold the same multiset of rows over the
    same columns with the same value classes (the driver's hash compare:
    columns by name, typed values, row order ignored), else why not."""
    if sorted(spark.columns) != sorted(duck.columns):
        return f"columns {sorted(spark.columns)} != {sorted(duck.columns)}"
    cols = sorted(spark.columns)
    kinds = [(c, _kind(spark.types[spark.columns.index(c)]),
              _kind(duck.types[duck.columns.index(c)])) for c in cols]
    bad = [k for k in kinds if k[1] != k[2]]
    if bad:
        return f"column types differ (name, spark, oracle): {bad}"
    spark.create_view("pb_spark", replace=True)
    duck.create_view("pb_oracle", replace=True)
    n_s = con.sql("SELECT count(*) FROM pb_spark").fetchone()[0]
    n_d = con.sql("SELECT count(*) FROM pb_oracle").fetchone()[0]
    if n_s != n_d:
        return f"rows {n_s} != {n_d}"
    a, b = _normalized(spark, cols, "pb_spark"), _normalized(duck, cols, "pb_oracle")
    diff = con.sql(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    return f"{diff} of {n_s} rows differ" if diff else None


def check_catalog(con, check_dir, oracle_sql, names):
    """{name: None if the Spark output equals the oracle's, else why}."""
    out = {}
    for name in names:
        path = os.path.join(check_dir, name)
        if not oracle_sql.get(name):
            out[name] = "no oracle SQL"
        elif not os.path.isdir(path):
            out[name] = "no output written"
        else:
            try:
                out[name] = compare(con, con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')"),
                                    con.sql(oracle_sql[name]))
            except Exception as e:  # an oracle that cannot run is a failed check
                out[name] = f"oracle error: {e}"[:300]
    return out


def window_keys(con, lo, hi):
    """Distinct dispatch keys of one window: the fields the transaction id
    is built from (item name, lot, vessel, quantity) as lineitem columns."""
    rows = con.execute(
        "SELECT DISTINCT l_partkey, l_orderkey, l_linenumber, l_suppkey % 3, l_quantity "
        "FROM lineitem WHERE l_orderkey >= ? AND l_orderkey < ?", [lo, hi]).fetchall()
    return set(rows)


def check_dispatch(con, cycles):
    """Check one sequence of cycles that started from empty state. Returns
    {cycle id: None or why}: each cycle dispatches exactly the keys no
    earlier cycle saw (0 for a replayed window), lake rows equal the
    cumulative dispatched rows, and state rows equal the distinct ids."""
    seen, cumulative, out = set(), 0, {}
    for c in cycles:
        if c.get("error") is not None:
            out[c["id"]] = None  # already failed; accounted as an error
            continue
        keys = window_keys(con, c["lo"], c["hi"])
        new = keys - seen
        seen |= keys
        cumulative += c["dispatched"]
        why = []
        if c["eligible"] != len(keys):
            why.append(f"eligible {c['eligible']} != {len(keys)} distinct keys")
        if c["dispatched"] != len(new):
            why.append(f"dispatched {c['dispatched']} != {len(new)} new keys")
        if c.get("replay") and c["dispatched"] != 0:
            why.append(f"replayed window dispatched {c['dispatched']}")
        if c["lake_rows"] != cumulative:
            why.append(f"lake rows {c['lake_rows']} != {cumulative} dispatched so far")
        if c["state_rows"] != len(seen):
            why.append(f"state rows {c['state_rows']} != {len(seen)} distinct ids")
        out[c["id"]] = "; ".join(why) or None
    return out
