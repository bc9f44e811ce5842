#!/usr/bin/env python3
"""Local pre-check mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each <name>/ parquet dir under verifyOutDir, runs the matching SQL
from oracle_sql.json in DuckDB (tables = parquet files in sfDir), then
compares: row count, sorted-by-name column list, Arrow type families,
and cell values (rows sorted, NaN-safe, exact for non-floats, tight
tolerance for floats so we notice any nondeterminism before the driver
does).

Each OK line ends with the SHA-256 of the query's Spark rows in the
canonical order (columns by name, rows sorted), so two runs' outputs
are hash-identical iff their OK listings diff clean.

The Arrow-type check exists because the driver's hash path goes through
Arrow: a DuckDB HUGEINT (e.g. an uncast window SUM) surfaces as
decimal128(38,0) there and hash-mismatches Spark's int64 even when every
Python-level value compares equal — exactly the d12 r04/r05 flag.
"""
import hashlib, json, math, sys, glob, os
import duckdb
import pyarrow.parquet as pq
import pyarrow.types as pt

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def norm(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    if isinstance(v, (list, tuple)): return tuple(norm(x) for x in v)
    return v

def family(t):
    if pt.is_integer(t): return "int"
    if pt.is_floating(t): return "float"
    if pt.is_decimal(t): return f"decimal({t.precision},{t.scale})"
    if pt.is_boolean(t): return "bool"
    if pt.is_string(t) or pt.is_large_string(t): return "string"
    if pt.is_timestamp(t): return "timestamp"
    if pt.is_date(t): return "date"
    if pt.is_list(t) or pt.is_large_list(t): return f"list<{family(t.value_type)}>"
    if pt.is_binary(t) or pt.is_large_binary(t): return "binary"
    if pt.is_null(t): return "null"
    return str(t)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))

fail = 0
for name in sorted(oracle):
    d = f"{out_dir}/{name}"
    files = glob.glob(f"{d}/*.parquet")
    if not files:
        print(f"MISSING  {name}"); fail += 1; continue
    tbl = pq.read_table(d)
    spark_cols = list(tbl.column_names)
    spark_rows = [tuple(row[c] for c in spark_cols) for row in tbl.to_pylist()]
    try:
        res = con.execute(oracle[name])
        duck_cols = [c[0] for c in res.description]
        duck_rows = res.fetchall()
        duck_arrow = con.execute(oracle[name]).arrow()
    except Exception as e:
        print(f"SQLERR   {name}: {e}"); fail += 1; continue
    if sorted(spark_cols) != sorted(duck_cols):
        print(f"COLS     {name}: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        fail += 1; continue
    tmis = []
    for c in spark_cols:
        fs = family(tbl.schema.field(c).type)
        fd = family(duck_arrow.schema.field(c).type)
        if fs != fd and "null" not in (fs, fd):
            tmis.append(f"{c}: spark={fs} duck={fd}")
    if tmis:
        print(f"TYPE     {name}: " + "; ".join(tmis))
        fail += 1; continue
    if len(spark_rows) != len(duck_rows):
        print(f"ROWS     {name}: spark={len(spark_rows)} duck={len(duck_rows)}")
        fail += 1; continue
    a, b = canon(spark_rows, spark_cols), canon(duck_rows, duck_cols)
    bad = None
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra != rb:
            ok = len(ra) == len(rb) and all(
                (x == y) or (isinstance(x, float) and isinstance(y, float)
                             and x == y)
                for x, y in zip(ra, rb))
            if not ok:
                bad = (i, ra, rb); break
    if bad:
        print(f"VALS     {name}: row {bad[0]}\n  spark={bad[1]}\n  duck ={bad[2]}")
        fail += 1
    else:
        digest = hashlib.sha256(repr(a).encode()).hexdigest()
        print(f"OK       {name} ({len(spark_rows)} rows) {digest}")
print(f"\n{'FAIL' if fail else 'PASS'}: {len(oracle)-fail}/{len(oracle)}")
sys.exit(1 if fail else 0)
