import duckdb, json, glob, sys, math
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# optional third arg: the comma-separated query list graft.Verify took, so a
# partial Verify run is checked for exactly the queries it wrote; with none,
# every oracle is checked. Exits 1 when any query is a MISMATCH or an ERROR.
only = ({n.strip() for n in sys.argv[3].split(",") if n.strip()}
        if len(sys.argv) > 3 else None)
counts = {"MATCH": 0, "MISMATCH": 0, "ERROR": 0}
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
oracles = json.load(open(f"{out}/oracle_sql.json"))
if only is not None:
    for name in sorted(only - oracles.keys()):
        print(f"{name}: ERROR no oracle SQL for this query")
        counts["ERROR"] += 1
    oracles = {k: v for k, v in oracles.items() if k in only}

# Sketch queries whose contract is an epsilon band, not value equality: the
# KLL sketch is value-exact until its first compaction (all of sf0.001/sf0.01),
# then rank-approximate by design — at sf0.1 the quantile VALUES may differ
# from DuckDB's exact quantile_disc within the sketch's rank-error bound.
# Relative tolerance on float cells only; everything else stays exact.
EPS_TOL = {"stats_kll": 0.05, "stats_kll_merged": 0.05}

def norm(df):
    df = df[sorted(df.columns)]
    def r(v):
        if isinstance(v, float):
            return round(v, 6)
        return v
    rows = sorted([tuple(r(v) for v in row) for row in df.itertuples(index=False)], key=lambda x: str(x))
    return rows
def rows_close(a, b, rel):
    # epsilon branch: same shape, non-floats exact, floats within rel
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=rel, abs_tol=rel):
                    return False
            elif va != vb:
                return False
    return True
def canon_type(t):
    # Canonicalize declared types into their pandas-coercion class: the
    # driver's hash is computed over coerced values, so BIGINT vs INTEGER or
    # DOUBLE vs DECIMAL(24,2) hash identically — but HUGEINT coerces to
    # float64 (not int64) and MUST stay a distinct class: a bare sum() over
    # integers in a DuckDB oracle types HUGEINT and fails the driver's hash
    # even when every value is identical (the round-7 lesson).
    s = str(t)
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("FLOAT", "DOUBLE") or s.startswith("DECIMAL"):
        return "float"
    return s
def coltypes(rel):
    return sorted(zip(rel.columns, [canon_type(t) for t in rel.types]))
for name, sql in sorted(oracles.items()):
    try:
        spark_rel = duckdb.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        ora_rel = con.sql(sql)
        ta, tb = coltypes(spark_rel), coltypes(ora_rel)
        spark_df, ora_df = spark_rel.df(), ora_rel.df()
        a, b = norm(spark_df), norm(ora_df)
        eps = EPS_TOL.get(name)
        vals_ok = a == b or (eps is not None and rows_close(a, b, eps))
        ok = vals_ok and ta == tb
        tag = "MATCH" if ok else "MISMATCH"
        counts[tag] += 1
        if ok and eps is not None and a != b:
            tag = f"MATCH (within eps={eps})"
        print(f"{name}: rows {len(a)} vs {len(b)} -> {tag}")
        if ta != tb:
            # diff as dicts keyed by column name: pairwise zip misaligns the
            # report (never the verdict) whenever the column SETS differ
            da, db = dict(ta), dict(tb)
            for c in sorted(set(da) | set(db)):
                va, vb = da.get(c, "<absent>"), db.get(c, "<absent>")
                if va != vb:
                    print(f"  TYPE-MISMATCH {c}: spark {va}  oracle {vb}")
        if not vals_ok:
            for x, y in list(zip(a, b))[:5]:
                if x != y: print("  spark:", x, " oracle:", y)
    except Exception as e:
        print(f"{name}: ERROR {e}")
        counts["ERROR"] += 1
print(", ".join(f"{n} {k}" for k, n in counts.items()))
sys.exit(1 if counts["MISMATCH"] or counts["ERROR"] else 0)
