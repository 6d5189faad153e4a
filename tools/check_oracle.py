#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run graft.Verify via
sbt, then execute each oracle SQL in DuckDB over the same testdata and
compare row counts, column names, and a canonical value hash.

Usage: python3 tools/check_oracle.py [sfdir] [outdir] [--skip-verify] [query...]
Named queries limit both the Spark run and the compare.
"""
import duckdb, glob, hashlib, json, math, os, subprocess, sys

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
flags = [a for a in sys.argv[3:]]
only = [a for a in flags if not a.startswith("--")]

if "--skip-verify" not in flags:
    # trailing names limit the Spark run too; none runs every query
    r = subprocess.run(
        ["sbt", "-batch", " ".join(["runMain graft.Verify", SF, OUT] + only)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print(tail); sys.exit(1)
    print("[verify ran]")

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return repr(v)
    if isinstance(v, bool): return "true" if v else "false"
    if isinstance(v, bytes): return v.hex()
    return str(v)

def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for l in lines: h.update(l.encode()); h.update(b"\n")
    return h.hexdigest()[:16]

fails = []
# union of oracle keys and Verify output dirs so rows-only queries still
# get existence + row-count checks
out_dirs = {os.path.basename(d) for d in glob.glob(f"{OUT}/*") if os.path.isdir(d)}
names = only or sorted(set(oracle.keys()) | out_dirs)
for name in names:
    spark_dir = f"{OUT}/{name}"
    pq = glob.glob(f"{spark_dir}/*.parquet")
    if not pq:
        print(f"FAIL {name}: no spark output"); fails.append(name); continue
    sdf = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'")
    scols, srows = [c.lower() for c in sdf.columns], sdf.fetchall()
    # the driver canonicalizes decimal values scale-insensitively on one
    # side only, so ANY fixed-scale DECIMAL output column is hash-unsafe
    # (44506.10 vs 44506.1) — flag it before the driver does
    dec_cols = [c for c, t in zip(sdf.columns, sdf.types) if "DECIMAL" in str(t).upper()]
    if dec_cols:
        print(f"FAIL {name}: DECIMAL output columns {dec_cols} — hash-unsafe "
              f"under driver canonicalization; final-project as ROUND(CAST(col AS DOUBLE), n)")
        fails.append(name); continue
    # the driver's pandas canonicalization cannot hash LIST/STRUCT/MAP
    # values (embed_quantize r2: 'unhashable type: numpy.ndarray') — flag
    # complex output columns before the driver errors on them
    cplx_cols = [c for c, t in zip(sdf.columns, sdf.types)
                 if any(k in str(t).upper() for k in ("[]", "STRUCT", "MAP", "LIST"))]
    if cplx_cols:
        print(f"FAIL {name}: complex-typed output columns {cplx_cols} — the driver "
              f"cannot canonicalize them; project as a joined string or hash")
        fails.append(name); continue
    if name not in oracle:
        if len(srows) == 0:
            print(f"FAIL {name}: rows-only query returned 0 rows"); fails.append(name)
        else:
            print(f"rows-only {name}: {len(srows)} rows")
        continue
    try:
        odf = con.sql(oracle[name])
        ocols, orows = [c.lower() for c in odf.columns], odf.fetchall()
    except Exception as e:
        print(f"FAIL {name}: oracle error {str(e)[:200]}"); fails.append(name); continue
    # round-4 escape class: DuckDB promotes SUM(BIGINT) and HUGEINT `//`
    # to INT128; local fetchall() yields exact Python ints so the replica
    # passes, but the driver's pandas canonicalization renders INT128 via
    # float64 (60000.0 vs 60000) and the hash diverges. Same for DECIMAL
    # (round-1 class). Any non-canonical-width oracle output type fails
    # HERE, before the driver ever sees it.
    bad_otypes = [f"{c}:{t}" for c, t in zip(odf.columns, odf.types)
                  if any(k in str(t).upper()
                         for k in ("HUGEINT", "INT128", "DECIMAL"))]
    if bad_otypes:
        print(f"FAIL {name}: oracle output columns {bad_otypes} — driver "
              f"canonicalizes HUGEINT/DECIMAL via float64; wrap in "
              f"CAST(... AS BIGINT) (or ROUND(CAST(... AS DOUBLE), n))")
        fails.append(name); continue
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    elif len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    elif table_hash(srows, scols) != table_hash(orows, ocols):
        problems.append("value hash mismatch")
        so = sorted(["|".join(canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows])
        oo = sorted(["|".join(canon(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows])
        diffs = [(a, b) for a, b in zip(so, oo) if a != b][:3]
        for a, b in diffs:
            problems.append(f"  spark : {a[:160]}")
            problems.append(f"  oracle: {b[:160]}")
    if problems:
        print(f"FAIL {name}: " + "\n".join(problems)); fails.append(name)
    else:
        print(f"OK   {name}: {len(srows)} rows")

print(f"\n{len(names)-len(fails)}/{len(names)} pass")
sys.exit(1 if fails else 0)
