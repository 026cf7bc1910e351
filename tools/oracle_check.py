#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
through DuckDB oracles and compare (sort columns by name, sort rows, compare
values). Usage: oracle_check.py <sfDir> <verifyOutDir>
Run Verify first:  sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/vout"

After the verdicts it prints the ten slowest gates, split into reading the
Spark output, running the DuckDB oracle query and comparing the rows.
"""
import sys, json, glob, os, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        # canonicalize -0.0 and NaN; keep full precision otherwise
        if v != v:
            return "NaN"
        return v + 0.0
    return v

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    timings = {}  # name -> [read_s, oracle_s, compare_s]
    # Full registered-query list: a manifest entry with no output dir is a
    # crashed query — count it as FAIL instead of silently dropping it.
    dir_names = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{out_dir}/*/")}
    manifest_path = f"{out_dir}/_manifest.json"
    if os.path.exists(manifest_path):
        names = sorted(set(json.load(open(manifest_path))) | dir_names)
    else:
        names = sorted(dir_names)
    for name in names:
        qdir = f"{out_dir}/{name}/"
        if name not in dir_names:
            results[name] = "NO-OUTPUT (query crashed in Verify)"
            continue
        t = timings[name] = [0.0, 0.0, 0.0]
        t0 = time.perf_counter()
        try:
            got = con.execute(f"SELECT * FROM '{qdir}*.parquet'").fetch_arrow_table()
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            continue
        finally:
            t[0] = time.perf_counter() - t0
        if name not in oracle:
            results[name] = f"rows-only: {got.num_rows} rows"
            continue
        t0 = time.perf_counter()
        try:
            exp = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            results[name] = f"ORACLE-FAIL {str(e)[:200]}"
            continue
        finally:
            t[1] = time.perf_counter() - t0
        t0 = time.perf_counter()
        g_cols, e_cols = sorted(got.column_names), sorted(exp.column_names)
        if g_cols != e_cols:
            results[name] = f"COLS-MISMATCH spark={g_cols} oracle={e_cols}"
            continue
        if got.num_rows != exp.num_rows:
            results[name] = f"ROWCOUNT-MISMATCH spark={got.num_rows} oracle={exp.num_rows}"
            continue
        g = sorted([tuple(norm(v) for v in row) for row in zip(*[got.column(c).to_pylist() for c in g_cols])])
        e = sorted([tuple(norm(v) for v in row) for row in zip(*[exp.column(c).to_pylist() for c in e_cols])])
        # Arrow-level type drift (e.g. DuckDB HUGEINT -> decimal128 vs Spark
        # int64) can fail the driver's hasher even when values are equal.
        tdiff = [f"{c}: spark={got.schema.field(c).type} oracle={exp.schema.field(c).type}"
                 for c in g_cols if str(got.schema.field(c).type) != str(exp.schema.field(c).type)]
        if g == e and tdiff:
            results[name] = f"TYPE-DRIFT {'; '.join(tdiff)}"
        elif g == e:
            results[name] = f"OK ({got.num_rows} rows)"
        else:
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b][:3]
            results[name] = f"VALUE-MISMATCH cols={g_cols} first_diffs={bad}"
        t[2] = time.perf_counter() - t0
    n_ok = sum(1 for v in results.values() if v.startswith("OK") or v.startswith("rows-only"))
    for k, v in sorted(results.items()):
        mark = "PASS" if v.startswith("OK") or v.startswith("rows-only") else "FAIL"
        print(f"[{mark}] {k}: {v[:400]}")
    slowest = sorted(timings.items(), key=lambda kv: -sum(kv[1]))[:10]
    print(f"\nslowest gates (s): total = read + oracle + compare; "
          f"all {len(timings)}: read {sum(t[0] for t in timings.values()):.2f}, "
          f"oracle {sum(t[1] for t in timings.values()):.2f}, "
          f"compare {sum(t[2] for t in timings.values()):.2f}")
    for k, (r, o, c) in slowest:
        print(f"  {k}: {r + o + c:.2f} = {r:.2f} + {o:.2f} + {c:.2f}")
    print(f"\n{n_ok}/{len(results)} pass")
    return 0 if n_ok == len(results) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
