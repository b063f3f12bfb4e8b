"""Output check of the entry_mix workload: each sampled query's output,
written by the warm pass, against its `SparkEntry.oracleSql` run by DuckDB
on the same parquet tables. Columns are compared sorted by name, rows
sorted, values and dtypes exactly. A query without oracle SQL must return
rows."""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(x):
    if isinstance(x, (list, tuple)):
        return tuple(_canon(y) for y in x)
    if hasattr(x, "tolist") and not isinstance(x, (str, bytes)):
        t = x.tolist()
        return tuple(_canon(y) for y in t) if isinstance(t, list) else t
    return x


def _rows(df):
    out = [tuple(_canon(x) for x in r) for r in df.itertuples(index=False)]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def check_outputs(outputs, data_dir):
    """`outputs`: records with name, ok, error, path, oracle_sql. Returns one
    {"name", "ok", "detail"} per output."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    results = []
    for o in outputs:
        name = o["name"]
        if not o["ok"]:
            results.append({"name": name, "ok": False, "detail": f"failed: {o['error']}"})
            continue
        try:
            if not glob.glob(os.path.join(o["path"], "*.parquet")):
                results.append({"name": name, "ok": False, "detail": "no output files"})
                continue
            got = con.execute(f"SELECT * FROM '{o['path']}/*.parquet'").fetchdf()
            got = got.reindex(sorted(got.columns), axis=1)
            if o.get("oracle_sql") is None:
                results.append({"name": name, "ok": len(got) > 0,
                                "detail": f"no oracle, rows={len(got)}"})
                continue
            exp = con.execute(o["oracle_sql"]).fetchdf()
            exp = exp.reindex(sorted(exp.columns), axis=1)
            schema = list(got.columns) == list(exp.columns)
            dtypes = schema and all(str(got[c].dtype) == str(exp[c].dtype) for c in got.columns)
            rows = _rows(got) == _rows(exp)
            results.append({"name": name, "ok": schema and dtypes and rows,
                            "detail": f"rows={len(got)}/{len(exp)} schema={schema} "
                                      f"dtypes={dtypes} values={rows}"})
        except Exception as e:  # a broken output is a wrong output
            results.append({"name": name, "ok": False, "detail": f"{type(e).__name__}: {e}"})
    return results
