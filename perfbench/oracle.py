"""Output checks run after the JVM exits: registry results against the
engine's DuckDB oracle SQL (canonicalized as tools/check.py does), and the
tuned WordCount outputs against the untuned run's."""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _rows(rel):
    cols = [d[0] for d in rel.description]
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted(tuple(_canon(r[i]) for i in idx) for r in rel.fetchall())


def compare(data, check_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = []
    for sql_file in sorted(glob.glob(f"{check_dir}/*.sql")):
        name = os.path.basename(sql_file)[:-4]
        files = sorted(glob.glob(f"{check_dir}/{name}/*.parquet"))
        try:
            got = _rows(con.execute(
                "SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"))
            exp = _rows(con.execute(open(sql_file).read()))
            ok = got == exp
            detail = f"{len(got[1])} rows" if ok else \
                f"spark cols={got[0]} rows={len(got[1])}; oracle cols={exp[0]} rows={len(exp[1])}"
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            ok, detail = False, f"error: {e}"
        out.append({"name": f"oracle.{name}", "ok": ok, "detail": detail, "kinds": [name]})
    return out


def _csv_lines(d):
    lines = []
    for f in sorted(glob.glob(f"{d}/part-*")):
        with open(f) as fh:
            lines += [l for l in fh.read().splitlines() if l]
    return sorted(lines)


def wordcount_outputs(tuner_dir):
    want = _csv_lines(f"{tuner_dir}/untuned")
    iters = sorted(glob.glob(f"{tuner_dir}/out/iter=*"))
    bad = [d for d in iters if _csv_lines(d) != want]
    return {"name": "tuner.output_equals_untuned", "ok": bool(want) and bool(iters) and not bad,
            "detail": f"{len(iters)} iterations, {len(want)} words, {len(bad)} differ",
            "kinds": ["apps.wordcount"]}
