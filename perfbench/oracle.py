"""Output check: each unit's Spark result against its DuckDB oracle.

`perfbench.Main` writes each unit's output (one parquet file, in the unit's
output order) and carries the unit's `SparkEntry.oracleSql`. DuckDB runs
that SQL over the same derived inputs; the two results must agree in
column names, dtypes, row count and every value, compared in order with
columns sorted by name (NaN equals NaN, None equals None). Digests of both
sides are recorded. Main's own checks ride along: the sink read-back
(`sink_match`) and the traced-vs-registered output (`untraced_match`).
"""
import glob
import hashlib
import math
import os

import duckdb


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _is_null(v):
    try:
        import pandas as pd
        r = pd.isna(v)
        return bool(r) if not hasattr(r, "__len__") else False
    except (TypeError, ValueError):
        return False


def _digest(df):
    h = hashlib.sha256()
    h.update(repr(list(df.columns)).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(_norm(v) for v in row)).encode())
    return h.hexdigest()[:16]


def _compare(sdf, odf):
    odf = odf[sorted(odf.columns)]
    sdf = sdf[sorted(sdf.columns)]
    if list(odf.columns) != list(sdf.columns):
        return f"columns spark={list(sdf.columns)} oracle={list(odf.columns)}"
    if [str(t) for t in odf.dtypes] != [str(t) for t in sdf.dtypes]:
        return f"dtypes spark={[str(t) for t in sdf.dtypes]} oracle={[str(t) for t in odf.dtypes]}"
    if len(odf) != len(sdf):
        return f"rows spark={len(sdf)} oracle={len(odf)}"
    for c in odf.columns:
        for i, (x, y) in enumerate(zip(sdf[c].tolist(), odf[c].tolist())):
            if x is None or y is None:
                ok = x is None and y is None
            else:
                ok = _norm(x) == _norm(y)
            if not ok and _is_null(x) and _is_null(y):
                ok = True
            if not ok:
                return f"value col={c} row={i} spark={x!r} oracle={y!r}"
    return None


def check(inputs_dir, tables, main_checks):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs_dir, t)}.parquet')")
    out = []
    for c in main_checks:
        rec = {"unit": c["unit"], "ok": False, "detail": None,
               "spark_digest": c.get("digest")}
        try:
            if c.get("error"):
                raise RuntimeError(c["error"])
            if c.get("oracle") is None:
                raise RuntimeError("unit has no oracle SQL")
            files = glob.glob(os.path.join(c["result_dir"], "*.parquet"))
            sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            odf = con.execute(c["oracle"]).fetchdf()
            rec["rows"] = len(odf)
            rec["oracle_digest"] = _digest(odf[sorted(odf.columns)])
            diff = _compare(sdf, odf)
            if diff is None and c.get("sink_match") is False:
                diff = "JSONL read back from the sink differs from the unit's output"
            if diff is None and c.get("untraced_match") is False:
                diff = "traced output differs from the registered unit's output"
            rec["ok"] = diff is None
            rec["detail"] = diff
        except Exception as e:  # noqa: BLE001 - every failure is a failed check
            rec["detail"] = f"{type(e).__name__}: {e}"[:500]
        out.append(rec)
    return out
