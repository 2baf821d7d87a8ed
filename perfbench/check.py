"""Output checks for the benchmark, computed without Spark.

Each function returns a list of failure messages; each message counts as
one failed operation in the run's error rate.

- Profiles are recomputed with pandas from the same file Spark read.
- Answers are recomputed with pandas from the spec each question was
  generated from (gen.py), not from graft's parse of the text.
- Curation line outputs are checked against their DuckDB oracles
  (`SparkEntry.oracleSql`) in both of tools/compare_oracle.py's modes;
  the written shards against the same gate and dedup written in SQL.
"""
import json
import math
import os
import sys

import numpy as np
import pandas as pd

REL = 1e-9


def close(a, b, rel=REL, abs_tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_tol)


def clean(v):
    """pandas/numpy scalar → plain Python (NaN → None)."""
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    return v


# ---------------------------------------------------------------- profile

def check_profile(tag, ins, df):
    errs = []

    def bad(msg):
        errs.append(f"{tag} profile: {msg}")

    if ins["row_count"] != len(df):
        bad(f"row_count {ins['row_count']} != {len(df)}")
    kinds = ins["kinds"]
    for c in ins["columns"]:
        name = c["name"]
        s = df[name]
        if c["nulls"] != int(s.isna().sum()):
            bad(f"{name} nulls {c['nulls']} != {int(s.isna().sum())}")
        if c["unique"] != int(s.nunique(dropna=True)):
            bad(f"{name} unique {c['unique']} != {int(s.nunique())}")
        if kinds.get(name) == "numeric":
            v = s.dropna().astype(float).to_numpy()
            q = np.percentile(v, [25, 50, 75])
            want = {"min": v.min(), "max": v.max(), "mean": v.mean(),
                    "std": v.std(ddof=1), "p25": q[0], "median": q[1],
                    "p75": q[2]}
            for k, w in want.items():
                if not close(c[k], w, rel=1e-9, abs_tol=1e-9):
                    bad(f"{name} {k} {c[k]} != {w}")
        elif kinds.get(name) == "categorical":
            vc = s.dropna().astype(str).value_counts()
            top = sorted(vc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            got = [(v, n) for v, n in c.get("frequent", [])]
            if got != [(v, int(n)) for v, n in top]:
                bad(f"{name} frequent values {got[:3]}... != {top[:3]}...")
    numeric = [c["name"] for c in ins["columns"]
               if kinds.get(c["name"]) == "numeric"]
    for i, a in enumerate(numeric):
        for b in numeric[i + 1:]:
            w = df[[a, b]].astype(float).corr().iloc[0, 1]
            g = ins["correlations"].get(f"{a}-{b}")
            if not close(g, clean(w), rel=1e-6, abs_tol=1e-9):
                bad(f"corr {a}-{b} {g} != {w}")
    return errs


# ---------------------------------------------------------------- answers

def _mask(df, filters):
    m = pd.Series(True, index=df.index)
    for col, op, v in filters:
        s = df[col]
        if op == "=":
            m &= s == v
        else:
            x = float(v)
            m &= (s > x) if op == ">" else (s >= x)
    return m


def _holds(row, filters):
    for col, op, v in filters:
        x = row.get(col)
        if x is None:
            return False
        if op == "=" and x != v:
            return False
        if op == ">" and not x > float(v):
            return False
        if op == ">=" and not x >= float(v):
            return False
    return True


def _norm(v):
    """A cell as text: numbers by float value, missing as 'nan'."""
    if v is None:
        return "nan"
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return str(float(v))
    return str(v)


class Answers:
    """Recomputes answers over one dataset; caches per-column values."""

    def __init__(self, df):
        self.df = df
        self.values = {}

    def known(self, col, v):
        """Whether `v` occurs in column `col`."""
        if col not in self.values:
            s = self.df[col]
            if pd.api.types.is_numeric_dtype(s):
                s = s.astype(float)
            self.values[col] = set(s.astype(str))
        return _norm(v) in self.values[col]

    def check(self, spec, resp):
        """None if `resp` answers `spec`, else a message."""
        df = self.df
        op = spec["op"]
        if op in ("viz_num", "viz_cat"):
            p = json.loads(resp)
            labels = p["data"]["labels"]
            data = p["data"]["datasets"][0]["data"]
            if op == "viz_num":
                if labels != spec["cols"]:
                    return f"labels {labels} != {spec['cols']}"
                for c, v in zip(labels, data):
                    s = df[c].dropna()
                    if not (s.min() - 1e-9 <= v <= s.max() + 1e-9):
                        return f"average of {c} {v} outside its range"
                return None
            values = set(df[spec["col"]].dropna()) | {None}
            if not set(labels) <= values or len(labels) != len(data):
                return f"labels {labels[:3]} not values of {spec['col']}"
            if sum(data) != min(100, len(df)):
                return f"counts sum to {sum(data)}, not {min(100, len(df))}"
            return None
        rows = json.loads(resp)
        if op == "agg":
            d = df[_mask(df, spec["filters"])]
            col, fn, by = spec["col"], spec["fn"], spec["by"]
            key = {"mean": "mean", "sum": "sum", "count": "count"}[fn] + "_" + col
            if by is None:
                s = d[col]
                want = {None: {"mean": s.mean(), "sum": s.sum(min_count=1),
                               "count": s.count()}[fn]}
                got = {None: rows[0].get(key)} if len(rows) == 1 else {}
            else:
                g = d.groupby(by, dropna=False)[col]
                agg = {"mean": g.mean(), "sum": g.sum(min_count=1),
                       "count": g.count()}[fn]
                want = {clean(k): v for k, v in agg.items()}
                got = {r.get(by): r.get(key) for r in rows}
            if set(got) != set(want):
                return f"groups {sorted(map(str, got))} != {sorted(map(str, want))}"
            for k, w in want.items():
                w = clean(w)
                if fn == "count":
                    if got[k] != w:
                        return f"{key}[{k}] {got[k]} != {w}"
                elif not close(got[k], w, rel=1e-9, abs_tol=1e-6):
                    return f"{key}[{k}] {got[k]} != {w}"
            return None
        if op == "sort":
            col = spec["col"]
            want = df[col].sort_values(ascending=not spec["desc"]).head(100)
            got = [r.get(col) for r in rows]
            if got != [clean(v) for v in want]:
                return f"sorted {col} differs"
            return None
        if op == "rows":
            n = int(_mask(df, spec["filters"]).sum())
            if len(rows) != min(spec["limit"], n):
                return f"{len(rows)} rows, expected {min(spec['limit'], n)}"
            for r in rows:
                if set(r) - set(spec["cols"]):
                    return f"unexpected columns {sorted(r)}"
                if not _holds(r, spec["filters"]):
                    return f"row {r} fails {spec['filters']}"
                if not all(self.known(c, r.get(c)) for c in spec["cols"]):
                    return f"row {r} is not in the data"
            return None
        return f"unknown spec {op}"


def check_conversation(tag, answers, questions, responses):
    errs = []
    for r in responses:
        q = questions[r["index"]]
        try:
            msg = answers.check(q["spec"], r["response"])
        except Exception as e:  # a malformed response is a wrong answer
            msg = f"unreadable response: {e}"
        if msg:
            errs.append(f"{tag} q{r['index']} '{q['text']}': {msg}")
    return errs


# -------------------------------------------------------------- workloads

def read_upload(path):
    return pd.read_csv(path, keep_default_na=False, na_values=[""])


def check_insights(manifest, report):
    errs = []
    sessions = {s["id"]: s for s in manifest["sessions"]}
    data = {}
    for p in report["profiles"]:
        sid = p["session"]
        data[sid] = read_upload(sessions[sid]["csv"])
        kinds = p["insights"]["kinds"]
        for c in ("row_id", "units", "price", "markdown", "revenue", "rating"):
            if kinds.get(c) != "numeric":
                errs.append(f"{sid} profile: {c} typed {kinds.get(c)}")
        errs += check_profile(sid, p["insights"], data[sid])
    by_session = {}
    for r in report["responses"]:
        by_session.setdefault(r["session"], []).append(r)
    for sid, rs in by_session.items():
        errs += check_conversation(sid, Answers(data[sid]),
                                   sessions[sid]["questions"], rs)
    return errs


SHARDS_SQL = r"""
WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
g AS (
  SELECT doc_id, n_chars,
    len(list_filter(regexp_split_to_array(lower(text), '[ \t\n\f\r]+'),
                    x -> x <> '')) AS nt,
    length(regexp_replace(lower(text), '[ \t\n\f\r]', '', 'g')) AS tc,
    length(regexp_replace(text, '[a-zA-Z0-9 \t\n\f\r]', '', 'g')) AS pc,
    length(text) AS nc
  FROM documents WHERE doc_id IN (SELECT doc_id FROM surv))
SELECT CAST(doc_id % 8 AS INTEGER) AS shard, count(*) AS n,
       CAST(sum(doc_id) AS BIGINT) AS ids, CAST(sum(n_chars) AS BIGINT) AS chars
FROM g
WHERE nt BETWEEN 10 AND 500
  AND (CASE WHEN nt > 0 THEN tc / nt ELSE 0 END) BETWEEN 2 AND 10
  AND (CASE WHEN nc > 0 THEN pc / nc ELSE 0 END) <= 0.05
GROUP BY 1 ORDER BY 1
"""


def oracle_repr(con, path, sql):
    """tools/compare_oracle.py's default mode for one dump."""
    from compare_oracle import norm
    got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    got_cols = sorted(got.columns)
    got_rows = con.sql(
        "SELECT " + ", ".join(f'"{c}"' for c in got_cols) +
        f" FROM '{path}/*.parquet' ORDER BY ALL").fetchall()
    exp_cols = sorted(con.sql(sql).columns)
    exp_rows = con.execute(
        "SELECT " + ", ".join(f'"{c}"' for c in exp_cols) +
        f" FROM ({sql}) ORDER BY ALL").fetchall()
    if got_cols != exp_cols:
        return f"columns {got_cols} != {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return f"rowcount {len(got_rows)} != {len(exp_rows)}"
    for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
        if tuple(map(norm, g)) != tuple(map(norm, e)):
            return f"row {i} differs: got {g} exp {e}"
    return None


CLOSURE_END = "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"


def _components(pairs):
    """Connected components of an edge list, labelled by their least id
    (what the oracles' recursive closure computes)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"id": list(parent), "component":
                         [find(x) for x in parent]}, dtype="int64")


def expected(con, line, sql, oracles, key):
    """Materializes `line`'s oracle result as a table; returns its name.

    Results persist in the connection's database keyed by input and SQL,
    so an input seen before is not recomputed. q133's oracle closes q17's
    pairs with a recursive CTE that DuckDB needs ~50 s for at 5,000
    documents; when its SQL has that shape, the closure is computed here
    by union-find over the q17 oracle's pairs (q133's pair CTE is q17's),
    and the rest of q133's own SQL runs unchanged on top of it.
    """
    import hashlib
    h = hashlib.sha256((key + sql).encode()).hexdigest()[:20]
    table = f"exp_{h}"
    if con.sql(f"SELECT count(*) FROM duckdb_tables() "
               f"WHERE table_name = '{table}'").fetchone()[0]:
        return table
    if (line == "q133_leakage_split" and CLOSURE_END in sql
            and "q17_minhash_pairs" in oracles):
        pairs = con.sql(f"SELECT id_a, id_b FROM "
                        f"{expected(con, 'q17_minhash_pairs', oracles['q17_minhash_pairs'], oracles, key)}").fetchall()
        comp = _components(pairs)
        con.register("comp_df", comp)
        con.execute("CREATE OR REPLACE TEMP TABLE comp AS SELECT * FROM comp_df")
        sql = "WITH " + sql[sql.index(CLOSURE_END) + len(CLOSURE_END):].lstrip(",\n ")
    con.execute(f"CREATE TABLE {table} AS {sql}")
    return table


def check_curation(root, state, manifest, report):
    import duckdb
    import hashlib
    sys.path.insert(0, os.path.join(root, "tools"))
    from compare_oracle import driver_compare
    errs = []
    work = os.path.dirname(manifest["data_dir"])
    docs = os.path.join(manifest["data_dir"], "documents.parquet")
    with open(docs, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()
    con = duckdb.connect(os.path.join(state, "oracle.duckdb"))
    # twice the cores: the oracles' md5-heavy scans run faster oversubscribed
    con.execute(f"SET threads = {2 * (os.cpu_count() or 1)}")
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{docs}'")
    dump = os.path.join(work, "dump")
    oracles = report["oracle_sql"]
    for line, sql in sorted(oracles.items()):
        if not os.path.isdir(os.path.join(dump, line)):
            continue  # the failed warm-up already counted
        try:
            exp = f"SELECT * FROM {expected(con, line, sql, oracles, key)}"
        except Exception as e:
            errs.append(f"{line} oracle: error: {e}")
            continue
        for mode, fn in (("repr", lambda: oracle_repr(
                con, os.path.join(dump, line), exp)),
                ("driver", lambda: driver_compare(line, dump, con, exp))):
            try:
                msg = fn()
            except Exception as e:
                msg = f"error: {e}"
            if msg:
                errs.append(f"{line} oracle ({mode}): {msg}")
    missing = set(report["digests"]) - set(oracles)
    errs += [f"{m}: no oracle SQL" for m in sorted(missing)]
    shards = os.path.join(work, "shards.parquet")
    if os.path.isdir(shards):
        got = con.sql(
            "SELECT CAST(shard AS INTEGER) AS shard, count(*) AS n, "
            "CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT) FROM "
            f"read_parquet('{shards}/*/*.parquet', hive_partitioning = true) "
            "GROUP BY 1 ORDER BY 1").fetchall()
        if got != con.sql(SHARDS_SQL).fetchall():
            errs.append("write_shards: shard contents differ from the "
                        "gated, deduplicated corpus")
        import pyarrow.dataset as ds
        df = ds.dataset(shards, format="parquet",
                        partitioning="hive").to_table().to_pandas()
        for p in report["profiles"]:
            errs += check_profile(p["session"], p["insights"], df)
        by_pass = {}
        for r in report["responses"]:
            by_pass.setdefault(r["session"], []).append(r)
        answers = Answers(df)
        for pid, rs in by_pass.items():
            errs += check_conversation(pid, answers, manifest["questions"], rs)
    return errs
