"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same files and the same question stream. Nothing here touches Spark.

- insights: one CSV upload per session (numeric, categorical and date
  columns with nulls) and a conversation per session. Each question
  carries the spec it was generated from, which is what check.py
  evaluates with pandas.
- curation: a `documents` corpus with the schema and distributions of the
  repository's sf0.1 table (10-100 words from a 31-word vocabulary,
  4.66% near copies, 0.32% exact copies), plus the questions asked about
  the curated shards.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- uploads

UPLOAD_ROWS = 100_000
REGIONS = ["north", "south", "east", "west", "central", "coastal"]
CATEGORIES = ["tools", "toys", "books", "garden", "sports", "music",
              "beauty", "grocery", "office", "games", "pets", "baby"]
CHANNELS = ["web", "store", "phone"]

UPLOAD_SCHEMA = {
    # numeric columns, int-typed ones take int literals in filters
    "numeric": ["units", "price", "markdown", "revenue", "rating"],
    "int": ["units", "rating"],
    "nonnull": ["units", "price"],
    "categorical": {"region": REGIONS, "category": CATEGORIES,
                    "channel": CHANNELS},
}


def write_upload(path, rng, n=UPLOAD_ROWS):
    units = rng.integers(1, 51, n)
    price = np.round(rng.uniform(1.0, 500.0, n), 2)
    markdown = np.round(rng.integers(0, 31, n) / 100.0, 2)
    revenue = np.round(units * price * (1.0 - markdown), 2)
    rating = rng.integers(1, 6, n)
    day = rng.integers(0, 730, n)

    def nulls(rate):
        return rng.random(n) < rate

    def cells(values, fmt, null_mask=None):
        out = [fmt(v) for v in values.tolist()]
        if null_mask is not None:
            for i in np.flatnonzero(null_mask).tolist():
                out[i] = ""
        return out

    md_null = nulls(0.03)
    cols = {
        "row_id": cells(np.arange(n), str),
        "region": cells(rng.integers(0, len(REGIONS), n),
                        lambda i: REGIONS[i], nulls(0.02)),
        "category": cells(rng.integers(0, len(CATEGORIES), n),
                          lambda i: CATEGORIES[i]),
        "channel": cells(rng.integers(0, len(CHANNELS), n),
                         lambda i: CHANNELS[i], nulls(0.05)),
        "ship_date": cells(np.datetime64("2023-01-01") + day,
                           lambda d: str(d), nulls(0.01)),
        "units": cells(units, str),
        "price": cells(price, lambda v: f"{v:.2f}"),
        "markdown": cells(markdown, lambda v: f"{v:.2f}", md_null),
        "revenue": cells(revenue, lambda v: f"{v:.2f}", md_null),
        "rating": cells(rating, str, nulls(0.10)),
    }
    names = list(cols)
    with open(path, "w") as f:
        f.write(",".join(names) + "\n")
        f.write("\n".join(",".join(row) for row in zip(*cols.values())))
        f.write("\n")


# -------------------------------------------------------------- questions

def _lit(col, schema, rng):
    """A comparison literal inside the column's range, typed like it."""
    lo, hi = {"units": (1, 50), "rating": (1, 5), "price": (1, 500),
              "markdown": (0.0, 0.3), "revenue": (1, 20000),
              "n_chars": (60, 700), "doc_id": (0, CORPUS_DOCS)}[col]
    if col in schema["int"]:
        return str(int(rng.integers(lo, hi + 1)))
    if col == "markdown":
        return f"{rng.integers(0, 31) / 100:.2f}"
    return str(int(rng.integers(lo, hi + 1)))


KINDS = ["agg_by", "agg_by", "agg_by_filter", "agg_global", "filter_rows",
         "cat_filter", "sort", "viz_num", "viz_cat", "describe"]


def questions(rng, schema, count):
    """A seeded conversation: `count` questions as (text, spec) dicts.

    The mix is fixed and only its order and arguments are seeded, so every
    seed asks equally costly conversations: fresh questions are dealt from
    a shuffled deck of KINDS, every 7th turn is a follow-up that names no
    column (when the column it inherits is numeric), and every 5th turn
    repeats an earlier question verbatim.

    Specs name what the question asks for, independent of how graft
    parses it. `focus` tracks the column a follow-up inherits: the first
    column named by the latest question that named one.
    """
    num, cats = schema["numeric"], list(schema["categorical"])
    nonnull = schema["nonnull"]
    out, asked, deck, focus = [], [], [], None

    def pick(xs):
        return xs[int(rng.integers(0, len(xs)))]

    def fresh():
        if not deck:
            deck.extend(rng.permutation(KINDS).tolist())
        kind = deck.pop()
        n, n2, c = pick(num), pick(num), pick(cats)
        if kind == "agg_by":
            fn = pick(["mean", "sum", "count"])
            text = {"mean": f"what is the average {n} by {c}",
                    "sum": f"total {n} per {c}",
                    "count": f"count {n} by {c}"}[fn]
            return text, {"op": "agg", "fn": fn, "col": n, "by": c,
                          "filters": []}, n
        if kind == "agg_by_filter":
            v = _lit(n2, schema, rng)
            return (f"what is the average {n} by {c} where {n2} greater "
                    f"than {v}",
                    {"op": "agg", "fn": "mean", "col": n, "by": c,
                     "filters": [[n2, ">", v]]}, n)
        if kind == "agg_global":
            fn = pick(["sum", "count"])
            text = (f"what is the total {n}" if fn == "sum"
                    else f"how many {n} values are there")
            return text, {"op": "agg", "fn": fn, "col": n, "by": None,
                          "filters": []}, n
        if kind == "filter_rows":
            v = _lit(n2, schema, rng)
            cols = [n] if n == n2 else [n, n2]
            return (f"show {n} where {n2} at least {v}",
                    {"op": "rows", "cols": cols, "filters": [[n2, ">=", v]],
                     "limit": 100}, n)
        if kind == "cat_filter":
            val = pick(schema["categorical"][c])
            return (f"show {n} where {c} equal to {val}",
                    {"op": "rows", "cols": [n, c],
                     "filters": [[c, "=", val]], "limit": 100}, n)
        if kind == "sort":
            s = pick(nonnull)
            desc = bool(rng.integers(0, 2))
            return (f"sort by {s} desc" if desc else f"sort by {s}",
                    {"op": "sort", "col": s, "desc": desc}, s)
        if kind == "viz_num":
            cols = [n] if n == n2 else [n, n2]
            return (f"plot {' and '.join(cols)}",
                    {"op": "viz_num", "cols": cols}, n)
        if kind == "viz_cat":
            return f"chart {c}", {"op": "viz_cat", "col": c}, c
        return (f"describe {c} and {n}",
                {"op": "rows", "cols": [c, n], "filters": [], "limit": 10},
                c)

    for i in range(count):
        if i % 7 == 6 and focus in num:
            fn = pick(["mean", "sum", "count"])
            text = {"mean": "and the average?", "sum": "and the total?",
                    "count": "how many are there?"}[fn]
            out.append({"text": text, "kind": "follow_up",
                        "spec": {"op": "agg", "fn": fn, "col": focus,
                                 "by": None, "filters": []}})
            continue
        if i % 5 == 4 and asked:
            q = asked[int(rng.integers(0, len(asked)))]
            out.append(dict(q, kind="repeat"))
        else:
            text, spec, first = fresh()
            q = {"text": text, "spec": spec, "focus": first}
            asked.append(q)
            out.append(dict(q, kind="new"))
        focus = out[-1]["focus"]
    return [{k: v for k, v in q.items() if k != "focus"} for q in out]


# ----------------------------------------------------------------- corpus

VOCAB = np.array(["a", "agg", "batch", "big", "column", "customer", "data",
                  "dup", "fast", "filter", "group", "hash", "join", "key",
                  "line", "merge", "order", "part", "query", "row", "scan",
                  "slow", "small", "sort", "spark", "stream", "table", "the",
                  "value", "vector", "window"])
LANGS, LANGP = ["en", "zh", "es", "fr", "de"], [0.412, 0.150, 0.149, 0.148,
                                                0.141]
CORPUS_DOCS = 5_000

SHARD_SCHEMA = {
    "numeric": ["n_chars", "doc_id"],
    "int": ["n_chars", "doc_id"],
    "nonnull": ["n_chars", "doc_id"],
    "categorical": {"lang": LANGS,
                    "source": [f"src{i}" for i in range(20)]},
}


def write_corpus(path, rng, n_doc=CORPUS_DOCS):
    texts = []
    for i in range(n_doc):
        u = rng.random()
        if i > 0 and u < 0.0466:      # near copy: an earlier doc minus its last word
            texts.append(texts[rng.integers(0, i)].rsplit(" ", 1)[0])
        elif i > 0 and u < 0.0498:    # exact copy
            texts.append(texts[rng.integers(0, i)])
        else:
            nw = rng.integers(10, 101)
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), nw)]))
    table = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANGP)],
        "source": np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # one file, one row group: the layout of the repository's test tables
    pq.write_table(table, path, compression="snappy", row_group_size=n_doc)


# ------------------------------------------------------------------ entry

def make_inputs(workload, seed, work, units, per_session, warmups,
                warmup_questions):
    """Writes the workload's inputs under `work`; returns the manifest
    the harness reads. `units` is the number of timed sessions
    (insights) or passes (curation)."""
    os.makedirs(work, exist_ok=True)
    rng = np.random.default_rng([seed, 0 if workload == "insights" else 1])
    if workload == "insights":
        plan = []
        for i in range(warmups + units):
            path = os.path.join(work, f"upload_{i}.csv")
            warm = i < warmups
            # warm-up uploads are smaller: the same code paths, cheaper
            write_upload(path, rng, UPLOAD_ROWS // 4 if warm else UPLOAD_ROWS)
            n = warmup_questions if warm else per_session
            plan.append({"id": f"s{i}", "csv": path, "warmup": i < warmups,
                         "questions": questions(rng, UPLOAD_SCHEMA, n)})
        manifest = {"workload": workload, "seed": seed, "sessions": plan}
    else:
        os.makedirs(os.path.join(work, "sf"), exist_ok=True)
        write_corpus(os.path.join(work, "sf", "documents.parquet"), rng)
        manifest = {"workload": workload, "seed": seed,
                    "data_dir": os.path.join(work, "sf"), "passes": units,
                    "questions": questions(rng, SHARD_SCHEMA, per_session)}
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
