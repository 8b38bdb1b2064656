"""Output checks for each workload.

- query_short: every query's rows against its DuckDB oracle SQL
  (`SparkEntry.oracleSql`) over the same generated tables, canonicalized
  as in scripts/check.py: columns sorted by name, rows sorted by every
  column, floats compared exactly.
- activity_stream: the harness already compared the emitted windows with
  `ActivityOps.windowedCount` over every generated event; its verdict is
  reported here.
- index_ingest: every serve (BM25, query likelihood, phrase search from
  the streamed index) against the oracle SQL of the registered inline
  queries over the documents ingested up to that micro-batch.
"""
import glob
import json
import os

import duckdb

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(got, exp):
    """None when the frames agree, else a one-line reason."""
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        a, b = g[c], e[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
            bad = ~((a.isna() & b.isna()) | (a == b))
        else:
            bad = a.astype(str) != b.astype(str)
        if bad.any():
            return f"column {c}: {int(bad.sum())} values differ"
    return None


def _queries(rec, data_dir):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    msgs = []
    for name, sql in sorted(rec.get("oracle_sql", {}).items()):
        files = glob.glob(os.path.join(rec["results_dir"], name, "*.parquet"))
        if not files:
            msgs.append(f"{name}: no result rows written")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
            why = _same(got, con.execute(sql).df())
        except Exception as ex:  # an oracle that cannot run is a failed check
            why = f"error {ex}"
        if why:
            msgs.append(f"{name}: {why}")
    return len(rec.get("oracle_sql", {})), msgs


def _serves(rec):
    import pandas as pd
    docs = []
    for path in sorted(glob.glob(os.path.join(rec["src_dir"], "*.json"))):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    d = json.loads(line)
                    docs.append((os.path.basename(path), d["doc_id"], d["text"]))
    con = duckdb.connect()
    con.register("all_docs", pd.DataFrame(docs, columns=["file", "doc_id", "text"]))
    con.execute("CREATE TABLE feed AS SELECT * FROM all_docs")
    log = {int(b): fs for b, fs in rec.get("source_log", {}).items()}
    sql = rec["oracle_sql"]
    cols = {"bm25_topk": ["q_id", "rank", "doc_id", "score"],
            "ql_topk": ["q_id", "rank", "doc_id", "score"],
            "phrase_search": ["q_id", "doc_id", "n_matches"]}
    msgs, seen = [], None
    for s in sorted(rec.get("serves", []), key=lambda s: (s["batch"], s["name"])):
        b = s["batch"]
        if seen != b:
            files = sorted({f for k, fs in log.items() if k <= b for f in fs})
            con.execute("CREATE OR REPLACE TABLE ingested AS SELECT * FROM feed "
                        "WHERE file IN (SELECT unnest(?))", [files])
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT doc_id::BIGINT AS doc_id, text, "
                        "'en' AS lang, 'src0' AS source, length(text)::BIGINT AS n_chars FROM ingested")
            seen = b
        got = pd.DataFrame([list(r) for r in s["rows"]], columns=cols[s["name"]])
        try:
            exp = con.execute(sql[s["name"]]).df()
            for c in got.columns:
                if exp[c].dtype.kind in "iu":
                    got[c] = got[c].astype("int64")
                    exp[c] = exp[c].astype("int64")
            why = _same(got, exp)
        except Exception as ex:
            why = f"error {ex}"
        if why:
            msgs.append(f"serve {s['name']} after batch {b}: {why}")
    return len(rec.get("serves", [])), msgs


def check(workload, rec, run_dir):
    """Returns {"checked", "failed", "messages"}."""
    if workload == "query_short":
        n, msgs = _queries(rec, os.path.join(run_dir, "data"))
    elif workload == "index_ingest":
        n, msgs = _serves(rec)
    else:
        c = rec.get("check", {})
        n = c.get("expected_rows", 0)
        msgs = [] if c.get("mismatched_rows", 1) == 0 and n > 0 else [
            f"activity: {c.get('mismatched_rows')} of {n} window rows differ from the batch count"]
    return {"checked": n, "failed": len(msgs), "messages": msgs}
