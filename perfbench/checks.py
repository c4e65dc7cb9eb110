"""Correctness checks, run after the timed window and never timed.

`compare_ops` puts each closed-loop op's rows next to DuckDB running the
op's oracle SQL (graft's `SparkEntry.oracleSql`) on the same generated
inputs, with the normalisation of graft's `tools/check.py`: columns sorted
by name, rows sorted, integer dtypes exact, other dtypes by kind, values
exact. `check_ingest` checks invariants that hold for any batch split.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SPAN_WORDS = 10


def norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def diff(spark_df, duck_df):
    """None when the two results agree, else a one-line reason."""
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    sig = lambda d: str(d) if d.kind in "iu" else d.kind
    if [sig(d) for d in a.dtypes] != [sig(d) for d in b.dtypes]:
        return f"dtypes {list(a.dtypes)} != {list(b.dtypes)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).strip().splitlines()[-1][:200]
    return None


def compare_ops(data_dir, out_dir, oracle):
    """{op: reason} for every op whose output disagrees with its oracle."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run checks nothing
            bad[name] = f"oracle error: {str(e)[:200]}"
            continue
        reason = diff(got, want)
        if reason:
            bad[name] = reason
    return bad


def words(text):
    """Java's `text.split(" ")`: trailing empty strings dropped."""
    w = text.split(" ")
    while w and w[-1] == "":
        w.pop()
    return w


def grams(text, n=SPAN_WORDS):
    w = words(text)
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def check_ingest(corpus, admitted, arrivals):
    """Invariants of the admission gates that hold for any batch split.

    corpus: [(doc_id, text)] of the bootstrapped store; admitted:
    [(doc_id, text)] the stream stored; arrivals: {doc_id: {"kind": ...,
    "quote": passage}} as `gen.py` wrote them. Returns a list of
    (doc_id, reason) violations."""
    corpus_text = {t for _, t in corpus}
    bad = []
    for doc_id, text in admitted:
        meta = arrivals.get(str(doc_id), {})
        if meta.get("kind") == "redelivery":
            bad.append((doc_id, "exact re-delivery admitted"))
        elif text in corpus_text:
            bad.append((doc_id, "admitted text equals corpus text"))
        elif "quote" in meta and grams(text) & grams(meta["quote"]):
            bad.append((doc_id, f"a {SPAN_WORDS}-word quoted corpus passage survived"))
    return bad
