"""Input generation for the benchmark, run out of process with DuckDB.

Every input is a seeded function of the read-only sf0.1 tables: the same
seed gives the same bytes, another seed another row subset (curation) or
another corpus split and arrival mix (ingest). Sizes are fixed per
workload, so every seed asks the program for the same amount of work.
"""
import json
import os
import random

import duckdb

# curation: documents kept; embeddings kept besides the fixed probe rows
CURATION_DOCS = 2000
CURATION_VECS = 795
# vec_id < 5 are the ANN query vectors the registry's recall queries use
PROBE_VECS = 5
# ingest: standing corpus size, docs per arrival file, quoted passage
INGEST_CORPUS = 1500
INGEST_DOCS_PER_FILE = 32
QUOTE_WORDS = 15
KINDS = ["redelivery", "near_dup", "quote", "novel"]


def _con():
    con = duckdb.connect()
    con.execute("SET threads=1")
    return con


def _pick(seed, key):
    """SQL for a seeded, well-mixed order over an integer key column."""
    return f"md5(concat('{int(seed)}:', {key}))"


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")


def curation(src, dst, seed):
    con = _con()
    _copy(con, f"SELECT * FROM (SELECT * FROM '{src}/documents.parquet' "
               f"ORDER BY {_pick(seed, 'doc_id')} LIMIT {CURATION_DOCS}) ORDER BY doc_id",
          f"{dst}/documents.parquet")
    _copy(con, f"SELECT * FROM (SELECT * FROM '{src}/embeddings.parquet' WHERE vec_id < {PROBE_VECS} "
               f"UNION ALL (SELECT * FROM '{src}/embeddings.parquet' WHERE vec_id >= {PROBE_VECS} "
               f"ORDER BY {_pick(seed, 'vec_id')} LIMIT {CURATION_VECS})) ORDER BY vec_id",
          f"{dst}/embeddings.parquet")


def ingest_files(seconds, interval, cold):
    """Arrival files: one per batch of the cold cycle and one per interval
    of the window."""
    return cold + max(1, int(round(seconds / interval)))


def ingest(src, dst, seed, n_files):
    """Standing corpus plus `n_files` arrival files in `dst/staging`, and
    `dst/arrivals.json` telling the checker each arrival's kind and, for
    a quote, the corpus passage it quotes."""
    con = _con()
    docs = con.execute(f"SELECT doc_id, text, source FROM '{src}/documents.parquet' "
                       f"ORDER BY {_pick(seed, 'doc_id')}").fetchall()
    corpus = docs[:INGEST_CORPUS]
    # a novel doc is one whose text the corpus does not already hold
    corpus_text = {t for _, t, _ in corpus}
    pool = [d for d in docs[INGEST_CORPUS:] if d[1] not in corpus_text]
    con.register("corpus_rows", _frame(corpus))
    _copy(con, "SELECT * FROM corpus_rows ORDER BY doc_id", f"{dst}/corpus.parquet")
    rng = random.Random(seed)
    vocab = sorted({w for _, t, _ in corpus for w in t.split(" ") if w})
    quotable = [t for _, t, _ in corpus if len(t.split(" ")) > QUOTE_WORDS]
    staging = os.path.join(dst, "staging")
    os.makedirs(staging)
    arrivals = {}
    next_id = 10_000_000
    novel = iter(pool)
    for f in range(n_files):
        rows = []
        for _ in range(INGEST_DOCS_PER_FILE):
            kind = rng.choice(KINDS)
            if kind in ("novel", "quote"):
                _, text, source = next(novel, (None, None, None))
                if text is None:
                    raise SystemExit("ingest: the run needs more novel documents than sf0.1 has")
            else:
                _, text, source = rng.choice(corpus)
            words = text.split(" ")
            meta = {"kind": kind}
            if kind == "near_dup":
                for i in rng.sample(range(len(words)), max(1, len(words) // 20)):
                    words[i] = rng.choice(vocab)
            elif kind == "quote":
                base = rng.choice(quotable)
                bw = base.split(" ")
                at = rng.randrange(len(bw) - QUOTE_WORDS)
                cut = rng.randrange(len(words) + 1)
                meta["quote"] = " ".join(bw[at:at + QUOTE_WORDS])
                words = words[:cut] + bw[at:at + QUOTE_WORDS] + words[cut:]
            rows.append((next_id, " ".join(words), source))
            arrivals[str(next_id)] = meta
            next_id += 1
        con.register("arrival_rows", _frame(rows))
        _copy(con, "SELECT * FROM arrival_rows ORDER BY doc_id",
              os.path.join(staging, f"arrival-{f:05d}.parquet"))
        con.unregister("arrival_rows")
    with open(os.path.join(dst, "arrivals.json"), "w") as fh:
        json.dump(arrivals, fh, sort_keys=True)


def _frame(rows):
    import pandas as pd
    return pd.DataFrame(rows, columns=["doc_id", "text", "source"]).astype(
        {"doc_id": "int64", "text": "object", "source": "object"})


def generate(workload, src, dst, seed, n_files=None):
    os.makedirs(dst, exist_ok=True)
    if workload == "curation":
        curation(src, dst, seed)
    else:
        ingest(src, dst, seed, n_files)
