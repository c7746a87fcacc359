#!/usr/bin/env python3
"""Write the curation corpus, perfbench/data/documents.parquet.

Usage (with python duckdb installed):
    python3 perfbench/make_corpus.py SF_DIR

SF_DIR holds the engine's sf0.1 tables. The corpus is a fixed sample of
SF_DIR/documents.parquet: whole duplicate groups, so sf0.1's duplicate
structure survives. A group is every document whose text, with any
trailing " dup" marks removed, is the same; sf0.1 plants near-duplicates
as "<text> dup" and a few exact copies. A group is kept when the SHA-256
of its key is 0 modulo KEEP_ONE_IN. Rows are copied unchanged, doc_id
included, in doc_id order. The other two tables the benchmark reads,
events and embeddings, are committed as sf0.1 has them.
"""
import hashlib
import os
import sys

import duckdb

KEEP_ONE_IN = 5
HERE = os.path.dirname(os.path.abspath(__file__))


def group_key(text):
    while text.endswith(" dup"):
        text = text[: -len(" dup")]
    return text


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = os.path.join(sys.argv[1], "documents.parquet")
    con = duckdb.connect()
    docs = con.execute(f"SELECT doc_id, text FROM read_parquet('{src}')").fetchall()
    keep = [d for d, t in docs
            if int(hashlib.sha256(group_key(t).encode()).hexdigest(), 16) % KEEP_ONE_IN == 0]
    con.execute("CREATE TABLE keep (doc_id BIGINT)")
    con.executemany("INSERT INTO keep VALUES (?)", [(d,) for d in keep])
    out = os.path.join(HERE, "data", "documents.parquet")
    con.execute(f"COPY (SELECT d.* FROM read_parquet('{src}') d SEMI JOIN keep USING (doc_id) "
                f"ORDER BY doc_id) TO '{out}' (FORMAT parquet)")
    n, dups = con.execute(f"SELECT count(*), count(*) FILTER (WHERE text LIKE '% dup') "
                          f"FROM read_parquet('{out}')").fetchone()
    print(f"kept {n} of {len(docs)} documents, {dups} marked dup", file=sys.stderr)


if __name__ == "__main__":
    main()
