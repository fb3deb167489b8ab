"""Rebuild the vendored text sample ``perfbench/data/corpus.json.gz``.

The benchmark samples turn text from this file, so a run reads nothing
outside its checkout. The sample is the ``text`` column of the first
2000 rows (by ``doc_id``) of a ``documents.parquet`` table, stored
as one gzipped JSON list of strings. Every text must be ASCII: the
DuckDB reference relies on it to reproduce Spark's lowercase/regex
mention split exactly.

Usage: python3 perfbench/make_corpus.py <documents.parquet>
"""

from __future__ import annotations

import argparse
import gzip
import json
import os

import pyarrow.parquet as pq

N_DOCS = 2000
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "corpus.json.gz")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("documents", help="path of a documents.parquet table")
    args = ap.parse_args()
    table = pq.read_table(args.documents, columns=["doc_id", "text"]).sort_by("doc_id")
    texts = table.column("text").to_pylist()[:N_DOCS]
    bad = [i for i, t in enumerate(texts) if not t or not t.isascii()]
    if bad:
        raise SystemExit(f"{len(bad)} empty or non-ASCII texts, first at row {bad[0]}")
    # mtime=0 keeps the file byte-identical across rebuilds
    with gzip.GzipFile(OUT, "wb", compresslevel=9, mtime=0) as f:
        f.write(json.dumps(texts).encode("ascii"))
    print(f"wrote {len(texts)} texts to {OUT}")


if __name__ == "__main__":
    main()
