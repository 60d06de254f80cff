"""Cut the benchmark's corpus out of the engine's fixed test data.

    python3 perfbench/make_corpus.py <sf0.1 dir> <sf0.01 dir>

Writes perfbench/data/corpus/ and perfbench/data/check/, the parquet
files run.py reads; they are committed, so a run needs only the
checkout. Nothing is generated: every row is a row of the test data.

- corpus: a quarter of sf0.1 (SHARE), sized so one pass of a workload
  fits a run: the orders of every SHARE-th customer (o_custkey % SHARE
  == 0) with all their lineitems, so each entity keeps its whole
  snapshot history; the events of every SHARE-th user, so each user
  keeps its whole stream; the first quarter of the documents and of the
  embeddings by id (a prefix keeps the near-duplicates the test data
  derives from earlier documents next to their originals).
- check: the tables of sf0.01 (the engine's DuckDB-oracle corpus) the
  corpus queries read, unchanged.

Row order and column types are those of the source files; the output is
zstd-compressed, one row group per file.
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHARE = 4
TABLES = ("orders", "lineitem", "events", "documents", "embeddings")
HERE = os.path.dirname(os.path.abspath(__file__))


def write(table, out, name):
    os.makedirs(out, exist_ok=True)
    pq.write_table(table.replace_schema_metadata(None), os.path.join(out, f"{name}.parquet"),
                   compression="zstd", compression_level=19, row_group_size=len(table) or 1)


def main(sf01, sf001):
    src = {t: pq.read_table(os.path.join(sf01, f"{t}.parquet")) for t in TABLES}

    def every(t, key):
        return src[t].filter(pa.array(src[t][key].to_numpy() % SHARE == 0))

    def prefix(t, key):
        ids = src[t][key].to_numpy()
        return src[t].filter(pa.array(ids < ids.min() + len(ids) // SHARE))

    src["orders"] = every("orders", "o_custkey")
    src["lineitem"] = src["lineitem"].filter(
        pc.is_in(src["lineitem"]["l_orderkey"], value_set=src["orders"]["o_orderkey"]))
    src["events"] = every("events", "user_id")
    src["documents"] = prefix("documents", "doc_id")
    src["embeddings"] = prefix("embeddings", "vec_id")
    for t, table in src.items():
        write(table, os.path.join(HERE, "data", "corpus"), t)
    for t in TABLES:
        write(pq.read_table(os.path.join(sf001, f"{t}.parquet")), os.path.join(HERE, "data", "check"), t)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
