#!/usr/bin/env python3
"""Print the traffic figures the benchmark's inputs are built from
(perfbench/src/main/scala/perfbench/Inputs.scala), measured from a
directory of the repository's sf0.1 test tables:

    python3 perfbench/profile.py <sf0.1 directory>

- words per `documents.text` (the prose of a turn) and the vocabulary;
- `lineitem` lines per order (the turns of a conversation).

Needs the duckdb Python module. Not part of a benchmark run.
"""
import collections
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = sys.argv[1]
    con = duckdb.connect()
    texts = [r[0] for r in con.execute(f"SELECT text FROM '{d}/documents.parquet'").fetchall()]
    words = [len(t.split(" ")) for t in texts]
    chars = sorted(len(t) for t in texts)
    print(f"documents: {len(texts)}; words per text {min(words)}..{max(words)} "
          f"over {len(set(words))} distinct counts; chars median {chars[len(chars) // 2]}, "
          f"mean {sum(chars) / len(chars):.1f}")
    vocab = collections.Counter(w for t in texts for w in t.split(" "))
    total = sum(vocab.values())
    print(f"vocabulary: {len(vocab)} words")
    for w, n in vocab.most_common():
        print(f"  {w:10s} {n:6d} {n / total:.4f}")
    per_order = con.execute(
        f"SELECT n, count(*) FROM (SELECT l_orderkey, count(*) AS n FROM '{d}/lineitem.parquet' "
        "GROUP BY l_orderkey) GROUP BY n ORDER BY n").fetchall()
    print("lineitem lines per order (lines, orders):")
    print("  " + ", ".join(f"{n}:{c}" for n, c in per_order))


if __name__ == "__main__":
    main()
