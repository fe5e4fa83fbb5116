"""curation: registry LLM-data operators over seeded corpus shards.

Each shard is a directory holding ``documents.parquet`` and
``embeddings.parquet`` (see :func:`perfbench.gen.documents`).  Each cycle
runs every operator three times, in seeded orders, on seeded shards, and
checks each result against the repository's own DuckDB oracle SQL for that
operator, run over the same shard.
"""

from __future__ import annotations

import itertools
import os

from perfbench import gen
from perfbench.harness import Bench, Op
from perfbench.oracle import assert_same, connect

N_SHARDS = 2
ROUNDS = 3  # shard generations per run; setup_s reports the median
PASSES = 3  # operator passes per cycle: a 27-op cycle outlasts run_seconds
WARM_PASSES = 2  # untimed passes first: ops still speed up after the first
N_DOCS = 600
OPERATORS = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_cosine",
    "knn_cosine_ivf",
    "tfidf_topterms",
    "bm25_search",
    "embedding_norms_arrow",
    "text_simhash",
)


class Curation:
    def __init__(self, bench: Bench):
        from iceberg_examples_spark.oracles import ORACLES
        from iceberg_examples_spark.registry import QUERIES

        self.bench = bench
        self.queries = QUERIES
        self.oracles = ORACLES
        self.answers: dict = {}

    def generate(self, root: str) -> list[str]:
        return [gen.curation_shard(root, self.bench.seed, k, N_DOCS) for k in range(N_SHARDS)]

    def setup(self) -> None:
        for i in range(ROUNDS):
            root = os.path.join(self.bench.work, f"corpus-{i}")
            self.shards = self.bench.build("curation", lambda root=root: self.generate(root))
        self.root = root

    def answer(self, name: str, shard: str):
        key = (name, shard)
        if key not in self.answers:
            con = connect()
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(shard, t)}.parquet'")
            rel = con.sql(self.oracles[name])
            self.answers[key] = (list(rel.columns), rel.fetchall())
            con.close()
        return self.answers[key]

    def op(self, name: str, shard: str) -> Op:
        b = self.bench
        fn = self.queries[name]
        layer = fn.__module__.rsplit(".", 1)[1] + ".op"

        def call():
            df = fn(b.spark, shard)
            return df.columns, b.execute(lambda: df)

        def body():
            return b.layer(layer, call)

        def check(result):
            cols, rows = result
            want_cols, want_rows = self.answer(name, shard)
            assert_same(cols, [tuple(r) for r in rows], want_cols, want_rows)

        return Op(name, "read", N_DOCS, body, check)

    def passes(self, r, n: int):
        """``n`` passes over every operator, in seeded orders, each op on a
        seeded shard."""
        order = [k for _ in range(n) for k in r.permutation(len(OPERATORS))]
        return (self.op(OPERATORS[k], self.shards[int(r.integers(0, N_SHARDS))]) for k in order)

    def cycles(self, r):
        """Endless cycles, each running every operator ``PASSES`` times."""
        while True:
            yield self.passes(r, PASSES)


def main(bench: Bench) -> dict:
    w = Curation(bench)
    w.setup()
    r = gen.rng(bench.seed, 200)
    first = [w.op(name, w.shards[0]) for name in OPERATORS]
    bench.warmup(itertools.chain(first, w.passes(gen.rng(bench.seed, 201), WARM_PASSES - 1)))
    bench.loop(w.cycles(r))
    files, size = gen.tree_bytes(w.root)
    return {
        "inputs": {
            "rows": {"documents": N_DOCS * N_SHARDS, "embeddings": N_DOCS * N_SHARDS},
            "shards": N_SHARDS,
            "files": files,
            "bytes": size,
        }
    }
