"""``corpus_dedup``: one generated corpus shard curated per cycle.

Three stages: ``corpus_pipeline(calibrate_surprisal=True)``;
``minhash_dedup`` (16 hashes, 16 bands, verified at Jaccard 0.5);
``hashed_doc_vectors`` -> ``semantic_dedup``. Driver time (plan
construction plus the eager actions inside the operators) dominates.
"""

from __future__ import annotations

import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from base import Workload

SIZES = {
    "full": {"docs": 500},
    "smoke": {"docs": 300},
}
MINHASH = dict(num_hashes=16, bands=16, shingle_n=3)


class CorpusDedup(Workload):
    spans = ("corpus", "minhash", "semdedup")
    no_python_spans = ("corpus", "minhash")
    layer_metrics = ("corpus.build_s", "corpus.exec_s", "corpus.rows_out",
                     "minhash.build_s", "minhash.exec_s", "minhash.verified",
                     "minhash.yield", "semdedup.build_s", "semdedup.exec_s",
                     "semdedup.survivors")
    SIZES = SIZES

    def generate(self, gen_dir: Path, n_cycles: int) -> None:
        n = self.cfg["docs"]
        self.gen_dir = gen_dir
        self.shards: list[pa.Table] = []
        for c in range(n_cycles):
            t = self.gen.gen_documents(n, np.random.default_rng([self.seed, c]))
            t = t.set_column(0, "doc_id", pa.array(
                np.arange(c * n, (c + 1) * n, dtype=np.int64)))
            self.shards.append(t)
            pq.write_table(t, gen_dir / f"shard-{c:05d}.parquet")

    def reset(self, out: Path) -> None:
        super().reset(out)
        self.out_rows: dict[int, dict] = {}

    def cycle(self, c: int, spans) -> int:
        from bda_spadochrony_spark.operators.dedup import minhash_dedup
        from bda_spadochrony_spark.operators.similarity import semantic_dedup
        from bda_spadochrony_spark.operators.text import hashed_doc_vectors
        from bda_spadochrony_spark.plans.pipelines import corpus_pipeline

        self.cur = c
        docs = self.spark.read.parquet(str(self.gen_dir / f"shard-{c:05d}.parquet"))
        res = {}
        with spans.span("corpus"):
            t0 = time.perf_counter()
            plan = corpus_pipeline(docs, calibrate_surprisal=True)
            t1 = time.perf_counter()
            res["corpus"] = plan.collect()
            t2 = time.perf_counter()
        self.record("corpus.build_s", t1 - t0)
        self.record("corpus.exec_s", t2 - t1)
        self.record("corpus.rows_out", len(res["corpus"]))

        with spans.span("minhash"):
            t0 = time.perf_counter()
            plan = minhash_dedup(docs, "doc_id", "text", min_jaccard=0.5, **MINHASH)
            t1 = time.perf_counter()
            res["minhash"] = plan.select("id_a", "id_b").collect()
            t2 = time.perf_counter()
        self.record("minhash.build_s", t1 - t0)
        self.record("minhash.exec_s", t2 - t1)
        self.record("minhash.verified", len(res["minhash"]))

        with spans.span("semdedup"):
            t0 = time.perf_counter()
            vecs = hashed_doc_vectors(docs, "doc_id", "text", dim=64,
                                      hash_fn="md5").localCheckpoint(eager=False)
            plan = semantic_dedup(vecs, "doc_id", vec_col="vector", min_cosine=0.9)
            t1 = time.perf_counter()
            res["semdedup"] = plan.select("doc_id").collect()
            t2 = time.perf_counter()
        self.record("semdedup.build_s", t1 - t0)
        self.record("semdedup.exec_s", t2 - t1)
        self.record("semdedup.survivors", len(res["semdedup"]))
        self.out_rows[c] = res
        return self.cfg["docs"]

    def traced_extras(self, c: int) -> None:
        """LSH candidate pairs before verification, for ``minhash.yield``;
        extra work, so only the traced run pays it, outside the cycle."""
        from bda_spadochrony_spark.operators.dedup import minhash_dedup
        docs = self.spark.read.parquet(str(self.gen_dir / f"shard-{c:05d}.parquet"))
        n = minhash_dedup(docs, "doc_id", "text", min_jaccard=None, **MINHASH).count()
        self.record("minhash.yield", len(self.out_rows[c]["minhash"]) / max(n, 1))

    def check(self, c: int) -> list[tuple[str, str, bool]]:
        res = self.out_rows.pop(c)
        con = duckdb.connect()
        con.register("docs", self.shards[c])
        exact = set(con.execute("""
            SELECT a.doc_id, b.doc_id FROM docs a JOIN docs b
              ON a.text = b.text AND a.doc_id < b.doc_id""").fetchall())
        verified = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
                    for r in res["minhash"]}
        return [("corpus", "corpus_output_nonempty", len(res["corpus"]) > 0),
                ("minhash", "verified_pairs_cover_exact_duplicates",
                 exact <= verified),
                ("semdedup", "survivors_at_most_input",
                 len(res["semdedup"]) <= self.cfg["docs"])]
