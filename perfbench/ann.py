"""``ann_index``: streamed IVF index maintenance plus search, one staged
batch per cycle.

Each cycle stages one batch of generated vectors; ``stream_ann_index_build``
drains it into the cell-partitioned index through the Arrow assignment
kernel, on a checkpoint kept across cycles. On cycles 0, ``compact_every``,
``2 * compact_every``, ... the benchmark folds the batch directories with
``ann_index_compact``, so the first (cold) compaction falls in warm-up and a
timed window of a given length always holds the same compactions. Each
cycle then runs a fixed-size query batch through ``ann_index_topk``
(partition-pruned read, per-cell BLAS scoring in ``applyInPandas``).
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from base import Workload, listing, size_of

SIZES = {
    "full": {"vectors": 2000, "queries": 200, "cells": 16, "n_probe": 4,
             "k": 5, "compact_every": 2},
    "smoke": {"vectors": 300, "queries": 40, "cells": 8, "n_probe": 2,
              "k": 3, "compact_every": 2},
}


class AnnIndex(Workload):
    spans = ("ann.ingest", "ann.compact", "search")
    no_python_spans = ("ann.compact",)
    layer_metrics = ("ann.ingest_s", "ann.add_batch_ms", "ann.index_files",
                     "ann.index_bytes", "ann.compact_s", "ann.compact_bytes",
                     "search.build_s", "search.exec_s", "search.rows")
    SIZES = SIZES

    def generate(self, gen_dir: Path, n_cycles: int) -> None:
        """Every cycle's vector batch and query batch. Queries are drawn from
        vectors already landed, so self-exclusion is exercised."""
        n, nq = self.cfg["vectors"], self.cfg["queries"]
        self.gen_dir = gen_dir
        self.vecs: list[np.ndarray] = []
        self.ids: list[np.ndarray] = []
        self.query_ids: list[np.ndarray] = []
        for c in range(n_cycles):
            rng = np.random.default_rng([self.seed, c])
            t = self.gen.gen_embeddings(n, rng).select(["vec_id", "embedding"])
            ids = np.arange(c * n, (c + 1) * n, dtype=np.int64)
            t = t.set_column(0, "vec_id", pa.array(ids))
            self.ids.append(ids)
            self.vecs.append(np.stack(t["embedding"].to_numpy(zero_copy_only=False)))
            d = gen_dir / f"batch={c:05d}"
            d.mkdir(parents=True)
            pq.write_table(t, d / "part-0.parquet")
            qids = np.sort(rng.choice((c + 1) * n, nq, replace=False))
            self.query_ids.append(qids)
            all_vecs = np.concatenate(self.vecs)
            pq.write_table(pa.table({
                "vec_id": pa.array(qids),
                "embedding": pa.array(list(all_vecs[qids]),
                                      pa.list_(pa.float32()))}),
                gen_dir / f"queries-{c:05d}.parquet")
        # the fixed quantizer: the first batch's leading vectors, scaled to
        # their mean norm; in 64 dimensions the nearest center is otherwise
        # mostly the shortest one, and cell sizes (so search work) would
        # vary up to 2x from seed to seed
        lead = self.vecs[0][:self.cfg["cells"]].astype(np.float64)
        norms = np.linalg.norm(lead, axis=1, keepdims=True)
        self.center_vecs = (lead / norms * norms.mean()).astype(np.float32)

    def reset(self, out: Path) -> None:
        super().reset(out)
        self.stage, self.index = out / "staged", out / "index"
        self.ckpt = out / "checkpoint"
        self.stage.mkdir(parents=True)
        self.results: dict[int, list] = {}
        self.centers = self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(self.center_vecs)],
            "cell int, centroid array<double>").localCheckpoint()
        self.vec_schema = self.spark.read.parquet(
            str(self.gen_dir / "batch=00000")).schema

    def engine_dirs(self) -> list[Path]:
        return [self.index, self.ckpt]

    def compacts(self, c: int) -> bool:
        return c % self.cfg["compact_every"] == 0

    def cycle(self, c: int, spans) -> int:
        from bda_spadochrony_spark.operators.similarity import (
            ann_index_compact, ann_index_topk)
        from bda_spadochrony_spark.streaming.ann_index import (
            stream_ann_index_build)
        from bda_spadochrony_spark.streaming.sources import file_stream

        self.cur = c
        src = self.gen_dir / f"batch={c:05d}"
        dst = self.stage / src.name
        dst.mkdir()
        for f in src.iterdir():
            (dst / f.name).write_bytes(f.read_bytes())
        self.landed.append(size_of(dst))

        with spans.span("ann.ingest"):
            t0 = time.perf_counter()
            q = stream_ann_index_build(
                file_stream(self.spark, f"{self.stage}/*/*.parquet", self.vec_schema),
                str(self.index), self.centers, "vec_id", checkpoint=str(self.ckpt))
            self.record("ann.ingest_s", time.perf_counter() - t0)
        self.record("ann.add_batch_ms", sum(
            p["durationMs"].get("addBatch", 0) for p in q.recentProgress))

        if self.compacts(c):
            before = listing([self.index])
            with spans.span("ann.compact"):
                t0 = time.perf_counter()
                ann_index_compact(self.spark, str(self.index))
                self.record("ann.compact_s", time.perf_counter() - t0)
            after = listing([self.index])
            self.record("ann.compact_bytes", sum(
                s for p, (s, _) in after.items() if p not in before))

        with spans.span("search"):
            t0 = time.perf_counter()
            queries = self.spark.read.parquet(
                str(self.gen_dir / f"queries-{c:05d}.parquet"))
            found = ann_index_topk(self.spark, str(self.index), queries, "vec_id",
                                   centers=self.centers, k=self.cfg["k"],
                                   n_probe=self.cfg["n_probe"])
            t1 = time.perf_counter()
            rows = found.collect()
            t2 = time.perf_counter()
        self.record("search.build_s", t1 - t0)
        self.record("search.exec_s", t2 - t1)
        self.record("search.s", t2 - t0)  # for search_p50_s
        self.record("search.rows", len(rows))
        self.results[c] = rows
        return self.cfg["vectors"]

    def account(self) -> None:
        super().account()
        files = listing([self.index])
        self.record("ann.index_files", sum(p.endswith(".parquet") for p in files))
        self.record("ann.index_bytes", sum(s for s, _ in files.values()))

    def check(self, c: int) -> list[tuple[str, str, bool]]:
        """Every ingested id is in the index exactly once; every query got k
        rows; on the last cycle (``final_check``) the values match NumPy."""
        got = duckdb.connect().execute(f"""
            SELECT corpus_id, count(*) AS n
            FROM read_parquet('{self.index}/*/*/*.parquet')
            GROUP BY 1 ORDER BY 1""").fetchnumpy()
        want = np.concatenate(self.ids[:c + 1])
        once = (np.array_equal(got["corpus_id"], want)
                and bool((got["n"] == 1).all()))
        per_q: dict[int, int] = {}
        for r in self.results[c]:
            per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
        k_rows = (sorted(per_q) == list(self.query_ids[c])
                  and set(per_q.values()) == {self.cfg["k"]})
        return [("ann.ingest", "index_holds_each_id_once", once),
                ("search", "each_query_returns_k", k_rows)]

    def final_check(self, c: int) -> list[tuple[str, str, bool]]:
        """The last cycle's results equal a NumPy IVF search with the same
        centers, n_probe and self-exclusion."""
        corpus = np.concatenate(self.vecs[:c + 1]).astype(np.float64)
        ids = np.concatenate(self.ids[:c + 1])
        cent = self.center_vecs.astype(np.float64)

        def d2(x):
            return ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)

        cell = np.argmin(d2(corpus), axis=1)
        cnorm = np.linalg.norm(corpus, axis=1)
        k = self.cfg["k"]
        ok = True
        got: dict[int, list] = {}
        for r in self.results[c]:
            got.setdefault(r["query_id"], []).append((r["corpus_id"], r["cosine"]))
        qids = self.query_ids[c]
        qd2 = d2(corpus[qids])
        for qi, qid in enumerate(qids):
            probes = np.lexsort((np.arange(len(cent)), qd2[qi]))[:self.cfg["n_probe"]]
            cand = np.flatnonzero(np.isin(cell, probes) & (ids != qid))
            cos = corpus[cand] @ corpus[qid] / (cnorm[cand] * cnorm[qid])
            order = np.lexsort((ids[cand], -cos))[:k]
            mine = sorted(got.get(int(qid), []), key=lambda t: (-t[1], t[0]))
            ok &= [i for i, _ in mine] == list(ids[cand][order])
            ok &= bool(np.allclose([s for _, s in mine], cos[order],
                                   rtol=0, atol=1e-9))
        return [("search", "topk_equals_numpy_ivf", bool(ok))]

    def extra_e2e(self, first: int) -> dict[str, float]:
        searches = [v for c, v in self.layers["search.s"] if c >= first]
        return {"search_p50_s": statistics.median(searches),
                **self.amplification(first, size_of(*self.engine_dirs()),
                                     sum(self.landed))}
