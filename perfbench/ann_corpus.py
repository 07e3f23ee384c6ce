"""``ann_corpus``: the LLM-data job shapes, an ``ann_index`` cycle and a
``corpus_dedup`` shard in every cycle.

Each cycle runs the ANN index cycle (stage, streamed ingest, search, and on
every ``compact_every``-th cycle from cycle 0 a compaction; ``ann.py``),
then curates one generated corpus shard through ``corpus_pipeline``,
``minhash_dedup`` and ``semantic_dedup`` (``corpus.py``). The corpus calls
are driver-bound and cost ~7-9 s a shard whatever its size; a run times few
cycles, so every timed cycle carries the same corpus work, and the timed
window's sum does not hang on one corpus call. Cycle 0 pays the cold first
call of both parts and is the warm cycle.
"""

from __future__ import annotations

from pathlib import Path

from ann import AnnIndex
from base import Workload
from corpus import CorpusDedup


class AnnCorpus(Workload):
    spans = AnnIndex.spans + CorpusDedup.spans
    no_python_spans = AnnIndex.no_python_spans + CorpusDedup.no_python_spans
    layer_metrics = AnnIndex.layer_metrics + CorpusDedup.layer_metrics

    def __init__(self, spark, gen_mod, size: str, seed: int):
        self.spark = spark
        self.ann = AnnIndex(spark, gen_mod, size, seed)
        self.corpus = CorpusDedup(spark, gen_mod, size, seed)

    def generate(self, gen_dir: Path, n_cycles: int) -> None:
        for name, part in (("ann", self.ann), ("corpus", self.corpus)):
            (gen_dir / name).mkdir()
            part.generate(gen_dir / name, n_cycles)

    def reset(self, out: Path) -> None:
        for name, part in (("ann", self.ann), ("corpus", self.corpus)):
            part.spark = self.spark
            part.reset(out / name)

    def engine_dirs(self) -> list[Path]:
        return self.ann.engine_dirs()

    def cycle(self, c: int, spans) -> int:
        return self.ann.cycle(c, spans) + self.corpus.cycle(c, spans)

    def account(self) -> None:
        self.ann.account()

    def check(self, c: int) -> list[tuple[str, str, bool]]:
        return self.ann.check(c) + self.corpus.check(c)

    def final_check(self, c: int) -> list[tuple[str, str, bool]]:
        return self.ann.final_check(c)

    def traced_extras(self, c: int) -> None:
        self.corpus.traced_extras(c)

    def extra_e2e(self, first: int) -> dict[str, float]:
        return self.ann.extra_e2e(first)

    def layer_medians(self, first: int) -> dict[str, float]:
        return {**self.ann.layer_medians(first), **self.corpus.layer_medians(first)}
