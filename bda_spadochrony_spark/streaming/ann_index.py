"""Streaming IVF-index MAINTENANCE (round 11): embeddings arrive as a
stream, each micro-batch is assigned to its coarse cells against the
PERSISTED quantizer and appended to the cell-partitioned index —
the ingest half of the similarity-search story, so a 100 TB corpus's ANN
index stays current without ever re-indexing the corpus
(`operators/similarity.ann_index_append` holds the layout contract;
`ann_index_topk` is the partition-pruned search over the result).

Same durability rules as the admission stream (`streaming/admission.py`):
foreachBatch is at-least-once, so the append writes a ``batch_id=N``
directory with per-partition overwrite — a replayed epoch rewrites its own
directory and the index never double-counts. The quantizer is FIXED for
the index's lifetime (cells are a layout constant, like the bucketed
sketch's modulus); refitting the quantizer means rebuilding the index —
the standard IVF contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _auto_compact(spark, index_path: str,
                  compact_every: int | None,
                  retain_folded: bool = False) -> None:
    """The drain loop's small-file control (r13, VERDICT r12 #5): an
    always-on index accumulates O(batches × cells) files until someone
    folds them — so the drain itself counts its batch directories after
    each run and compacts once they reach ``compact_every``. Driver-side
    listing only (one listdir); the fold is ``ann_index_compact`` with
    its full crash-recovery contract."""
    from bda_spadochrony_spark.fs import index_fs
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_compact)
    fs = index_fs(index_path, spark)
    if not compact_every or not fs.isdir(index_path):
        return
    n = sum(1 for d in fs.listdir(index_path)
            if d.startswith("batch_id=") and not d.startswith("batch_id=-"))
    if n >= compact_every:
        ann_index_compact(spark, index_path, retain_folded=retain_folded)


def _drain(stream_vecs: DataFrame, index_path: str, append, label: str,
           checkpoint: str | None, timeout_s: int,
           compact_every: int | None, retain_folded: bool
           ) -> "StreamingQuery":
    """The one drain loop both index layouts run: recover a crashed
    promote, run ``append(batch_df, batch_id)`` over the available
    micro-batches (availableNow), await them within ``timeout_s``, then
    auto-compact. Recovery runs BEFORE the drain (r14, closing the r13
    ADVICE data-loss window): a rebuild that crashed between its two
    renames leaves the index rolled-back-able through its pending
    sidecar, but an append that lands first would write new
    ``batch_id=N`` directories into a fresh (or staged-new) index_path
    AND commit them to the stream checkpoint — the later rollback would
    then delete batches the checkpoint will never replay. Rolling the
    crashed promote back first makes the drain land on the restored
    index, so every checkpointed batch survives every crash point."""
    from bda_spadochrony_spark.fs import index_fs
    from bda_spadochrony_spark.operators.similarity import (
        _ann_index_recover)
    from bda_spadochrony_spark.streaming.runner import run_foreach_batch

    # fs resolved from the session IN HAND (r15, ADVICE r14): the
    # default would re-resolve via getActiveSession(), which can be
    # None on worker threads / unusual driver setups even though the
    # stream's own session is right here
    _ann_index_recover(index_path,
                       fs=index_fs(index_path, stream_vecs.sparkSession))
    query = run_foreach_batch(stream_vecs, append, available_now=True,
                              checkpoint=checkpoint)
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"{label} drain did not finish within {timeout_s}s")
    _auto_compact(stream_vecs.sparkSession, index_path, compact_every,
                  retain_folded=retain_folded)
    return query


def stream_ann_index_build(stream_vecs: DataFrame, index_path: str,
                           centers: DataFrame, id_col: str,
                           vec_col: str = "embedding",
                           checkpoint: str | None = None,
                           timeout_s: int = 300,
                           profile: bool = False,
                           compact_every: int | None = None,
                           retain_folded: bool = False
                           ) -> "StreamingQuery":
    """Drain the available micro-batches of an embedding stream into the
    IVF index (availableNow). Pass the SAME ``checkpoint`` across drains
    and the stream RESUMES — already-indexed input is never re-read, so
    staging new embedding files and draining again is the production
    index-maintenance loop. ``profile=True`` also writes each batch's
    quantizer census sidecar so ``ann_index_drift`` can fire the
    rebuild trigger without re-scanning anything (r12).
    ``compact_every=N`` (r13) folds the per-batch directories into the
    compacted generation whenever a drain leaves N or more of them —
    the always-on index never needs an operator to remember
    ``ann_index_compact``. A crashed promote is recovered BEFORE any
    micro-batch is appended and checkpointed (``_drain``)."""
    from bda_spadochrony_spark.operators.similarity import ann_index_append

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        ann_index_append(batch_df, batch_id, index_path, centers,
                         id_col, vec_col, profile=profile)

    return _drain(stream_vecs, index_path, fn, "ann index", checkpoint,
                  timeout_s, compact_every, retain_folded)


def stream_ann_index_build_pq(stream_vecs: DataFrame, index_path: str,
                              centers: DataFrame, codebooks: list,
                              id_col: str, vec_col: str = "embedding",
                              checkpoint: str | None = None,
                              timeout_s: int = 300,
                              profile: bool = False,
                              compact_every: int | None = None,
                              retain_folded: bool = False
                              ) -> "StreamingQuery":
    """The CODES-ONLY variant of the index drain (r12, VERDICT r11 #1):
    each micro-batch is PQ-encoded against the index's FIXED codebooks
    and appended as ``(corpus_id, codes, rnm)`` per cell — measured
    ~18× smaller on disk than the raw layout at the 10× fixture (r13
    re-measurement on the contract quantizer; r12 fixture read 10.0×)
    (``operators/similarity.ann_index_append_pq`` holds the layout
    contract and the measurement;
    ``ann_index_pq_topk`` is the ADC-tile search + bounded exact rerank
    over the result). Same resume/replay rules as the raw drain: shared
    ``checkpoint`` resumes, ``batch_id=N`` overwrite absorbs replays,
    refitting EITHER artifact (quantizer or codebooks) means
    rebuilding the index, and ``compact_every=N`` (r13) folds batch
    directories into the compacted generation once a drain leaves N or
    more of them. Like the raw drain, a crashed promote is recovered
    BEFORE any micro-batch is appended and checkpointed (r14 — see
    ``_drain``): rollback-after-drain would delete batches the
    checkpoint considers done."""
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_append_pq)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        ann_index_append_pq(batch_df, batch_id, index_path, centers,
                            codebooks, id_col, vec_col, profile=profile)

    return _drain(stream_vecs, index_path, fn, "pq ann index", checkpoint,
                  timeout_s, compact_every, retain_folded)


def stream_ann_index_maintain(stream_vecs: DataFrame, index_path: str,
                              centers: DataFrame, reference: DataFrame,
                              id_col: str, vec_col: str = "embedding",
                              checkpoint: str | None = None,
                              timeout_s: int = 300,
                              compact_every: int | None = 8,
                              max_kl: float = 0.1,
                              max_inflation: float = 1.5,
                              n_cells: int | None = None,
                              seed: int = 42,
                              retain_folded: bool = False,
                              lease_ttl_s: float | None = None) -> tuple:
    """The WHOLE maintenance loop as one call (r13 — the function a
    production operator actually schedules): drain the available
    micro-batches into the raw-layout index (`stream_ann_index_build`,
    profile sidecars on), auto-compact at the ``compact_every``
    threshold, score the accumulated quantizer census against the
    fit-time ``reference`` (`ann_index_drift` — quantizer-sized reads
    only, never the corpus), and when the drift decision fires, REBUILD
    under a freshly-fit quantizer (`ann_index_rebuild` — the index
    stores its own vectors, so the rebuild is self-contained) and
    return the new artifacts.

    Returns ``(centers, reference, rebuilt)`` — feed the returned
    centers/reference to the NEXT maintain call (they only change when
    ``rebuilt`` is True). Searches keep working at every point in the
    loop: the drain's appends are replay-idempotent, compaction and
    rebuild promote through the sidecar-guarded renames, and
    `ann_index_topk` reads through the manifest — so a crash anywhere
    in this function recovers on the next call, which is the loop's
    durability contract end to end. The stream checkpoint is never
    touched by compaction or rebuild: already-indexed input stays
    indexed, future epochs keep monotonic ids."""
    import contextlib

    from bda_spadochrony_spark.fs import index_fs
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_drift, ann_index_lease, ann_index_rebuild)

    spark = stream_vecs.sparkSession
    # lease_ttl_s (r14): opt-in enforcement of the single-writer
    # contract — the whole drain→compact→drift→rebuild sequence runs
    # under the index's advisory lease (ann_index_lease docstring has
    # the staleness/availability trade); fs from the session in hand
    # (r15, ADVICE r14)
    guard = (ann_index_lease(index_path, fs=index_fs(index_path, spark),
                             ttl_s=lease_ttl_s)
             if lease_ttl_s is not None else contextlib.nullcontext())
    with guard:
        stream_ann_index_build(stream_vecs, index_path, centers, id_col,
                               vec_col, checkpoint=checkpoint,
                               timeout_s=timeout_s, profile=True,
                               compact_every=compact_every,
                               retain_folded=retain_folded)
        decision = ann_index_drift(spark, index_path, centers, reference,
                                   max_kl=max_kl,
                                   max_inflation=max_inflation
                                   ).collect()[0]
        if not decision["rebuild"]:
            return centers, reference, False
        centers2, reference2 = ann_index_rebuild(spark, index_path,
                                                 n_cells=n_cells,
                                                 seed=seed)
        return centers2.localCheckpoint(), reference2, True


def stream_ann_index_maintain_pq(stream_vecs: DataFrame, index_path: str,
                                 centers: DataFrame, codebooks: list,
                                 reference: DataFrame, source: DataFrame,
                                 id_col: str, vec_col: str = "embedding",
                                 checkpoint: str | None = None,
                                 timeout_s: int = 300,
                                 compact_every: int | None = 8,
                                 max_kl: float = 0.1,
                                 max_inflation: float = 1.5,
                                 n_cells: int | None = None,
                                 seed: int = 42,
                                 retain_folded: bool = False,
                                 lease_ttl_s: float | None = None
                                 ) -> tuple:
    """The CODES-ONLY layout's one-call maintenance loop (r14 — closing
    the asymmetry left by r13: `stream_ann_index_maintain` served only
    the raw layout, but the codes layout is the one a 100 TB index
    actually holds at rest, measured ~18× smaller). Drain → auto-compact
    → drift-check → rebuild-if-fired, with ONE structural difference
    from the raw loop: PQ codes are lossy, so the rebuild cannot refit
    from the index's own rows — it refits quantizer AND codebooks from
    ``source``, the (id, vector) corpus side table the PQ search
    (`ann_index_pq_topk`) already requires for its exact rerank. The
    caller keeps that table current (it is the corpus of record); at
    100 TB it is the row store the index is an accelerator FOR, so no
    extra copy is introduced.

    Returns ``(centers, codebooks, reference, rebuilt)`` — feed all
    three artifacts to the next call (they only change when ``rebuilt``
    is True). Same durability story as the raw loop: recovery before
    the drain (a crashed rebuild rolls back before any append is
    checkpointed), replay-idempotent ``batch_id=N`` appends,
    sidecar-guarded promotes, manifest-aware reads; the stream
    checkpoint is never touched by compaction or rebuild."""
    import contextlib

    from bda_spadochrony_spark.fs import index_fs
    from bda_spadochrony_spark.operators.similarity import (
        ann_index_drift, ann_index_lease, ann_index_rebuild_pq)

    spark = stream_vecs.sparkSession
    guard = (ann_index_lease(index_path, fs=index_fs(index_path, spark),
                             ttl_s=lease_ttl_s)
             if lease_ttl_s is not None else contextlib.nullcontext())
    with guard:
        stream_ann_index_build_pq(stream_vecs, index_path, centers,
                                  codebooks, id_col, vec_col,
                                  checkpoint=checkpoint,
                                  timeout_s=timeout_s, profile=True,
                                  compact_every=compact_every,
                                  retain_folded=retain_folded)
        decision = ann_index_drift(spark, index_path, centers, reference,
                                   max_kl=max_kl,
                                   max_inflation=max_inflation
                                   ).collect()[0]
        if not decision["rebuild"]:
            return centers, codebooks, reference, False
        centers2, codebooks2, reference2 = ann_index_rebuild_pq(
            spark, index_path, source, id_col, vec_col=vec_col,
            n_cells=n_cells, seed=seed)
        return centers2.localCheckpoint(), codebooks2, reference2, True
