"""Corpus-assembly operators for pretraining pipelines: benchmark
decontamination and sequence packing.

Both are first-class stages in any LLM data pipeline (the reference has no
analogue; SURVEY.md's training-data extension surface):

- **Decontamination**: before training, measure each corpus document's
  n-gram overlap against an evaluation/benchmark set and drop documents
  whose overlap fraction exceeds a threshold — the standard guard against
  benchmark leakage (GPT-3 appendix C / PaLM-style 'contamination' checks).
- **Sequence packing**: pretraining consumes fixed-length token windows;
  documents are concatenated in a deterministic order and cut every
  ``budget`` tokens. Each document's pack assignment is a pure function of
  the running token offset — reproducible across engines and reruns.

Scale design: decontamination is an inverted-index semi-join keyed on the
shingle (at 100 TB key the join on ``xxhash64(shingle)`` so the shuffle
carries 8-byte digests; the string form here keeps the DuckDB oracle
engine-portable). Packing windows over a single global order would
serialize; the operator shards first (``doc_id % num_shards``) and packs
within shards — embarrassingly parallel, the standard practice (each shard
becomes one training-data stream).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bda_spadochrony_spark.functions.numeric import stable_round
from bda_spadochrony_spark.operators.dedup import shingle_rows


def contamination(corpus: DataFrame, benchmark: DataFrame, id_col: str,
                  text_col: str, shingle_n: int = 3) -> DataFrame:
    """Per-corpus-document benchmark contamination: the fraction of the
    document's distinct ``shingle_n``-gram shingles that also occur
    anywhere in ``benchmark``.

    Returns (id, n_shingles, n_contaminated, contamination) — filter on
    ``contamination`` to drop leaked documents. The benchmark shingle set
    is deduplicated once; the overlap join is an inverted-index semi-join
    keyed on the shingle (map-side combinable, AQE-splittable on skewed
    boilerplate shingles).
    """
    c_sh = shingle_rows(corpus, id_col, text_col, shingle_n, distinct=True)
    b_sh = (shingle_rows(benchmark, id_col, text_col, shingle_n,
                         distinct=False)
            .select("shingle").distinct())
    totals = c_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (c_sh.join(b_sh, "shingle", "left_semi")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_contaminated")))
    return (totals.join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.col("n_shingles"),
                    F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
                    stable_round(F.coalesce("n_contaminated", F.lit(0)) /
                                 F.greatest(F.col("n_shingles"), F.lit(1)), 4)
                    .alias("contamination")))


def build_vocab(df: DataFrame, text_col: str, size: int = 100,
                prune_groups: int = 64) -> DataFrame:
    """Top-``size`` tokens by corpus frequency (ties broken by token,
    ascending) → (token, token_id) with ids 1..size. One explode + one
    count shuffle; the result is dimension-table-sized by construction.

    Scale design: the final rank is a global (unpartitioned) window, which
    funnels its input through one partition — so that input is PRE-PRUNED
    first. The global top-``size`` under any total order is a subset of
    the union of per-group top-``size`` for ANY disjoint grouping of the
    tokens, so we rank within ``prune_groups`` hash groups (a partitioned,
    parallel window) and keep each group's top-``size``: the single-
    partition sort then sees at most ``prune_groups * size`` rows no
    matter how large the distinct-token table is. Output is identical to
    the naive global rank (same order key both levels).
    """
    from bda_spadochrony_spark.operators.text import tokens
    from pyspark.sql import Window
    tok_rows = df.select(F.explode(tokens(text_col)).alias("token"))
    counts = tok_rows.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    gw = (Window.partitionBy(F.pmod(F.xxhash64("token"),
                                    F.lit(prune_groups)))
          .orderBy(F.col("c").desc(), F.col("token").asc()))
    pruned = (counts.withColumn("gr", F.row_number().over(gw))
              .where(F.col("gr") <= size).drop("gr"))
    w = Window.orderBy(F.col("c").desc(), F.col("token").asc())
    return (pruned.withColumn("token_id", F.row_number().over(w))
            .where(F.col("token_id") <= size)
            .select("token", "token_id"))


def tokens_to_ids(df: DataFrame, id_col: str, text_col: str,
                  vocab: DataFrame, unk_id: int = 0) -> DataFrame:
    """Encode each document as its token-id sequence against a fixed
    vocabulary — the tokenize-against-vocab step of a pretraining
    pipeline. Out-of-vocabulary tokens map to ``unk_id``.

    The vocabulary broadcasts (dimension-sized); the reassembly is
    ORDER-STABLE by construction: collect_list order is not guaranteed
    across partitions/retries, so the ids are collected as (pos, id)
    structs and sort_array restores token order before the positions are
    projected away — the correct Spark pattern for sequence rebuilds.
    """
    from bda_spadochrony_spark.operators.text import tokens
    ex = df.select(F.col(id_col),
                   F.posexplode(tokens(text_col)).alias("pos", "token"))
    j = (ex.join(F.broadcast(vocab), "token", "left")
         .select(id_col, "pos",
                 F.coalesce("token_id", F.lit(unk_id)).alias("tid")))
    return (j.groupBy(id_col)
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s["tid"]).alias("token_ids")))


def tokens_to_ids_bytes(df: DataFrame, id_col: str, text_col: str,
                        vocab: DataFrame, reserved: list[str],
                        vocab_size: int | None = None) -> DataFrame:
    """Byte-fallback encoding (r12, VERDICT r11 #4): NO token is ever
    out-of-vocabulary — the production property ``tokens_to_ids``'s
    OOV→0 mapping lacks (its information loss is what ``detokenize``
    measures as ``n_unk``). Three id rungs, checked in order:

    1. RESERVED tokens (the special-token list ``bpe_encode(reserved=)``
       protects from merging) map to pinned ids ``1..R`` by list order.
    2. Vocabulary tokens map to ``R + token_id`` (``build_vocab`` ids
       are 1-based, so the ranges never collide).
    3. Everything else decomposes to the UTF-8 BYTES of the token WITH
       ITS LEADING SPACE (``' ' + token`` — the GPT-2 byte-level
       convention, where a token carries its separator), byte ``b`` →
       ``R + V + 1 + b`` — a fixed 256-slot byte alphabet, so any
       Unicode string encodes and ``n_unk`` is 0 by construction. The
       space byte is what makes decoding LOSSLESS: two consecutive
       fallback tokens' byte runs are adjacent in the id stream, and
       without the separator byte their boundary would be
       unrecoverable (``ids_to_tokens_bytes`` round-trips exactly).

    The byte decomposition is pure column arithmetic on the hex form
    (``hex(encode(token))`` — engine-portable, byte-for-byte identical
    in the DuckDB oracle), order-stable via (pos, byte-pos) structs.
    ``vocab_size`` pins ``V`` (pass the size the vocab was built with);
    ``None`` derives it from the vocab's max id — one bounded collect.
    Empty-string tokens are dropped (the ``bpe_encode`` rule) and
    docless ids keep an empty sequence via the join back to the corpus.
    Output: ``(id, token_ids, n_ids, n_byte_ids, n_unk)`` — n_byte_ids
    counts fallback ids (the audit that rung 3 is actually exercised),
    n_unk counts unmappable ids and is structurally 0."""
    from bda_spadochrony_spark.operators.text import tokens
    R = len(reserved)
    if vocab_size is None:
        row = vocab.agg(F.max("token_id")).collect()[0][0]
        vocab_size = int(row or 0)
    V = int(vocab_size)
    res_arr = F.array(*[F.lit(t) for t in reserved])
    ex = (df.select(F.col(id_col),
                    F.posexplode(tokens(text_col)).alias("pos", "token"))
          .where(F.col("token") != ""))
    j = ex.join(F.broadcast(vocab), "token", "left")
    h = F.hex(F.encode(F.concat(F.lit(" "), F.col("token")), "UTF-8"))
    byte_ids = F.transform(
        F.sequence(F.lit(0), (F.length(h) / 2).cast("int") - 1),
        lambda i: (F.conv(F.substring(h, i * 2 + 1, F.lit(2)), 16, 10)
                   .cast("int") + F.lit(R + V + 1)))
    rid = F.array_position(res_arr, F.col("token"))
    tids = (F.when(rid > 0, F.array(rid.cast("int")))
            .when(F.col("token_id").isNotNull(),
                  F.array((F.col("token_id") + R).cast("int")))
            .otherwise(byte_ids))
    flat = (j.select(id_col, "pos", tids.alias("tids"))
            .select(id_col, "pos",
                    F.posexplode("tids").alias("bpos", "tid")))
    agg = (flat.groupBy(id_col)
           .agg(F.transform(
               F.sort_array(F.collect_list(
                   F.struct("pos", "bpos", "tid"))),
               lambda s: s["tid"]).alias("token_ids")))
    out = (df.select(id_col).join(agg, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("token_ids", F.array().cast("array<int>"))
                   .alias("token_ids")))
    return out.select(
        id_col, "token_ids",
        F.size("token_ids").alias("n_ids"),
        F.size(F.filter("token_ids",
                        lambda x: x > F.lit(R + V))).alias("n_byte_ids"),
        F.size(F.filter("token_ids",
                        lambda x: x <= F.lit(0))).alias("n_unk"))


def ids_to_tokens_bytes(ids_df: DataFrame, id_col: str, ids_col: str,
                        vocab: DataFrame, reserved: list[str],
                        vocab_size: int | None = None) -> DataFrame:
    """The LOSSLESS inverse of ``tokens_to_ids_bytes`` (r12): rebuild
    each document's normalized text exactly — no ``<unk>`` sentinel,
    no information loss, because the encoder's byte rung kept every
    out-of-vocabulary token (with its leading space byte marking the
    token boundary). ``decode(encode(x)) == concat_ws(' ', tokens(x))``
    for EVERY document, which ``detokenize_bytes`` pins under the
    oracle — the property the r11 ``detokenize`` loop could only
    measure the loss of (``n_unk``).

    Shape: ids explode to (pos, id) rows; a per-doc running count of
    NON-byte ids assigns each byte run to the segment of the token
    before it (gaps-and-islands, one window over rows that number
    O(sequence length)); each segment's byte run concatenates its hex
    pairs in order and decodes as ONE ``unhex``/UTF-8 decode (multi-
    byte characters must decode from the whole run, never per byte);
    reserved/vocab ids map through the broadcast vocab. Every rung is
    engine-portable column arithmetic — the oracle restates it with
    the same window and ``from_hex`` decode."""
    R = len(reserved)
    if vocab_size is None:
        row = vocab.agg(F.max("token_id")).collect()[0][0]
        vocab_size = int(row or 0)
    V = int(vocab_size)
    res_arr = F.array(*[F.lit(t) for t in reserved])
    ex = ids_df.select(F.col(id_col),
                       F.posexplode(F.col(ids_col)).alias("pos", "tid"))
    is_byte = F.col("tid") > R + V
    w = Window.partitionBy(id_col).orderBy("pos")
    ex = ex.withColumn("seg", F.sum((~is_byte).cast("int")).over(w))
    ex = ex.withColumn(
        "tok",
        F.when(F.col("tid") <= R,
               F.element_at(res_arr, F.col("tid").cast("int")))
        .otherwise(F.lit(None).cast("string")))
    ex = (ex.join(F.broadcast(vocab.select(
        (F.col("token_id") + R).alias("tid"),
        F.col("token").alias("vtok"))), "tid", "left")
        .withColumn("tok", F.coalesce("tok", "vtok"))
        .withColumn("hex", F.when(is_byte, F.lpad(
            F.conv((F.col("tid") - (R + V + 1)).cast("string"), 10, 16),
            2, "0"))))
    seg = (ex.groupBy(id_col, "seg")
           .agg(F.min("pos").alias("spos"),
                F.min("tok").alias("tok"),
                F.concat_ws("", F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "hex"))),
                    lambda s: s["hex"])).alias("hexrun")))
    seg_str = F.concat(
        F.when(F.col("tok").isNotNull(),
               F.concat(F.lit(" "), F.col("tok"))).otherwise(F.lit("")),
        F.when(F.col("hexrun") != "",
               F.decode(F.unhex(F.col("hexrun")), "UTF-8"))
        .otherwise(F.lit("")))
    out = (seg.groupBy(id_col)
           .agg(F.ltrim(F.concat_ws("", F.transform(
               F.sort_array(F.collect_list(
                   F.struct("spos", seg_str.alias("s")))),
               lambda x: x["s"]))).alias("detok")))
    return (ids_df.select(id_col).join(out, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("detok", F.lit("")).alias("detok")))


def ids_to_tokens(ids_df: DataFrame, id_col: str, ids_col: str,
                  vocab: DataFrame, unk_id: int = 0,
                  unk_token: str = "<unk>") -> DataFrame:
    """The INVERSE of ``tokens_to_ids`` (r11 — the decode half a serving
    pipeline needs to audit or display its training sequences): rebuild
    each document's token stream from its id sequence against the same
    vocabulary. ``unk_id`` maps to the ``unk_token`` sentinel — the
    information the encoder dropped is gone, so
    ``decode(encode(x)) == x`` exactly on the in-vocabulary tokens and
    the round trip is pinned token-count-preserving (every id produces
    exactly one output token). Same order-stable reassembly as the
    encoder: (pos, token) structs sorted before projection, and the
    vocabulary broadcasts. Output: ``(id_col, detok, n_unk)``."""
    ex = ids_df.select(F.col(id_col),
                       F.posexplode(F.col(ids_col)).alias("pos", "tid"))
    j = (ex.join(F.broadcast(vocab.select(
            F.col("token_id").alias("tid"), "token")), "tid", "left")
         .select(id_col, "pos",
                 F.coalesce("token", F.lit(unk_token)).alias("tok"),
                 (F.col("tid") == unk_id).cast("int").alias("is_unk")))
    return (j.groupBy(id_col)
            .agg(F.concat_ws(" ", F.transform(
                     F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                     lambda s: s["tok"])).alias("detok"),
                 F.sum("is_unk").alias("n_unk")))


def pack_documents(df: DataFrame, id_col: str, text_col: str,
                   budget: int = 512, num_shards: int = 8,
                   order_col: Column | None = None) -> DataFrame:
    """Concatenate-and-cut sequence packing: within each shard
    (``id % num_shards``), documents are laid out in id order and the
    token stream is cut every ``budget`` tokens. A document's ``pack_id``
    is the window its FIRST token lands in; ``pack_offset`` is its token
    offset within that window (documents longer than the remaining window
    straddle the cut, exactly like pretraining-corpus concatenation).

    ``order_col`` overrides the in-shard layout order (ties → id): pass a
    deterministic key — e.g. ``sampling.hash_bucket(id)`` — to pack in a
    shuffled epoch order instead of id order, folding the training-order
    shuffle and the packing layout into ONE window pass (the
    ``corpus_pipeline`` composite's final stage).

    One shuffle (the shard window); within a shard the running sum is a
    single sort-based window — shards bound the sort size, so parallelism
    is ``num_shards`` regardless of corpus size.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    cols = [F.col(id_col), (F.col(id_col) % num_shards).alias("shard"),
            F.size(toks).alias("n_tokens")]
    order = [F.col(id_col)]
    if order_col is not None:
        cols.append(order_col.alias("__ord"))
        order = [F.col("__ord"), F.col(id_col)]
    base = df.select(*cols)
    w = Window.partitionBy("shard").orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, -1)
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        id_col, "shard", "n_tokens",
        (F.floor(start / budget)).cast("long").alias("pack_id"),
        (start % budget).cast("long").alias("pack_offset"))


def shuffle_corpus(df: DataFrame, id_col: str, salt: int = 0,
                   num_partitions: int | None = None,
                   key_col: str = "shuffle_key") -> DataFrame:
    """Deterministic global corpus shuffle for training order: every row
    gets a pure-function shuffle key (the Knuth multiplicative hash of its
    id + salt), and the frame is range-partitioned and sorted on
    ``(key, id)`` — so the CONCATENATION of output partitions is a total
    shuffled order, with no single-partition global sort anywhere (the
    range exchange samples boundaries; each partition sorts locally).
    Write the result ``partitionBy``-free and readers stream the corpus in
    shuffled order; a different ``salt`` is a fresh epoch permutation,
    and the same salt reproduces the identical order on any cluster.
    """
    from bda_spadochrony_spark.operators.sampling import hash_bucket
    d = df.withColumn(key_col, hash_bucket(id_col, salt))
    parts = (num_partitions
             or d.sparkSession.sparkContext.defaultParallelism)
    return (d.repartitionByRange(parts, F.col(key_col), F.col(id_col))
            .sortWithinPartitions(key_col, id_col))


# frequency_floor auto-gate threshold (docs). The round-9 A/B at BOTH
# test scales (Zipfian fixture v2, isolated runs) measured the prune a
# net LOSS up to 50k docs: sf0.1 0.92 s off vs 4.67 s on, sf1 5.87 s
# off vs 10.48 s on — the r8 "9.9×→5.6×" was a matched-prune-on FACTOR
# whose sf0.1 baseline had absorbed the same fixed pre-pass cost, not
# an absolute win. The prune's win regime is where the pair shuffle's
# key space (~vocab² tail) outgrows executor hash-agg memory and spills
# — vocab grows with corpus, so that is far beyond the measurable
# fixture scales on ONE box (a forced-spill 2 GB heap still favored
# prune-off at 19M distinct pair keys: Spark's external hash agg
# absorbs the key space). The quantified 100 TB argument is SHUFFLE
# VOLUME, measured on an adversarial wide-vocab corpus (240k docs,
# vocab ≈ token count): the prune cuts pair-shuffle rows 9×
# (19.0M → 2.1M) and shuffle keys 227,780× (16.9M → 74) — network
# bytes and reduce-side state on a real multi-executor cluster, which
# local wall-clock cannot see. Pass frequency_floor=True to pin it for
# corpora with known-huge vocabularies. Both settings return identical
# rows (the prune is provably exact), so the gate can never change
# results.
_FLOOR_MIN_DOCS = 200_000


def bpe_pair_counts(df: DataFrame, text_col: str, top_n: int = 50,
                    prune_groups: int = 64,
                    frequency_floor: bool | None = None) -> DataFrame:
    """The distributed core of one BPE-training iteration: corpus-wide
    counts of ADJACENT token pairs, top-``top_n`` by frequency (ties broken
    by the pair, ascending). Tokenizer training at corpus scale is exactly
    this statistic in a loop — the merge choice is the argmax row; only the
    (tiny) merge application is iterative driver logic.

    Plan shape: the pair explode is a pure map (``transform`` over index
    ``sequence`` — no self-join of token rows against themselves), the
    count is one map-side-combined shuffle keyed on the pair, and the final
    rank reuses the ``build_vocab`` pruning discipline: a partitioned
    per-hash-group top-``top_n`` window bounds the single-partition global
    rank input to ``prune_groups * top_n`` rows at any corpus size.

    ``frequency_floor`` bounds the pair-count SHUFFLE itself, whose key
    space grows ~vocab² under a realistic heavy-tailed vocabulary.
    ``None`` (the default since round 9 — VERDICT r8 #5) SIZE-GATES the
    prune from the corpus, the same discipline that sizes everything
    else here: the floor pre-pass costs one unigram count plus two
    bounded collects, and the round-9 isolated A/B measured that fixed
    cost a net loss at BOTH measurable scales (sf0.1 0.92 s off vs
    4.67 s on; sf1 5.87 s off vs 10.48 s on), so the prune engages only
    when the corpus has at least ``_FLOOR_MIN_DOCS`` documents — the
    regime where the distinct-pair key space can actually spill the
    shuffle (see the constant's derivation). One metadata-cheap count
    decides; both settings are exact, the gate is purely a cost choice.
    Pass True/False to pin it.
    The prune is PROVABLY exact, not approximate: a pair's count is at
    most min(count(a), count(b)), and the ``top_n``-th pair count among
    pairs of the most-frequent tokens is a LOWER bound ``L`` on the true
    ``top_n``-th pair count (a subset's n-th largest never exceeds the
    full set's), so a pair with either token's unigram count < L can
    never rank — it is dropped BEFORE the pair shuffle via a broadcast
    semi-join on the (tiny, Zipf-head) frequent-token set. Costs one
    vocab-keyed unigram count plus two bounded collects (the candidate
    token list and ``top_n`` subset counts); buys a pair shuffle keyed on
    frequent-frequent pairs only. Degenerate corpora (fewer than
    ``top_n`` candidate pairs) set L=0 and skip the prune entirely.
    """
    from bda_spadochrony_spark.operators.text import tokens
    if frequency_floor is None:
        frequency_floor = df.count() >= _FLOOR_MIN_DOCS
    t = df.select(tokens(text_col).alias("__t"))
    # walk the head slice with its index and pair each token with its
    # successor; the slice length is clamped to 0 so single-token documents
    # emit no pairs (sequence(1, 0) would DESCEND and index negatively)
    pairs = t.select(F.explode(F.expr(
        "transform(slice(__t, 1, greatest(size(__t) - 1, 0)),"
        " (x, i) -> struct(x AS a, __t[i + 1] AS b))")).alias("p"))
    pairs = pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    if frequency_floor:
        uni = (t.select(F.explode("__t").alias("tok"))
               .groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
        # candidate set: the Zipf head almost certainly containing the
        # top pairs; its size only affects how TIGHT the bound is
        m = max(64, 2 * top_n)
        cand = [r["tok"] for r in
                uni.orderBy(F.col("c").desc(), F.col("tok").asc())
                   .limit(m).collect()]
        sub = (pairs.where(F.col("a").isin(cand) & F.col("b").isin(cand))
               .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
               .orderBy(F.col("n").desc()).limit(top_n).collect())
        floor = sub[-1]["n"] if len(sub) == top_n else 0
        if floor > 1:
            keep = F.broadcast(
                uni.where(F.col("c") >= floor).select("tok"))
            pairs = (pairs
                     .join(keep.withColumnRenamed("tok", "a"), "a",
                           "left_semi")
                     .join(keep.withColumnRenamed("tok", "b"), "b",
                           "left_semi"))
    counts = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    gw = (Window.partitionBy(F.pmod(F.xxhash64("a", "b"),
                                    F.lit(prune_groups)))
          .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc()))
    pruned = (counts.withColumn("gr", F.row_number().over(gw))
              .where(F.col("gr") <= top_n).drop("gr"))
    w = Window.orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
    return (pruned.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n)
            .select("rank", "a", "b", "n"))


def _apply_merges_pandas(df: DataFrame, merges: list,
                         syms_col: str = "syms",
                         keep: list | None = None) -> DataFrame:
    """Apply a BPE merge list to a symbol-array column as ONE map-only
    Arrow kernel (r15) — the exact ``merge_fold`` algorithm (greedy
    left-to-right non-overlapping, merges in rank order) in Python,
    value-identical by construction: pure string equality and
    concatenation, no floating point anywhere. Replaces a chain of k
    interpreted ``aggregate`` struct-folds whose eager Catalyst
    analysis and per-element interpretation grew with the merge count
    (bpe_encode measured ~2 s of build + the interpreted fold exec at
    sf0.1 for k=6; the kernel's plan is one MapInPandas node).
    Equality with ``merge_fold`` is pinned in
    tests/test_pipeline_ops.py. The ``a in s and b in s`` gate mirrors
    the fold's ``array_contains`` gate — a behavioral no-op (a fold
    without both symbols rebuilds the array unchanged), kept for the
    same skip-fast reason."""
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)

    keep = list(keep or [])
    fields = [StructField(c, df.schema[c].dataType) for c in keep
              if c != syms_col]
    fields.append(StructField(syms_col, ArrayType(StringType())))
    schema = StructType(fields)
    pass_cols = [c for c in keep if c != syms_col]
    mlist = [(str(a), str(b)) for a, b in merges]

    def apply_(it):
        for pdf in it:
            if pdf.empty:
                continue
            out_col = []
            for syms in pdf[syms_col]:
                s = list(syms)
                for a, b in mlist:
                    if a not in s or b not in s:
                        continue
                    out, pend = [], None
                    for x in s:
                        if pend is None:
                            pend = x
                        elif pend == a and x == b:
                            out.append(a + b)
                            pend = None
                        else:
                            out.append(pend)
                            pend = x
                    if pend is not None:
                        out.append(pend)
                    s = out
                out_col.append(s)
            res = pdf[pass_cols].copy()
            res[syms_col] = out_col
            yield res

    return df.select(*pass_cols, syms_col).mapInPandas(apply_,
                                                       schema=schema)


def merge_fold(syms_col, a: str, b: str):
    """ONE BPE merge applied to a symbol array, greedy left-to-right
    non-overlapping (the classic application order): fold the array with
    an (out, pending) accumulator — pending==``a`` followed by ``b``
    emits the merged symbol, anything else flushes pending. Pure
    ``F.aggregate`` column expression — map-only, shared by the trainer's
    per-round application and ``bpe_encode``."""
    merged, al, bl = F.lit(a + b), F.lit(a), F.lit(b)
    return F.aggregate(
        syms_col,
        F.struct(F.array().cast("array<string>").alias("out"),
                 F.lit(None).cast("string").alias("pend")),
        lambda acc, x: F.when(
            acc["pend"].isNull(),
            F.struct(acc["out"].alias("out"), x.alias("pend"))
        ).when(
            (acc["pend"] == al) & (x == bl),
            F.struct(F.concat(acc["out"], F.array(merged)).alias("out"),
                     F.lit(None).cast("string").alias("pend"))
        ).otherwise(
            F.struct(F.concat(acc["out"], F.array(acc["pend"]))
                     .alias("out"), x.alias("pend"))),
        lambda acc: F.when(acc["pend"].isNull(), acc["out"])
                     .otherwise(F.concat(acc["out"], F.array(acc["pend"]))))


def bpe_encode(df: DataFrame, id_col: str, text_col: str,
               merges: list[tuple[str, str]],
               reserved: list[str] | None = None,
               alphabet: str = "chars") -> DataFrame:
    """Apply a trained BPE merge table to every document — the ENCODING
    half of the tokenizer that ``bpe_train`` learns (VERDICT r9 #7:
    training without application is half a tokenizer). Returns
    ``(id, symbols)`` where ``symbols`` is the document's encoded symbol
    sequence (word boundaries never crossed, the trainer's contract).

    Scale design — the same word-frequency compression as training: the
    k-merge fold runs ONCE PER DISTINCT WORD (``merge_fold`` chained in
    rank order over the vocab-sized distinct-word table), never per word
    occurrence; documents then re-assemble by joining their exploded
    (pos, word) rows to the encoded vocabulary and sort-flattening —
    the ``tokens_to_ids`` order-stable rebuild pattern (collect_list
    order is not guaranteed; (pos, syms) structs + array_sort restore
    it). The vocab join is AQE-broadcastable when the vocabulary is
    small and degrades to a word-keyed shuffle when it is not.

    Empty-string tokens are dropped on both sides (an all-whitespace
    document encodes to the empty sequence, and documents with NULL text
    keep an empty row via the left join back to the corpus). Feed the
    output to ``tokens_to_ids`` against the merged-symbol vocabulary for
    id sequences.

    ``reserved`` (r12, VERDICT r11 #4): special tokens that NEVER
    char-split — a reserved word stays one opaque symbol, so no merge
    can touch it (merges pair learned symbols, and a single-element
    array has no adjacent pair) and downstream id mapping can pin it
    (``tokens_to_ids_bytes``). This is the standard
    special-token contract (pad/bos/eos/separator markers survive the
    tokenizer verbatim). Reserved tokens must already be lowercase —
    ``text.tokens`` lowercases before the word table is built.

    ``alphabet="bytes"`` (r13): the initial split is the word's UTF-8
    bytes of ``' ' + word`` as 2-char hex symbols — apply a merge table
    learned by ``bpe_train(alphabet="bytes")`` and every word encodes
    losslessly (concatenating a word's output symbols always
    reconstructs its full hex, so ``unhex`` of the concatenation IS the
    decode — no unknown symbol can exist). Reserved words stay one
    opaque NON-hex symbol in either alphabet (the id rung pins them).
    """
    from bda_spadochrony_spark.operators.text import tokens
    words = (df.select(F.explode(tokens(text_col)).alias("w"))
             .where(F.col("w") != "").distinct())
    if alphabet == "bytes":
        base_split = _byte_syms("__h")
        words = words.withColumn("__h", _word_hex("w"))
    else:
        base_split = F.split("w", "")
    if reserved:
        res_arr = F.array(*[F.lit(t) for t in reserved])
        split0 = F.when(F.array_contains(res_arr, F.col("w")),
                        F.array(F.col("w"))).otherwise(base_split)
    else:
        split0 = base_split
    enc = words.select("w", split0.alias("syms"))
    # the k-merge application as ONE Arrow kernel over the vocab-sized
    # word table (r15): value-identical to the chained merge_fold
    # expressions by construction (pure string algorithm; equality
    # pinned in tests), without the k-deep fold's per-call analysis or
    # interpreted execution
    if merges:
        enc = _apply_merges_pandas(enc, merges, keep=["w"])
    # checkpoint the (tiny, vocab-sized) encoded table once instead of
    # feeding the kernel stage into the corpus-sized reassembly join
    enc = enc.localCheckpoint(eager=False)
    tok = df.select(F.col(id_col),
                    F.posexplode(tokens(text_col)).alias("pos", "w")) \
            .where(F.col("w") != "")
    rebuilt = (tok.join(enc, "w")
               .groupBy(id_col)
               .agg(F.flatten(F.transform(
                   F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                   lambda s: s["syms"])).alias("symbols")))
    return (df.select(id_col).join(rebuilt, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("symbols", F.array().cast("array<string>"))
                    .alias("symbols")))


def _word_hex(col_name: str):
    """``hex(encode(' ' || word, 'UTF-8'))`` — the byte alphabet's raw
    material under the GPT-2 leading-space convention the byte id rung
    already uses (`tokens_to_ids_bytes`)."""
    return F.hex(F.encode(F.concat(F.lit(" "), F.col(col_name)), "UTF-8"))


def _byte_syms(hex_col: str):
    """A word's byte-alphabet symbol sequence: its `_word_hex` split
    into 2-char uppercase-hex strings, one per UTF-8 byte. Pure column
    arithmetic — both engines state it identically, which is what makes
    the byte trainer ORACLED where the char trainer is rows-only."""
    return F.expr(f"transform(sequence(1, length({hex_col}) div 2),"
                  f" i -> substring({hex_col}, 2*i - 1, 2))")


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 10,
              checkpoint_every: int = 4, alphabet: str = "chars",
              reserved: list[str] | None = None) -> DataFrame:
    """Full BPE tokenizer TRAINING (round 9 — the iterative loop whose
    single-iteration statistic ``bpe_pair_counts`` already computes):
    learn ``n_merges`` character-level merges, returning the ordered
    merge table ``(rank, a, b, n)`` — the artifact a tokenizer ships.

    Scale design — iterations are VOCAB-sized, not corpus-sized: one
    corpus pass aggregates to the distinct-WORD table with counts (BPE
    merges never cross word boundaries, the standard
    word-frequency-compression trick every production trainer uses), and
    every merge round then runs on that tiny weighted table: a map-only
    adjacent-pair explode, one count-weighted sum keyed on the pair, and
    a single collected argmax row (the documented bounded-collect fit
    exception — one row per round). The merge APPLICATION is a map-only
    left-to-right fold over each word's symbol array (``F.aggregate``
    with an (out, pending) struct accumulator — greedy non-overlapping,
    the classic BPE application order), so plan depth grows with rounds;
    ``checkpoint_every`` cuts the lineage.

    Ties break (count desc, a asc, b asc) — the ``bpe_pair_counts``
    rule, so the training loop is deterministic on any corpus. Words are
    whitespace tokens via ``text.tokens`` (lowercased, engine-portable).
    Stops early when no pair repeats (every word fully merged): the
    merge table may be shorter than ``n_merges``. Verified against a
    pure-Python reference trainer in
    ``tests/test_pipeline_ops.py::test_bpe_train_matches_reference``.

    ``alphabet`` (r13, VERDICT r12 #3 — the tokenizer triad's missing
    third): ``"chars"`` learns merges over single characters (the r9
    behavior); ``"bytes"`` learns them over the UTF-8 BYTES of
    ``' ' + word`` as 2-char hex symbols — the GPT-2 byte-level
    convention the encode (`tokens_to_ids_bytes`) and decode
    (`ids_to_tokens_bytes`) rungs already use, so train→encode→decode
    is the full byte-level loop with NO possible OOV at any rung.
    Merges may span the leading space byte, exactly like GPT-2's
    Ġ-tokens. Because hex byte arithmetic is engine-portable column
    math, the byte trainer is fully SQL-restatable (chained
    argmax + recursive pointer-walk rounds) — see the
    ``bpe_train_bytes`` oracle — where the char trainer stays
    rows-only. ``reserved`` words (special tokens) are EXCLUDED from
    the training table: their ids are pinned outside the learned vocab
    (`tokens_to_ids_bytes`), so learning merges inside them would waste
    merge slots on byte sequences the encoder never splits.
    """
    from bda_spadochrony_spark.operators.text import tokens
    spark = df.sparkSession
    base = df.select(F.explode(tokens(text_col)).alias("w"))
    if reserved:
        base = base.where(~F.col("w").isin(reserved))
    counted = base.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    if alphabet == "bytes":
        words = (counted
                 .select(_word_hex("w").alias("__h"), "cnt")
                 .select(_byte_syms("__h").alias("syms"), "cnt")
                 .localCheckpoint(eager=False))
    else:
        words = (counted
                 .select(F.split("w", "").alias("syms"), "cnt")
                 .localCheckpoint(eager=False))

    def adjacent_pair_counts(syms_df: DataFrame) -> DataFrame:
        pairs = syms_df.select("cnt", F.explode(F.expr(
            "transform(slice(syms, 1, greatest(size(syms) - 1, 0)),"
            " (x, i) -> struct(x AS a, syms[i + 1] AS b))")).alias("p"))
        return (pairs.groupBy(F.col("p.a").alias("a"),
                              F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("n")))

    def apply_merge(syms_df: DataFrame, a: str, b: str) -> DataFrame:
        # only words containing BOTH symbols can change — gate the
        # interpreted fold behind a codegen array_contains pair (a
        # necessary-not-sufficient superset: adjacency is the fold's
        # job). Measured at the 10× byte fixture (60k words, 8 rounds):
        # 35 s ungated vs 12.5–14 s gated, identical merge tables.
        # r15 NOTE: a per-round _apply_merges_pandas kernel here
        # measured SLOWER (bpe_train 2.5 s -> 4.5 s at sf0.1): each
        # round's pair-count job re-evaluates the whole chained lineage,
        # so r rounds pay r Python-stage passes where the fold chain
        # stays inside one codegen pipeline — the kernel only wins on
        # the ENCODE side, where the merge list is applied once
        # (bpe_encode).
        hit = F.array_contains("syms", a) & F.array_contains("syms", b)
        return syms_df.select(
            F.when(hit, merge_fold("syms", a, b))
            .otherwise(F.col("syms")).alias("syms"), "cnt")

    merges: list[tuple[int, str, str, int]] = []
    syms = words
    for rank in range(1, n_merges + 1):
        top = (adjacent_pair_counts(syms)
               .orderBy(F.col("n").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(1).collect())
        if not top or top[0]["n"] < 2:
            break                       # nothing repeats: training is done
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((rank, a, b, n))
        syms = apply_merge(syms, a, b)
        if rank % checkpoint_every == 0:
            syms = syms.localCheckpoint(eager=True)
    return spark.createDataFrame(merges or [],
                                 "rank: int, a: string, b: string, n: bigint")


class BpeTokenizer:
    """A LOADED tokenizer artifact (r14, VERDICT r13 #4 — the trained
    tokenizer as a persistable artifact, mirroring S14 model
    persistence, `ml/regress.py:95`): the ordered merge list, the
    alphabet flag, the reserved special tokens, and (optionally) the
    id-mapping vocabulary, with ``encode`` rebuilding the exact
    ``bpe_encode`` plan the training session would have run — so
    train-once / encode-in-a-later-session (or in a foreachBatch drain)
    needs only the artifact path."""

    def __init__(self, merges: list, alphabet: str,
                 reserved: list[str], vocab: DataFrame | None = None):
        self.merges = merges
        self.alphabet = alphabet
        self.reserved = reserved
        self.vocab = vocab

    def encode(self, df: DataFrame, id_col: str,
               text_col: str) -> DataFrame:
        return bpe_encode(df, id_col, text_col, self.merges,
                          reserved=self.reserved or None,
                          alphabet=self.alphabet)


def bpe_save(merges: DataFrame, path: str, alphabet: str = "chars",
             reserved: list[str] | None = None,
             vocab: DataFrame | None = None) -> None:
    """Persist a trained BPE tokenizer as a parquet artifact (r14,
    VERDICT r13 #4): ``{path}/merges`` holds the ordered merge table
    exactly as ``bpe_train`` returned it, ``{path}/vocab`` (optional)
    the id-mapping vocabulary for the ``tokens_to_ids`` rungs, and
    ``{path}/meta.json`` the alphabet flag + reserved special tokens.
    The meta sidecar is written LAST, atomically, through the pluggable
    filesystem shim — it is the artifact's commit marker: ``bpe_load``
    refuses a directory without it, so a crashed save can never serve a
    half-written tokenizer (the ANN index's sidecar discipline, applied
    to a write-once artifact). Overwrite-save, like S14 models."""
    import json

    from bda_spadochrony_spark.fs import index_fs
    fs = index_fs(path, merges.sparkSession)
    meta_path = f"{path}/meta.json"
    if fs.exists(meta_path):
        fs.remove(meta_path)            # un-commit before rewriting parts
    # merge tables are tokenizer-sized (≤ n_merges rows): one part file.
    # repartition(1), NOT coalesce(1): coalescing a parallelized local
    # collection (LocalTableScan over 32 slots) measured ~5 s of
    # scheduling stall PER WRITE at local[32], while the one-row-group
    # shuffle is ~0.6 s (r14 A/B; coalesce after a real shuffle is fine)
    (merges.repartition(1).write.mode("overwrite")
     .parquet(f"{path}/merges"))
    if vocab is not None:
        vocab.repartition(1).write.mode("overwrite") \
            .parquet(f"{path}/vocab")
    fs.write_text_atomic(meta_path, json.dumps({
        "format": 1, "alphabet": alphabet,
        "reserved": list(reserved or []),
        "has_vocab": vocab is not None}))


def bpe_load(spark, path: str) -> BpeTokenizer:
    """Load a ``bpe_save`` artifact and rebuild the encode plan: the
    merge table is collected in rank order (tokenizer-artifact-sized —
    the documented bounded-collect exception, same as feeding
    ``bpe_encode`` straight from ``bpe_train``), the vocabulary (when
    saved) stays a DataFrame for the id rungs. Raises FileNotFoundError
    when the commit marker is missing — an absent or crashed-mid-save
    artifact must fail loud, never encode with a partial merge list."""
    import json

    from bda_spadochrony_spark.fs import index_fs
    fs = index_fs(path, spark)
    meta_path = f"{path}/meta.json"
    if not fs.exists(meta_path):
        raise FileNotFoundError(
            f"no committed tokenizer artifact at {path} (meta.json "
            "missing — save crashed before its commit marker, or wrong "
            "path)")
    meta = json.loads(fs.read_text(meta_path))
    merges_df = spark.read.parquet(f"{path}/merges")
    merges = [(r["a"], r["b"])
              for r in merges_df.orderBy("rank").collect()]
    vocab = (spark.read.parquet(f"{path}/vocab")
             if meta.get("has_vocab") else None)
    return BpeTokenizer(merges, meta.get("alphabet", "chars"),
                        list(meta.get("reserved") or []), vocab)


def quality_gate(df: DataFrame, id_col: str, text_col: str,
                 min_tokens: int = 30, max_dup3: float = 0.03,
                 max_top_token: float = 0.15,
                 surprisal_lo: float = 4.9,
                 surprisal_hi: float = 5.2) -> DataFrame:
    """The corpus admission VERDICT: compose the repetition metrics
    (Gopher), the unigram-surprisal score (CCNet-style), and a length
    floor into one keep/drop per document with the FIRST failing reason —
    the auditable form a production filter pipeline emits (keep the
    verdict frame, join it back to drop rows, aggregate it for filter-
    rate monitoring). Rule order is fixed: too_short → repetitive →
    dominated → low_surprisal → high_surprisal → ok.

    All inputs are stable-rounded BEFORE thresholding, so the verdict is
    engine-exact (the same comparisons on the same rounded values in the
    SQL oracle); the plan is the union of the two underlying operators'
    plans plus one id-keyed join.
    """
    return _gate_verdict(df, unigram_surprisal(df, id_col, text_col),
                         id_col, text_col, min_tokens, max_dup3,
                         max_top_token, surprisal_lo, surprisal_hi)


def _gate_verdict(df: DataFrame, sur: DataFrame, id_col: str, text_col: str,
                  min_tokens: int, max_dup3: float, max_top_token: float,
                  surprisal_lo: float, surprisal_hi: float) -> DataFrame:
    """``quality_gate``'s verdict over ``df``'s repetition features and a
    prebuilt ``unigram_surprisal`` frame ``sur`` of the same corpus."""
    from bda_spadochrony_spark.operators.text import repetition_features
    rep = repetition_features(df.select(F.col(id_col), F.col(text_col)),
                              id_col, text_col)
    j = rep.join(sur.select(F.col(id_col),
                            F.col("surprisal")), id_col, "left")
    s = F.coalesce("surprisal", F.lit(0.0))
    reason = (F.when(F.col("r_n_tokens") < min_tokens, "too_short")
              .when(F.col("r_dup_3gram_fraction") > max_dup3, "repetitive")
              .when(F.col("r_top_token_fraction") > max_top_token,
                    "dominated")
              .when(s < surprisal_lo, "low_surprisal")
              .when(s > surprisal_hi, "high_surprisal")
              .otherwise("ok"))
    return j.select(F.col(id_col),
                    F.col("r_n_tokens").alias("n_tokens"),
                    reason.alias("reason"),
                    (reason == "ok").cast("int").alias("keep"))


def surprisal_band(df: DataFrame, id_col: str, text_col: str,
                   lo_q: float = 0.1, hi_q: float = 0.9,
                   round_digits: int = 4) -> tuple[float, float]:
    """Corpus-CALIBRATED surprisal thresholds — the quality-filter twin
    of ``similarity.planes_for`` (round 7, BENCH_SF1 lesson): a fixed
    surprisal band is specific to the corpus it was tuned on. Absolute
    unigram surprisal scales with vocabulary size and shape — a band
    tuned on a small-vocabulary corpus sits entirely below a 10k-type
    Zipfian corpus's distribution, so the same fixed gate that keeps 70%
    of one corpus drops 100% of the other (measured: ``corpus_pipeline``
    at the sf1 fixture-v2 run). CCNet/Gopher-style filters calibrate
    per corpus for exactly this reason.

    Returns the ``(lo_q, hi_q)`` exact percentiles of the corpus's own
    per-document surprisal distribution — pass them to ``quality_gate``.
    Calibration is a FIT step (like centroid fitting or plane sizing):
    one extra aggregate over the surprisal frame, driver sees 2 floats.
    """
    return _surprisal_percentiles(unigram_surprisal(df, id_col, text_col),
                                  lo_q, hi_q, round_digits)


def _surprisal_percentiles(sur: DataFrame, lo_q: float, hi_q: float,
                           round_digits: int = 4) -> tuple[float, float]:
    """``surprisal_band``'s fit over a prebuilt ``unigram_surprisal``
    frame: one aggregate action, the driver sees 2 floats."""
    row = sur.agg(
        F.expr(f"percentile(surprisal, {lo_q})").alias("lo"),
        F.expr(f"percentile(surprisal, {hi_q})").alias("hi")).collect()[0]
    return (round(row["lo"], round_digits), round(row["hi"], round_digits))


def token_pmi(df: DataFrame, id_col: str, text_col: str,
              top_tokens: int = 50, top_k: int = 30, min_docs: int = 2,
              round_digits: int = 4) -> DataFrame:
    """Collocation mining: top-``top_k`` token pairs by document-level
    pointwise mutual information, ``PMI(a,b) = log2(p(a,b) / (p(a)p(b)))``
    with probabilities = document frequencies — the corpus statistic that
    surfaces multi-word expressions ("new york") and template artifacts
    for tokenizer/cleaning decisions.

    Scale design: the co-occurrence self-join is restricted UP FRONT to
    the ``top_tokens`` most frequent tokens (reusing ``build_vocab``'s
    bounded-rank build), so the doc-keyed join fans out to at most
    ``top_tokens``² pairs per document regardless of corpus size; doc
    frequencies are per-token counts of the same deduped inverted index.
    Pairs seen in fewer than ``min_docs`` documents are dropped (PMI is
    noise at singleton counts). Ties rank by the pair, ascending.
    """
    from bda_spadochrony_spark.operators.text import tokens
    from pyspark.sql import Window
    tok = (df.select(F.col(id_col),
                     F.explode(tokens(text_col)).alias("token"))
           .distinct())
    vocab = build_vocab(df, text_col, size=top_tokens).select("token")
    t = tok.join(F.broadcast(vocab), "token")
    t = t.localCheckpoint(eager=False)  # feeds doc-counts + both join sides
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("__nd"))
    dfreq = t.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    a = t.select(F.col(id_col), F.col("token").alias("a"))
    b = t.select(F.col(id_col), F.col("token").alias("b"))
    co = (a.join(b, id_col)
          .where(F.col("a") < F.col("b"))
          .groupBy("a", "b").agg(F.count(F.lit(1)).alias("co")))
    j = (co.where(F.col("co") >= min_docs)
         .join(F.broadcast(dfreq.select(F.col("token").alias("a"),
                                        F.col("df").alias("df_a"))), "a")
         .join(F.broadcast(dfreq.select(F.col("token").alias("b"),
                                        F.col("df").alias("df_b"))), "b")
         .crossJoin(F.broadcast(n_docs)))
    pmi = stable_round(
        F.log2((F.col("co") * F.col("__nd").cast("double")) /
               (F.col("df_a") * F.col("df_b"))), round_digits)
    w = Window.orderBy(F.col("pmi").desc(), F.col("a").asc(),
                       F.col("b").asc())
    scored = j.select("a", "b", "co", pmi.alias("pmi"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select(F.col("rank").cast("int").alias("rank"),
                    "a", "b", "co", "pmi"))


def bigram_surprisal(df: DataFrame, id_col: str, text_col: str,
                     round_digits: int = 4) -> DataFrame:
    """First-order LM quality scoring: per-document mean CONDITIONAL
    bigram surprisal ``avg(−log2(c(a,b) / c_head(a)))`` over adjacent
    token pairs, where ``c(a,b)`` is the corpus adjacent-pair count and
    ``c_head(a) = Σ_b c(a,b)`` (so the conditional normalizes exactly) —
    one step up from ``unigram_surprisal`` toward the CCNet perplexity
    filter: low = the corpus's own bigram model predicts the document
    (boilerplate), high = incoherent token soup. Documents with < 2
    tokens emit no pairs and are excluded (no bigram evidence).

    Plan: the indexed pair map (zero self-joins) feeds the corpus pair
    counts; head counts are a rollup of the pair counts (checkpointed —
    two consumers); the per-document average is one id-keyed shuffle.
    Returns (id, n_bigrams, surprisal).
    """
    from bda_spadochrony_spark.operators.text import tokens
    t = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    pairs = t.select(F.col(id_col), F.explode(F.expr(
        "transform(slice(__t, 1, greatest(size(__t) - 1, 0)),"
        " (x, i) -> struct(x AS a, __t[i + 1] AS b))")).alias("p")) \
        .select(id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    counts = (pairs.groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("c_ab")))
    counts = counts.localCheckpoint(eager=False)  # feeds heads + the join
    heads = counts.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    j = pairs.join(counts, ["a", "b"]).join(heads, "a")
    return (j.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 stable_round(
                     F.avg(-F.log2(F.col("c_ab") / F.col("c_a"))),
                     round_digits).alias("surprisal")))


def source_kl_divergence(df: DataFrame, group_col: str, text_col: str,
                         round_digits: int = 4) -> DataFrame:
    """Domain-drift detection: per-group KL divergence of the group's
    token distribution from the corpus-wide distribution,
    ``KL(group ‖ corpus) = Σ_t p(t|g) · log2(p(t|g) / q(t))`` — the
    source-anomaly score a corpus pipeline monitors when a crawl source
    changes character (boilerplate floods, language shifts, spam). Every
    group token exists in the corpus by construction, so no zero-q guard
    is needed and no smoothing distorts the score.

    One token scan serves everything: per-(group, token) counts roll up
    to per-group totals, corpus token counts, AND the corpus total —
    three bounded aggregates over the same frame (the per-group-token
    table is the only data-sized shuffle, keyed on (group, token); the
    rollups are vocabulary- and group-sized). Returns
    ``(group, n_tokens, kl)``.
    """
    from bda_spadochrony_spark.operators.text import tokens
    tok = df.select(F.col(group_col),
                    F.explode(tokens(text_col)).alias("token"))
    gt = (tok.groupBy(group_col, "token")
          .agg(F.count(F.lit(1)).alias("c_gt")))
    gt = gt.localCheckpoint(eager=False)  # three consumers below; AQE
    # never reuses the exchange across stages (proven pattern: minhash)
    g_tot = gt.groupBy(group_col).agg(F.sum("c_gt").alias("n_g"))
    t_tot = gt.groupBy("token").agg(F.sum("c_gt").alias("c_t"))
    n_tot = t_tot.agg(F.sum("c_t").alias("n_total"))
    j = (gt.join(t_tot, "token")
         .join(F.broadcast(g_tot), group_col)
         .crossJoin(F.broadcast(n_tot)))
    p = F.col("c_gt") / F.col("n_g")
    q = F.col("c_t") / F.col("n_total")
    return (j.groupBy(group_col)
            .agg(F.max("n_g").alias("n_tokens"),
                 stable_round(F.sum(p * F.log2(p / q)), round_digits)
                 .alias("kl")))


def unigram_surprisal(df: DataFrame, id_col: str, text_col: str,
                      round_digits: int = 4) -> DataFrame:
    """Per-document mean token surprisal (self-information) under the
    corpus's own unigram model: ``avg(-log2(count(token) / N))`` — the
    cheap, model-free stand-in for the CCNet/Gopher perplexity quality
    filter. Low surprisal = boilerplate/repetitive (every token common),
    high surprisal = rare-token soup (OCR noise, gibberish); filter both
    tails for training data.

    Returns (id, n_tokens, surprisal). Two shuffles at any scale: the
    token-frequency count (map-side combined, key = token) and the
    per-document average (key = id). The frequency table is
    vocabulary-sized — after Zipf truncation it broadcasts; here it flows
    through a shuffled join keyed on the token, whose skew (stopwords)
    AQE splits. The token explode is recomputed for the join side rather
    than checkpointed: it is a pure map of the scan, and persisting
    ``n_tokens * rows`` would cost more than the rescan.
    """
    from bda_spadochrony_spark.operators.text import tokens
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    total = counts.agg(F.sum("tf").alias("n_total"))
    return (tok.join(counts, "token")
            .crossJoin(F.broadcast(total))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 stable_round(
                     F.avg(-F.log2(F.col("tf") / F.col("n_total"))),
                     round_digits).alias("surprisal")))


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75,
              round_digits: int = 6) -> DataFrame:
    """Ranked keyword retrieval over the corpus — Okapi BM25
    (Robertson & Zaragoza '09), the lexical-search baseline every
    retrieval/hard-negative-mining pipeline needs next to the embedding
    ANN stack. ``score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl))`` with the +0.5-smoothed
    ``idf = ln(1 + (N − df + 0.5)/(df + 0.5))``. Returns the top-``k``
    documents by score (ties → smaller id): ``(id, score)``.

    Scale design: the token explode is FILTERED TO THE QUERY TERMS
    before any shuffle — per-document work is O(matching tokens), and
    the (doc, term) tf aggregate only carries documents containing ≥1
    query term. Corpus stats (N, avgdl) and the per-term document
    frequencies are scalar/|q|-sized and broadcast; the head is
    TakeOrdered, no global sort. The doc-length frame (2 narrow columns,
    one row per document) is checkpointed because both the stats
    aggregate and the score join consume it — without it each consumer
    re-scans the corpus (AQE never cross-stage-reuses). Every expression
    is engine-portable (ln, plain arithmetic) so the whole ranking is
    SQL-oracleable.
    """
    from bda_spadochrony_spark.operators.text import tokens

    dl = (df.select(F.col(id_col), F.size(tokens(text_col)).alias("__dl"))
          .localCheckpoint(eager=False))
    stats = dl.agg(F.count(F.lit(1)).alias("__n"),
                   F.avg("__dl").alias("__avgdl"))
    tok = (df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
           .where(F.col("t").isin(query_terms)))
    tf = tok.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(F.lit(1.0) + (F.col("__n") - F.col("__df") + 0.5) /
                (F.col("__df") + 0.5))
    norm = F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
    scored = (tf.join(F.broadcast(dfreq), "t")
              .join(dl, id_col)
              .crossJoin(F.broadcast(stats))
              .groupBy(id_col)
              .agg(stable_round(
                  F.sum(idf * F.col("__tf") * (k1 + 1.0) / norm),
                  round_digits).alias("score")))
    return (scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))
