"""Edge-case oracle parity: contract queries re-checked against
PATHOLOGICAL tables the regular testdata never exercises — the input
class where advisors keep finding latent Spark↔DuckDB divergences.

Six fixtures: documents (short/unicode/repeated/NULL/empty/tab-newline
texts), embeddings (NULL/zero/duplicate/1e30 vectors), events (NULL
ts/user/type/value, hour boundaries, duplicate rows — r6; found the
ANSI corr crash, the NULL-key join drop, the NULLS FIRST/LAST window
divergence, and the streaming no-window rule; r7 added SCD2 boundary
ties / NULL attributes / NULL timestamps), lineitem/orders (NULL
dates/quantities/flags, zero prices — r6, all green on arrival),
customer/supplier/part dims (NULL names/segments/nation keys/types —
r6, all green on arrival: NULL join keys and NULL levenshtein inputs
already agreed), negative-id documents (r7 — found the pmod vs
sign-preserving-% divergence across the whole deterministic-hash
sampling family: 8 of 9 queries diverged, one oracle threw; every
hash oracle now states ((x % m) + m) % m), and extreme-scale doubles
(r9 — found that subnormal vectors pass the element-level
valid_vectors but their norm UNDERFLOWS to exactly 0, diverging THREE
ways: ANSI DIVIDE_BY_ZERO in Spark-SQL cosine paths, IEEE ±Inf in the
BLAS paths, NULL in DuckDB; and that ≥1e154 elements overflow the
norm to Inf, making finite vectors produce NaN scores both engines
rank above every real one. Fixes: valid_vectors now requires
0 < Σx² < Inf — squared in DOUBLE, since float32 squaring overflows
at 1e19 and would drop the 1e30 row the oracle keeps — mirrored in
every oracle's n CTE via NULL-safe list_sum(list_transform(x²));
quantize_embeddings guards on the SCALE, whose mx/127 underflows for
subnormal vectors even when mx > 0), and duplicate-key rows (r9 #2 —
whole-row ingestion-retry duplicates: 35 queries agree by
construction; five whose ORACLES key on id — windows collapse copies,
self-joins fan them out — are a pinned key-uniqueness-precondition
boundary, with Spark-side determinism asserted and exact_dedup proven
to agree under the same fixture as the prescribed pre-step). Each
finding's fix is pinned here so the semantics stay engine-exact.
r9 #3 added zero-row tables (the empty-partition-day class — found and
fixed five crash/semantics bugs, see the fixture's banner; pinned the
trainers-raise-loudly contract and the Spark-vs-ANSI empty-input
CUBE/ROLLUP/GROUPING SETS grand-total divergence).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL
from tests.oracle_utils import assert_query_matches_oracle, duck_connection

EDGE_DOCS = [
    (0, "x", "en", "src0", 1),                                   # 1 token
    (1, "a b", "en", "src0", 3),                                 # 2 tokens
    (2, "a  b   c", "de", "src1", 8),                            # ws runs
    (3, "ÜNIcode tökens ärE fun ÜNIcode tökens", "de", "src1", 37),
    (4, "the the the the the the", "en", "src2", 23),            # dominated
    (5, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", None, "src2", 30),     # NULL lang
    (6, "a b c d e f g h i j a b c d e f g h i j", "fr", "src3", 39),
    (7, "solo", "fr", "src3", 4),
    (8, "x y", "zh", "src4", 3),
    (9, "numbers 123 456 789 numbers 123", "zh", "src4", 31),
    (10, None, "en", "src0", None),                              # NULL text
    (11, "", "de", "src1", 0),                                   # empty text
    (12, "tab\tsep\nand newline  mix", "en", "src2", 24),        # \t \n ws
]

# the queries whose semantics bend around short/degenerate documents
EDGE_QUERIES = [
    "repetition_stats", "quality_gate", "unigram_surprisal",
    "bigram_surprisal", "source_kl", "bpe_pair_counts", "token_pmi",
    "tokens_to_ids", "pack_documents", "doc_chunks", "text_stats",
    "text_quality", "hash_split", "weighted_sample", "mixture_sample",
    "doc_fingerprint_md5", "exact_dedup_digest",
    # r6: oracle now restates md5-minhash band candidacy exactly, so the
    # pathological corpus (no-shingle docs, unicode, repetition) must
    # agree by construction, not by fixture luck
    "incremental_dedup",
    # r6: span windows bend hardest around short docs (0 or 1 spans)
    "span_dedup",
    # r6: BM25 over docs containing NO query term (empty result both sides)
    "bm25_search",
    # r7: the six-stage composite end-to-end on NULL/empty/short/unicode
    # docs — every stage's degenerate-input semantics must agree at once
    "corpus_pipeline",
    # r11: the tokenizer chain on the same degenerate docs (empty vocab
    # windows, zero-symbol docs packing at offset 0, NULL text)
    "tokenizer_pipeline",
    # r11: encode->decode round trip on degenerate docs ('' tokens,
    # unicode, NULL text dropped identically on both sides)
    "detokenize",
    # r8: the video frame explode on NULL/zero durations (NULL n_chars
    # drops the row in both engines; n_chars=0 keeps exactly t=0)
    "video_frames",
    # r11: the running-sum budget gate on NULL/empty text — a NULL
    # n_tokens row contributes nothing to the window sum but still
    # carries the preceding cum (both engines' sum-over-frame skips
    # NULLs), and ''-text rows count their one empty token identically
    "budget_sample",
]


@pytest.fixture(scope="module")
def edge_dir():
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_sf_")
    # a single parquet FILE (pyarrow), matching the testdata layout —
    # Spark's writer would emit a directory DuckDB's view can't glob
    cols = list(zip(*EDGE_DOCS))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    pq.write_table(table, os.path.join(d, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duck_connection(edge_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_docs_parity(spark, edge_dir, edge_duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_duck, qs[name], oracles[name],
                                edge_dir, name=f"edge:{name}")


EDGE_EMB_QUERIES = [
    # embedding queries that must survive corrupt vectors: NULL, all-zero
    # (no cosine direction), exact duplicates, extreme magnitude, NULL
    # label. embedding_covariance is exercised but excluded from the hash
    # compare: with a 1e30 component its 1e26-magnitude cells agree only
    # to ~15 significant digits across engines (accumulation order), which
    # absolute-decimal rounding cannot canonicalize — covar_samp keeps the
    # sane-magnitude testdata exact.
    "embedding_standardize", "embedding_outliers", "centroid_classify",
    "classify_eval", "kmeans_step", "embedding_near_dup", "embedding_topk",
    "dedup_survivors", "pagerank_step", "label_propagation",
    "embedding_quantize", "embedding_lsh_portable",
    "embedding_ivf_portable", "embedding_ann_stack",
    # r7 additions with the junk-element rows: the remaining oracled
    # consumers of the embedding column
    "semantic_dedup", "dedup_clusters", "pca_invariants",
    # r10: the product-quantization family — subset codebooks must skip
    # junk rows identically, ADC guards (qn/rnm > 0) must agree, and the
    # cell/probe assignment tie-breaks must survive extreme magnitudes
    "pq_codes", "embedding_pq_stack", "embedding_ivf_pq",
    # r11: the streamed cell-partitioned index — junk vectors must be
    # excluded at APPEND time (valid_vectors inside ann_index_append)
    # and the pruned search must still equal the one-shot oracle
    "stream_ann_index",
    # r11: the higher-order lambda family — junk elements must be
    # dropped by the entry guard and the max|x| < 1e6 moment bound
    # must exclude extreme magnitudes identically on both engines
    # (subnormals survive the bound: every fold underflows to the
    # same 0.0 on both sides)
    "higher_order_funcs",
]


@pytest.fixture(scope="module")
def edge_emb_dir():
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_emb_")
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(64).astype("float32").tolist(), i % 3)
            for i in range(40)]
    rows.append((100, None, 1))                 # NULL vector
    rows.append((101, [0.0] * 64, 2))           # zero vector (no direction)
    rows.append((102, rows[0][1], 0))           # exact duplicate
    rows.append((103, [1e30] + [0.0] * 63, None))  # extreme + NULL label
    # r7: non-finite ELEMENTS — a NaN-element vector gets a NaN cosine
    # score, and BOTH engines rank NaN above every real score, so one
    # junk vector hijacks every top-k; an Inf element makes norm=Inf
    # (scores 0 or NaN via Inf/Inf); a NULL element NULL-poisons
    # F.aggregate norms. All three must be dropped at entry.
    rows.append((104, [1.0] * 32 + [float("nan")] + [1.0] * 31, 0))
    rows.append((105, [float("inf")] + [1.0] * 63, 1))
    rows.append((106, [1.0] * 63 + [None], 2))
    tbl = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows],
                              pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    })
    pq.write_table(tbl, os.path.join(d, "embeddings.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_emb_duck(edge_emb_dir):
    con = duck_connection(edge_emb_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_EMB_QUERIES)
def test_edge_embeddings_parity(spark, edge_emb_dir, edge_emb_duck, name,
                                monkeypatch):
    # r7: the ANN queries size their planes from the corpus count
    # (planes_for default), and the oracle generator sizes from the
    # corpus at $SPARK_GRAFT_ORACLE_SF_DIR — point it at THIS fixture
    # (44 vectors -> 4 planes) so both engines derive the same index,
    # exactly as the driver contract does at sf0.01
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", edge_emb_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_emb_duck, qs[name],
                                oracles[name], edge_emb_dir,
                                name=f"edge-emb:{name}")


def test_edge_embeddings_robust_covariance_matches_oracle(
        spark, edge_emb_dir, edge_emb_duck):
    """r6: the raw covariance on this fixture is EXCLUDED from the hash
    compare (the 1e30 row makes 1e26-magnitude cells that no decimal
    rounding canonicalizes). With the finite_vectors guard the corrupt
    row is dropped BEFORE the moments, magnitudes stay sane, and the
    value-level oracle match holds even on the corrupt corpus — the
    production recipe for moment statistics over real embedding data."""
    from pyspark.sql import functions as F
    from bda_spadochrony_spark.operators.similarity import finite_vectors
    from bda_spadochrony_spark.ml.stats import covariance_matrix
    from bda_spadochrony_spark.sources.readers import scan

    def robust_cov(spark_, sf_dir):
        emb = scan(spark_, f"{sf_dir}/embeddings.parquet")
        out = covariance_matrix(finite_vectors(emb, "embedding"),
                                "embedding", round_digits=4)
        return out.select(F.col("i").cast("int").alias("i"),
                          F.col("j").cast("int").alias("j"), "cov")

    sql = """
        WITH clean AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL
              AND len(list_filter(embedding,
                                  x -> x IS NULL OR isnan(x)
                                       OR abs(x) > 1e6)) = 0
        ), e AS (
            SELECT vec_id, CAST(i AS INTEGER) AS i,
                   embedding[i]::DOUBLE AS x
            FROM clean CROSS JOIN range(1, 65) r(i)
        )
        SELECT a.i AS i, b.i AS j,
               round((covar_samp(a.x, b.x)) + 1e-08, 4) + 0.0 AS cov
        FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
        GROUP BY 1, 2
    """
    assert_query_matches_oracle(spark, edge_emb_duck, robust_cov, sql,
                                edge_emb_dir, name="edge-emb:robust_cov")


def test_edge_embeddings_covariance_runs(spark, edge_emb_dir):
    # value parity is checked on sane-magnitude data (test_oracle_parity);
    # here: the degenerate rows must not crash the one-pass plan
    df = entry_mod.queries()["embedding_covariance"](spark, edge_emb_dir)
    assert df.count() == 64 * 65 / 2


EDGE_EVENT_QUERIES = [
    # temporal/aggregation queries whose semantics bend around NULL
    # timestamps/keys/values, exact hour boundaries, and duplicate rows
    "hourly_agg", "hourly_with_mode", "mode_event_type", "two_level_avg",
    "tz_hourly", "null_skipping_agg", "filtered_hourly",
    "window_analytics", "equi_depth_histogram", "histogram", "funnel",
    "cohort_retention", "stats_agg",
    # r7 (VERDICT r6 #6): the temporal-table family on NULL user ids,
    # NULL timestamps, NULL attributes at version boundaries, duplicate
    # timestamps AT a boundary, and duplicate observations — pinned
    # semantics: NULL-ts observations dropped (engines disagree on NULL
    # window ordering), change detection NULL-safe with a first-row
    # marker (scd.scd2_history docstring)
    "scd2_history", "pit_join",
    # r7: typed JSON parse on malformed/degenerate payloads — pinned:
    # json_valid guard (DuckDB errors on bad JSON where from_json nulls)
    # + json_type guard (only integer tokens populate IntegerType)
    "json_payload",
]


@pytest.fixture(scope="module")
def edge_ev_dir():
    from datetime import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_ev_")
    ts = lambda *a: datetime(*a)
    rows = [
        (0, ts(2024, 1, 1, 0, 0, 0), 1, "click", 10.0, '{"k": 1}'),
        (1, ts(2024, 1, 1, 0, 59, 59, 999999), 1, "view", 20.0, '{"k": 2}'),
        (2, ts(2024, 1, 1, 1, 0, 0), 1, "purchase", 30.0, '{"k": 3}'),
        (3, ts(2024, 1, 1, 1, 0, 0), 2, "click", None, None),   # NULL value
        (4, ts(2024, 1, 1, 2, 30, 0), None, "view", 5.0, '{"k": 4}'),
        (5, None, 3, "click", 7.0, '{"k": 5}'),                 # NULL ts
        (6, ts(2024, 1, 1, 2, 30, 0), 2, None, 9.0, '{"k": 6}'),
        (7, ts(2024, 1, 1, 2, 30, 0), 2, None, 9.0, '{"k": 6}'),  # dup row
        (8, ts(2024, 1, 8, 12, 0, 0), 2, "purchase", 0.0, '{"k": 7}'),
        (9, ts(2024, 1, 1, 0, 30, 0), 3, "view", -4.5, '{"k": 8}'),
        (10, ts(2024, 1, 1, 0, 45, 0), 3, "purchase", 4.5, '{"k": 9}'),
        # r7: SCD2/PIT pathologies — user 4's observation log carries a
        # version-boundary timestamp TIE (click+view at the same instant
        # -> empty first interval, facts land in the later version), an
        # exact duplicate observation at the tie, a NULL-attribute
        # version (change to/from NULL is a change, NULL-safe), a
        # consecutive NULL re-observation (merges), and a NULL-ts
        # observation (dropped from the history)
        (11, ts(2024, 1, 1, 3, 0, 0), 4, "click", 1.0, '{"k": 10}'),
        (12, ts(2024, 1, 1, 3, 0, 0), 4, "view", 2.0, '{"k": 11}'),
        (13, ts(2024, 1, 1, 3, 0, 0), 4, "click", 3.0, '{"k": 10}'),
        (14, ts(2024, 1, 1, 4, 0, 0), 4, None, 1.5, '{"k": 12}'),
        (15, ts(2024, 1, 1, 4, 30, 0), 4, None, 2.5, '{"k": 13}'),
        (16, ts(2024, 1, 1, 5, 0, 0), 4, "click", 3.5, '{"k": 14}'),
        (17, None, 4, "purchase", 4.0, '{"k": 15}'),
        (18, None, None, "view", 5.0, '{"k": 16}'),   # NULL ts + NULL user
        # r7: degenerate JSON payloads — malformed text (DuckDB
        # json_extract ERRORS without a json_valid guard), empty string,
        # non-integer token types (Spark's typed from_json rejects 2.7
        # and "12" where TRY_CAST would round/parse), wrong-case key,
        # array root
        (19, ts(2024, 1, 1, 6, 0, 0), 5, "click", 1.0, "not json at all"),
        (20, ts(2024, 1, 1, 6, 1, 0), 5, "view", 2.0, ""),
        (21, ts(2024, 1, 1, 6, 2, 0), 5, "click", 3.0, '{"k": "12"}'),
        (22, ts(2024, 1, 1, 6, 3, 0), 5, "view", 4.0, '{"k": 2.7}'),
        (23, ts(2024, 1, 1, 6, 4, 0), 5, "click", 5.0, '{"K": 9}'),
        (24, ts(2024, 1, 1, 6, 5, 0), 5, "view", 6.0, "[1,2,3]"),
        (25, ts(2024, 1, 1, 6, 6, 0), 5, "click", 7.0, '{"k": null}'),
        # r7: non-finite measures — NaN / +Inf / -Inf in the value
        # column. Probe targets: ANSI casts in histogram bucketing
        # (Inf-wide buckets), quantile/rank ordering (Spark and DuckDB
        # both sort NaN above +Inf — verify), moment aggregates
        # (stddev/skew/kurt poisoning), and sum/avg IEEE propagation.
        (26, ts(2024, 1, 1, 7, 0, 0), 6, "click", float("nan"), '{"k": 17}'),
        (27, ts(2024, 1, 1, 7, 1, 0), 6, "view", float("inf"), '{"k": 18}'),
        (28, ts(2024, 1, 1, 7, 2, 0), 6, "purchase", float("-inf"), '{"k": 19}'),
        # r8 (ADVICE): a NULL attribute AT a version-boundary tie — the
        # one combination user 4's log missed. Spark's asc() window
        # ordering is NULLS FIRST while DuckDB's plain ORDER BY is NULLS
        # LAST, so before the oracle said NULLS FIRST explicitly, which
        # row got the empty [ts,ts) interval flipped between engines.
        (29, ts(2024, 1, 1, 5, 30, 0), 4, None, 6.0, '{"k": 20}'),
        (30, ts(2024, 1, 1, 5, 30, 0), 4, "view", 7.0, '{"k": 21}'),
    ]
    cols = list(zip(*rows))
    tbl = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    })
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_ev_duck(edge_ev_dir):
    con = duck_connection(edge_ev_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_EVENT_QUERIES)
def test_edge_events_parity(spark, edge_ev_dir, edge_ev_duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_ev_duck, qs[name],
                                oracles[name], edge_ev_dir,
                                name=f"edge-ev:{name}")


EDGE_TPCH_QUERIES = [
    # relational-family queries whose filters/joins/aggregates bend
    # around NULL dates/quantities/flags and degenerate prices
    "pricing_summary", "small_qty_revenue", "shipping_priority",
    "promo_revenue", "returned_items", "disjunctive_revenue",
    "volume_shipping", "market_share", "nation_profit",
    "min_cost_per_part", "revenue_change", "priority_lines",
    "large_volume_customer", "order_priority", "local_supplier_volume",
    "idle_customers",
]


@pytest.fixture(scope="module")
def edge_li_dir():
    import duckdb as _d
    d = tempfile.mkdtemp(prefix="bda_edge_li_")
    con = _d.connect()
    # sf0.001 lineitem/orders with a handful of rows made pathological:
    # NULL shipdate/quantity/returnflag/discount, zero price, NULL
    # orderdate/priority — written back as single parquet FILES
    con.execute(f"""
        COPY (
            SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
                   CASE WHEN l_orderkey % 997 = 0 THEN NULL
                        ELSE l_quantity END AS l_quantity,
                   CASE WHEN l_orderkey % 991 = 0 THEN 0.0
                        ELSE l_extendedprice END AS l_extendedprice,
                   CASE WHEN l_orderkey % 983 = 0 THEN NULL
                        ELSE l_discount END AS l_discount,
                   l_tax,
                   CASE WHEN l_orderkey % 977 = 0 THEN NULL
                        ELSE l_returnflag END AS l_returnflag,
                   l_linestatus,
                   CASE WHEN l_orderkey % 971 = 0 THEN NULL
                        ELSE l_shipdate END AS l_shipdate
            FROM '{SF_SMALL}/lineitem.parquet'
        ) TO '{d}/lineitem.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   CASE WHEN o_orderkey % 967 = 0 THEN NULL
                        ELSE o_orderdate END AS o_orderdate,
                   CASE WHEN o_orderkey % 953 = 0 THEN NULL
                        ELSE o_orderpriority END AS o_orderpriority
            FROM '{SF_SMALL}/orders.parquet'
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_li_duck(edge_li_dir):
    con = duck_connection(edge_li_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_TPCH_QUERIES)
def test_edge_tpch_parity(spark, edge_li_dir, edge_li_duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_li_duck, qs[name],
                                oracles[name], edge_li_dir,
                                name=f"edge-li:{name}")


@pytest.mark.parametrize("name", ["stream_hourly", "stream_update",
                                  "stream_distinct", "stream_sliding"])
def test_edge_events_streaming_parity(spark, edge_ev_dir, edge_ev_duck,
                                      name):
    """Streaming contract queries on the pathological events: pins what
    a NULL event time does to watermarked aggregation vs the batch
    oracle (Spark excludes NULL-window rows; the oracles must agree)."""
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_ev_duck, qs[name],
                                oracles[name], edge_ev_dir,
                                name=f"edge-ev-stream:{name}")


EDGE_DIM_QUERIES = [
    # join-heavy queries whose dimension sides now carry NULL names /
    # segments / nation keys / types — NULL join keys and NULL inputs to
    # levenshtein/grouping must agree across engines
    "star_join", "market_share", "customer_distribution",
    "idle_customers", "top_supplier", "entity_match",
    "large_volume_customer", "min_cost_per_part", "local_supplier_volume",
    "supplier_part_counts", "nation_profit",
]


@pytest.fixture(scope="module")
def edge_dim_dir():
    import duckdb as _d
    d = tempfile.mkdtemp(prefix="bda_edge_dim_")
    con = _d.connect()
    con.execute(f"""
        COPY (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_name END
                       AS c_name,
                   CASE WHEN c_custkey % 89 = 0 THEN NULL
                        ELSE c_nationkey END AS c_nationkey,
                   c_acctbal,
                   CASE WHEN c_custkey % 83 = 0 THEN NULL
                        ELSE c_mktsegment END AS c_mktsegment
            FROM '{SF_SMALL}/customer.parquet'
        ) TO '{d}/customer.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (
            SELECT s_suppkey,
                   CASE WHEN s_suppkey % 13 = 0 THEN NULL ELSE s_name END
                       AS s_name,
                   CASE WHEN s_suppkey % 11 = 0 THEN NULL
                        ELSE s_nationkey END AS s_nationkey,
                   s_acctbal
            FROM '{SF_SMALL}/supplier.parquet'
        ) TO '{d}/supplier.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
        COPY (
            SELECT p_partkey, p_name,
                   CASE WHEN p_partkey % 19 = 0 THEN NULL ELSE p_brand END
                       AS p_brand,
                   CASE WHEN p_partkey % 17 = 0 THEN NULL ELSE p_type END
                       AS p_type,
                   p_size, p_retailprice
            FROM '{SF_SMALL}/part.parquet'
        ) TO '{d}/part.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in ["region", "nation", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_dim_duck(edge_dim_dir):
    con = duck_connection(edge_dim_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_DIM_QUERIES)
def test_edge_dims_parity(spark, edge_dim_dir, edge_dim_duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_dim_duck, qs[name],
                                oracles[name], edge_dim_dir,
                                name=f"edge-dim:{name}")


EDGE_NEGID_QUERIES = [
    # the deterministic-hash sampling family on NEGATIVE ids: Spark's
    # pmod is always non-negative while SQL's % is sign-preserving, so
    # every oracle states ((x % m) + m) % m (r7 — before the fix, 8 of
    # these 9 diverged and weighted_sample's oracle threw on log2 of a
    # negative bucket)
    "hash_sample", "stratified_sample", "hash_split", "weighted_sample",
    "mixture_sample", "balanced_sample", "corpus_shuffle",
    "pack_documents", "corpus_pipeline",
    # r8: negative media ids through the frame-key string build
    "video_frames",
]


@pytest.fixture(scope="module")
def edge_negid_dir():
    import duckdb as _d
    d = tempfile.mkdtemp(prefix="bda_edge_negid_")
    con = _d.connect()
    # every 7th document gets a negative id (ids stay unique: -id-1)
    con.execute(f"""
        COPY (
            SELECT CASE WHEN doc_id % 7 = 0 THEN -doc_id - 1
                        ELSE doc_id END AS doc_id,
                   text, lang, source, n_chars
            FROM '{SF_SMALL}/documents.parquet'
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)""")
    con.close()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_negid_duck(edge_negid_dir):
    con = duck_connection(edge_negid_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_NEGID_QUERIES)
def test_edge_negative_ids_parity(spark, edge_negid_dir, edge_negid_duck,
                                  name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_negid_duck, qs[name],
                                oracles[name], edge_negid_dir,
                                name=f"edge-negid:{name}")


EDGE_DST_QUERIES = [
    # r8 (VERDICT r7 #6): the temporal family across DST transitions and
    # pre-1970 epochs — input classes the driver testdata (one sane 2024
    # window) never exercises. Probe targets: the -20min feed-skew
    # landing on a NONEXISTENT wall time (spring-forward gap), two UTC
    # instants collapsing onto one AMBIGUOUS wall-clock hour (fall-back),
    # negative-epoch date/hour derivation, ISO week/quarter/trunc on
    # pre-1970 dates (floor-vs-toward-zero truncation), and pre-1883 LMT
    # offsets (America/New_York at -4:56:02).
    "tz_hourly", "hourly_agg", "two_level_avg", "calendar_features",
    "date_functions", "interval_shift", "serving_keys",
    "scd2_history", "pit_join", "window_analytics", "stream_hourly",
]


@pytest.fixture(scope="module")
def edge_dst_dir():
    from datetime import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_dst_")
    ts = lambda *a: datetime(*a)
    rows = [
        # --- America/New_York spring-forward 2024-03-10 (07:00 UTC:
        # 02:00 EST -> 03:00 EDT; local 02:xx does not exist)
        (0, ts(2024, 3, 10, 6, 30), 1, "click", 1.0),     # 01:30 EST
        (1, ts(2024, 3, 10, 6, 55), 1, "view", 2.0),      # 01:55 EST
        (2, ts(2024, 3, 10, 7, 10), 1, "click", 3.0),     # 03:10 EDT; -20min = 02:50 (gap)
        (3, ts(2024, 3, 10, 7, 25), 2, "view", 4.0),      # 03:25 EDT
        (4, ts(2024, 3, 10, 8, 5), 2, "purchase", 5.0),   # 04:05 EDT
        # --- fall-back 2024-11-03 (06:00 UTC: 02:00 EDT -> 01:00 EST;
        # local 01:xx happens twice — both land in the same hourly group)
        (5, ts(2024, 11, 3, 5, 30), 3, "click", 6.0),     # 01:30 EDT
        (6, ts(2024, 11, 3, 6, 30), 3, "view", 7.0),      # 01:30 EST again
        (7, ts(2024, 11, 3, 6, 10), 3, "click", 8.0),     # 01:10 EST; -20 = 00:50
        # --- pre-1970 (negative epoch)
        (8, ts(1969, 12, 31, 23, 30), 4, "click", 9.0),   # NY 18:30 EST
        (9, ts(1969, 7, 15, 12, 0), 4, "view", 10.0),     # NY 08:00 EDT (1969 DST)
        (10, ts(1969, 1, 1, 0, 10), 4, "purchase", 11.0),
        # --- deep past: pre-1883 America/New_York runs on LMT -4:56:02
        (11, ts(1883, 11, 18, 16, 0), 5, "click", 12.0),  # the LMT->EST switch day
        (12, ts(1850, 6, 1, 0, 0), 5, "view", 13.0),      # pure LMT
    ]
    cols = list(zip(*rows))
    tbl = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(['{"k": 1}'] * len(rows), pa.string()),
    })
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_dst_duck(edge_dst_dir):
    con = duck_connection(edge_dst_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_DST_QUERIES)
def test_edge_dst_parity(spark, edge_dst_dir, edge_dst_duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_dst_duck, qs[name],
                                oracles[name], edge_dst_dir,
                                name=f"edge-dst:{name}")


EDGE_UNICODE_QUERIES = [
    # r8 (the OTHER VERDICT r7 #6 candidate): the text family over
    # astral-plane / zero-width / combining-mark / format-control inputs
    # — code-point classes the driver testdata (plain Latin-1-ish text)
    # never exercises. Probe targets: ZWSP/ZWNJ (category Cf) inside
    # words, NBSP / ideographic space (Zs but NOT regex \s), emoji +
    # ZWJ sequences + variation selectors through normalize/fingerprint,
    # NFC-vs-NFD combining marks (Mn is not \p{L}), supplementary-plane
    # letters (Deseret — \p{L} beyond the BMP), bidi controls, and a
    # vertical tab (inside Java's \s — is it inside RE2's?).
    "repetition_stats", "quality_gate", "unigram_surprisal",
    "bigram_surprisal", "source_kl", "bpe_pair_counts", "token_pmi",
    "tokens_to_ids", "pack_documents", "doc_chunks", "text_stats",
    "text_quality", "hash_split", "weighted_sample", "mixture_sample",
    "doc_fingerprint_md5", "exact_dedup_digest", "incremental_dedup",
    "span_dedup", "bm25_search", "corpus_pipeline", "pii_scrub",
    "contamination", "ngram_jaccard",
]

EDGE_UNICODE_DOCS_TEXT = [
    "\U0001f600 grinning \U0001f600 face",        # astral emoji tokens
    ("family \U0001f468\u200d\U0001f469\u200d"
     "\U0001f467 sticks together"),                # emoji ZWJ sequence
    "zero\u200bwidth space splits nothing",        # ZWSP (Cf) inside a word
    "nbsp\u00a0separated\u00a0words here",        # NBSP: Zs but not \\s
    "wide\u3000ideographic\u3000space",           # U+3000: Zs but not \\s
    "cafe\u0301 combining vs caf\u00e9 precomposed",  # NFD vs NFC
    "\u202ebidi reversed text\u202c normal",      # bidi controls (Cf)
    ("\U00010437\U00010437 deseret "
     "\U0001044c\U0001044c astral letters"),      # \\p{L} beyond the BMP
    "emoji\u2764\ufe0f heart with\ufe0f selector",  # variation selector
    "\u0632\u064e\u0628\u064e\u0631 connected\u200cletters",  # Mn + ZWNJ
    "\u00c9COLE Fran\u00e7aise M\u00caME",       # safe case-fold class
    "\uff41\uff42\uff43 \uff57\uff49\uff44\uff45 width",  # full-width
    "vertical\x0btab java-s-vs-re2",               # \\x0B: Java \\s has it
    "mixed \U0001f600\u200b\u00a0\U00010437 salad",
]


@pytest.fixture(scope="module")
def edge_uni_dir():
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_uni_")
    langs = ["en", "de", "fr", "zh", None]
    sources = ["src0", "src1", "src2"]
    rows = [(i, t, langs[i % len(langs)], sources[i % len(sources)], len(t))
            for i, t in enumerate(EDGE_UNICODE_DOCS_TEXT)]
    cols = list(zip(*rows))
    tbl = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(d, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_uni_duck(edge_uni_dir):
    con = duck_connection(edge_uni_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_UNICODE_QUERIES)
def test_edge_unicode_parity(spark, edge_uni_dir, edge_uni_duck, name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_uni_duck, qs[name],
                                oracles[name], edge_uni_dir,
                                name=f"edge-uni:{name}")


def test_unicode_case_folding_parity_boundary_documented(spark, edge_duck):
    """r7 probe result, PINNED as a documented boundary rather than a
    fix: Spark (Java) and DuckDB (utf8proc) agree on simple Unicode
    lowercasing — umlauts, full-width forms, sharp-s, titlecase
    digraphs — but DIVERGE on locale-/context-sensitive mappings:
    Turkish dotted İ (Java emits i + combining dot, DuckDB plain i) and
    Greek final sigma (Java applies the word-final ς rule, DuckDB maps
    every Σ to σ). The oracle contract therefore guarantees value
    parity for text whose case folding is context-free; corpora
    containing the divergent classes must be normalized upstream (NFKC
    + explicit locale folding) before oracle comparison. This test is a
    SENTINEL: it asserts the safe classes agree and the divergent
    classes still diverge — if either engine changes behavior, it
    fails loudly and the boundary must be re-derived."""
    from pyspark.sql import functions as F
    safe = ["ÄÖÜ grÜẞe", "ＦＵＬＬ width", "ǅungla", "STRASSE ß",
            "ÀÉÎÕÛ çğşå", "МОСКВА Київ"]
    divergent = ["İstanbul", "ΣΙΓΜΑ ΤΕΛΟΣ"]
    got = [r[0] for r in spark.createDataFrame(
        [(t,) for t in safe + divergent], ["t"])
        .select(F.lower("t")).collect()]
    duck = [edge_duck.execute("SELECT lower(?)", [t]).fetchone()[0]
            for t in safe + divergent]
    for t, s, d in zip(safe, got[:len(safe)], duck[:len(safe)]):
        assert s == d, f"safe class diverged: {t!r}: {s!r} vs {d!r}"
    for t, s, d in zip(divergent, got[len(safe):], duck[len(safe):]):
        assert s != d, (f"divergent class now AGREES ({t!r}) — an engine "
                        f"changed its folding; re-derive the boundary")


def test_bigint_sum_overflow_boundary_documented(spark, edge_duck):
    """r7 probe result, pinned as a documented boundary: sum(BIGINT)
    beyond int64 range RAISES under Spark's ANSI mode
    (ARITHMETIC_OVERFLOW — loud) while DuckDB silently widens the
    accumulator to HUGEINT and returns the exact value. The oracle
    contract therefore guarantees parity for aggregates whose sums stay
    within int64 (every contract query's domain by construction); a
    100 TB engine should fail loudly here rather than return a value an
    int64 consumer cannot hold. Sentinel: if Spark stops raising (ANSI
    default change) the boundary must be re-derived. String collation
    was probed in the same pass and agrees (both engines compare UTF-8
    bytes, supplementary-plane characters included) — no pin needed."""
    from pyspark.sql import functions as F
    big = 2 ** 62
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        spark.createDataFrame([(big,), (big,), (big,)], ["x"]) \
            .agg(F.sum("x")).collect()
    assert edge_duck.execute(
        "SELECT sum(x) FROM (VALUES (4611686018427387904),"
        "(4611686018427387904),(4611686018427387904)) t(x)"
    ).fetchone()[0] == 3 * big


# ---------------------------------------------------------------------------
# r9 fixture (VERDICT r8 #6): EXTREME-SCALE DOUBLES through the embedding
# family — the input class where IEEE edge behavior (not NULL semantics)
# is what must agree across engines:
#   - pure subnormals (5e-324): every square UNDERFLOWS to 0, so a
#     nonzero, all-finite vector has norm 0 — it passes valid_vectors
#     (elements finite and != 0) yet has no cosine direction; the
#     nrm > 0 guard inside the pair stages (and the oracle's a.nrm > 0)
#     is what keeps both engines agreeing
#   - tiny normals (1e-200): same underflow-to-zero-norm shape
#   - 1e-160 elements: squares are themselves SUBNORMAL (1e-320) but
#     nonzero — the norm is a positive subnormal-sum, probing gradual
#     underflow through sqrt/divide on both engines
#   - 1e200 / 1e308 / paired 1e154 elements: squares (or their sum)
#     OVERFLOW to Inf, so finite "valid" vectors get norm Inf and their
#     cosines collapse to 0 or NaN via x/Inf and Inf/Inf
# All arithmetic is the same sequential fold on both sides, so these must
# agree bit-for-bit; the fixture pins that they actually do (float64
# parquet column — float32 would flush 5e-324 to zero at write time).
# ---------------------------------------------------------------------------

EDGE_EXTREME_QUERIES = list(EDGE_EMB_QUERIES) + ["semantic_dedup_probed"]


@pytest.fixture(scope="module")
def edge_ext_dir():
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_ext_")
    rng = np.random.RandomState(9)
    rows = [(i, rng.randn(64).tolist(), i % 3) for i in range(20)]
    rows.append((300, [5e-324] * 64, 0))        # subnormal; squares -> 0
    rows.append((301, [1e-200] * 64, 1))        # tiny normal; squares -> 0
    rows.append((302, [1e200] + [0.0] * 63, 2)) # one square overflows
    rows.append((303, [1e308] * 64, 0))         # near-max elements
    rows.append((304, [1e154, 1e154] + [0.0] * 62, 1))  # sum overflows
    rows.append((305, [-5e-324] * 64, 2))       # negative subnormals
    rows.append((306, [1e-160] * 64, 0))        # subnormal SQUARES, norm > 0
    tbl = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows],
                              pa.list_(pa.float64())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    })
    pq.write_table(tbl, os.path.join(d, "embeddings.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_ext_duck(edge_ext_dir):
    con = duck_connection(edge_ext_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_EXTREME_QUERIES)
def test_edge_extreme_doubles_parity(spark, edge_ext_dir, edge_ext_duck,
                                     name, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", edge_ext_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_ext_duck, qs[name],
                                oracles[name], edge_ext_dir,
                                name=f"edge-ext:{name}")


# ---------------------------------------------------------------------------
# r9 fixture #2: DUPLICATE-KEY ROWS — whole-row ingestion-retry duplicates
# (the common 100 TB reality: at-least-once delivery re-lands identical
# rows under the same id). Every query that groups, joins, ranks, packs,
# samples, or dedups by doc_id/vec_id must produce engine-identical
# results when ids repeat; ties that used to be broken BY id now tie all
# the way down, so any hidden nondeterminism (an ORDER BY whose key set
# no longer uniquely orders, a LIMIT over tied fit rows) surfaces as a
# hash mismatch. Duplicates are EXACT row copies — the deterministic
# case; conflicting payloads under one id are a documented non-goal
# (no total order exists for either engine to agree on).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_dup_dir():
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_dup_")
    docs = list(EDGE_DOCS)
    docs += [EDGE_DOCS[1], EDGE_DOCS[1], EDGE_DOCS[4]]   # retry copies
    cols = list(zip(*docs))
    pq.write_table(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    }), os.path.join(d, "documents.parquet"))
    rng = np.random.RandomState(13)
    rows = [(i, rng.randn(64).astype("float32").tolist(), i % 3)
            for i in range(30)]
    rows += [rows[3], rows[3], rows[7]]                  # retry copies
    pq.write_table(pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    }), os.path.join(d, "embeddings.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_dup_duck(edge_dup_dir):
    con = duck_connection(edge_dup_dir)
    yield con
    con.close()


# DOCUMENTED BOUNDARY (r9): five queries' ORACLES restate per-row
# operators with id-keyed windows/joins, which collapse (PARTITION BY
# vec_id ranks all copies in one partition) or fan out (a doc_id
# self-join multiplies 3 copies into 9 rows) duplicates where the
# Spark side is a pure per-row map. Key uniqueness is a PRECONDITION
# of those five (run exact_dedup first — which this fixture proves
# agrees under duplicates); the boundary is pinned below rather than
# papered over with a dropDuplicates shuffle every query would pay.
EDGE_DUP_DIVERGENT = {"repetition_stats", "quality_gate",
                      "pca_invariants", "semantic_dedup",
                      "semantic_dedup_probed",
                      # r10: the PQ family's oracles collapse retry
                      # copies through their per-(vec_id, s) argmin
                      # row_number while Spark codes every input ROW —
                      # the same id-keyed-oracle boundary; Spark-side
                      # determinism pinned below
                      "pq_codes", "embedding_pq_stack", "embedding_ivf_pq"}
EDGE_DUP_QUERIES = [q for q in
                    EDGE_QUERIES + EDGE_EMB_QUERIES + ["semantic_dedup_probed"]
                    if q not in EDGE_DUP_DIVERGENT]


@pytest.mark.parametrize("name", EDGE_DUP_QUERIES)
def test_edge_duplicate_keys_parity(spark, edge_dup_dir, edge_dup_duck,
                                    name, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", edge_dup_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_dup_duck, qs[name],
                                oracles[name], edge_dup_dir,
                                name=f"edge-dup:{name}")


def _corpus_pipeline_composed(docs, **gate):
    """``corpus_pipeline(calibrate_surprisal=True)`` rebuilt from the
    public stage operators, each stage planned from scratch: the band
    from ``surprisal_band``, the verdict from ``quality_gate``, no
    checkpoint between stages."""
    from pyspark.sql import Window, functions as F
    from bda_spadochrony_spark.operators.corpus import (contamination,
                                                        pack_documents,
                                                        quality_gate,
                                                        surprisal_band)
    from bda_spadochrony_spark.operators.sampling import (hash_bucket,
                                                          mixture_sample)
    from bda_spadochrony_spark.operators.text import normalize_text
    norm = docs.select("doc_id", "lang", normalize_text("text").alias("ntext"))
    lo, hi = surprisal_band(norm, "doc_id", "ntext")
    verdict = quality_gate(norm, "doc_id", "ntext", surprisal_lo=lo,
                           surprisal_hi=hi, **gate)
    kept = norm.join(verdict.where(F.col("keep") == 1).select("doc_id"),
                     "doc_id", "left_semi")
    wd = Window.partitionBy(F.xxhash64("ntext")).orderBy("doc_id")
    uniq = (kept.withColumn("__rn", F.row_number().over(wd))
            .where(F.col("__rn") == 1).drop("__rn"))
    bench = norm.where(F.col("doc_id") % 97 == 0)
    corp = uniq.where(F.col("doc_id") % 97 != 0)
    cont = contamination(corp, bench, "doc_id", "ntext", shingle_n=3)
    clean = corp.join(cont.where(F.col("contamination") <= 0.05)
                      .select("doc_id"), "doc_id", "left_semi")
    mixed = mixture_sample(clean, "doc_id", "lang",
                           {"en": 0.5, "de": 0.125, "fr": 0.125,
                            "es": 0.125, "zh": 0.125})
    packed = pack_documents(mixed, "doc_id", "ntext", budget=512,
                            num_shards=8, order_col=hash_bucket("doc_id"))
    return (packed.join(mixed.select("doc_id", "lang"), "doc_id")
            .select("doc_id", "lang", "shard", "n_tokens",
                    hash_bucket("doc_id").alias("shuffle_key"),
                    "pack_id", "pack_offset"))


@pytest.mark.parametrize("fixture", ["edge_dir", "edge_dup_dir"])
def test_corpus_pipeline_calibrated_matches_stage_composition(
        spark, request, fixture):
    """The pipeline's shared surprisal pass and inter-stage checkpoints
    change no row: ``corpus_pipeline(calibrate_surprisal=True)`` equals
    the same stages composed from the public operators. The gate's other
    rules are opened up so the surprisal band decides, and the result is
    non-empty on both fixtures."""
    from bda_spadochrony_spark.plans.pipelines import corpus_pipeline
    docs = spark.read.parquet(
        os.path.join(request.getfixturevalue(fixture), "documents.parquet"))
    gate = dict(min_tokens=1, max_dup3=1.0, max_top_token=1.0)
    got = corpus_pipeline(docs, calibrate_surprisal=True, **gate)
    want = _corpus_pipeline_composed(docs, **gate)
    assert got.dtypes == want.dtypes
    rows = sorted(tuple(r) for r in got.collect())
    assert rows and rows == sorted(tuple(r) for r in want.collect())


def test_duplicate_key_boundary_documented(spark, edge_dup_dir):
    """The five key-uniqueness-precondition queries stay DETERMINISTIC
    and sane on the Spark side under exact-copy duplicates — the
    boundary is only that their SQL oracles key on id. Pins: per-row
    operators emit one row per input row (copies included), and
    semantic dedup never pairs an id with itself (id_a < id_b), so
    exact copies all survive — collapsing same-id copies is
    exact_dedup's job, which the parametrized suite above proves
    agrees under this fixture."""
    from pyspark.sql import functions as F
    qs = entry_mod.queries()
    rep = qs["repetition_stats"](spark, edge_dup_dir)
    assert rep.count() == 16                    # 13 docs + 3 retry copies
    sd = qs["semantic_dedup"](spark, edge_dup_dir)
    by_id = {r["vec_id"]: 0 for r in sd.collect()}
    for r in sd.collect():
        by_id[r["vec_id"]] += 1
    assert by_id[3] == 3 and by_id[7] == 2      # copies all survive
    # and twice over: the result is stable across a re-execution
    assert sorted(map(tuple, sd.collect())) == sorted(map(tuple, sd.collect()))


# ---------------------------------------------------------------------------
# r9 fixture #3: ZERO-ROW TABLES — the empty-partition-day reality (an
# aggressive filter, a late feed, a fresh deployment). One empty input
# must not kill a pipeline stage. Findings fixed: KMeans-path ivf_topk
# crashed instead of returning an empty search result; PCA fit crashed
# on max() of an empty covariance; the stream-query builders crashed on
# NULL fit aggregates (NoneType - timedelta); a partitioned lake written
# from zero rows failed downstream schema INFERENCE (the scan now
# declares its schema); and funnel silently DROPPED steps with zero
# survivors where the oracle reports 0 (a latent non-empty bug too).
# Pinned boundaries: the two model TRAINERS raise loudly by design (a
# model fit on no data is meaningless), and Spark's CUBE/ROLLUP/
# GROUPING SETS over an empty table emit ZERO rows where ANSI/DuckDB
# emit the grand-total () row — an engine divergence, not ours to hide.
# ---------------------------------------------------------------------------

EDGE_ZERO_TRAINERS = {"ml_train_eval", "stream_serving_pipeline"}
EDGE_ZERO_ANSI_GROUPING = {"cube_agg", "rollup_agg", "grouping_sets"}


@pytest.fixture(scope="module")
def edge_zero_dir():
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_zero_")
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        pq.write_table(pq.read_table(f"{SF_SMALL}/{t}.parquet").slice(0, 0),
                       f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_edge_zero_rows_all_queries_survive_and_match(spark, edge_zero_dir,
                                                      monkeypatch):
    """ONE aggregated sweep (165 queries × empty tables would be slow to
    parametrize): every contract query must RUN on all-empty tables and
    every oracled one must match its oracle — empty output is where
    schema bugs hide. Exceptions asserted explicitly: the two model
    trainers raise their loud typed error, and the three ANSI-grouping
    queries return zero rows against the oracle's grand-total row."""
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", edge_zero_dir)
    from tests.oracle_utils import duck_canonical, spark_canonical
    con = duck_connection(edge_zero_dir)
    try:
        qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
        failures = []
        for name in sorted(qs):
            if name in EDGE_ZERO_TRAINERS:
                with pytest.raises(Exception, match="size of input RDD"):
                    qs[name](spark, edge_zero_dir).count()
                continue
            try:
                df = qs[name](spark, edge_zero_dir)
                got, got_cols = spark_canonical(df)
            except Exception as ex:
                failures.append((name, "crashed", str(ex)[:90]))
                continue
            if name not in oracles:
                continue
            want, want_cols = duck_canonical(con, oracles[name])
            if name in EDGE_ZERO_ANSI_GROUPING:
                # pinned engine boundary: Spark emits no () row on empty
                if not (len(got) == 0 and len(want) == 1):
                    failures.append((name, "boundary-shifted",
                                     (len(got), len(want))))
                continue
            if got_cols != want_cols or got != want:
                failures.append((name, "mismatch", (len(got), len(want))))
        assert not failures, failures
    finally:
        con.close()


# --- r10: tokenizer-adversarial Unicode (VERDICT r9 #6) -------------------
# The round's new tokenizer surface — bpe_encode's per-char split + k-deep
# merge fold (and its recursive-CTE oracle restatement), the hashing-trick
# featurizer, and the chained text→semantic-dedup loop — probed with code
# point classes the driver corpus never contains: combining-character
# floods (1-16 marks on one base char), astral letters/emoji INSIDE words
# (surrogate pairs through split('')), bidi controls and isolates, ZWJ
# sequences + variation selectors as word characters. The raw primitive
# was probed first: Spark's split(w, '') and DuckDB's string_split(w, '')
# both split per CODE POINT (astral chars whole, marks separate) — this
# fixture pins that equivalence end-to-end through the fold.

EDGE_TOK_QUERIES = [
    "bpe_encode", "hashed_vectors", "text_semantic_dedup",
    "bpe_pair_counts",
    # r11: the full tokenizer chain over the same adversarial unicode —
    # encode fold + symbol vocab + id reassembly + packing must agree
    # end-to-end on combining floods, astral pairs, bidi controls, ZWJ,
    # NULL/empty/whitespace-only docs
    "tokenizer_pipeline",
]

EDGE_TOK_DOCS_TEXT = [
    "e" + "́" * 16 + " flood é̂̃̄ mark stack",
    "zalgo h̵̶̷̸è́̂re text",
    "\U00010437eseret \U00010437\U00010437 pair mid\U0001f600word",
    "‮reversed‬ run ⁦isolate⁩ controls",
    ("family\U0001f468‍\U0001f469‍\U0001f467glue "
     "❤️heart"),
    "lower lower lowest lowest flood flood",
    "lower lower lowest lowest flood flood",   # exact dup: dedup loop food
    "mixed é flood \U00010437eseret lower",
    None, "", "   ",
]


@pytest.fixture(scope="module")
def edge_tok_dir():
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_tok_")
    rows = [(i, t, "en", f"src{i % 3}", len(t) if t else 0)
            for i, t in enumerate(EDGE_TOK_DOCS_TEXT)]
    cols = list(zip(*rows))
    tbl = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(d, "documents.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{d}/{t}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_tok_duck(edge_tok_dir):
    con = duck_connection(edge_tok_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_TOK_QUERIES)
def test_edge_tokenizer_unicode_parity(spark, edge_tok_dir, edge_tok_duck,
                                       name, monkeypatch):
    # text_semantic_dedup sizes its quantizer from the documents footer
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", edge_tok_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_tok_duck, qs[name],
                                oracles[name], edge_tok_dir,
                                name=f"edge-tok:{name}")


def test_edge_tokenizer_unicode_bpe_train_matches_reference(
        spark, edge_tok_dir):
    """The TRAINER over the adversarial fixture vs the pure-Python
    reference: combining marks, astral pairs, and bidi controls must ride
    the word-frequency compression and the merge fold identically. The
    reference tokenizes with Java's \\s charclass (ASCII whitespace) to
    mirror tokens() — Python's str.split treats NBSP/U+3000 as
    whitespace, Java does not."""
    import collections
    import re

    from bda_spadochrony_spark.operators.corpus import bpe_train
    from bda_spadochrony_spark.sources.readers import scan
    from tests.test_pipeline_ops import _ref_bpe
    docs = scan(spark, f"{edge_tok_dir}/documents.parquet")
    wc = collections.Counter(
        w for t in EDGE_TOK_DOCS_TEXT if t
        for w in re.split(r"[ \t\n\r\f\x0b]+", t.lower().strip()) if w)
    want = _ref_bpe(dict(wc), 8)
    got = [(r["rank"], r["a"], r["b"], r["n"]) for r in
           bpe_train(docs, "text", n_merges=8).orderBy("rank").collect()]
    assert got == want


def test_duplicate_key_pq_boundary_documented(spark, edge_dup_dir):
    """r10: PQ under exact-copy duplicate ids — the oracle keys on
    vec_id (its per-(vec_id, subspace) argmin row_number collapses
    copies), so parity is a documented boundary; the SPARK side must
    stay deterministic and sane: every input ROW gets a code row,
    copies of the same id get IDENTICAL codes (same vector → same
    argmin), and re-execution is stable."""
    import collections

    from bda_spadochrony_spark.operators.similarity import (pq_codebooks,
                                                            pq_encode)
    from bda_spadochrony_spark.sources.readers import scan
    emb = scan(spark, f"{edge_dup_dir}/embeddings.parquet")
    cbs = pq_codebooks(emb, "vec_id")
    codes = pq_encode(emb, "vec_id", codebooks=cbs)
    rows = codes.collect()
    per_id = collections.defaultdict(set)
    n_per_id = collections.Counter()
    for r in rows:
        per_id[r["vec_id"]].add(tuple(r["codes"]))
        n_per_id[r["vec_id"]] += 1
    assert max(n_per_id.values()) > 1          # the fixture really dups
    assert all(len(v) == 1 for v in per_id.values()), \
        "copies of one id must code identically"
    assert sorted(map(tuple, (tuple(r) for r in rows))) == \
        sorted(map(tuple, (tuple(r) for r in codes.collect())))


# --------------------------------------------------------------------------
# r11 (VERDICT r10 #6): format-fidelity round-trips. The csv/orc round-trip
# queries export events and re-read them through the typed scan; their
# oracles aggregate the ORIGINAL parquet — so any write→read fidelity loss
# (timestamp precision, NULL vs empty string, extreme doubles, quoting,
# embedded control characters, non-ASCII) surfaces as a value mismatch.
# The fixture stacks every classic at once: pre-1970 + DST-transition +
# far-future timestamps, NULL ts, NULL vs '' event_type, embedded
# comma/quote/newline/tab, unicode, max/subnormal/-0.0/nonfinite doubles,
# and Long.MAX ids.

@pytest.fixture(scope="module")
def edge_fmt_dir():
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    d = tempfile.mkdtemp(prefix="bda_edge_fmt_")
    ts = lambda *a: datetime(*a)
    t = ts(2024, 6, 1, 12, 0, 0)
    rows = [
        (0, ts(1969, 12, 31, 23, 59, 59, 123456), 1, "pre-epoch", 1.25),
        (1, ts(1901, 7, 1, 0, 0, 0, 1), 1, "deep-past", -2.5),
        (2, ts(1970, 1, 1, 0, 0, 0), 1, "epoch", 0.0),
        # DST pathologies (nonexistent / ambiguous WALL times in
        # common zones; sessions run UTC so these must pass through
        # verbatim — a tz-naive engine would shift them)
        (3, ts(2024, 3, 10, 2, 30, 0), 2, "dst-spring-us", 1.0),
        (4, ts(2024, 11, 3, 1, 30, 0), 2, "dst-fall-us", 2.0),
        (5, ts(2024, 3, 31, 2, 30, 0), 2, "dst-spring-eu", 3.0),
        (6, ts(2200, 1, 1, 12, 34, 56, 789012), 3, "far-future", 4.0),
        (7, None, 3, "null-ts", 5.0),
        (8, t, 4, None, 6.0),
        (9, t, 4, "", 7.0),                      # the CSV classic: '' vs NULL
        (10, t, 4, "café ünïcode 日本語", 8.0),
        (11, t, 5, "with,comma", 9.0),
        (12, t, 5, 'with"quote', 10.0),
        (13, t, 5, "with\nnewline", 11.0),
        (14, t, 5, "with\ttab", 12.0),
        (15, t, 6, "extreme", 1.7976931348623157e308),
        (16, t, 6, "extreme", 5e-324),           # subnormal
        (17, t, 6, "extreme", -0.0),
        (18, t, 6, "tiny-frac", 0.30000000000000004),
        (19, t, 7, "nonfinite", float("nan")),
        (20, t, 7, "nonfinite", float("inf")),
        (21, t, 7, "nonfinite", float("-inf")),
        (22, t, 7, "null-val", None),
        (9223372036854775807, t, 8, "max-id", 13.0),
    ]
    cols = list(zip(*rows))
    tbl = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
    })
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    for t2 in ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "documents", "embeddings"]:
        shutil.copy(f"{SF_SMALL}/{t2}.parquet", f"{d}/{t2}.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def edge_fmt_duck(edge_fmt_dir):
    con = duck_connection(edge_fmt_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ["csv_roundtrip", "orc_roundtrip",
                                  "json_roundtrip"])
def test_edge_format_roundtrip_parity(spark, edge_fmt_dir, edge_fmt_duck,
                                      name):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert_query_matches_oracle(spark, edge_fmt_duck, qs[name],
                                oracles[name], edge_fmt_dir, name=name)


def test_csv_null_vs_empty_string_roundtrip_boundary(spark):
    """r11: the CSV classic, probed at the SCAN level (the roundtrip
    queries' aggregates never read event_type, so the contract query
    cannot see it directly). MEASURED: Spark's writer emits NULL as an
    unquoted empty field and '' as a QUOTED empty field, but the
    DEFAULT reader maps BOTH back to NULL — the round-trip collapses
    the distinction. The engine convention (what q_csv_roundtrip ships):
    ``nullValue='\\N'`` on write and read — NULL↔\\N, quoted-empty↔'',
    and the literal string 'NULL' stays a string. Known sentinel
    boundary: a LITERAL '\\N' string value reads back as NULL (the
    MySQL/Hive convention's inherent collision). Both behaviors pinned
    so neither can drift silently."""
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from bda_spadochrony_spark.sources.readers import scan
    d = tempfile.mkdtemp(prefix="bda_csv_nullempty_")
    try:
        schema = StructType([StructField("id", LongType()),
                             StructField("s", StringType())])
        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "x"), (4, " "), (5, "NULL")], schema)
        # DEFAULT options: the documented collapse ('' -> NULL on read)
        out0 = os.path.join(d, "t0.csv")
        df.coalesce(1).write.option("header", True).csv(out0)
        back0 = {r["id"]: r["s"] for r in
                 scan(spark, out0, schema=schema, fmt="csv",
                      options={"header": "true"}).collect()}
        assert back0[1] is None
        assert back0[2] is None        # THE classic: '' collapsed to NULL
        assert back0[5] == "NULL"      # but the literal string survives
        # ENGINE convention: \N sentinel + whitespace preservation
        # (Spark's WRITER default trims unquoted whitespace-only
        # fields — the fixture's third find)
        out1 = os.path.join(d, "t1.csv")
        df.coalesce(1).write.option("header", True) \
            .option("nullValue", "\\N") \
            .option("ignoreLeadingWhiteSpace", False) \
            .option("ignoreTrailingWhiteSpace", False).csv(out1)
        back1 = {r["id"]: r["s"] for r in
                 scan(spark, out1, schema=schema, fmt="csv",
                      options={"header": "true", "multiLine": "true",
                               "nullValue": "\\N",
                               "ignoreLeadingWhiteSpace": "false",
                               "ignoreTrailingWhiteSpace": "false"})
                 .collect()}
        assert back1[1] is None        # NULL survives as \N
        assert back1[2] == ""          # '' survives (quoted on write)
        assert back1[3] == "x"
        assert back1[4] == " "         # whitespace not trimmed
        assert back1[5] == "NULL"      # the literal string, not NULL
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_lowercase_divergence_sentinel(spark):
    """r12 SENTINEL (found by a targeted cross-engine probe): the two
    known points where Spark's lower() (Java full-Unicode case mapping)
    and DuckDB's lower() (utf8proc simple mapping) DISAGREE — every
    oracled query that lowercases text (text.tokens, text_normalize,
    the tokenizer family) silently depends on the fixtures avoiding
    these:

    - Turkish dotted capital İ (U+0130): Spark lowers to 'i' + COMBINING
      DOT ABOVE (two codepoints, the Unicode full mapping); DuckDB to
      plain 'i'.
    - Greek capital sigma in final position: Spark applies the
      context-aware FINAL form ς; DuckDB maps every Σ to σ.

    This test PINS the divergence (if an engine upgrade changes either
    side, the pin fails and the fixture-avoidance rule must be
    re-audited) and documents the rule: adversarial text fixtures must
    not contain İ or a word-final Σ unless the query normalizes case
    engine-side first."""
    import duckdb

    from pyspark.sql import functions as F
    probes = ["İ", "ΑΣ"]
    sp = {r["t"]: r["l"] for r in
          spark.createDataFrame([(p,) for p in probes], ["t"])
          .select("t", F.lower("t").alias("l")).collect()}
    con = duckdb.connect()
    try:
        dk = {p: con.execute("SELECT lower(?)", [p]).fetchone()[0]
              for p in probes}
    finally:
        con.close()
    assert sp["İ"] == "i̇" and dk["İ"] == "i"
    assert sp["ΑΣ"] == "ας" and dk["ΑΣ"] == "ασ"
    # and the engines AGREE on the classes the fixtures do use
    agree = ["ÉCOLE", "ＡＢ", "ǅ", "Å", "ß", "Ω", "中", "🚀", "ü"]
    sp2 = {r["t"]: r["l"] for r in
           spark.createDataFrame([(p,) for p in agree], ["t"])
           .select("t", F.lower("t").alias("l")).collect()}
    con = duckdb.connect()
    try:
        for p in agree:
            assert sp2[p] == con.execute("SELECT lower(?)",
                                         [p]).fetchone()[0], p
    finally:
        con.close()
