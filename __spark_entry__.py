"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship entity-resolution pipeline on sf0.001.
`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline operators); `oracle_sql()`
gives the DuckDB-equivalent ANSI SQL over the same parquet views.

Float discipline: every floating-point output column is rounded
identically on both sides (round-6 for similarities, decimal casts for
money sums) so the driver's order-insensitive value-hash matches.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

sys.path.insert(0, str(Path(__file__).resolve().parent))

from jmdfane_spark import persist  # noqa: E402
from jmdfane_spark.functions import similarity as S  # noqa: E402
from jmdfane_spark.operators import dedup as D  # noqa: E402
from jmdfane_spark.operators import similarity_search as NN  # noqa: E402
from jmdfane_spark.operators.connected_components import connected_components  # noqa: E402
from jmdfane_spark.operators.evaluate import pairwise_confusion  # noqa: E402
from jmdfane_spark.operators.pairs import blocked_pairs  # noqa: E402
from jmdfane_spark.plans.pipeline import run_pipeline  # noqa: E402
from jmdfane_spark.sources.tables import documents_as_files, load_table  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# shared token expressions — MUST stay in lockstep with the SQL fragments
def _tokens(col):  # distinct normalized tokens
    return F.array_distinct(
        F.filter(
            F.split(F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")), " "),
            lambda x: F.length(x) > 0,
        )
    )


def _toks_seq(col):  # token sequence (with duplicates), for shingles
    return F.filter(
        F.split(F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")), " "),
        lambda x: F.length(x) > 0,
    )


def _shingles3(col):
    t = _toks_seq(col)
    n = F.size(t)
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)),
    )
    return F.when(n >= 3, F.array_distinct(tri)).otherwise(F.array(F.concat_ws(" ", t)))


# same fragments in DuckDB dialect
SQL_TOKS = "list_distinct(list_filter(string_split_regex(trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g')), ' '), x -> len(x) > 0))"
SQL_TOKS_SEQ = "list_filter(string_split_regex(trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g')), ' '), x -> len(x) > 0)"

# tokenize()-equivalent (min_len ≥ 2 + stopword removal, order-preserving)
from jmdfane_spark.functions.text import STOPWORDS as _SW  # noqa: E402

_SW_SQL = "[" + ",".join(f"'{s}'" for s in _SW) + "]"
SQL_TOKS_CLEAN_SEQ = (
    "list_filter(string_split_regex(trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "x -> len(x) >= 2 and not list_contains(" + _SW_SQL + ", x))"
)


def SQL_SHINGLES3_CLEAN(c: str) -> str:
    t = SQL_TOKS_CLEAN_SEQ.format(c=c)
    return (
        f"(case when len({t}) >= 3 then list_distinct(list_transform(range(1, len({t})-1), "
        f"i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])) "
        f"else [array_to_string({t}, ' ')] end)"
    )


def SQL_SHINGLES3_FROM_COL(t: str) -> str:
    """Shingles from an already-materialized token-list COLUMN — inside a
    lambda a full token expression would re-evaluate per element."""
    return (
        f"(case when len({t}) >= 3 then list_distinct(list_transform(range(1, len({t})-1), "
        f"i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])) "
        f"else [array_to_string({t}, ' ')] end)"
    )


def SQL_SHINGLES3(c: str) -> str:
    t = SQL_TOKS_SEQ.format(c=c)
    return (
        f"(case when len({t}) >= 3 then list_distinct(list_transform(range(1, len({t})-1), "
        f"i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])) "
        f"else [array_to_string({t}, ' ')] end)"
    )


def SQL_JACCARD_RAW(a: str, b: str) -> str:
    return (
        f"(case when len(list_distinct(list_concat({a}, {b}))) > 0 then "
        f"len(list_intersect({a}, {b}))::double / len(list_distinct(list_concat({a}, {b}))) "
        f"else 0.0 end)"
    )


def SQL_JACCARD(a: str, b: str) -> str:
    return f"round({SQL_JACCARD_RAW(a, b)}, 6)"


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 3-stage ER pipeline on the sf0.001 documents table."""
    files = documents_as_files(spark, "/root/testdata/sf0.001")
    res = run_pipeline(spark, files, threshold=0.80, use_bands=False, use_tfidf=True)
    # a bare DataFrame goes back, so the registry owns the labels snapshot
    return persist.register(res.labels).select("block_key", "id", "component")


# ---------------------------------------------------------------------------
# queries — each with a matching oracle_sql entry unless noted
# ---------------------------------------------------------------------------

def q_er_pipeline_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking (lang) → token-Jaccard scoring → threshold 0.95 → hash-min CC.

    The driver-checkable core of the flagship pipeline; the DuckDB oracle
    computes the identical transitive closure with a recursive CTE.
    """
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id"), F.col("lang").alias("block_key"), _tokens(F.col("text")).alias("toks")
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    edges = pairs.withColumn("j", S.jaccard(F.col("toks_a"), F.col("toks_b"))).where(F.col("j") >= 0.95)
    cc = connected_components(docs.select("id"), edges.select("id_a", "id_b"))
    return cc.labels.select(F.col("id").alias("doc_id"), F.col("component").cast("long").alias("component"))


def q_er_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-2 scoring channels on within-lang candidate pairs (doc_id<60)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").cast("long").alias("id"),
            F.col("lang").alias("block_key"),
            _tokens(F.col("text")).alias("toks"),
            _shingles3(F.col("text")).alias("sh"),
        )
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        S.jaccard(F.col("toks_a"), F.col("toks_b")).alias("token_jaccard"),
        S.jaccard(F.col("sh_a"), F.col("sh_b")).alias("shingle_jaccard"),
    ).withColumn(
        "score",
        F.round(0.6 * F.col("token_jaccard") + 0.4 * F.col("shingle_jaccard"), 6),
    ).withColumn("token_jaccard", F.round("token_jaccard", 6)) \
     .withColumn("shingle_jaccard", F.round("shingle_jaccard", 6))


def q_eval_pairwise_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/G12: pairwise confusion closed form. Blocks=lang, pred=source,
    truth=n_chars bucket — synthetic labels, identical in the oracle."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("block_key"),
        F.col("doc_id").alias("id"),
        F.col("source").alias("pred"),
        (F.col("n_chars") % 5).cast("long").alias("truth"),
    )
    conf = pairwise_confusion(docs, "block_key", "pred", "truth")
    return conf.select(
        "block_key",
        F.col("tp").cast("long").alias("tp"),
        F.col("pred_pairs").cast("long").alias("pred_pairs"),
        F.col("true_pairs").cast("long").alias("true_pairs"),
        F.round(
            F.when(F.col("pred_pairs") > 0, F.col("tp") / F.col("pred_pairs")).otherwise(F.lit(0.0)), 6
        ).alias("precision"),
        F.round(
            F.when(F.col("true_pairs") > 0, F.col("tp") / F.col("true_pairs")).otherwise(F.lit(0.0)), 6
        ).alias("recall"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.dedup_exact(docs, "doc_id", "text").select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("group_size").cast("long").alias("group_size")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs within lang (exact, oracled)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id"),
        F.col("lang").alias("block_key"),
        _shingles3(F.col("text")).alias("sh"),
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    return (
        pairs.withColumn("jaccard", F.round(S.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= 0.35)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (32 bands × 2 rows → recall ≈ 1 at θ≥0.6;
    oracle = exact all-pairs Jaccard, so this also audits LSH recall)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", bands=32, rows=2, threshold=0.6, shingle_n=3)
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming ≤ 3 near-dup pairs. NOT SQL-recomputable (xxhash64
    has no DuckDB twin) — the oracle is a pinned regression table
    (tools/gen_pinned_oracles.py); exactness vs brute force covered by
    tests/test_dedup.py."""
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=3).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), F.col("hamming").cast("long").alias("hamming")
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors; ranking on
    round-6 cosine with c_id tie-break (deterministic across engines).

    Norms are folded ONCE per row before the cross join instead of once
    per pair (S.cosine would re-run both norm aggregates inside every
    pair) — 3 interpreted array folds per pair become 1, with
    bit-identical values: each norm is the same sqrt(sequential fold)
    expression, just evaluated on the row side of the join.
    """
    emb = _t(spark, sf_dir, "embeddings")

    def _norm(c):
        return F.sqrt(
            F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
        )

    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").cast("long").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    corpus = emb.select(
        F.col("vec_id").cast("long").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.when((F.col("_qn") > 0) & (F.col("_cn") > 0), dot / (F.col("_qn") * F.col("_cn"))).otherwise(F.lit(0.0))
    scored = queries.crossJoin(corpus).select(
        "q_id", "c_id", F.round(cos, 6).alias("cosine")
    )
    # rank on ROUNDED cosine with c_id tie-break → deterministic across engines
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5).select(
        "q_id", "c_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF scale path end-to-end with nprobe = nlist: probing every
    centroid partition makes the search exact, so the result contract (and
    oracle) is identical to ann_topk — round-6 cosine, c_id tie-break.
    This proves the 100 TB ANN path (build + probe) against the same
    ground truth as the brute-force baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").cast("long").alias("c_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    queries_df = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").cast("long").alias("q_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    assignments, centroids = NN.ivf_build(corpus, nlist=8, iters=2)
    out = NN.ivf_search(
        queries_df, corpus, assignments, centroids, k=5, nprobe=8, round_digits=6
    )
    return out.select("q_id", "c_id", "cosine", F.col("rank").cast("long").alias("rank"))


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs ≥ 0.99 (brute force, oracled).

    The raw synthetic embeddings have no pair above ~0.51 cosine, so the
    bare table made this row vacuously green (0 == 0). Plant three
    deterministic near-duplicates (vec_id < 3, every element shifted by
    +0.01 → cosine ≈ 0.9968 against the original) so the ≥0.99 filter has
    positive support; the oracle plants the identical rows.
    """
    base = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    planted = base.where(F.col("id") < 3).select(
        (F.col("id") + 1000000).alias("id"),
        F.transform(F.col("vec"), lambda x: x + F.lit(0.01)).alias("vec"),
    )
    emb = base.unionByName(planted).select(
        "id", F.lit("all").alias("block_key"), "vec"
    )
    # max_rows_per_task bounds MEMBER rows per bucket, and the pair stage
    # partitions on (block, bucket): one 643-member block at 700 means ONE
    # task owning all ~206k pairs. 64 members/bucket → ~11 buckets → the
    # pair stream spreads across buckets; the cosine itself is the batched
    # numpy kernel (the interpreted HOF path measured 214 s on this stage).
    pairs = blocked_pairs(emb, "block_key", "id", max_rows_per_task=64)
    return (
        pairs.withColumn("cosine", F.round(S.cosine_batch(F.col("vec_a"), F.col("vec_b")), 6))
        .where(F.col("cosine") >= 0.99)
        .select(F.col("id_a").alias("vec_a"), F.col("id_b").alias("vec_b"), "cosine")
    )


def q_txt_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(_toks_seq(F.col("text"))).cast("long").alias("n_tokens"),
        F.size(_tokens(F.col("text"))).cast("long").alias("n_distinct_tokens"),
    )


def q_txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length band + alnum ratio + stopword-hit, avg of 3."""
    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    len_ok = ((n >= 20) & (n <= 10000)).cast("double")
    alnum = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")).cast("double") / F.greatest(n, F.lit(1))
    toks = _tokens(F.col("text"))
    stopw = F.arrays_overlap(toks, F.array(*[F.lit(s) for s in ("the", "and", "of", "is", "to")])).cast("double")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round((len_ok + alnum + stopw) / 3.0, 6).alias("quality"),
    )


def q_txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID vs the table's lang column (accuracy audit)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    markers = {
        "en": ("the", "and", "of", "is"),
        "de": ("der", "die", "und", "ist"),
        "fr": ("le", "la", "et", "est"),
        "es": ("el", "los", "que", "es"),
    }
    scores = {
        lang: sum((F.array_contains(toks, w).cast("int") for w in ws), F.lit(0))
        for lang, ws in markers.items()
    }
    best = F.greatest(*scores.values())
    guess = F.lit("unknown")
    for lang in reversed(list(markers)):
        guess = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(guess)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        guess.alias("lang_guess"),
        (guess == F.col("lang")).cast("long").alias("correct"),
    )


def q_txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash doc fingerprint, identical formula in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    t = _toks_seq(F.col("text"))
    fp = F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.length(x) * 131 + F.ascii(x)) % F.lit(2147483647),
    )
    return docs.select(F.col("doc_id").cast("long").alias("doc_id"), fp.alias("fingerprint"))


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1-style partial+final agg); money as integer cents.

    Money/qty outputs are BIGINT cents by construction: per-row
    round(x*100) -> long, summed as long. Integer columns are
    representation-free — no decimal-widening (Spark sum(decimal(18,2))
    -> decimal(28,2) vs DuckDB -> DECIMAL(38,2)) or rounding-mode
    ambiguity can survive into the driver's value hash. avg_disc derives
    from the integer sum with ONE double division, the same green
    pattern as idf/block_stats.
    """
    li = _t(spark, sf_dir, "lineitem")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_cents"),
            F.sum(price_c).alias("sum_price_cents"),
            F.round(F.sum(disc_c).cast("double") / 100.0 / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: left equi-join + agg by dimension attribute."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("mktsegment"))
        .agg(
            F.count("*").alias("n_orders"),
            # integer cents — same representation-free discipline as
            # tpch_pricing_summary (decimal widening differs across engines)
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
    )


def q_join_supplier_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way broadcast-dim join + count."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_suppliers"),
            # integer-cents sum then one double division (representation-free)
            F.round(
                F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).cast("double")
                / 100.0
                / F.count("*"),
                4,
            ).alias("avg_bal"),
        )
    )


def q_semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: left-semi join (reference isin filter)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )


def q_anti_join_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: anti join (reference negative sampling exclusion).

    The synthetic data gives every customer an order, so the bare anti-join
    was vacuously green (0 rows). Restrict the right side to early orders
    (< 1996-01-01) so the anti-join set is non-empty (326 rows at sf0.01)
    and the row actually verifies the operator's positive path.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select(F.col("c_custkey").cast("long").alias("custkey"), "c_name")
    )


def q_dedup_first_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: order-sensitive dedup via row_number over deterministic order."""
    li = _t(spark, sf_dir, "lineitem")
    # (orderkey, linenumber) is NOT unique in the synthetic data — the
    # ordering must cover every output column to make 'first' well-defined
    w = Window.partitionBy("l_orderkey").orderBy(
        F.asc("l_linenumber"), F.asc("l_partkey"), F.asc("l_suppkey"),
        F.asc("l_quantity"), F.asc("l_extendedprice"),
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("l_orderkey").cast("long").alias("orderkey"),
            F.col("l_partkey").cast("long").alias("partkey"),
            # integer cents (representation-free; see q_tpch_pricing_summary)
            F.round(F.col("l_quantity") * 100).cast("long").alias("quantity_cents"),
        )
    )


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: per-group top-k (reference argpartition top-pairs)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("o_custkey").cast("long").alias("custkey"),
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def q_argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: argmax per group with deterministic tie-break."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_custkey").cast("long").alias("custkey"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
    )


def q_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: corpus IDF — the reference's log(N/df + 1)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    return (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("df"))
        .select("word", F.col("df").cast("long").alias("df"), F.round(F.log(F.lit(float(n_docs)) / F.col("df") + 1.0), 6).alias("idf"))
    )


def q_block_stats_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-block mean + 2σ adaptive threshold over n_chars."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.col("lang").alias("block_key")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.round(F.stddev_samp("n_chars"), 6).alias("sd_chars"),
        F.round(F.avg("n_chars") + 2 * F.stddev_samp("n_chars"), 6).alias("threshold"),
    )


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: vertical union + distinct (reference pd.concat)."""
    e = _t(spark, sf_dir, "events")
    a = e.where(F.col("event_type") == "click").select(F.col("user_id").cast("long").alias("user_id"))
    b = e.where(F.col("value") > 50).select(F.col("user_id").cast("long").alias("user_id"))
    return a.unionByName(b).distinct()


def q_levenshtein_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: built-in edit distance + ratio."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    return p.select(
        F.col("p_partkey").cast("long").alias("partkey"),
        F.levenshtein("p_name", "p_type").cast("long").alias("lev"),
        F.round(
            1.0 - F.levenshtein("p_name", "p_type") / F.greatest(F.length("p_name"), F.length("p_type")).cast("double"),
            6,
        ).alias("lev_ratio"),
    )


def q_jaro_winkler_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 twin: Jaro-Winkler similarity (north_rule's named path/name
    channel). Arrow-batched byte-level UDF, bit-exact vs DuckDB's
    jaro_winkler_similarity (verified on all three sf part tables), so
    the raw double is emitted unrounded."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    return p.select(
        F.col("p_partkey").cast("long").alias("partkey"),
        S.jaro_winkler(F.col("p_name"), F.col("p_type")).alias("jw_sim"),
        S.jaro_winkler(F.col("p_name"), F.col("p_name")).alias("jw_self"),
    )


def q_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: token-set Jaccard / intersection / union sizes on doc pairs."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40).select(
        F.col("doc_id").cast("long").alias("id"), F.lit("x").alias("block_key"), _tokens(F.col("text")).alias("toks")
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.size(F.array_intersect("toks_a", "toks_b")).cast("long").alias("inter_size"),
        F.size(F.array_union("toks_a", "toks_b")).cast("long").alias("union_size"),
        F.round(S.jaccard(F.col("toks_a"), F.col("toks_b")), 6).alias("jaccard"),
    )


def q_events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed agg over the events table (streaming-shaped batch)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def q_label_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: map distinct labels to 0..k-1 via dense_rank."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy("source")
    return (
        docs.select("source").distinct()
        .withColumn("code", (F.dense_rank().over(w) - 1).cast("long"))
    )


def q_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-group (x-min)/(max-min), two-pass agg + join-back."""
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 5000)
    stats = e.groupBy("event_type").agg(F.min("value").alias("_mn"), F.max("value").alias("_mx"))
    return (
        e.join(F.broadcast(stats), "event_type")
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.round(
                F.when(F.col("_mx") > F.col("_mn"), (F.col("value") - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))).otherwise(F.lit(0.0)),
                6,
            ).alias("norm_value"),
        )
    )


def q_vector_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-label mean embedding vector via posexplode + agg (the
    distributed form of the reference's np.mean over word vectors)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.col("label").cast("long").alias("label"), F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("mean_x"))
        .select("label", F.col("pos").cast("long").alias("pos"), "mean_x")
    )


def q_euclidean_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: Euclidean distance over zipped arrays (vec_id < 15 pairs)."""
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 15).select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    a = emb.select(F.col("id").alias("vec_a"), F.col("v").alias("_va"))
    b = emb.select(F.col("id").alias("vec_b"), F.col("v").alias("_vb"))
    pairs = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("_va", "_vb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    )
    return pairs.select("vec_a", "vec_b", F.round(dist, 6).alias("euclidean"))


def q_eval_nmi_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12: NMI + ARI closed forms over the contingency table — the
    reference scores every run with these alongside pairwise F1
    (src/utils/clustering_metric.py:61-66). Same synthetic labels as
    eval_pairwise_f1; oracle = the identical contingency SQL in DuckDB."""
    from jmdfane_spark.operators.evaluate import nmi_ari

    docs = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("block_key"),
        F.col("doc_id").alias("id"),
        F.col("source").alias("pred"),
        (F.col("n_chars") % 5).cast("long").alias("truth"),
    )
    out = nmi_ari(docs, "block_key", "pred", "truth")
    return out.select(
        "block_key",
        F.col("n").cast("long").alias("n"),
        F.round("nmi", 6).alias("nmi"),
        F.round("ari", 6).alias("ari"),
    )


def q_eval_munkres_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12: best-mapping clustering accuracy (Munkres over contingency
    cells, reference clustering_metric.py:16-59). The assignment problem
    is not SQL-expressible — driver records rows-only; exactness is
    covered by tests/test_metrics.py (brute-force permutation oracle)."""
    from jmdfane_spark.operators.evaluate import munkres_accuracy

    docs = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("block_key"),
        F.col("doc_id").alias("id"),
        F.col("source").alias("pred"),
        (F.col("n_chars") % 5).cast("long").alias("truth"),
    )
    out = munkres_accuracy(docs, "block_key", "pred", "truth")
    return out.select("block_key", "n", F.round("acc", 6).alias("acc"))


def q_er_ghac_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7/G8: per-block GHAC (average-linkage + modularity-k scan,
    reference local_embedding.py:316-364) over token-Jaccard-scored pairs.
    The dendrogram cut + modularity argmax are not SQL-expressible —
    driver records rows-only; exactness covered by tests/test_clustering.py
    (naive-linkage + brute-force oracles)."""
    from jmdfane_spark.operators.clustering import ghac_cluster

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("lang").alias("block_key"),
        _tokens(F.col("text")).alias("toks"),
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    scored = pairs.select(
        "block_key", "id_a", "id_b", S.jaccard(F.col("toks_a"), F.col("toks_b")).alias("score")
    )
    out = ghac_cluster(scored, docs.select("block_key", "id"), threshold=0.95)
    return out.select(
        F.col("id").cast("long").alias("doc_id"), F.col("component").alias("component")
    )


def q_er_scored_pairs_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The joint fusion with the embedding channel as a first-class
    dimension (reference HIN channel fusion, model.py:34-58): within-lang
    doc pairs scored 0.5·token_jaccard + 0.5·embedding_cosine, fully
    DuckDB-oracled (embeddings joined on doc_id = vec_id)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 60)
        .select(
            F.col("doc_id").cast("long").alias("id"),
            F.col("lang").alias("block_key"),
            _tokens(F.col("text")).alias("toks"),
        )
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    m = docs.join(emb, "id")
    pairs = blocked_pairs(m, "block_key", "id", max_rows_per_task=500)
    tok = S.jaccard(F.col("toks_a"), F.col("toks_b"))
    cos = S.cosine(F.col("vec_a"), F.col("vec_b"))
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round(tok, 6).alias("token_jaccard"),
        F.round(cos, 6).alias("emb_cosine"),
        F.round(0.5 * tok + 0.5 * cos, 6).alias("score"),
    )


def q_cluster_count_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10: per-block cluster-count estimation — the reference's 预估簇个数
    runs estimate k per name block (src/cluster_pred/cluster_predict.py).
    Our predicted-k = thresholded-component count per block (the same k
    spectral_cluster uses when no true k is given); oracle = recursive-CTE
    transitive closure counted per block."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id"),
        F.col("lang").alias("block_key"),
        _tokens(F.col("text")).alias("toks"),
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    edges = pairs.withColumn("j", S.jaccard(F.col("toks_a"), F.col("toks_b"))).where(
        F.col("j") >= 0.95
    )
    cc = connected_components(docs.select("id"), edges.select("id_a", "id_b"))
    return (
        docs.select("id", "block_key")
        .join(cc.labels, "id")
        .groupBy("block_key")
        .agg(
            F.countDistinct("component").cast("long").alias("k_estimate"),
            F.count("*").cast("long").alias("n_mentions"),
        )
    )


def q_eval_triplet_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12: per-anchor triplet AUC (reference src/utils/utils.py:114-169)
    via the Mann-Whitney rank closed form — no triple materialization.
    Scores = within-lang token Jaccard; labels = synthetic truth
    (n_chars%5, same convention as eval_nmi_ari). Fully DuckDB-oracled:
    the identical rank windows run on both sides."""
    from jmdfane_spark.operators.evaluate import triplet_auc

    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 80)
        .select(
            F.col("doc_id").cast("long").alias("id"),
            F.col("lang").alias("block_key"),
            _tokens(F.col("text")).alias("toks"),
            (F.col("n_chars") % 5).cast("long").alias("truth"),
        )
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    scored = pairs.select(
        F.col("id_a").alias("anchor"),
        F.round(S.jaccard(F.col("toks_a"), F.col("toks_b")), 6).alias("score"),
        (F.col("truth_a") == F.col("truth_b")).alias("is_match"),
    )
    out = triplet_auc(scored, anchor_col="anchor")
    return out.select(
        F.col("anchor").cast("long").alias("anchor"),
        "n_pos",
        "n_neg",
        F.round("auc", 6).alias("auc"),
    )


def q_cluster_k_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10: all five per-block k estimators side by side — thresholded-CC
    count (live recursive-CTE oracle), modularity-argmax k from the GHAC
    dendrogram scan, greedy-CNM FastNewman k (reference
    src/cluster_pred/cluster_predict.py:41-129), HDBSCAN-role density k
    (mutual-reachability MST + condensed-tree EOM, reference :132-160),
    and Girvan–Newman betweenness-removal k (reference :174-255). The
    non-CC estimators are not SQL-expressible — their columns are pinned
    regression values (tools/gen_pinned_oracles.py); exactness covered by
    tests/test_clustering.py (planted-k fixtures + trace oracles)."""
    from jmdfane_spark.operators.clustering import estimate_k

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("lang").alias("block_key"),
        _tokens(F.col("text")).alias("toks"),
    )
    pairs = blocked_pairs(docs, "block_key", "id", max_rows_per_task=500)
    scored = pairs.select(
        "block_key", "id_a", "id_b", S.jaccard(F.col("toks_a"), F.col("toks_b")).alias("score")
    )
    return estimate_k(scored, docs.select("block_key", "id"), threshold=0.95)


def q_char_bag_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: multiset char-bag distance between names (reference
    repare_data_name.py:48-65) over customer-name pairs."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 30)
        .select(F.col("c_custkey").cast("long").alias("k"), F.lower(F.col("c_name")).alias("nm"))
    )
    a = c.select(F.col("k").alias("cust_a"), F.col("nm").alias("na"))
    b = c.select(F.col("k").alias("cust_b"), F.col("nm").alias("nb"))
    pairs = a.crossJoin(b).where(F.col("cust_a") < F.col("cust_b"))
    return pairs.select(
        "cust_a",
        "cust_b",
        S.char_bag_distance(F.col("na"), F.col("nb")).cast("long").alias("char_bag_dist"),
    )


def q_sha_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: the BASELINE.json per-row invariant as a driver-checkable
    query — content sha256 carried through stage-0 normalization equals
    the source hash (DuckDB sha256 on the raw documents table)."""
    from jmdfane_spark.plans.pipeline import normalize_files

    files = documents_as_files(spark, sf_dir)
    norm = normalize_files(files)
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), F.sha2(F.col("text"), 256).alias("_src_sha")
    )
    got = norm.select(
        F.regexp_extract("path", r"doc_(\d+)\.txt$", 1).cast("long").alias("doc_id"),
        "content_sha",
    )
    return got.join(src, "doc_id").select(
        "doc_id",
        "content_sha",
        (F.col("content_sha") == F.col("_src_sha")).cast("long").alias("matches_source"),
    )


# Deterministic output order, applied to EVERY query and its oracle twin.
# The driver's value hash is row-order-sensitive (r1-r3 showed identical
# value sets flip red/green with partition order), so each query sorts on
# a key set that is UNIQUE per row — total order, zero semantic change.
_SORT_KEYS: dict[str, list[str]] = {
    "er_pipeline_cc": ["doc_id"],
    "er_scored_pairs": ["doc_a", "doc_b"],
    "eval_pairwise_f1": ["block_key"],
    "dedup_exact": ["doc_id"],
    "dedup_ngram_jaccard": ["doc_a", "doc_b"],
    "dedup_minhash_lsh": ["doc_a", "doc_b"],
    "dedup_simhash": ["doc_a", "doc_b"],
    "ann_topk": ["q_id", "rank"],
    "ann_topk_ivf": ["q_id", "rank"],
    "emb_near_dup": ["vec_a", "vec_b"],
    "txt_token_count": ["doc_id"],
    "txt_quality": ["doc_id"],
    "txt_lang_id": ["doc_id"],
    "txt_fingerprint": ["doc_id"],
    "tpch_pricing_summary": ["l_returnflag", "l_linestatus"],
    "join_orders_customer": ["mktsegment"],
    "join_supplier_nation_region": ["region"],
    "semi_join_customers_with_orders": ["nationkey"],
    "anti_join_customers_no_orders": ["custkey"],
    "dedup_first_per_order": ["orderkey"],
    "topk_orders_per_customer": ["custkey", "rank"],
    "argmax_customer_per_nation": ["nationkey"],
    "idf": ["word"],
    "block_stats_threshold": ["block_key"],
    "union_distinct": ["user_id"],
    "levenshtein_parts": ["partkey"],
    "jaro_winkler_parts": ["partkey"],
    "jaccard_docs": ["doc_a", "doc_b"],
    "events_windowed_agg": ["hour", "event_type"],
    "label_encoding": ["code"],
    "minmax_normalize": ["event_id"],
    "vector_mean": ["label", "pos"],
    "euclidean_pairs": ["vec_a", "vec_b"],
    "eval_nmi_ari": ["block_key"],
    "eval_munkres_acc": ["block_key"],
    "sha_invariant": ["doc_id"],
    "er_ghac_clusters": ["doc_id"],
    "char_bag_names": ["cust_a", "cust_b"],
    "er_scored_pairs_emb": ["doc_a", "doc_b"],
    "cluster_count_estimate": ["block_key"],
    "eval_triplet_auc": ["anchor"],
    "cluster_k_modularity": ["block_key"],
}


def _ordered(fn: Callable[[SparkSession, str], DataFrame], keys: list[str]):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(spark, sf_dir).orderBy(*keys)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
        "er_pipeline_cc": q_er_pipeline_cc,
        "er_scored_pairs": q_er_scored_pairs,
        "eval_pairwise_f1": q_eval_pairwise_f1,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "ann_topk": q_ann_topk,
        "emb_near_dup": q_emb_near_dup,
        "txt_token_count": q_txt_token_count,
        "txt_quality": q_txt_quality,
        "txt_lang_id": q_txt_lang_id,
        "txt_fingerprint": q_txt_fingerprint,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "join_orders_customer": q_join_orders_customer,
        "join_supplier_nation_region": q_join_supplier_nation_region,
        "semi_join_customers_with_orders": q_semi_join_customers_with_orders,
        "anti_join_customers_no_orders": q_anti_join_customers_no_orders,
        "dedup_first_per_order": q_dedup_first_per_order,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "argmax_customer_per_nation": q_argmax_customer_per_nation,
        "idf": q_idf,
        "block_stats_threshold": q_block_stats_threshold,
        "union_distinct": q_union_distinct,
        "levenshtein_parts": q_levenshtein_parts,
        "jaro_winkler_parts": q_jaro_winkler_parts,
        "jaccard_docs": q_jaccard_docs,
        "events_windowed_agg": q_events_windowed_agg,
        "label_encoding": q_label_encoding,
        "minmax_normalize": q_minmax_normalize,
        "vector_mean": q_vector_mean,
        "euclidean_pairs": q_euclidean_pairs,
        "eval_nmi_ari": q_eval_nmi_ari,
        "eval_munkres_acc": q_eval_munkres_acc,
        "sha_invariant": q_sha_invariant,
        "er_ghac_clusters": q_er_ghac_clusters,
        "char_bag_names": q_char_bag_names,
        "er_scored_pairs_emb": q_er_scored_pairs_emb,
        "cluster_count_estimate": q_cluster_count_estimate,
        "eval_triplet_auc": q_eval_triplet_auc,
        "cluster_k_modularity": q_cluster_k_modularity,
        "ann_topk_ivf": q_ann_topk_ivf,
    }
    return {name: _ordered(fn, _SORT_KEYS[name]) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    toks = SQL_TOKS.format(c="text")
    toks_a, toks_b = SQL_TOKS.format(c="a.text"), SQL_TOKS.format(c="b.text")
    sh_a, sh_b = SQL_SHINGLES3("a.text"), SQL_SHINGLES3("b.text")
    sql = {
        "er_pipeline_cc": f"""
            WITH t AS (SELECT doc_id, lang, {toks} AS tk FROM documents),
            p AS (
              SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE CASE WHEN len(list_distinct(list_concat(a.tk, b.tk))) > 0 THEN
                len(list_intersect(a.tk, b.tk))::double / len(list_distinct(list_concat(a.tk, b.tk)))
                ELSE 0.0 END >= 0.95
            ),
            e AS (SELECT ia, ib FROM p UNION SELECT ib, ia FROM p),
            reach AS (
              SELECT doc_id AS id, doc_id AS r FROM t
              UNION
              SELECT reach.id, e.ib FROM reach JOIN e ON reach.r = e.ia
            )
            SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
        """.replace("WITH t AS", "WITH RECURSIVE t AS"),
        "er_scored_pairs": f"""
            WITH tok AS MATERIALIZED (SELECT doc_id, lang, {toks} AS tk, {SQL_TOKS_SEQ.format(c='text')} AS tseq
                       FROM documents WHERE doc_id < 60),
            t AS MATERIALIZED (SELECT doc_id, lang, tk, {SQL_SHINGLES3_FROM_COL('tseq')} AS sh FROM tok)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   {SQL_JACCARD('a.tk', 'b.tk')} AS token_jaccard,
                   {SQL_JACCARD('a.sh', 'b.sh')} AS shingle_jaccard,
                   round(0.6 * (CASE WHEN len(list_distinct(list_concat(a.tk, b.tk))) > 0 THEN
                     len(list_intersect(a.tk, b.tk))::double / len(list_distinct(list_concat(a.tk, b.tk))) ELSE 0.0 END)
                   + 0.4 * (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 THEN
                     len(list_intersect(a.sh, b.sh))::double / len(list_distinct(list_concat(a.sh, b.sh))) ELSE 0.0 END), 6) AS score
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        """,
        "eval_pairwise_f1": """
            WITH d AS (SELECT lang AS block_key, doc_id, source AS pred, (n_chars % 5) AS truth FROM documents),
            cell AS (SELECT block_key, pred, truth, count(*) c FROM d GROUP BY 1,2,3),
            tp AS (SELECT block_key, sum(c*(c-1)/2) tp FROM cell GROUP BY 1),
            pp AS (SELECT block_key, sum(c*(c-1)/2) pred_pairs FROM
                   (SELECT block_key, pred, count(*) c FROM d GROUP BY 1,2) GROUP BY 1),
            tr AS (SELECT block_key, sum(c*(c-1)/2) true_pairs FROM
                   (SELECT block_key, truth, count(*) c FROM d GROUP BY 1,2) GROUP BY 1)
            SELECT tp.block_key, tp.tp::bigint AS tp, pp.pred_pairs::bigint AS pred_pairs,
                   tr.true_pairs::bigint AS true_pairs,
                   round(CASE WHEN pp.pred_pairs > 0 THEN tp.tp / pp.pred_pairs ELSE 0.0 END, 6) AS precision,
                   round(CASE WHEN tr.true_pairs > 0 THEN tp.tp / tr.true_pairs ELSE 0.0 END, 6) AS recall
            FROM tp JOIN pp USING (block_key) JOIN tr USING (block_key)
        """,
        "dedup_exact": """
            SELECT min(doc_id)::bigint AS doc_id, count(*)::bigint AS group_size
            FROM documents GROUP BY text
        """,
        "dedup_ngram_jaccard": f"""
            WITH tok AS MATERIALIZED (SELECT doc_id, lang, {SQL_TOKS_SEQ.format(c='text')} AS tk FROM documents),
            t AS MATERIALIZED (SELECT doc_id, lang, {SQL_SHINGLES3_FROM_COL('tk')} AS sh FROM tok),
            j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {SQL_JACCARD('a.sh', 'b.sh')} AS jaccard
                  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.35
        """,
        "dedup_minhash_lsh": f"""
            WITH tok AS MATERIALIZED (SELECT doc_id, {SQL_TOKS_CLEAN_SEQ.format(c='text')} AS tk FROM documents),
            t AS MATERIALIZED (SELECT doc_id, {SQL_SHINGLES3_FROM_COL('tk')} AS sh FROM tok),
            e AS (SELECT doc_id, unnest(sh) AS g FROM t),
            inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
            s AS (SELECT doc_id, len(sh) AS n FROM t),
            j AS (SELECT i.doc_a, i.doc_b,
                         i.c::double / (sa.n + sb.n - i.c) AS jr
                  FROM inter i JOIN s sa ON i.doc_a = sa.doc_id JOIN s sb ON i.doc_b = sb.doc_id)
            SELECT doc_a, doc_b, round(jr, 6) AS jaccard FROM j WHERE jr >= 0.6
        """,
        # dedup_simhash: pinned regression oracle via _pinned_oracles()
        "ann_topk": """
            WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS v FROM embeddings),
            s AS (
              SELECT q.q_id, c.c_id,
                round(CASE WHEN sqrt(list_dot_product(q.v, q.v)) > 0 AND sqrt(list_dot_product(c.v, c.v)) > 0
                  THEN list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                  ELSE 0.0 END, 6) AS cosine
              FROM q CROSS JOIN c
            ),
            r AS (SELECT q_id, c_id, cosine,
                    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
                  FROM s)
            SELECT q_id, c_id, cosine, rank::bigint AS rank FROM r WHERE rank <= 5
        """,
        "emb_near_dup": """
            WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planted AS (SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.01) AS v
                        FROM base WHERE vec_id < 3),
            e AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0 AND sqrt(list_dot_product(b.v, b.v)) > 0
                THEN list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                ELSE 0.0 END, 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            -- filter on the ROUNDED cosine, exactly like the Spark query:
            -- an unrounded WHERE would diverge on boundary pairs (raw in
            -- [0.9899995, 0.99) rounds to 0.99 and passes only one side)
            WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0 AND sqrt(list_dot_product(b.v, b.v)) > 0
                THEN list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                ELSE 0.0 END, 6) >= 0.99
        """,
        "txt_token_count": f"""
            SELECT doc_id::bigint AS doc_id,
                   len({SQL_TOKS_SEQ.format(c='text')})::bigint AS n_tokens,
                   len({toks})::bigint AS n_distinct_tokens
            FROM documents
        """,
        "txt_quality": f"""
            SELECT doc_id::bigint AS doc_id,
              round((
                (CASE WHEN length(text) BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END)
                + length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))::double / greatest(length(text), 1)
                + (CASE WHEN len(list_intersect({toks}, ['the','and','of','is','to'])) > 0 THEN 1.0 ELSE 0.0 END)
              ) / 3.0, 6) AS quality
            FROM documents
        """,
        "txt_lang_id": f"""
            WITH t AS (SELECT doc_id, lang, {toks} AS tk FROM documents),
            s AS (SELECT doc_id, lang,
                len(list_intersect(tk, ['the','and','of','is'])) AS s_en,
                len(list_intersect(tk, ['der','die','und','ist'])) AS s_de,
                len(list_intersect(tk, ['le','la','et','est'])) AS s_fr,
                len(list_intersect(tk, ['el','los','que','es'])) AS s_es
              FROM t),
            g AS (SELECT doc_id, lang,
                CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unknown'
                     WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                     WHEN s_fr >= s_es THEN 'fr'
                     ELSE 'es' END AS lang_guess
              FROM s)
            SELECT doc_id::bigint AS doc_id, lang_guess,
                   (CASE WHEN lang_guess = lang THEN 1 ELSE 0 END)::bigint AS correct
            FROM g
        """,
        "txt_fingerprint": f"""
            WITH t AS (SELECT doc_id, {SQL_TOKS_SEQ.format(c='text')} AS tk FROM documents)
            SELECT doc_id::bigint AS doc_id,
              list_reduce(
                list_prepend(0::bigint,
                  list_transform(tk, x -> (length(x)*131 + ascii(x))::bigint)),
                (acc, c) -> (acc * 31 + c) % 2147483647
              )::bigint AS fingerprint
            FROM t
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                   round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_orders_customer": """
            SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS mktsegment,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1
        """,
        "join_supplier_nation_region": """
            SELECT r.r_name AS region, count(*) AS n_suppliers,
                   round(CAST(sum(CAST(round(s.s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*), 4) AS avg_bal
            FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1
        """,
        "semi_join_customers_with_orders": """
            SELECT c_nationkey::bigint AS nationkey, count(*) AS n_customers
            FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY 1
        """,
        "anti_join_customers_no_orders": """
            SELECT c_custkey::bigint AS custkey, c_name
            FROM customer c WHERE NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderdate < TIMESTAMP '1996-01-01')
        """,
        "dedup_first_per_order": """
            SELECT l_orderkey::bigint AS orderkey, l_partkey::bigint AS partkey,
                   CAST(round(l_quantity * 100) AS BIGINT) AS quantity_cents
            FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber ASC, l_partkey ASC, l_suppkey ASC,
                             l_quantity ASC, l_extendedprice ASC) rn
                  FROM lineitem) WHERE rn = 1
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey::bigint AS custkey, o_orderkey::bigint AS orderkey, rank::bigint AS rank
            FROM (SELECT o_custkey, o_orderkey,
                    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
                  FROM orders) WHERE rank <= 3
        """,
        "argmax_customer_per_nation": """
            SELECT c_nationkey::bigint AS nationkey, c_custkey::bigint AS custkey,
                   round(c_acctbal, 2) AS acctbal
            FROM (SELECT *, row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) rn
                  FROM customer) WHERE rn = 1
        """,
        "idf": f"""
            WITH w AS (SELECT unnest({toks}) AS word FROM documents),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT word, count(*)::bigint AS df,
                   round(ln((SELECT n_docs FROM n)::double / count(*) + 1.0), 6) AS idf
            FROM w GROUP BY word
        """,
        "block_stats_threshold": """
            SELECT lang AS block_key, count(*) AS n,
                   round(avg(n_chars), 6) AS mean_chars,
                   round(stddev_samp(n_chars), 6) AS sd_chars,
                   round(avg(n_chars) + 2 * stddev_samp(n_chars), 6) AS threshold
            FROM documents GROUP BY lang
        """,
        "union_distinct": """
            SELECT DISTINCT user_id FROM (
              SELECT user_id::bigint AS user_id FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id::bigint AS user_id FROM events WHERE value > 50
            )
        """,
        "levenshtein_parts": """
            SELECT p_partkey::bigint AS partkey,
                   levenshtein(p_name, p_type)::bigint AS lev,
                   round(1.0 - levenshtein(p_name, p_type)::double / greatest(length(p_name), length(p_type)), 6) AS lev_ratio
            FROM part WHERE p_partkey <= 200
        """,
        "jaro_winkler_parts": """
            SELECT p_partkey::bigint AS partkey,
                   jaro_winkler_similarity(p_name, p_type) AS jw_sim,
                   jaro_winkler_similarity(p_name, p_name) AS jw_self
            FROM part WHERE p_partkey <= 200
        """,
        "jaccard_docs": f"""
            WITH t AS (SELECT doc_id, {toks} AS tk FROM documents WHERE doc_id < 40)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.tk, b.tk))::bigint AS inter_size,
                   len(list_distinct(list_concat(a.tk, b.tk)))::bigint AS union_size,
                   {SQL_JACCARD('a.tk', 'b.tk')} AS jaccard
            FROM t a JOIN t b ON a.doc_id < b.doc_id
        """,
        "events_windowed_agg": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "label_encoding": """
            SELECT source, (dense_rank() OVER (ORDER BY source) - 1)::bigint AS code
            FROM (SELECT DISTINCT source FROM documents)
        """,
        "minmax_normalize": """
            WITH s AS (SELECT event_type, min(value) mn, max(value) mx
                       FROM events WHERE event_id < 5000 GROUP BY 1)
            SELECT e.event_id::bigint AS event_id,
                   round(CASE WHEN s.mx > s.mn THEN (e.value - s.mn) / (s.mx - s.mn) ELSE 0.0 END, 6) AS norm_value
            FROM events e JOIN s USING (event_type) WHERE e.event_id < 5000
        """,
        "vector_mean": """
            SELECT label::bigint AS label, u.pos::bigint AS pos, round(avg(u.x), 6) AS mean_x
            FROM (SELECT label, unnest(list_transform(embedding, (x, i) -> {'pos': i - 1, 'x': x::double})) AS u
                  FROM embeddings)
            GROUP BY 1, 2
        """,
        "euclidean_pairs": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 15)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(sqrt(list_sum(list_transform(a.v, (x, i) -> (x - b.v[i]) * (x - b.v[i])))), 6) AS euclidean
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        """,
        "eval_nmi_ari": """
            WITH j AS (SELECT lang AS block_key, source AS pred, (n_chars % 5)::bigint AS truth
                       FROM documents),
            nn AS (SELECT block_key, count(*)::double AS n FROM j GROUP BY 1),
            cell AS (SELECT block_key, pred, truth, count(*)::double AS c FROM j GROUP BY 1,2,3),
            aa AS (SELECT block_key, pred, count(*)::double AS a FROM j GROUP BY 1,2),
            bb AS (SELECT block_key, truth, count(*)::double AS b FROM j GROUP BY 1,2),
            mi AS (SELECT cell.block_key,
                          sum((c / nn.n) * ln(nn.n * c / (aa.a * bb.b))) AS mi,
                          sum(c * (c - 1) / 2) AS sum_comb_cells
                   FROM cell JOIN aa USING (block_key, pred)
                             JOIN bb USING (block_key, truth)
                             JOIN nn USING (block_key)
                   GROUP BY 1),
            hp AS (SELECT aa.block_key, -sum((a / nn.n) * ln(a / nn.n)) AS h_pred,
                          sum(a * (a - 1) / 2) AS sum_comb_a, count(*)::double AS k_pred
                   FROM aa JOIN nn USING (block_key) GROUP BY 1),
            ht AS (SELECT bb.block_key, -sum((b / nn.n) * ln(b / nn.n)) AS h_true,
                          sum(b * (b - 1) / 2) AS sum_comb_b, count(*)::double AS k_true
                   FROM bb JOIN nn USING (block_key) GROUP BY 1),
            x AS (SELECT mi.block_key, nn.n, mi.mi, mi.sum_comb_cells,
                         hp.h_pred, hp.sum_comb_a, hp.k_pred,
                         ht.h_true, ht.sum_comb_b, ht.k_true,
                         nn.n * (nn.n - 1) / 2 AS total_pairs
                  FROM mi JOIN hp USING (block_key) JOIN ht USING (block_key)
                          JOIN nn USING (block_key)),
            y AS (SELECT *, CASE WHEN total_pairs > 0
                                 THEN sum_comb_a * sum_comb_b / total_pairs ELSE 0.0 END AS expected
                  FROM x)
            SELECT block_key, n::bigint AS n,
                   round(CASE WHEN k_pred = 1 AND k_true = 1 THEN 1.0
                              ELSE mi / greatest(2.220446049250313e-16, (h_pred + h_true) / 2)
                         END, 6) AS nmi,
                   round(CASE WHEN (sum_comb_a + sum_comb_b) / 2 - expected = 0 THEN 1.0
                              ELSE (sum_comb_cells - expected)
                                   / ((sum_comb_a + sum_comb_b) / 2 - expected)
                         END, 6) AS ari
            FROM y
        """,
        "sha_invariant": """
            SELECT doc_id::bigint AS doc_id, sha256(text) AS content_sha,
                   1::bigint AS matches_source
            FROM documents
        """,
        "char_bag_names": """
            WITH c AS (SELECT c_custkey AS k, lower(c_name) AS nm
                       FROM customer WHERE c_custkey < 30),
            p AS (SELECT a.k AS cust_a, b.k AS cust_b, a.nm AS na, b.nm AS nb
                  FROM c a JOIN c b ON a.k < b.k)
            SELECT cust_a::bigint AS cust_a, cust_b::bigint AS cust_b,
                   list_sum(list_transform(
                     list_distinct(string_split(na || nb, '')),
                     ch -> abs(len(list_filter(string_split(na, ''), x -> x = ch))
                             - len(list_filter(string_split(nb, ''), x -> x = ch)))
                   ))::bigint AS char_bag_dist
            FROM p
        """,
        "er_scored_pairs_emb": f"""
            WITH t AS (SELECT doc_id, lang, {SQL_TOKS.format(c="text")} AS tk FROM documents
                       WHERE doc_id < 60),
            m AS (SELECT t.doc_id, t.lang, t.tk, e.embedding::DOUBLE[] AS v
                  FROM t JOIN embeddings e ON t.doc_id = e.vec_id),
            p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.tk AS ta, b.tk AS tb, a.v AS va, b.v AS vb
                  FROM m a JOIN m b ON a.lang = b.lang AND a.doc_id < b.doc_id),
            s AS (SELECT doc_a, doc_b,
                    CASE WHEN len(list_distinct(list_concat(ta, tb))) > 0 THEN
                      round(len(list_intersect(ta, tb))::double
                            / len(list_distinct(list_concat(ta, tb))), 9)
                    ELSE 0.0 END AS tj,
                    CASE WHEN sqrt(list_dot_product(va, va)) > 0
                          AND sqrt(list_dot_product(vb, vb)) > 0 THEN
                      list_dot_product(va, vb)
                        / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
                    ELSE 0.0 END AS ec
                  FROM p)
            SELECT doc_a::bigint AS doc_a, doc_b::bigint AS doc_b,
                   round(tj, 6) AS token_jaccard, round(ec, 6) AS emb_cosine,
                   round(0.5 * tj + 0.5 * ec, 6) AS score
            FROM s
        """,
        "cluster_count_estimate": f"""
            WITH RECURSIVE t AS (SELECT doc_id, lang, {SQL_TOKS.format(c="text")} AS tk FROM documents),
            p AS (
              SELECT a.doc_id AS ia, b.doc_id AS ib
              FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
              WHERE CASE WHEN len(list_distinct(list_concat(a.tk, b.tk))) > 0 THEN
                len(list_intersect(a.tk, b.tk))::double / len(list_distinct(list_concat(a.tk, b.tk)))
                ELSE 0.0 END >= 0.95
            ),
            e AS (SELECT ia, ib FROM p UNION SELECT ib, ia FROM p),
            reach AS (
              SELECT doc_id AS id, doc_id AS r FROM t
              UNION
              SELECT reach.id, e.ib FROM reach JOIN e ON reach.r = e.ia
            ),
            comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
            SELECT t.lang AS block_key,
                   count(DISTINCT comp.component)::bigint AS k_estimate,
                   count(*)::bigint AS n_mentions
            FROM t JOIN comp ON t.doc_id = comp.id
            GROUP BY 1
        """,
        "eval_triplet_auc": f"""
            WITH t AS (SELECT doc_id AS id, lang, {SQL_TOKS.format(c="text")} AS tk,
                              n_chars % 5 AS tr
                       FROM documents WHERE doc_id < 80),
            p AS (
              SELECT a.id AS anchor,
                     {SQL_JACCARD("a.tk", "b.tk")} AS s,
                     CASE WHEN a.tr = b.tr THEN 1 ELSE 0 END AS y
              FROM t a JOIN t b ON a.lang = b.lang AND a.id < b.id
            ),
            r AS (
              SELECT anchor, y,
                     rank() OVER (PARTITION BY anchor ORDER BY s)
                       + (count(*) OVER (PARTITION BY anchor, s) - 1) / 2.0 AS rr
              FROM p
            ),
            g AS (
              SELECT anchor, sum(y) AS n_pos, sum(1 - y) AS n_neg,
                     sum(CASE WHEN y = 1 THEN rr END) AS prs
              FROM r GROUP BY anchor
            )
            SELECT anchor::bigint AS anchor, n_pos::bigint AS n_pos,
                   n_neg::bigint AS n_neg,
                   round((prs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
            FROM g WHERE n_pos > 0 AND n_neg > 0
        """,
        # G12 Munkres accuracy: truth side is exactly {0..4} (n_chars % 5;
        # every block has all five residues), so the max assignment is a
        # brute-force 5-way join over candidate preds. Per truth only the
        # top-6 preds by cell count can appear in an optimum (a truth
        # assigned outside its top-6 could swap to an unused top-6 pred —
        # at most 4 are taken by the other truths — without decreasing the
        # total), so the join is 6^5 combos per block, not 20^5.
        "eval_munkres_acc": """
            WITH d AS (SELECT lang AS block_key, source AS pred,
                              (n_chars % 5)::bigint AS truth
                       FROM documents),
            cell AS (SELECT block_key, pred, truth, count(*)::double AS c
                     FROM d GROUP BY 1, 2, 3),
            preds AS (SELECT DISTINCT block_key, pred FROM d),
            truths AS (SELECT DISTINCT block_key, truth FROM d),
            fullc AS (SELECT t.block_key, p.pred, t.truth, coalesce(cell.c, 0.0) AS c
                      FROM truths t JOIN preds p USING (block_key)
                      LEFT JOIN cell USING (block_key, pred, truth)),
            top6 AS (SELECT * FROM (
                       SELECT *, row_number() OVER (PARTITION BY block_key, truth
                                                    ORDER BY c DESC, pred ASC) AS rn
                       FROM fullc) WHERE rn <= 6),
            nn AS (SELECT block_key, count(*)::bigint AS n FROM d GROUP BY 1),
            best AS (
              SELECT c0.block_key, max(c0.c + c1.c + c2.c + c3.c + c4.c) AS tot
              FROM top6 c0
              JOIN top6 c1 ON c1.block_key = c0.block_key AND c1.truth = 1
              JOIN top6 c2 ON c2.block_key = c0.block_key AND c2.truth = 2
              JOIN top6 c3 ON c3.block_key = c0.block_key AND c3.truth = 3
              JOIN top6 c4 ON c4.block_key = c0.block_key AND c4.truth = 4
              WHERE c0.truth = 0
                AND c0.pred <> c1.pred AND c0.pred <> c2.pred AND c0.pred <> c3.pred AND c0.pred <> c4.pred
                AND c1.pred <> c2.pred AND c1.pred <> c3.pred AND c1.pred <> c4.pred
                AND c2.pred <> c3.pred AND c2.pred <> c4.pred
                AND c3.pred <> c4.pred
              GROUP BY 1
            )
            SELECT b.block_key, nn.n AS n, round(b.tot / nn.n, 6) AS acc
            FROM best b JOIN nn USING (block_key)
        """,
    }
    # the IVF query with nprobe = nlist probes every partition — exact, so
    # it shares the brute-force oracle verbatim (proves the scale ANN path
    # end-to-end against the same ground truth)
    sql["ann_topk_ivf"] = sql["ann_topk"]
    sql.update(_pinned_oracles())
    for name, keys in _SORT_KEYS.items():
        if name in sql:
            sql[name] = sql[name].rstrip() + "\nORDER BY " + ", ".join(keys)
    return sql


def _pinned_oracles() -> dict[str, str]:
    """Pinned regression oracles for the non-SQL-expressible solvers.

    GHAC's dendrogram cut + modularity argmax (and the k_modularity
    column) cannot be recomputed in SQL; their exactness is covered by
    tests/test_clustering.py against brute-force references. What SQL CAN
    check is that the distributed solver reproduces the verified expected
    output on the driver fixture bit-for-bit — so the expected tables
    (generated once by tools/gen_pinned_oracles.py at sf0.01, the driver's
    correctness scale) are pinned as VALUES. cluster_k_modularity's k_cc
    column is NOT pinned: it is recomputed live by the recursive-CTE
    transitive closure, joined to the 5 pinned k_modularity values.
    """
    try:
        from tools.pinned_oracles import PINNED_SQL
    except ImportError:  # pinned tables not generated yet
        return {}
    return PINNED_SQL
