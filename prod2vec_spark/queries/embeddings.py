"""Baskets, skip-gram and embedding queries: the Prod2Vec data path
(baskets, vocabulary, index probes, skip-gram pairs, negative
sampling, frequent-item subsampling, seeded shuffle and validation
sample) and the ML layer on top of it (Word2Vec neighbours and
stability, KMeans).  Trained floats are not SQL-expressible, so the
ML entries are either rows-only or oracle their structural
invariants (SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.functions.arrays import seeded_shuffle
from prod2vec_spark.operators import baskets as B
from prod2vec_spark.operators import skipgram as SG
from prod2vec_spark.queries.common import register
from prod2vec_spark.sources.io import read_table


VOCAB_SIZE = 101  # top-100 products + UNK for the testdata catalog
SKIPGRAM_WINDOW = 4
NUM_NS = 4
SEED = 42


# ---------------------------------------------------------------- A1/F2
def q_baskets(spark, sf_dir):
    """A1+F2: basket per order, cart-ordered, capped at 50; array
    emitted as a string for engine-portable hashing."""
    li = read_table(spark, sf_dir, "lineitem")
    b = B.assemble_baskets(li, max_len=50)
    return b.select(
        "order_id",
        F.size("basket").alias("basket_size"),
        F.concat_ws(",", F.transform("basket", lambda x: x.cast("string"))).alias("basket_str"),
    )


SQL_BASKETS = """
SELECT l_orderkey AS order_id,
       CAST(len(list_slice(list(l_partkey ORDER BY l_linenumber, l_partkey), 1, 50)) AS INT) AS basket_size,
       array_to_string(list_slice(list(l_partkey ORDER BY l_linenumber, l_partkey), 1, 50), ',') AS basket_str
FROM lineitem GROUP BY l_orderkey
"""

register(q_baskets, SQL_BASKETS)


# ---------------------------------------------------------------- A2/W1
def q_vocab(spark, sf_dir):
    """A2+W1+union: frequency-ranked vocabulary, UNK pinned at idx 0
    (data_prep.py:78-87)."""
    li = read_table(spark, sf_dir, "lineitem")
    v = B.build_vocab(li, num_prods=VOCAB_SIZE)
    return v.select("product_id", F.col("count").alias("cnt"), "idx")


SQL_VOCAB = """
SELECT CAST(NULL AS BIGINT) AS product_id, CAST(NULL AS BIGINT) AS cnt, 0 AS idx
UNION ALL
SELECT product_id, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, product_id) AS INT) AS idx
FROM (SELECT l_partkey AS product_id, count(*) AS cnt
      FROM lineitem GROUP BY 1 ORDER BY cnt DESC, product_id LIMIT 100)
"""

register(q_vocab, SQL_VOCAB)


_SQL_VOCAB_CTE = """
vocab AS (
  SELECT product_id,
         CAST(row_number() OVER (ORDER BY cnt DESC, product_id) AS INT) AS idx
  FROM (SELECT l_partkey AS product_id, count(*) AS cnt
        FROM lineitem GROUP BY 1 ORDER BY cnt DESC, product_id LIMIT 100))
"""


# ------------------------------------------------------------------- J2
def q_index_items(spark, sf_dir):
    """J2: vocabulary probe with OOV->0 over the full fact (broadcast
    left join, zero fact shuffle)."""
    li = read_table(spark, sf_dir, "lineitem")
    v = B.build_vocab(li, num_prods=VOCAB_SIZE)
    out = B.index_items(li.select("l_orderkey", "l_linenumber", "l_partkey"), v)
    return out.select("l_orderkey", "l_linenumber", "l_partkey", "idx")


SQL_INDEX_ITEMS = f"""
WITH {_SQL_VOCAB_CTE}
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, COALESCE(v.idx, 0) AS idx
FROM lineitem l LEFT JOIN vocab v ON l.l_partkey = v.product_id
"""

register(q_index_items, SQL_INDEX_ITEMS)


# ---------------------------------------------------------------- A6/J2
def q_oov_miss_count(spark, sf_dir):
    """A6: UNK probe-miss accumulator (data_prep.py:91-103)."""
    li = read_table(spark, sf_dir, "lineitem")
    v = B.build_vocab(li, num_prods=VOCAB_SIZE)
    return B.oov_miss_count(li, v)


SQL_OOV_MISS = f"""
WITH {_SQL_VOCAB_CTE}
SELECT count(*) AS n_probes,
       CAST(sum(CASE WHEN v.idx IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_miss
FROM lineitem l LEFT JOIN vocab v ON l.l_partkey = v.product_id
"""

register(q_oov_miss_count, SQL_OOV_MISS)


# ------------------------------------------------------------------- J3
def q_enrich_names(spark, sf_dir):
    """J3: chained broadcast enrichment idx -> product_id -> name
    (post_process.py:96-99)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    v = B.build_vocab(li, num_prods=21).filter(F.col("product_id").isNotNull())
    return (
        v.join(
            F.broadcast(part.select(F.col("p_partkey"), F.col("p_name"))),
            v["product_id"] == F.col("p_partkey"),
            "left",
        )
        .select("idx", "product_id", "p_name")
    )


SQL_ENRICH_NAMES = """
WITH vocab AS (
  SELECT product_id,
         CAST(row_number() OVER (ORDER BY cnt DESC, product_id) AS INT) AS idx
  FROM (SELECT l_partkey AS product_id, count(*) AS cnt
        FROM lineitem GROUP BY 1 ORDER BY cnt DESC, product_id LIMIT 20))
SELECT v.idx, v.product_id, p.p_name
FROM vocab v LEFT JOIN part p ON v.product_id = p.p_partkey
"""

register(q_enrich_names, SQL_ENRICH_NAMES)


# ---------------------------------------------------------------- J4/F4
def _baskets_for_pairs(spark, sf_dir):
    """Basket arrays ordered by the full deterministic position key
    (l_linenumber, l_partkey, l_suppkey) — l_linenumber alone is not
    unique within an order in the testdata."""
    li = read_table(spark, sf_dir, "lineitem")
    basket = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("p"),
                    F.col("l_partkey").alias("v"),
                    F.col("l_suppkey").alias("s"),
                )
            )
        ),
        lambda st: st["v"],
    )
    return li.groupBy(F.col("l_orderkey").alias("order_id")).agg(basket.alias("basket"))


def q_skipgram_stats(spark, sf_dir):
    """J4/F4 via the no-shuffle array form: per-target pair statistics.
    Oracle uses the equivalent posexplode-self-join SQL — the two forms
    emit the identical pair multiset (SURVEY.md §4.4)."""
    pairs = SG.skipgram_pairs_array(_baskets_for_pairs(spark, sf_dir), SKIPGRAM_WINDOW)
    return pairs.groupBy("target").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("context").alias("distinct_ctx"),
        F.sum("context").alias("ctx_sum"),
    )


SQL_SKIPGRAM_STATS = """
WITH pos AS (
  SELECT l_orderkey AS o, l_partkey AS item,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey) AS p
  FROM lineitem)
SELECT t.item AS target,
       count(*) AS n_pairs,
       CAST(count(DISTINCT c.item) AS BIGINT) AS distinct_ctx,
       CAST(sum(c.item) AS BIGINT) AS ctx_sum
FROM pos t JOIN pos c ON t.o = c.o AND abs(t.p - c.p) BETWEEN 1 AND 4
GROUP BY t.item
"""

register(q_skipgram_stats, SQL_SKIPGRAM_STATS)


# ---------------------------------------------------------------- F5/F6
def q_negative_sampling_stats(spark, sf_dir):
    """F5+F6: md5-seeded log-uniform negative sampling over the skip-gram
    pairs, flattened to (target, candidate, label) and summarized per
    target.  The oracle replays the exact same hash-derived stream."""
    pairs = SG.skipgram_pairs_array(_baskets_for_pairs(spark, sf_dir), SKIPGRAM_WINDOW)
    withneg = SG.negative_samples(pairs, vocab_size=VOCAB_SIZE, num_ns=NUM_NS, seed=SEED)
    # aggregate before you explode: the flat
    # (target, candidate, label) stream multiplies every pair into
    # 1 + num_ns rows before the hash-agg; the same three aggregates
    # compute row-locally per PAIR (the positive contributes the
    # count, the negatives an in-array sum), 5× fewer rows into the
    # partial aggregation.  Row-identical to the flat form (oracle
    # replays the flat stream; equality proven there).
    return withneg.groupBy("target").agg(
        (F.count(F.lit(1)) + F.sum(F.size("negatives"))).alias("n_examples"),
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(
            F.aggregate(
                F.col("negatives"),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).alias("neg_sum"),
    )


SQL_NEGATIVE_SAMPLING = """
WITH pos AS (
  SELECT l_orderkey AS o, l_partkey AS item,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey) AS p
  FROM lineitem),
pairs AS (
  SELECT t.o AS order_id, t.item AS target, c.item AS context
  FROM pos t JOIN pos c ON t.o = c.o AND abs(t.p - c.p) BETWEEN 1 AND 4),
negs AS (
  -- one md5 per pair; draw i reads hex slice [1+8i, 8] (matches
  -- operators/skipgram.py negative_samples digest slicing)
  SELECT order_id, target, context, i,
         least(100, CAST(floor(exp(
             (('0x' || substr(md5(concat_ws('|', '42', order_id, target, context, '0')), 1 + i * 8, 8))::BIGINT
              / 4294967296.0) * ln(102.0))) AS BIGINT) - 1) AS candidate
  FROM pairs CROSS JOIN (VALUES (0),(1),(2),(3)) t(i)),
flat AS (
  SELECT target, context AS candidate, 1 AS label FROM pairs
  UNION ALL
  SELECT target, candidate, 0 AS label FROM negs)
SELECT target,
       count(*) AS n_examples,
       CAST(sum(label) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN label = 0 THEN candidate ELSE 0 END) AS BIGINT) AS neg_sum
FROM flat GROUP BY target
"""

register(q_negative_sampling_stats, SQL_NEGATIVE_SAMPLING)


# ------------------------------------------------------- F1 seeded shuffle
def q_seeded_shuffle(spark, sf_dir):
    """F1: deterministic basket permutation (hash-sort; the engine's
    seedable replacement for the reference's random.shuffle at
    data_prep.py:156-157).  The oracle replays the identical md5 sort
    keys."""
    li = read_table(spark, sf_dir, "lineitem")
    b = B.assemble_baskets(li)
    shuffled = seeded_shuffle(F.col("basket"), F.col("order_id"), seed=42)
    return b.select(
        "order_id",
        F.concat_ws(",", F.transform(shuffled, lambda x: x.cast("string"))).alias(
            "shuffled_basket"
        ),
    )


SQL_SEEDED_SHUFFLE = """
WITH b AS (
  SELECT l_orderkey AS order_id,
         list(l_partkey ORDER BY l_linenumber, l_partkey) AS basket
  FROM lineitem GROUP BY l_orderkey)
SELECT order_id, string_agg(v, ',' ORDER BY k, v) AS shuffled_basket
FROM (SELECT order_id, basket[i] AS v,
             md5('42|' || order_id || '|' || basket[i] || '|' || (i - 1)) AS k
      FROM b, LATERAL unnest(generate_series(1, len(basket))) t(i))
GROUP BY order_id
"""

register(q_seeded_shuffle, SQL_SEEDED_SHUFFLE)


# ---------------------------------------------------- F3 subsample table
def q_subsample_table(spark, sf_dir):
    """F3: word2vec frequent-item subsampling keep-probabilities from
    the frequency rank (keras make_sampling_table formula,
    data_prep.py:150-151)."""
    li = read_table(spark, sf_dir, "lineitem")
    v = B.build_vocab(li, num_prods=101).filter(F.col("product_id").isNotNull())
    return v.select(
        "idx",
        "product_id",
        F.round(SG.subsample_keep_prob(F.col("idx"), 101), 6).alias("keep_prob"),
    )


SQL_SUBSAMPLE_TABLE = """
WITH vocab AS (
  SELECT product_id,
         CAST(row_number() OVER (ORDER BY cnt DESC, product_id) AS INT) AS idx
  FROM (SELECT l_partkey AS product_id, count(*) AS cnt
        FROM lineitem GROUP BY 1 ORDER BY cnt DESC, product_id LIMIT 100))
SELECT idx, product_id,
       round(least(1.0, sqrt(1e-5 / (1.0 / (idx * (ln(101.0) + 0.57721566490153286))))
                        + 1e-5 / (1.0 / (idx * (ln(101.0) + 0.57721566490153286)))), 6) AS keep_prob
FROM vocab
"""

register(q_subsample_table, SQL_SUBSAMPLE_TABLE)


# --------------------------------------------- F3 ∘ F4 subsampled pairs
def q_skipgram_subsampled(spark, sf_dir):
    """F3 wired INTO pair generation: skip-gram pairs
    with frequent-target subsampling, per-target stats.  Matches the
    reference's ``skipgrams(seq, sampling_table=...)`` composition
    (data_prep.py:150-151,163-169) — one hash coin flip per target
    occurrence, context side unfiltered."""
    li = read_table(spark, sf_dir, "lineitem")
    pos = SG.with_positions(li)
    vocab = B.build_vocab(li, num_prods=101)
    pairs = SG.skipgram_pairs_subsampled(pos, vocab, vocab_size=101, window=4, seed=42)
    return pairs.groupBy("target").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("context").alias("distinct_ctx"),
        F.sum("context").alias("ctx_sum"),
    )


# keep-prob replayed from the rank exactly as SQL_SUBSAMPLE_TABLE; the
# coin flip replays operators/skipgram.subsampled_positions's
# md5(seed|sub|order|pos) uniform
_SQL_KEEP = (
    "least(1.0, sqrt(1e-5 / (1.0 / (v.idx * (ln(101.0) + 0.57721566490153286))))"
    " + 1e-5 / (1.0 / (v.idx * (ln(101.0) + 0.57721566490153286))))"
)

SQL_SKIPGRAM_SUBSAMPLED = f"""
WITH pos AS (
  SELECT l_orderkey AS o, l_partkey AS item,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_suppkey) AS p
  FROM lineitem),
vocab AS (
  SELECT product_id,
         CAST(row_number() OVER (ORDER BY cnt DESC, product_id) AS INT) AS idx
  FROM (SELECT l_partkey AS product_id, count(*) AS cnt
        FROM lineitem GROUP BY 1 ORDER BY cnt DESC, product_id LIMIT 100)),
tkeep AS (
  SELECT t.o, t.item, t.p
  FROM pos t LEFT JOIN vocab v ON t.item = v.product_id
  WHERE ('0x' || substr(md5('42|sub|' || t.o || '|' || t.p), 1, 8))::BIGINT
        / 4294967296.0
        < CASE WHEN v.idx IS NULL THEN 1.0 ELSE {_SQL_KEEP} END)
SELECT t.item AS target,
       count(*) AS n_pairs,
       CAST(count(DISTINCT c.item) AS BIGINT) AS distinct_ctx,
       CAST(sum(c.item) AS BIGINT) AS ctx_sum
FROM tkeep t JOIN pos c ON t.o = c.o AND abs(t.p - c.p) BETWEEN 1 AND 4
GROUP BY t.item
"""

register(q_skipgram_subsampled, SQL_SKIPGRAM_SUBSAMPLED)


# ------------------------------------------------------ F8 seeded sample
def q_validation_sample(spark, sf_dir):
    """F8: seeded sample-without-replacement of 20 validation products
    from the top-100 vocabulary — the engine's form of the reference's
    ``np.random.choice(top_1000, 100, replace=False)``
    (model_train.py:18-20).  md5 hash order, so the oracle replays the
    identical draw."""
    from prod2vec_spark.operators.relational import seeded_sample

    li = read_table(spark, sf_dir, "lineitem")
    v = B.build_vocab(li, num_prods=101).filter(F.col("product_id").isNotNull())
    return seeded_sample(v.select("product_id", "idx"), 20, ["product_id"], seed=42)


SQL_VALIDATION_SAMPLE = """
WITH vocab AS (
  SELECT product_id,
         CAST(row_number() OVER (ORDER BY cnt DESC, product_id) AS INT) AS idx
  FROM (SELECT l_partkey AS product_id, count(*) AS cnt
        FROM lineitem GROUP BY 1 ORDER BY cnt DESC, product_id LIMIT 100))
SELECT product_id, idx FROM vocab
ORDER BY md5('42|' || product_id), product_id LIMIT 20
"""

register(q_validation_sample, SQL_VALIDATION_SAMPLE)


# ----------------------------------------------------- ML layer (M1-M4)
def _w2v_neighbor_listing(spark, sf_dir):
    """M1-M4 pipeline: MLlib Word2Vec trained on a hash-bounded sample
    of baskets, top-5 cosine neighbors for 3 seeded-sampled frequent
    products, names joined.

    Scale notes: the training-sample bound is a pure map-side hash
    filter (no global sort — orderBy(...).limit() would funnel through
    a single-point limit); probe selection is the F8 seeded sample
    over the top-20 vocabulary (reference model_train.py:18-20)."""
    from prod2vec_spark.ml.prod2vec import (
        Prod2VecParams,
        embedding_table,
        enrich_embeddings,
        fit_prod2vec,
        top_k_similar,
    )
    from prod2vec_spark.operators.relational import hash_sample_filter, seeded_sample

    li = read_table(spark, sf_dir, "lineitem")
    baskets = B.assemble_baskets(li, max_len=50).filter(
        hash_sample_filter(8, "order_id", seed=42)
    )
    vocab = B.build_vocab(li, num_prods=201)
    model = fit_prod2vec(
        baskets, Prod2VecParams(vector_size=16, max_iter=1, num_partitions=4)
    )
    vectors = embedding_table(model)
    probe = [
        r["product_id"]
        for r in seeded_sample(
            vocab.filter(F.col("idx").between(1, 20)), 3, ["product_id"], seed=42
        ).collect()
    ]
    part = read_table(spark, sf_dir, "part")
    topk = top_k_similar(vectors, probe, k=5)
    return enrich_embeddings(
        topk.withColumnRenamed("neighbor_id", "product_id"), part
    ).select(
        "query_id",
        F.col("product_id").alias("neighbor_id"),
        "product_name",
        F.round("cosine_sim", 6).alias("cosine_sim"),
        "rank",
    )


def q_word2vec_neighbors_full(spark, sf_dir):
    """The raw neighbor listing (query_id, neighbor_id, product_name,
    cosine_sim, rank) — trained floats, so rows-only: pytest checks
    nonemptiness + invariants; entry() serves the same shape."""
    return _w2v_neighbor_listing(spark, sf_dir)


# rows-only: trained floats have no SQL form (word2vec_neighbors oracles
# the listing's invariants)
register(q_word2vec_neighbors_full)


def q_word2vec_neighbors(spark, sf_dir):
    """M1-M4 under an ORACLE verdict: the
    trained neighbor values are not SQL-expressible, but every
    structural invariant of the listing IS — per probe: exactly k=5
    neighbors, all distinct, self excluded (model_train.py:38), every
    neighbor name-enriched (J3), ranks summing 1+..+5, every cosine in
    [-1, 1].  The probe ids themselves replay in SQL (F8 md5-order
    sample over the top-20 vocabulary), so the oracle verifies WHICH
    queries ran, not just how many — a full rows+schema+hash green row
    for the flagship estimator path."""
    out = _w2v_neighbor_listing(spark, sf_dir)
    return out.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.countDistinct("neighbor_id").alias("n_distinct_neighbors"),
        F.sum((F.col("neighbor_id") == F.col("query_id")).cast("long")).alias("n_self"),
        F.sum(F.col("product_name").isNotNull().cast("long")).alias("n_named"),
        F.sum("rank").alias("rank_sum"),
        F.sum(
            F.col("cosine_sim").between(-1.000001, 1.000001).cast("long")
        ).alias("n_sim_in_range"),
    )


SQL_WORD2VEC_NEIGHBORS = """
WITH vocab AS (
  SELECT product_id,
         CAST(row_number() OVER (ORDER BY cnt DESC, product_id) AS INT) AS idx
  FROM (SELECT l_partkey AS product_id, count(*) AS cnt
        FROM lineitem GROUP BY 1 ORDER BY cnt DESC, product_id LIMIT 200)),
probe AS (
  SELECT product_id FROM vocab WHERE idx BETWEEN 1 AND 20
  ORDER BY md5('42|' || product_id), product_id LIMIT 3)
SELECT product_id AS query_id,
       CAST(5 AS BIGINT) AS n_neighbors,
       CAST(5 AS BIGINT) AS n_distinct_neighbors,
       CAST(0 AS BIGINT) AS n_self,
       CAST(5 AS BIGINT) AS n_named,
       CAST(15 AS BIGINT) AS rank_sum,
       CAST(5 AS BIGINT) AS n_sim_in_range
FROM probe
"""

register(q_word2vec_neighbors, SQL_WORD2VEC_NEIGHBORS)


# ------------------------------------------------- kmeans clustering (ML)
def q_kmeans_profile(spark, sf_dir):
    """MLlib KMeans over the embeddings (k-means|| init, seeded) +
    per-cluster profile.  Rows-only catalog entry — iterative ML is
    not SQL-expressible (same class as word2vec_neighbors); the
    nearest-centroid assignment invariant is pytest-checked exactly
    (tests/test_operators.py)."""
    from prod2vec_spark.ml.clustering import cluster_profile, kmeans_fit

    # spread=False for the iterative MLlib fit input (see kmeans_audit)
    emb = read_table(spark, sf_dir, "embeddings", spread=False)
    _, assigned = kmeans_fit(emb, k=8, seed=42, max_iter=10)
    return cluster_profile(assigned).orderBy("cluster")


# rows-only: iterative MLlib fit (kmeans_audit oracles the assignment)
register(q_kmeans_profile)


# -------------------------------------------------------- kmeans audit
KMEANS_K = 8


def q_kmeans_audit(spark, sf_dir):
    """Oracled invariant row for the MLlib KMeans operator: the
    iterative fit itself is not SQL-expressible, but
    its contract is — every corpus vector assigned to exactly one
    cluster, all k clusters nonempty.  Runs the identical
    kmeans_fit + cluster_profile path as the rows-only profile query,
    then reduces the profile to checkable totals."""
    from prod2vec_spark.ml.clustering import cluster_profile, kmeans_fit

    # spread=False: MLlib's iterative fit re-executes (or one-time
    # persists) its input lineage internally — an input-parallelism
    # repartition under it taxes every init/iteration job for per-row
    # work (array_to_vector) too cheap to pay it back
    emb = read_table(spark, sf_dir, "embeddings", spread=False)
    _, assigned = kmeans_fit(emb, k=KMEANS_K, seed=42, max_iter=10)
    prof = cluster_profile(assigned)
    stats = prof.agg(
        F.count(F.lit(1)).alias("n_clusters_nonempty"),
        F.sum("n_vecs").alias("n_assigned"),
    )
    corpus = emb.agg(F.count(F.lit(1)).alias("n_corpus"))
    return stats.crossJoin(F.broadcast(corpus)).select(
        "n_clusters_nonempty",
        "n_assigned",
        "n_corpus",
        (F.col("n_assigned") == F.col("n_corpus")).alias("all_assigned"),
    )


SQL_KMEANS_AUDIT = f"""
SELECT CAST({KMEANS_K} AS BIGINT) AS n_clusters_nonempty,
       count(*) AS n_assigned,
       count(*) AS n_corpus,
       true AS all_assigned
FROM embeddings
"""

register(q_kmeans_audit, SQL_KMEANS_AUDIT)


# planted-structure parameters — shared by query and oracle
_N_THEMES = 10
_PER_THEME = 50
_BASKET_LEN = 8
_N_TRAIN_ORDERS = 3000
_PROBES = [25, 125, 225, 325, 425]  # one per even theme (theme = pid // 50)
_K = 5


def planted_theme_baskets(orders):
    """Deterministic themed baskets from the orders table: every order
    belongs to theme (o_orderkey mod 10) and draws its items from that
    theme's 50-product block via xxhash64 — pure row-local expressions,
    no shuffle, fully replayable anywhere."""
    return (
        orders.select(
            F.col("o_orderkey").alias("order_id"),
            (F.col("o_orderkey") % _N_THEMES).alias("theme"),
        ).select(
            "order_id",
            F.transform(
                F.sequence(F.lit(1), F.lit(_BASKET_LEN)),
                lambda j: (
                    F.col("theme") * _PER_THEME
                    + F.pmod(F.xxhash64(F.col("order_id"), j), F.lit(_PER_THEME))
                ).cast("long"),
            ).alias("basket"),
        )
    )


def q_word2vec_stability(spark, sf_dir):
    """Embedding-quality audit (M1/M3): two Word2Vec fits with
    different seeds on identical planted-theme baskets; per probe the
    output asserts (as SQL-replayable indicators)
      * ``same_theme_ok`` — ≥4 of 5 nearest neighbors share the
        probe's planted theme, under BOTH seeds (quality), and
      * ``stability_ok`` — the two seeds' top-5 sets overlap in ≥3
        positions summed across all probes (stability; a global
        indicator repeated per row).
    ``n_train_baskets`` ties the oracle to the actual orders table.

    Scale notes: training baskets are row-local expressions over a
    bounded order sample; each fit is MLlib Word2Vec (distributed by
    construction); neighbor scoring is the broadcast-probe top-k path
    shared with the flagship.  Intersections/counts run over ≤50-row
    outputs."""
    from prod2vec_spark.ml.prod2vec import (
        Prod2VecParams,
        embedding_table,
        fit_prod2vec,
        top_k_similar,
    )

    # deterministic training subset: a bare limit() is partition-order
    # dependent (scan layout picks the rows); md5-ordered top-k makes
    # the subset — and therefore the fits and the calibrated indicator
    # thresholds — reproducible, per the repo's seeded-sample policy
    # (same shape as ivf_topk's centroid sample)
    orders = (
        read_table(spark, sf_dir, "orders")
        .orderBy(
            F.md5(F.concat_ws("|", F.lit("w2vstab"), F.col("o_orderkey"))),
            F.col("o_orderkey"),
        )
        .limit(_N_TRAIN_ORDERS)
    )
    baskets = planted_theme_baskets(orders)
    n_train = baskets.count()

    def neighbors(seed):
        model = fit_prod2vec(
            baskets,
            Prod2VecParams(
                vector_size=16, max_iter=5, num_partitions=4, seed=seed
            ),
        )
        return top_k_similar(embedding_table(model), _PROBES, k=_K).select(
            "query_id", "neighbor_id"
        )

    tka, tkb = neighbors(42), neighbors(43)

    def per_probe(tk):
        return tk.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    (F.col("neighbor_id") / _PER_THEME).cast("long")
                    == (F.col("query_id") / _PER_THEME).cast("long")
                ).cast("long")
            ).alias("n_same_theme"),
        )

    agg_a = per_probe(tka).withColumnRenamed("n", "n_a").withColumnRenamed(
        "n_same_theme", "same_a"
    )
    agg_b = per_probe(tkb).withColumnRenamed("n", "n_b").withColumnRenamed(
        "n_same_theme", "same_b"
    )
    # cross-seed overlap: equi-join on (query_id, neighbor_id), summed
    # to one scalar attached via broadcast (1-row) crossJoin
    total_overlap = (
        tka.join(tkb, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("total_overlap"))
    )
    return (
        agg_a.join(agg_b, "query_id")
        .crossJoin(F.broadcast(total_overlap))
        .select(
            "query_id",
            (F.col("query_id") / _PER_THEME).cast("long").alias("theme"),
            (F.col("n_a") + F.col("n_b")).alias("n_neighbor_rows"),
            ((F.col("same_a") >= 4) & (F.col("same_b") >= 4))
            .cast("long")
            .alias("same_theme_ok"),
            (F.col("total_overlap") >= 3).cast("long").alias("stability_ok"),
            F.lit(n_train).cast("long").alias("n_train_baskets"),
        )
    )


_SQL_WORD2VEC_STABILITY = f"""
WITH probes(query_id) AS (VALUES {", ".join(f"({p})" for p in _PROBES)})
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(query_id // {_PER_THEME} AS BIGINT) AS theme,
       CAST({2 * _K} AS BIGINT) AS n_neighbor_rows,
       CAST(1 AS BIGINT) AS same_theme_ok,
       CAST(1 AS BIGINT) AS stability_ok,
       (SELECT CAST(least(count(*), {_N_TRAIN_ORDERS}) AS BIGINT) FROM orders)
         AS n_train_baskets
FROM probes
"""

register(q_word2vec_stability, _SQL_WORD2VEC_STABILITY)
