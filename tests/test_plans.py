"""Physical-plan shape assertions: the scale-design rules from
SURVEY.md §4.3 are locked in as tests, not prose.

Every flagship operator has an intended plan; silently adding a
shuffle, dropping a broadcast, or losing parquet pushdown is a
regression even while results stay correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.operators.baskets import assemble_baskets, build_vocab, index_items
from prod2vec_spark.operators.skipgram import skipgram_pairs_array
from prod2vec_spark.plans import (
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from prod2vec_spark.queries import ALL_QUERIES as QUERIES
from tests.conftest import SF_SMOKE


def test_filter_and_projection_reach_parquet(spark):
    """part_scan_project: predicate in PushedFilters, ReadSchema pruned
    to the 4 referenced columns (3 projected + 1 filtered)."""
    df = QUERIES["part_scan_project"](spark, SF_SMOKE)
    pf = pushed_filters(df)
    assert any("p_size" in f for f in pf), pf
    cols = set(read_schema_columns(df))
    assert cols == {"p_partkey", "p_name", "p_retailprice", "p_size"}, cols


def test_basket_assembly_single_shuffle(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = assemble_baskets(li)
    assert count_exchanges(df) == 1  # one hash partition by order key


def test_skipgram_array_form_adds_no_shuffle(spark):
    """The array-form pair expansion must stay at the basket groupBy's
    single shuffle — that's its whole point vs the self-join form."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    pairs = skipgram_pairs_array(assemble_baskets(li), 4)
    assert count_exchanges(pairs) == 1


def test_vocab_probe_is_broadcast_join(spark):
    """index_items: fact side must not shuffle — the vocab broadcasts."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    v = build_vocab(li, num_prods=101)
    out = index_items(li.select("l_orderkey", "l_partkey"), v)
    assert has_broadcast_join(out)


def test_lineitem_agg_prunes_columns(spark):
    """pricing_summary reads only the 7 columns it needs of 11."""
    df = QUERIES["pricing_summary"](spark, SF_SMOKE)
    cols = set(read_schema_columns(df))
    assert cols == {
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount",
    }, cols


def test_text_pipeline_no_shuffle(spark):
    """Row-local text operators must stay shuffle-free (counted past
    the round-16 input-parallelism floor — see
    plans/inspect.count_operator_exchanges)."""
    from prod2vec_spark.plans.inspect import count_operator_exchanges

    for name in ["text_stats", "simhash", "fingerprint", "token_counts"]:
        df = QUERIES[name](spark, SF_SMOKE)
        assert count_operator_exchanges(df) == 0, name


def test_embedding_neardup_no_signature_selfjoin(spark):
    """The near-dup plan contract (round-2 rewrite): candidate pairs
    come from the grouped id arrays — exactly TWO shuffles (the
    (band, sig) groupBy and the id-pair distinct) — and the exact-
    cosine verify joins back via broadcast, so unit vectors never ride
    a shuffle and the 16-plane signature pipeline is never evaluated
    on two sides of a self-join."""
    from prod2vec_spark.operators.simsearch import embedding_neardup
    from prod2vec_spark.plans.inspect import explain_str

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    df = embedding_neardup(emb, dims=64, threshold=0.4)
    assert count_exchanges(df) == 2
    assert has_broadcast_join(df)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan


def test_bucketed_join_is_exchange_free(spark):
    """Co-location contract: two tables bucketed on the join key join
    with ZERO Exchange operators — the write-side shuffle is paid once
    and amortized over every downstream join (broadcast disabled so
    the small test tables can't cheat the assertion)."""
    from prod2vec_spark.sources.io import write_bucketed

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", "l_orderkey", n_buckets=4, sort_col="l_orderkey")
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=4, sort_col="o_orderkey")
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a, b = spark.table("b_lineitem"), spark.table("b_orders")
            joined = a.join(b, a["l_orderkey"] == b["o_orderkey"])
            assert count_exchanges(joined) == 0
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_asof_join_single_shuffle(spark):
    """The as-of join must cost ONE shuffle (the union sorts within
    key partitions) — never a nested-loop non-equi join."""
    from prod2vec_spark.operators.asof import asof_join
    from prod2vec_spark.plans.inspect import explain_str
    from prod2vec_spark.sources.io import read_table

    orders = read_table(spark, SF_SMOKE, "orders")
    ev = read_table(spark, SF_SMOKE, "events")
    out = asof_join(
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        ev.select(F.col("user_id").alias("o_custkey"), "ts", "value"),
        on="o_custkey",
        left_ts="o_orderdate",
        right_ts="ts",
        value_cols=["value"],
    )
    plan = explain_str(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert count_exchanges(out) == 1


def test_ivf_corpus_pass_is_shuffle_free(spark):
    """IVF cell assignment must be a pure map pass over the corpus:
    raw-dot argmax with no exchange; the full query's only shuffle is
    the per-query candidate rank window."""
    from prod2vec_spark.operators.simsearch import ivf_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    df = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), dims=64, k=3)
    assert has_broadcast_join(df)
    assert count_exchanges(df) == 1  # the rank window only


def test_range_join_is_hash_join(spark):
    """Binned range join must plan as a hash equi-join on the bin id,
    not the BroadcastNestedLoopJoin Spark gives BETWEEN predicates."""
    from prod2vec_spark.operators.ranges import bin_range_join
    from prod2vec_spark.plans.inspect import explain_str

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    bands = spark.createDataFrame(
        [("a", 0.0, 50_000.0), ("b", 50_000.0, 1e9)], "band string, lo double, hi double"
    )
    df = bin_range_join(orders, bands, "o_totalprice", "lo", "hi", bin_width=50_000.0)
    plan = explain_str(df)
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_skipgram_subsampled_vocab_join_broadcasts(spark):
    """F3 wiring: the vocab rank lookup must broadcast (vocab is small
    by definition) — the positions side must not shuffle for it; the
    only exchanges are the position window + the pair self-join."""
    df = QUERIES["skipgram_subsampled"](spark, SF_SMOKE)
    assert has_broadcast_join(df)


def test_semi_anti_joins_broadcast(spark):
    """semi_parts: the distinct key set broadcasts so the probed table
    never shuffles (the 100 TB blocklist shape)."""
    from prod2vec_spark.plans.inspect import explain_str

    plan = explain_str(QUERIES["semi_parts"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pivot_two_bounded_shuffles_no_value_scan(spark):
    """pivot_status with an explicit value list: the fact table is
    scanned ONCE (no distinct-scan job to discover pivot values), and
    the plan is the two-level pivotfirst agg — the second exchange
    carries only the already-reduced priority x status grid (bounded,
    ~15 rows at any SF)."""
    from prod2vec_spark.plans.inspect import explain_str

    df = QUERIES["pivot_status"](spark, SF_SMOKE)
    assert count_exchanges(df) == 2
    # one file-scan node (formatted explain prints "Location:" once per scan)
    assert explain_str(df).count("Location: InMemoryFileIndex") == 1


def test_stratified_sample_no_global_sort(spark):
    """stratified_sample: per-key window top-n — exactly the stratum
    hash shuffle, no global Sort/Exchange funnel."""
    from prod2vec_spark.plans.inspect import explain_str

    df = QUERIES["stratified_sample"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1
    assert "rangepartitioning" not in explain_str(df).lower()


def test_tfidf_corpus_count_broadcasts(spark):
    """tfidf_terms: the 1-row corpus-size scalar joins via broadcast;
    the only real shuffles are the (doc,term) hash agg and the top-N
    funnel on an already-aggregated table.  The join shows as a 1-row
    BroadcastNestedLoopJoin (the degenerate crossJoin) — scan side
    streams, never shuffles."""
    from prod2vec_spark.plans.inspect import explain_str

    plan = explain_str(QUERIES["tfidf_terms"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_text_profile_and_signatures_are_shuffle_free(spark):
    """The merged text-analysis queries must stay pure row-local maps:
    zero Exchange operators — the embarrassingly-parallel 100 TB claim
    as a plan fact, not prose."""
    from prod2vec_spark.plans.inspect import count_operator_exchanges

    for name in ["text_profile", "doc_signatures"]:
        df = QUERIES[name](spark, SF_SMOKE)
        assert count_operator_exchanges(df) == 0, name


def test_minhash_jaccard_audit_broadcasts_candidates(spark):
    """minhash_jaccard_audit: the candidate pairs broadcast into the
    signature table — no sort-merge self-join of the corpus."""
    from prod2vec_spark.plans.inspect import explain_str, has_broadcast_join

    df = QUERIES["minhash_jaccard_audit"](spark, SF_SMOKE)
    plan = explain_str(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan


def test_r6_sketch_and_mix_entries_broadcast_not_sortmerge(spark):
    """Round-6 superset entries: every join in the sketch/mix plans is
    a broadcast of a bounded side (probe sets, sketch tables, 1-row
    scalars) — a SortMergeJoin appearing here would mean a corpus-side
    shuffle snuck into a bounded-side join.  Exchange counts are locked
    (all are bounded aggregates, not corpus reshuffles)."""
    from prod2vec_spark.plans.inspect import explain_str

    expected_exchanges = {
        "heavy_hitters": 5,       # top-k funnel, sketch agg, estimate agg
        "corpus_mix_sample": 1,   # per-lang count only (filter is map-side)
        "bloom_blocklist": 5,     # member/probe distincts + bit/verdict aggs
    }
    for name, n_ex in expected_exchanges.items():
        df = QUERIES[name](spark, SF_SMOKE)
        plan = explain_str(df)
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        from prod2vec_spark.plans.inspect import count_operator_exchanges

        assert count_operator_exchanges(df) == n_ex, name


def test_r6b_llm_entries_plan_shapes(spark):
    """Round-6 depth-tranche entries keep their scale shapes: the
    text-plane scans are shuffle-free, the A-ES sample plans as
    TakeOrderedAndProject (no full sort), and decontamination's only
    join is the broadcast of the bench gram set (a SortMergeJoin here
    would shuffle the corpus against a few-MB eval suite)."""
    from prod2vec_spark.plans import count_exchanges
    from prod2vec_spark.plans.inspect import explain_str

    from prod2vec_spark.plans.inspect import count_operator_exchanges

    for name in ("doc_repetition", "doc_chunks", "pii_scrub"):
        df = QUERIES[name](spark, SF_SMOKE)
        assert count_operator_exchanges(df) == 0, name

    ws = QUERIES["weighted_sample"](spark, SF_SMOKE)
    plan = explain_str(ws)
    assert count_operator_exchanges(ws) == 0
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan

    dc = QUERIES["decontaminate"](spark, SF_SMOKE)
    plan = explain_str(dc)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan
    assert count_operator_exchanges(dc) <= 2
