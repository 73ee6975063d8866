"""Data-quality gates: the expectation-rule operator (operators/quality.py)
over each input table as a violations report, and ``dq_suite``, the
four reports as one result keyed by table."""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.operators import quality as Q
from prod2vec_spark.queries.common import EMB_DIMS, register
from prod2vec_spark.sources.io import read_table


# ---------------------------------------------------------------- Q1-Q5
def q_dq_lineitem(spark, sf_dir):
    """Q1/Q2-class gates on the basket fact as a violations report."""
    li = read_table(spark, sf_dir, "lineitem")
    rules = Q.Rules(
        not_null=["l_orderkey", "l_partkey"],
        distinct_between={"l_partkey": (100.0, 10_000_000.0)},
        row_count_between=(1000.0, 1e12),
    )
    return Q.expect(li, rules)


SQL_DQ_LINEITEM = """
WITH m AS (
  SELECT CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN l_partkey  IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(count(DISTINCT l_partkey) AS DOUBLE) AS nd,
         CAST(count(*) AS DOUBLE) AS nr
  FROM lineitem)
SELECT 'not_null' AS rule, 'l_orderkey' AS col_name, n1 AS metric,
       0.0 AS lo, 0.0 AS hi, n1 BETWEEN 0 AND 0 AS passed FROM m
UNION ALL
SELECT 'not_null', 'l_partkey', n2, 0.0, 0.0, n2 BETWEEN 0 AND 0 FROM m
UNION ALL
SELECT 'distinct_between', 'l_partkey', nd, 100.0, 10000000.0,
       nd BETWEEN 100.0 AND 10000000.0 FROM m
UNION ALL
SELECT 'row_count_between', '*', nr, 1000.0, 1000000000000.0,
       nr BETWEEN 1000.0 AND 1000000000000.0 FROM m
"""

register(q_dq_lineitem, SQL_DQ_LINEITEM)


def q_dq_part(spark, sf_dir):
    """Q3/Q4/Q5-class gates on the catalog: unique key, column count,
    schema match (metadata-only — no Spark job for the last two)."""
    from prod2vec_spark.sources.io import expected_schema

    part = read_table(spark, sf_dir, "part")
    rules = Q.Rules(
        unique_key=["p_partkey"],
        column_count=6,
        schema=expected_schema("part"),
        row_count_between=(10.0, 1e9),
    )
    return Q.expect(part, rules)


SQL_DQ_PART = """
WITH m AS (
  SELECT CAST(count(*) - count(DISTINCT p_partkey) AS DOUBLE) AS dup,
         CAST(count(*) AS DOUBLE) AS nr
  FROM part)
SELECT 'row_count_between' AS rule, '*' AS col_name, nr AS metric,
       10.0 AS lo, 1000000000.0 AS hi, nr BETWEEN 10.0 AND 1000000000.0 AS passed FROM m
UNION ALL
SELECT 'unique_key', 'p_partkey', dup, 0.0, 0.0, dup BETWEEN 0 AND 0 FROM m
UNION ALL
SELECT 'column_count', '*', 6.0, 6.0, 6.0, true FROM m
UNION ALL
SELECT 'schema_match', '*', 1.0, 1.0, 1.0, true FROM m
"""

register(q_dq_part, SQL_DQ_PART)


def q_dq_documents(spark, sf_dir):
    """Q1/Q2/Q5-class gates over the LLM corpus table: the dedup /
    text-analysis family assumes non-null unique doc ids and a sane
    corpus size — this is the gate that enforces it."""
    # spread=False: expectation rules are partial-agg-before-shuffle
    # shapes — the floor repartition's full-text shuffle write costs
    # more than it saves (the relational-plane rule, io.py)
    docs = read_table(spark, sf_dir, "documents", spread=False)
    rules = Q.Rules(
        not_null=["doc_id", "text"],
        unique_key=["doc_id"],
        distinct_between={"lang": (1.0, 100.0)},
        row_count_between=(10.0, 1e12),
    )
    return Q.expect(docs, rules)


SQL_DQ_DOCUMENTS = """
WITH m AS (
  SELECT CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN text   IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(count(DISTINCT lang) AS DOUBLE) AS nl,
         CAST(count(*) - count(DISTINCT doc_id) AS DOUBLE) AS dup,
         CAST(count(*) AS DOUBLE) AS nr
  FROM documents)
SELECT 'not_null' AS rule, 'doc_id' AS col_name, n1 AS metric,
       0.0 AS lo, 0.0 AS hi, n1 BETWEEN 0 AND 0 AS passed FROM m
UNION ALL
SELECT 'not_null', 'text', n2, 0.0, 0.0, n2 BETWEEN 0 AND 0 FROM m
UNION ALL
SELECT 'distinct_between', 'lang', nl, 1.0, 100.0, nl BETWEEN 1.0 AND 100.0 FROM m
UNION ALL
SELECT 'row_count_between', '*', nr, 10.0, 1000000000000.0,
       nr BETWEEN 10.0 AND 1000000000000.0 FROM m
UNION ALL
SELECT 'unique_key', 'doc_id', dup, 0.0, 0.0, dup BETWEEN 0 AND 0 FROM m
"""

register(q_dq_documents, SQL_DQ_DOCUMENTS)


# ------------------------------------------------- vector-plane DQ (Q-ext)
def q_dq_embeddings(spark, sf_dir):
    """Data-quality gate for the embeddings table — the vector-plane
    preconditions every similarity/ANN operator assumes: unique ids,
    no null vectors, every vector exactly EMB_DIMS wide, no zero-norm
    vectors (they break cosine).  The vector checks ride the
    ``agg_between`` escape hatch, so all rules still collapse into ONE
    aggregate scan."""
    from prod2vec_spark.operators import quality as Q

    # spread=False: one partial-agg scan — the floor repartition's
    # full-vector shuffle write costs more than the row-local checks
    emb = read_table(spark, sf_dir, "embeddings", spread=False)
    wrong_dim = F.sum((F.size("embedding") != EMB_DIMS).cast("long"))
    zero_norm = F.sum(
        (
            F.aggregate(
                "embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x
            )
            == 0.0
        ).cast("long")
    )
    rules = Q.Rules(
        not_null=["vec_id", "embedding"],
        unique_key=["vec_id"],
        row_count_between=(10.0, 1e12),
        agg_between={
            "wrong_dim": (wrong_dim, 0.0, 0.0),
            "zero_norm": (zero_norm, 0.0, 0.0),
        },
    )
    return Q.expect(emb, rules)


SQL_DQ_EMBEDDINGS = f"""
WITH m AS (
  SELECT CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(count(*) AS DOUBLE) AS nr,
         CAST(count(*) - count(DISTINCT vec_id) AS DOUBLE) AS dup,
         CAST(sum(CASE WHEN len(embedding) != {EMB_DIMS} THEN 1 ELSE 0 END) AS DOUBLE) AS wd,
         CAST(sum(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(embedding, x -> x::DOUBLE * x)), (a, b) -> a + b) = 0
              THEN 1 ELSE 0 END) AS DOUBLE) AS zn
  FROM embeddings)
SELECT 'not_null' AS rule, 'vec_id' AS col_name, n1 AS metric,
       0.0 AS lo, 0.0 AS hi, n1 BETWEEN 0 AND 0 AS passed FROM m
UNION ALL
SELECT 'not_null', 'embedding', n2, 0.0, 0.0, n2 BETWEEN 0 AND 0 FROM m
UNION ALL
SELECT 'row_count_between', '*', nr, 10.0, 1000000000000.0,
       nr BETWEEN 10.0 AND 1000000000000.0 FROM m
UNION ALL
SELECT 'unique_key', 'vec_id', dup, 0.0, 0.0, dup BETWEEN 0 AND 0 FROM m
UNION ALL
SELECT 'agg_between', 'wrong_dim', wd, 0.0, 0.0, wd BETWEEN 0 AND 0 FROM m
UNION ALL
SELECT 'agg_between', 'zero_norm', zn, 0.0, 0.0, zn BETWEEN 0 AND 0 FROM m
"""

register(q_dq_embeddings, SQL_DQ_EMBEDDINGS)


# ----------------------------------------------------------- DQ suite
def q_dq_suite(spark, sf_dir):
    """The whole expectation-operator surface (Q1-Q5 + the agg_between
    escape hatch) as ONE violations report keyed by table: lineitem
    (not_null / distinct_between / row_count), part (unique_key /
    column_count / schema), documents (corpus gates), embeddings
    (vector-plane gates).  Each table is still a single aggregate
    scan; the union is driver-side plan glue, not an extra pass."""
    parts = [
        ("lineitem", q_dq_lineitem),
        ("part", q_dq_part),
        ("documents", q_dq_documents),
        ("embeddings", q_dq_embeddings),
    ]
    out = None
    for name, fn in parts:
        tagged = fn(spark, sf_dir).select(F.lit(name).alias("table_name"), "*")
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _sql_dq_suite() -> str:
    blocks = [
        ("lineitem", SQL_DQ_LINEITEM),
        ("part", SQL_DQ_PART),
        ("documents", SQL_DQ_DOCUMENTS),
        ("embeddings", SQL_DQ_EMBEDDINGS),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT '{name}' AS table_name, * FROM ({sql})" for name, sql in blocks
    )


register(q_dq_suite, _sql_dq_suite())
