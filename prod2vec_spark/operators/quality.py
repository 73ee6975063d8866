"""Data-quality / expectation operators (SURVEY.md §2.9, Q1-Q5).

Reference anchors (/root/reference/pipeline/data_preprocessing/data_quality_checks.py):
  Q1 check_miss (no nulls)               :7-26
  Q2 check_product_counts (range gates)  :29-57
  Q3 check_column_counts                 :60-83
  Q4 check_dtypes                        :86-109
  Q5 check_records_in_products_dict      :112-133

The reference raises ValueError on first failure; the engine instead
returns a *violations DataFrame* (rule, column, detail, metric,
passed) so a 100 TB validation run reports everything in one pass and
the caller decides whether to fail (SURVEY.md §1.3 ENGINE mapping).

All row-level checks for one table collapse into a SINGLE aggregate
job (one scan, partial+final hash agg); schema checks are metadata-only
(no job at all).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VIOLATION_SCHEMA = (
    "rule string, col_name string, metric double, lo double, hi double, passed boolean"
)


@dataclass
class Rules:
    """Declarative expectation set for one table."""

    not_null: list[str] = field(default_factory=list)
    distinct_between: dict[str, tuple[float, float]] = field(default_factory=dict)
    row_count_between: tuple[float, float] | None = None
    column_count: int | None = None
    schema: T.StructType | None = None
    unique_key: list[str] = field(default_factory=list)
    # escape hatch: name -> (aggregate Column, lo, hi).  Arbitrary
    # aggregate gates (vector dimension counts, ratio bounds, ...)
    # folded into the same single-scan agg as the built-in rules.
    agg_between: dict[str, tuple[object, float, float]] = field(default_factory=dict)


def expect(df: DataFrame, rules: Rules) -> DataFrame:
    """Evaluate every rule; one aggregate scan for data rules, pure
    metadata for schema rules.  Empty result (passed=False rows) = ok;
    convention: return ALL rule rows with passed flag so the report is
    complete, callers filter ``passed = false`` to gate.

    LAZY (round-17, guide §1.2/§5 "the driver should do almost no data
    work"): the report is a plan, not a collected literal — the single
    aggregate row unpivots into per-rule violation rows in-plan, so
    nothing executes until the caller acts.  A multi-table suite
    (q_dq_suite's four-table union) therefore runs as ONE Spark action
    whose independent per-table agg subtrees schedule concurrently,
    instead of four driver-blocking collect() jobs at plan-build time."""
    spark = df.sparkSession

    aggs: list = []
    meta: list[tuple[str, str, float, float]] = []  # rule, col, lo, hi

    for c in rules.not_null:
        aggs.append(F.sum(F.col(c).isNull().cast("long")))
        meta.append(("not_null", c, 0.0, 0.0))
    for c, (lo, hi) in rules.distinct_between.items():
        aggs.append(F.countDistinct(F.col(c)).cast("long"))
        meta.append(("distinct_between", c, float(lo), float(hi)))
    if rules.row_count_between is not None:
        lo, hi = rules.row_count_between
        aggs.append(F.count(F.lit(1)))
        meta.append(("row_count_between", "*", float(lo), float(hi)))
    for c in rules.unique_key:
        # Q5: key cardinality == row count (duplicate keys collapse maps)
        aggs.append((F.count(F.lit(1)) - F.countDistinct(F.col(c))).cast("long"))
        meta.append(("unique_key", c, 0.0, 0.0))
    for name, (col, lo, hi) in rules.agg_between.items():
        aggs.append(col.cast("double"))
        meta.append(("agg_between", name, float(lo), float(hi)))

    meta_rows: list[tuple] = []
    if rules.column_count is not None:  # Q3 — metadata only
        n = float(len(df.columns))
        want = float(rules.column_count)
        meta_rows.append(("column_count", "*", n, want, want, n == want))
    if rules.schema is not None:  # Q4 — metadata only
        ok = [f.name for f in rules.schema.fields] == df.columns and all(
            df.schema[f.name].dataType == f.dataType for f in rules.schema.fields
        )
        meta_rows.append(("schema_match", "*", 1.0 if ok else 0.0, 1.0, 1.0, bool(ok)))

    if not aggs:
        return spark.createDataFrame(meta_rows, schema=VIOLATION_SCHEMA)

    # one agg row -> per-rule rows via an in-plan struct-array explode
    # (rule names/bounds are literals; only the metric is data-derived)
    agg_row = df.agg(*[a.alias(f"_m{i}") for i, a in enumerate(aggs)])
    items = []
    for i, (rule, c, lo, hi) in enumerate(meta):
        m = F.coalesce(F.col(f"_m{i}").cast("double"), F.lit(0.0))
        items.append(
            F.struct(
                F.lit(rule).alias("rule"),
                F.lit(c).alias("col_name"),
                m.alias("metric"),
                F.lit(lo).cast("double").alias("lo"),
                F.lit(hi).cast("double").alias("hi"),
                ((m >= F.lit(lo)) & (m <= F.lit(hi))).alias("passed"),
            )
        )
    out = (
        agg_row.select(F.explode(F.array(*items)).alias("_v")).select("_v.*")
    )
    if meta_rows:
        out = out.unionByName(
            spark.createDataFrame(meta_rows, schema=VIOLATION_SCHEMA)
        )
    return out


def assert_expectations(df: DataFrame, rules: Rules) -> None:
    """Reference-compatible behavior: raise on any failed rule (the
    engine's ``expect`` is the primary surface; this is the strict
    wrapper the pipeline runner uses)."""
    assert_suite([(df, rules)])


def assert_suite(checks: list[tuple[DataFrame, Rules]]) -> None:
    """``assert_expectations`` over several (frame, rules) pairs as ONE
    Spark action: the lazy reports are unioned (the ``q_dq_suite``
    shape) and collected once; the ValueError lists every failed rule."""
    report = None
    for df, rules in checks:
        one = expect(df, rules)
        report = one if report is None else report.unionByName(one)
    failed = [r for r in report.collect() if not r["passed"]]
    if failed:
        msgs = ", ".join(f"{r['rule']}({r['col_name']})={r['metric']}" for r in failed)
        raise ValueError(f"data-quality expectations failed: {msgs}")
