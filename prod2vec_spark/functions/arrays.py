"""Array helpers: seeded shuffle (F1) and slicing (F2).

The reference shuffles each basket in-place with Python's global RNG
(/root/reference/pipeline/data_preprocessing/data_prep.py:156-157) so a
positional window approximates whole-basket context.  ``F.shuffle`` is
seedless, which would break golden-file tests and the DuckDB oracle, so
the engine shuffles deterministically: sort items by a per-(seed, order,
item) md5 key.  Distribution-wise this is a uniform random permutation
keyed by the seed (SURVEY.md §7.4 "Seeded array shuffle").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pair_expand(ids: Column) -> Column:
    """All i<j element pairs of ``ids`` as an array of structs (a, b).

    The LSH-candidate building block (dedup + simsearch): expanding
    pairs *inside* each grouped id array means the expensive upstream
    pipeline (minhash / hyperplane signatures) is evaluated exactly
    once and the shuffle carries only (key, id-list) rows — never a
    self-join that re-evaluates the lineage per side (measured 153s →
    <10s at sf0.1 for minhash; same shape for embedding near-dup).
    Pass a *sorted* array to get a < b ordering."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.filter(
                F.transform(
                    ids,
                    lambda y, j: F.when(j > i, F.struct(x.alias("a"), y.alias("b"))),
                ),
                lambda s: s.isNotNull(),
            ),
        )
    )


def seeded_shuffle(arr: Column, salt: Column, seed: int = 42) -> Column:
    """Deterministic permutation of ``arr``: elements ordered by
    md5(seed || salt || element).  ``salt`` should identify the row
    (e.g. order_id) so different baskets permute independently."""
    keyed = F.transform(
        arr,
        lambda x, i: F.struct(
            F.md5(F.concat_ws("|", F.lit(seed), salt, x.cast("string"), i.cast("string"))).alias("k"),
            x.alias("v"),
        ),
    )
    return F.transform(F.array_sort(keyed), lambda s: s["v"])


def bind(df, name: str, value: Column):
    """Single-evaluation STAGING of an expensive column as a real
    attribute: ``bind(df, "_s", expr)`` returns ``df`` with one new
    column ``name`` holding ``expr``, guaranteed to evaluate ONCE per
    row however many downstream filters/projections reference it.

    Why ``withColumn`` is not enough (round 16): a withColumn alias is
    transparent to the optimizer — PushDownPredicates substitutes the
    defining expression into every predicate it pushes through the
    project, and CollapseProject inlines it into every consuming
    projection, so a column consumed by a filter AND k derived columns
    re-evaluates its full lineage k+1 times (the round-11 ``let``
    lesson, one level up: ``let`` binds references WITHIN one
    expression; ``bind`` binds references ACROSS operators).

    Mechanism (round 16, hardened): ``shuffle(array(expr))[0]`` — a
    value-identity wrapper (a 1-element array has exactly one
    permutation) whose ``shuffle`` is NON-DETERMINISTIC to the
    optimizer, so PushDownPredicates refuses to substitute the alias
    into predicates it pushes and CollapseProject refuses to inline it
    into consuming projections — the guide §4.4 UDF trick applied to a
    JVM expression.  The first form of this barrier
    (``explode(array(expr))``, a Generate over a 1-element array) is
    REWRITTEN by Spark 4.1's optimizer into a plain transparent
    Project, after which InferFiltersFromGenerate's ``size(col) > 0``
    filter under a downstream explode re-inlines the column's ENTIRE
    derivation into a scan-level Filter (quadratic for gram chains:
    the tokenize sits inside the per-position lambda) — measured as
    the dominant cost of verbatim_span_pairs.  Column pruning of the
    child still works.  The seed is fixed: an unseeded ``shuffle``
    draws a new one per call and the generated code embeds it, so each
    build of the same plan compiled fresh classes.  CAVEAT:
    PushDownPredicates only pushes filters
    through a Project whose fields are ALL deterministic, so NO filter
    (related or not) pushes below a bind — place binds above any
    selective filters that should reach the scan.  Stream-safe
    (stateless, row-local; retry-safe: re-evaluation reproduces the
    same value)."""
    return df.select("*", F.shuffle(F.array(value), seed=0).getItem(0).alias(name))


def let(value: Column, body) -> Column:
    """Single-evaluation binding for an expensive Column expression —
    ``let(expr, lambda v: ...)`` evaluates ``expr`` ONCE per row and
    lets the body reference it any number of times.

    Why it exists (round 11): Catalyst's CollapseProject / filter
    pushdown INLINE duplicated column references, so a predicate that
    uses a staged column three times re-evaluates its full lineage
    three times — measured 22 re-tokenizations per row in the
    repetition gate's collapsed Filter (~20 s of a 60 s curation
    macro).  A higher-order-function lambda variable, by contrast, is
    a BOUND VALUE: wrapping the expression in a 1-element array and
    reading it through ``transform`` makes every body reference a
    variable read.  Nests freely for multi-binding chains.

    CAUTION: passing a let-bound (outer HOF-lambda) var into a FURTHER
    nested transform/zip_with/aggregate lambda is the known PySpark
    4.1.2 silent-mis-binding shape (see ``_pq_lut_expr``'s forced
    literal unroll and repetition_keep's docstring) — any new nesting
    of this form needs an equality test against a staged-column
    reference implementation."""
    return F.transform(F.array(value), lambda v: body(v))[0]
