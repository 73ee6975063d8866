"""Count-min sketch as a DataFrame (ENGINE sketch surface, joining the
HLL distinct-count twin in ``distinct_parts`` and the t-digest
percentile swap in ``order_percentiles_approx``).

The sketch IS a table — (depth, bucket, cnt), depth × width rows — not
a driver-side opaque object: it shuffles once to build, merges across
corpora by unioning + re-aggregating (counters add), and estimates by
an equi-join.  Hashing is md5-derived (functions/hashing.py policy) so
the DuckDB oracle replays the identical sketch bucket-for-bucket and
the estimates hash-match — an engine-specific sketch (Spark's JVM
CountMinSketch) could only be bound-checked, not value-checked.

Guarantees (standard CMS): estimate ≥ true count always (counters only
over-count on collisions); estimate ≤ true + ε·N with probability
≥ 1 − δ where ε ≈ e/width and δ ≈ e^-depth.  The ``heavy_hitters``
catalog entry asserts a 4N/width bound per top term — comfortably
inside the guarantee at the test widths, and a *checked number* both
engines must reproduce.

100 TB shape: the build is one explode (depth rows per item) feeding
one hash-agg shuffle whose output is bounded by depth × width —
thousands of rows regardless of input size; estimation broadcasts the
(tiny) probe set into the bounded sketch.  This is the
frequent-token / heavy-hitter primitive an LLM corpus pipeline uses
when exact per-term counts at full vocabulary width are too wide to
keep.

Streams maintain both mergeable sketches (CMS, bottom-k) with no
stream-specific code: ``cms_sketch`` / ``bottomk_sketch`` is the
``per_batch`` of ``sources/io.start_batch_stage``, and ``read_cms`` /
``read_bottomk`` merge the committed per-batch partials on read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.functions.hashing import hex_prefix_long
from prod2vec_spark.sources.io import read_partials

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _bucket(col: Column, d: int, width: int) -> Column:
    """Row-local bucket for depth d: 32-bit md5 prefix of 'd|value'
    mod width — replayable in DuckDB as
    ('0x' || substr(md5(d || '|' || x), 1, 8))::BIGINT % width."""
    return hex_prefix_long(F.concat_ws("|", F.lit(str(d)), col), 8) % F.lit(width)


def cms_sketch(
    items: DataFrame,
    col: str = "term",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(depth, bucket, cnt): the count-min table for the item column.
    One explode (depth rows/item) + one hash-agg shuffle; output rows
    ≤ depth × width."""
    cells = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _bucket(F.col(col), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(
        F.col("c.depth").alias("depth"), F.col("c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str = "term",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(col, cms_est) per probe row — EVERY probe row, including items
    the sketch never saw: an empty bucket is a zero counter, so the min
    treats a missing sketch row as 0 (a term absent from the corpus
    estimates 0 unless every one of its buckets collides).  Probes
    LEFT-join the bounded sketch (≤ depth × width rows, broadcast)."""
    cells = probes.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _bucket(F.col(col), d, width).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select(col, F.col("c.depth").alias("depth"), F.col("c.bucket").alias("bucket"))
    return (
        cells.join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


BLOOM_K = 4
BLOOM_M = 8192


def bloom_bits(
    items: DataFrame,
    col: str = "term",
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """(bit,) — the set bit positions of a Bloom filter over the item
    column: bit_j(x) = md5-prefix of 'j|x' mod m.  Like the CMS, the
    filter IS a bounded table (≤ m rows after distinct): one explode +
    one distinct shuffle to build, union+distinct to merge, broadcast
    join to probe — and md5 hashing makes membership verdicts
    oracle-replayable bit-for-bit."""
    return (
        items.select(
            F.explode(
                F.array(*[_bucket(F.col(col), j, m) for j in range(k)])
            ).alias("bit")
        )
        .distinct()
    )


def bloom_maybe_contains(
    bits: DataFrame,
    probes: DataFrame,
    col: str = "term",
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """(col, maybe) per probe row: maybe=1 iff ALL k probe bits are
    set — the standard no-false-negative / bounded-false-positive
    Bloom contract.  The bits table (≤ m rows) broadcasts; probes
    never shuffle."""
    cells = probes.select(
        F.col(col),
        F.explode(
            F.array(*[_bucket(F.col(col), j, m) for j in range(k)])
        ).alias("bit"),
    )
    hit = bits.withColumn("is_set", F.lit(1))
    return (
        cells.join(F.broadcast(hit), "bit", "left")
        .groupBy(col)
        .agg(
            F.min(F.coalesce(F.col("is_set"), F.lit(0))).alias("maybe")
        )
    )


def read_cms(
    spark, out_dir: str, depth: int = CMS_DEPTH, checkpoint: str | None = None
) -> DataFrame:
    """The current sketch of a stream whose micro-batches each landed a
    ``cms_sketch`` partial through ``sources/io.start_batch_stage``:
    because counters add, it is the counter-wise sum of the committed
    partials — no master copy, no stateful operator, and the partials
    double as a time-sliced history (drop old partitions to age data
    out).  Empty before the first commit; a lost sketch under a
    committed ``checkpoint`` raises."""
    return (
        read_partials(
            spark, out_dir, "depth int, bucket long, cnt long", checkpoint
        )
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


BOTTOMK_K = 256


def bottomk_sketch(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    k: int = BOTTOMK_K,
    seed: str = "bk",
) -> DataFrame:
    """(hkey, v): the classic bottom-k sketch — the k rows whose
    md5-uniform hash of ``key_cols`` is smallest, carrying the value
    column.  Because the hash order is GLOBAL, the sketch is a true
    uniform row sample with the mergeability the sketch plane needs:
    bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) — union two
    sketches and re-take (``bottomk_merge``).  md5 keying makes it
    oracle-replayable row-for-row, unlike rand()-based sampling.

    Plans as TakeOrderedAndProject (per-partition k-heaps, k rows to
    the driver side of the exchange — never a full sort), so building
    it on 100 TB moves k rows.  ``key_cols`` must uniquely identify a
    row: hashing the VALUE would collapse duplicates and bias the
    sample toward the distinct-value distribution."""
    hkey = F.md5(
        F.concat_ws(
            "|", F.lit(seed), *[F.col(c).cast("string") for c in key_cols]
        )
    )
    return (
        df.select(hkey.alias("hkey"), F.col(value_col).alias("v"))
        .orderBy("hkey", "v")
        .limit(k)
    )


def bottomk_merge(a: DataFrame, b: DataFrame, k: int = BOTTOMK_K) -> DataFrame:
    """Merge two bottom-k sketches built with the SAME seed/k: union +
    re-take.  Exactly the sketch of the unioned inputs."""
    return a.unionByName(b).orderBy("hkey", "v").limit(k)


def bottomk_quantiles(sketch: DataFrame, ps: list[float]) -> DataFrame:
    """(p, est_q): linear-interpolation quantile estimates from the
    sketch sample (Spark ``percentile`` == DuckDB ``quantile_cont``).
    By DKW, the sample's empirical CDF is within
    sqrt(ln(2/δ)/(2k)) of the true CDF everywhere w.p. ≥ 1−δ — the
    ``quantile_sketch`` catalog entry checks that bound as a number."""
    arr = sketch.agg(
        F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("qs")
    )
    pslit = F.array(*[F.lit(p) for p in ps])
    return arr.select(
        F.posexplode("qs").alias("pos", "est_q")
    ).select(
        F.element_at(pslit, F.col("pos") + 1).alias("p"),
        F.round(F.col("est_q"), 2).alias("est_q"),
    )


def read_bottomk(
    spark, out_dir: str, k: int = BOTTOMK_K, checkpoint: str | None = None
) -> DataFrame:
    """The current sketch of a stream whose micro-batches each landed a
    ``bottomk_sketch`` partial through ``sources/io.start_batch_stage``:
    by the merge law it is the bottom-k of the committed partials
    (union + re-take) — ≤ k rows written per batch.  Empty before the
    first commit; a lost sketch under a committed ``checkpoint``
    raises."""
    return (
        read_partials(spark, out_dir, "hkey string, v double", checkpoint)
        .select("hkey", "v")
        .orderBy("hkey", "v")
        .limit(k)
    )
