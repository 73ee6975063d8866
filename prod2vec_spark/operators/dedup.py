"""Deduplication operators over ``documents`` (ENGINE scope — the
LLM-data-pipeline dedup family: exact, MinHash+LSH, SimHash, n-gram
Jaccard; embedding-cosine near-dup lives in simsearch.py).

Scale design:
  * exact dedup — hash-groupBy on a normalized-text digest: one
    shuffle keyed by a 128-bit hash, the canonical 100 TB exact-dedup
    plan (never groupBy the raw text: keys stay 32 bytes).
  * MinHash — signatures are row-local expressions (min over shingle
    hashes); LSH banding turns near-dup search into an equi-join on
    (band_id, band_signature) — a shuffle join on tiny keys instead of
    an O(n²) cross join.  Candidates then verify exact Jaccard.
  * the hash is md5 (engine-portable, see functions/hashing.py), with
    the lexicographic MIN over hex digests as the MinHash order — a
    valid uniform hash order reproducible in any engine with md5.

MLlib's MinHashLSH offers the same capability class; this
implementation is preferred because it is (a) seedable/deterministic
across engines for the oracle gate and (b) pure Column expressions
(no UDT vectors, no estimator fit pass over 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.text import tokens
from prod2vec_spark.sources.io import read_partials


def normalized(text: Column) -> Column:
    """lowercase + whitespace-collapse — the canonical form for exact
    dedup."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def text_digest(text: Column) -> Column:
    return F.md5(normalized(text))


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content digest; one row per distinct
    content with its cardinality and representative (min doc_id)."""
    return (
        docs.select(F.col("doc_id"), text_digest(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct word k-shingles: shingle i = toks[i..i+k-1] joined by a
    single space.  Empty array when the doc has < k tokens.

    ``toks`` MUST be a materialized array column (a plain attribute),
    not an inline ``split(...)`` expression: higher-order-function
    lambdas are interpreted without common-subexpression elimination,
    so an inlined split would re-tokenize the full text for every
    element_at — measured as the dominant cost of the whole minhash
    pipeline (k re-splits per shingle)."""
    n = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(0))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        )
    )


MINHASH_P = 2_147_483_647  # 2^31-1


def shingle_hashes(shingles: Column) -> Column:
    """ONE md5 per shingle → struct(h1 = hex 1-8, h2 = hex 9-16) as
    longs — the base for the double-hashing MinHash family.  Must be
    materialized as a concrete column before fanning out to the
    per-seed minima (inlined copies would re-hash per seed)."""
    # two-pass transform so md5 runs ONCE per shingle — HOF lambdas are
    # interpreted (no codegen, no common-subexpression elimination), so
    # md5(s) inlined under both h1 and h2 would hash twice (measured 2×)
    return F.transform(
        F.transform(shingles, lambda s: F.md5(s)),
        lambda x: F.struct(
            F.conv(F.substring(x, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(x, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )


def minhash_signature(hashed: Column, num_hashes: int = 8) -> list[Column]:
    """MinHash via Kirsch-Mitzenmacher double hashing: hash family
    g_j = (h1 + j·h2) mod p over a materialized ``shingle_hashes``
    array.  num_hashes minima cost zero extra md5 — 8 md5/shingle → 1
    (md5 was the measured bottleneck).  NULL when the set is empty."""
    return [
        F.array_min(
            F.transform(hashed, lambda h: (h["h1"] + F.lit(j) * h["h2"]) % F.lit(MINHASH_P))
        ).alias(f"mh{j}")
        for j in range(num_hashes)
    ]


def minhash_sigs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    keep_shingles: bool = False,
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) MinHash signature table; with
    ``keep_shingles`` the distinct shingle array rides along as
    ``_sh`` (the jaccard audit needs both on the same row).

    Staging discipline: tokens, then hashed shingles, land as concrete
    columns so each later stage reads attributes instead of
    re-evaluating the tokenize/shingle/md5 pipeline (interpreted HOFs
    have no CSE).  The no-shingle filter runs on token count —
    filtering on mh0 IS NOT NULL would be predicate-pushed below the
    projections, re-substituting the whole pipeline into the Filter
    node (measured 8× slowdown).  size(toks) ≥ k ⇔ shingle set
    nonempty."""
    staged = (
        docs.select("doc_id", tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= shingle_k)
        .select("doc_id", word_shingles(F.col("_toks"), shingle_k).alias("_sh"))
        .select("doc_id", "_sh", shingle_hashes(F.col("_sh")).alias("_hs"))
    )
    keep = ["doc_id", "_sh"] if keep_shingles else ["doc_id"]
    return staged.select(*keep, *minhash_signature(F.col("_hs"), num_hashes))


def bands_from_sigs(
    sigs: DataFrame, num_hashes: int = 8, band_size: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_sig) from a ``minhash_sigs`` table: band
    signature = md5 of its concatenated minhashes."""
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh{b * band_size + i}") for i in range(band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *cols)).alias("band_sig"))
        )
    return (
        sigs.select("doc_id", F.explode(F.array(*bands)).alias("b"))
        .select("doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_sig").alias("band_sig"))
    )


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
) -> DataFrame:
    """(doc_id, band_id, band_sig): band signature = md5 of its
    concatenated minhashes.  Docs with no shingles emit no bands.
    Composition of :func:`minhash_sigs` + :func:`bands_from_sigs`."""
    return bands_from_sigs(
        minhash_sigs(docs, text_col=text_col, shingle_k=shingle_k, num_hashes=num_hashes),
        num_hashes=num_hashes,
        band_size=band_size,
    )


def lsh_candidate_pairs(bands: DataFrame, max_group: int | None = None) -> DataFrame:
    """Distinct doc pairs sharing ≥1 band.

    NOT a self-join: that would re-evaluate the whole minhash pipeline
    on both sides (measured 153s vs <10s at sf0.1).  Instead group by
    (band_id, band_sig), collect the (typically tiny) doc lists, and
    expand i<j pairs inside the array (functions.arrays.pair_expand) —
    one shuffle of 32-byte keys, signatures computed exactly once.

    ``max_group`` guards the degenerate band at 100 TB: a hot
    signature (e.g. empty-ish docs hashing identically) contributes
    |group|² pairs and a |group|-sized collected array; groups above
    the cap are *dropped* (they are exact-dup clusters in disguise —
    collapse them with exact_dup_groups first, which is both cheaper
    and lossless for that case).  Count dropped groups via
    ``lsh_oversize_groups`` when auditing recall."""
    from prod2vec_spark.functions.arrays import pair_expand

    grouped = (
        bands.groupBy("band_id", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_group is not None:
        grouped = grouped.filter(F.size("ids") <= max_group)
    return (
        grouped.select(F.explode(pair_expand(F.col("ids"))).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )


def lsh_oversize_groups(bands: DataFrame, max_group: int) -> DataFrame:
    """Audit companion to ``lsh_candidate_pairs(max_group=…)``: the
    (band_id, band_sig, n_docs) groups the cap would drop, so a 100 TB
    run can report lost-recall candidates instead of silently skipping
    them."""
    return (
        bands.groupBy("band_id", "band_sig")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_group)
    )


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 2,
    threshold: float = 0.05,
    max_df: int = 100,
) -> DataFrame:
    """n-gram Jaccard near-dup: exact pairwise Jaccard over word
    k-shingles via an explode + equi-join on the shingle (co-occurrence
    count) — the verify step of the LSH pipeline, usable standalone.
    |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|.

    ``max_df``: shingles appearing in more than max_df documents are
    dropped (standard common-gram filtering).  A shingle with document
    frequency d contributes d² candidate pairs, so stop-shingles
    dominate cost while carrying no dedup signal — measured 73M → 2.4K
    pair rows on the sf0.1 corpus.  Jaccard is then over each doc's
    *rare* shingle set.

    Shape: ONE shuffle of (shingle → doc list); pairs expand inside
    each group array (i<j), so the base scan+shingle pipeline runs
    once — no shingle self-join re-evaluating it per side.  Per-doc
    rare-shingle sizes derive from the same grouped result."""
    from prod2vec_spark.functions.arrays import pair_expand

    sh = docs.select("doc_id", tokens(F.col(text_col)).alias("_toks")).select(
        "doc_id", F.explode(word_shingles(F.col("_toks"), shingle_k)).alias("shingle")
    )
    groups = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    rare = groups.filter(F.size("ids") <= max_df)
    sizes = (
        rare.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    inter = (
        rare.filter(F.size("ids") > 1)
        .select(F.explode(pair_expand(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                5,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


# ---------------------------------------------------------- winnowing
def winnow_fingerprints(
    toks: Column, k: int = 8, w: int = 8
) -> Column:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every k-token gram, then keep the MINIMUM
    hash in each window of w consecutive gram hashes.  Guarantee: two
    documents sharing ANY verbatim token span of length ≥ w + k − 1
    share at least one selected fingerprint — the exact-substring
    dedup primitive (Lee et al. 2022 scale-dedup shape) that MinHash,
    which sketches WHOLE-document similarity, cannot provide: a long
    quote inside two otherwise-different documents is invisible to
    MinHash but guaranteed-visible to winnowing.

    Row-local: one transform for the gram hashes, one slice-window
    min, one array_distinct — zero shuffles here; callers group by
    fingerprint to find candidates.  Selected-fingerprint density is
    ~2/(w+1) of the grams, so the downstream explode carries a
    fraction of the token count.  ``toks`` must be a staged column
    (HOF-CSE rule, operators/repetition.py).

    Oracle: identical formula over list_transform / list_slice /
    list_min (md5-prefix hashes, functions/hashing.py policy).
    """
    from prod2vec_spark.functions.hashing import hex_prefix_long

    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: hex_prefix_long(F.concat_ws(" ", F.slice(toks, i, k)), 8),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # stage the gram-hash array through a named lambda variable: the
    # window slice below references it w times per position, and
    # interpreted HOFs have no CSE (text.py simhash precedent) — the
    # zip_with trick is unavailable here, so wrap in a single-element
    # transform to bind the array once
    return F.array_distinct(
        F.flatten(
            F.transform(
                F.array(grams),
                lambda g: F.when(
                    F.size(g) >= w,
                    F.transform(
                        F.sequence(F.lit(1), F.size(g) - F.lit(w - 1)),
                        lambda i: F.array_min(F.slice(g, i, w)),
                    ),
                ).otherwise(g),
            )
        )
    )


def winnow_candidate_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 8,
    max_group: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, n_shared_fps): document pairs sharing winnowing
    fingerprints, with how many they share — every pair with a
    verbatim common span of ≥ w+k−1 tokens appears (the winnowing
    guarantee); n_shared_fps grows with the amount of shared text.

    Same scale shape as LSH banding: explode the (sparse) selected
    fingerprints, groupBy fingerprint collecting the (typically tiny)
    id list, expand i<j pairs INSIDE the array (functions/arrays.
    pair_expand — the corpus pipeline is evaluated once, the shuffle
    carries fingerprint + id-list rows), then count pairs.
    ``max_group`` caps a degenerate fingerprint (boilerplate shared by
    thousands of docs) exactly like lsh_candidate_pairs' cap."""
    from prod2vec_spark.functions.arrays import bind, pair_expand
    from prod2vec_spark.operators.text import tokens

    # _fps rides a bind (Generate) barrier, not a withColumn: the
    # explode below makes InferFiltersFromGenerate add a size>0
    # filter, and on a transparent alias PushDownPredicates re-inlines
    # the ENTIRE tokenize+gram-hash+window-min chain into a scan-level
    # filter — a full duplicate evaluation of the operator's quadratic
    # expression per row (round 16, guide §1.2 step 2).  Behind the
    # barrier the filter tests the materialized array instead.
    fps = bind(
        docs.withColumn("_toks", tokens(F.col(text_col))),
        "_fps",
        winnow_fingerprints(F.col("_toks"), k=k, w=w),
    ).select(id_col, F.explode(F.col("_fps")).alias("fp"))
    grouped = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_group is not None:
        grouped = grouped.filter(F.size("ids") <= max_group)
    return (
        grouped.select(F.explode(pair_expand(F.col("ids"))).alias("p"))
        .groupBy(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-version diff — the ingestion-ops surface that answers
    "what changed between crawl N and crawl N+1" before reprocessing
    100 TB: per-doc status ('added' | 'removed' | 'changed' |
    'unchanged') from a full outer join on the id with content
    digests compared (text_digest — 32-byte md5, so the join carries
    hashes, never documents).  Downstream incremental runs reprocess
    only added+changed (typically a small fraction); the engine's
    dedup state (digest tables, Bloom bits, MinHash bands) updates
    from the same frame.  One shuffle per side on the id key.

    NULL text is digested as the empty string (coalesce-to-sentinel),
    and presence is tracked by explicit per-side flags — so a doc
    present in both snapshots with NULL text is 'unchanged', and a
    NULL→text transition is 'changed', never misread as 'added' via a
    NULL digest."""
    o = old.select(
        F.col(id_col).alias("doc_id"),
        text_digest(F.coalesce(F.col(text_col), F.lit(""))).alias("_ho"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        text_digest(F.coalesce(F.col(text_col), F.lit(""))).alias("_hn"),
        F.lit(True).alias("_in_new"),
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def editdist_confirm(
    pairs: DataFrame,
    docs: DataFrame,
    prefix_len: int = 256,
    max_dist: int = 51,
    sim_threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance confirmation stage for near-dup CANDIDATE pairs —
    the character-level verifier that sits between LSH candidate
    generation and cluster formation (the alternative to the
    shingle-Jaccard verify of :func:`jaccard_pairs`; ENGINE scope, the
    reference has no dedup plane).

    For each (doc_a, doc_b) pair: Levenshtein distance over the first
    ``prefix_len`` characters, with TWO scale guards that make this
    viable at 100 TB candidate volumes:

    * the prefix cap bounds the DP cost per pair at prefix_len² cells
      (full documents would be quadratic in document length);
    * ``max_dist`` drives Spark's banded early-abandon (the three-arg
      ``levenshtein(l, r, threshold)`` computes only a 2·t+1-wide DP
      band and returns -1 once the distance provably exceeds t) — the
      dominant case for false-positive candidates.

    Output per pair: prefix lengths, ``dist`` (-1 = early-abandoned,
    definitely unconfirmable), ``edit_sim`` = 1 - dist/max(len) (-1.0
    sentinel when abandoned), ``confirmed`` 0/1 at ``sim_threshold``.
    Two equi-joins on the id key fetch the prefixes; the pair set is
    the (already capped) LSH candidate output, so the quadratic blowup
    was contained upstream.
    """
    pref = docs.select(
        F.col(id_col).alias("_id"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_pref"),
    )
    a = pref.select(F.col("_id").alias("doc_a"), F.col("_pref").alias("_pa"))
    b = pref.select(F.col("_id").alias("doc_b"), F.col("_pref").alias("_pb"))
    la = F.length("_pa")
    lb = F.length("_pb")
    d = F.levenshtein(F.col("_pa"), F.col("_pb"), max_dist)
    sim = F.round(
        F.lit(1.0) - d.cast("double") / F.greatest(la, lb, F.lit(1)).cast("double"), 4
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            la.cast("long").alias("len_a"),
            lb.cast("long").alias("len_b"),
            d.cast("long").alias("dist"),
            F.when(d >= 0, sim).otherwise(F.lit(-1.0)).alias("edit_sim"),
            F.when((d >= 0) & (sim >= F.lit(sim_threshold)), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("confirmed"),
        )
    )


def incremental_lsh_candidates(
    old_bands: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
    max_group: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs INVOLVING at least one new document,
    probed against a prior snapshot's persisted band table — the
    incremental twin of :func:`lsh_candidate_pairs` (and the near-dup
    leg of the snapshot-diff plane: ``snapshot_diff`` tells you which
    docs are added/changed; this tells you who they collide with).

    At 100 TB the point is what does NOT happen: the old corpus is
    never re-shingled, re-hashed, or re-banded — only its (doc_id,
    band_id, band_sig) table (32-byte keys) is read back, and only the
    typically-small new fraction runs the signature pipeline.  Old×old
    pairs are already known from the previous run and are NOT
    re-emitted; the output is exactly the delta pair set.

    Semantics (pytest-locked): with no group cap,
        lsh_candidate_pairs(old ∪ new)
          == lsh_candidate_pairs(old) ∪ incremental_lsh_candidates(...)
    for id-disjoint snapshots.  For re-ingested (changed) docs the new
    signature wins: any old band row for an id present in ``new_docs``
    is dropped before grouping.  ``max_group`` caps the UNION group
    size, mirroring the batch cap's degenerate-band guard.
    """
    nb = minhash_bands(
        new_docs,
        text_col=text_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        band_size=band_size,
    )
    new_ids = new_docs.select(F.col("doc_id")).distinct()
    # changed docs: the re-ingested signature supersedes the stored one
    ob = old_bands.join(F.broadcast(new_ids), "doc_id", "left_anti")
    allb = ob.select("doc_id", "band_id", "band_sig", F.lit(0).alias("is_new")).unionByName(
        nb.select("doc_id", "band_id", "band_sig", F.lit(1).alias("is_new"))
    )
    from prod2vec_spark.functions.arrays import pair_expand

    grouped = (
        allb.groupBy("band_id", "band_sig")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("ids"),
            F.sort_array(F.collect_list(F.when(F.col("is_new") == 1, F.col("doc_id")))).alias(
                "new_ids"
            ),
        )
        .filter((F.size("ids") > 1) & (F.size("new_ids") > 0))
    )
    if max_group is not None:
        grouped = grouped.filter(F.size("ids") <= max_group)
    return (
        grouped.select(
            F.explode(pair_expand(F.col("ids"))).alias("p"), F.col("new_ids")
        )
        .where(
            F.array_contains(F.col("new_ids"), F.col("p.a"))
            | F.array_contains(F.col("new_ids"), F.col("p.b"))
        )
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )

def incremental_lsh_batch(
    batch_df: DataFrame,
    batch_id: int,
    bands_dir: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
    max_group: int | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """One micro-batch of the streaming incremental LSH plane: (delta
    candidate pairs, the batch's own band rows) — the ``per_batch`` of
    ``start_batch_stage(docs, partial(incremental_lsh_batch,
    bands_dir=...), (pairs_dir, bands_dir), checkpoint)``.  The pairs
    probe the committed band table EXCLUDING this batch id, so a
    replayed batch recomputes the same partials instead of
    pairing against its own half-committed bands; the band store grows
    append-only and the archived corpus is never re-shingled.  Not a
    keep/drop decision: the union of the delta pairs
    (``read_delta_pairs``) is the batch pipeline's full pair set, so
    CC/canonical selection stays batch-adjudicated."""
    old = (
        read_committed_bands(batch_df.sparkSession, bands_dir)
        .where(F.col("batch_id") != batch_id)
        .select("doc_id", "band_id", "band_sig")
    )
    kw = dict(
        text_col=text_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        band_size=band_size,
    )
    return (
        incremental_lsh_candidates(old, batch_df, max_group=max_group, **kw),
        minhash_bands(batch_df, **kw),
    )


def read_committed_bands(
    spark, bands_dir: str, checkpoint: str | None = None
) -> DataFrame:
    """The committed band table (union of per-batch partials) with its
    batch_id partition column — empty before the first commit; a lost
    table under a committed ``checkpoint`` raises."""
    return read_partials(
        spark, bands_dir, "doc_id long, band_id int, band_sig string", checkpoint
    )


def read_delta_pairs(
    spark, pairs_dir: str, checkpoint: str | None = None
) -> DataFrame:
    """Union of the committed per-batch delta pair sets.  Each pair is
    emitted exactly once — by the batch that ingested its LATER member
    — so the union replays the batch pipeline's full pair set."""
    return read_partials(spark, pairs_dir, "doc_a long, doc_b long", checkpoint)
