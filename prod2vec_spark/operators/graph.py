"""Distributed connected components — the clustering stage that turns
near-dup candidate PAIRS (operators/dedup.py lsh_candidate_pairs /
jaccard_pairs) into dedup CLUSTERS with one canonical doc per cluster.

The reference has no graph plane (its dedup surface is
drop_duplicates, data_prep.py:256-257); this is an ENGINE addition in
the SURVEY §2.14 family: a web-scale LLM dedup pipeline is
  shingle → minhash → band → candidate pairs → **connected components**
  → keep min-id doc per component
and the last two steps are what this module provides.

Algorithm: min-label propagation.  Every node starts labeled with
itself; each round every node adopts the minimum label among itself
and its neighbors; at the fixed point the label IS the component id
(the component's minimum node id — deterministic, oracle-checkable).

Scale notes (100 TB design point):

* Rounds needed = graph diameter.  LSH candidate graphs are unions of
  near-cliques (every member of a dup cluster shares a band with most
  others), so diameter is ~2-3 and the loop converges in 3-4 rounds.
* Each round is exactly 2 shuffles: propagate (join labels onto the
  edge list) + re-label (min-agg per node); round 1 starts from the
  all-self labelling, so it is one min-agg over the edge list.  The
  edge list is re-used every round — at cluster scale persist it.
* Lineage is broken per round with an eager ``localCheckpoint`` —
  without it the plan doubles every iteration and Catalyst analysis
  time explodes (the classic iterative-algorithm trap).  On a real
  cluster prefer reliable ``checkpoint`` (HDFS) so a lost executor
  does not recompute the whole chain.
* Convergence is detected with an order-insensitive label checksum
  (decimal(38,0) sum of xxhash64(node, comp) — overflow-free, so it
  survives ANSI mode), observed on the checkpoint's own pass over the
  new labels: each round is ONE SQL execution, with no separate agg
  job and no driver-side collect of the label table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from prod2vec_spark.functions.lineage import break_lineage


def _checksum_break(
    df: DataFrame, checkpoint_dir: "str | None", *pairs: tuple[str, str]
) -> tuple[DataFrame, list[int]]:
    """Eagerly checkpoint ``df`` (see ``break_lineage``) and return it
    with one order-insensitive checksum per column pair in ``pairs``,
    observed on the checkpoint's own pass — one SQL execution in all.

    The per-row hashes are summed as decimal(38,0), NOT long: a long
    sum of xxhash64 values overflows almost immediately, which is a
    crash under ANSI mode (Spark 4's default) and silent wraparound
    otherwise.  decimal(38,0) holds ~10^19 rows of int64 headroom and
    is portable to ANSI-on clusters."""
    obs = Observation()
    sums = [
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias(f"s{i}")
        for i, cols in enumerate(pairs)
    ]
    out = break_lineage(df.observe(obs, *sums), checkpoint_dir, eager=True)
    got = obs.get
    return out, [int(got[f"s{i}"] or 0) for i in range(len(pairs))]


def connected_components_with_rounds(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: "str | None" = None,
) -> tuple[DataFrame, int]:
    """(node, comp) for every node appearing in ``edges``, plus the
    number of propagation rounds actually executed before the fixed
    point; ``comp`` is the minimum node id reachable from ``node``
    (undirected).

    The rounds count makes the scale claim testable: on LSH candidate
    graphs (unions of near-cliques) it must stay ~diameter ≈ 2-3 —
    tests/test_operators.py asserts the bound so a regression to
    long-chain behavior is caught, not assumed.

    ``edges`` is treated as undirected and may contain duplicates or
    self-loops; both are harmless (min is idempotent).  Nodes with no
    edges are absent — union them in as singletons at the call site if
    the full domain is needed.

    If ``max_iter`` is exhausted before the checksum fixed point, a
    ``RuntimeError`` is raised — a truncated label table is NOT a
    valid component assignment and must not be returned silently
    (ADVICE r5).  Callers that want best-effort labels can catch it.

    ``checkpoint_dir`` (round 15, VERDICT r14 ask #7): by default each
    round breaks lineage executor-locally (fast, but executor loss on
    a real cluster invalidates the blocks mid-loop); pass a
    fault-tolerant directory to switch every per-round break to a
    RELIABLE checkpoint that survives executor loss — the 100×
    durability option (functions/lineage.break_lineage).
    """
    # Round-17 (guide §1.2 step 1 — don't compute things twice): both
    # edge directions emit from ONE row-local explode instead of a
    # self-union, whose two legs each re-evaluate the full candidate-
    # pair lineage (LSH banding / Hamming pair planes) — Spark has no
    # cross-leg subtree reuse.  Value-identical multiset before the
    # distinct.
    e = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("a"), F.col(dst).alias("b")
                    ),
                    F.struct(
                        F.col(dst).alias("a"), F.col(src).alias("b")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
    )
    # one round trip of the loop re-reads e; keep it hot
    e = break_lineage(e, checkpoint_dir, eager=False)

    labels = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        # each node's new label: min over (its own label, labels of
        # all neighbors) — propagate across edges then min-agg
        if labels is None:
            # every node starts labelled itself, so round 1 reads its
            # labels straight off the (symmetric) edge list, and the
            # initial labelling's checksum is observed on the same pass
            labels, (prev, cur) = _checksum_break(
                e.groupBy("a")
                .agg(F.min("b").alias("m"))
                .select(F.col("a").alias("node"), F.least("a", "m").alias("comp")),
                checkpoint_dir,
                ("node", "node"),
                ("node", "comp"),
            )
        else:
            prop = e.join(labels, e["a"] == labels["node"]).select(
                F.col("b").alias("node"), "comp"
            )
            labels, (cur,) = _checksum_break(
                prop.unionByName(labels)
                .groupBy("node")
                .agg(F.min("comp").alias("comp")),
                checkpoint_dir,
                ("node", "comp"),
            )
        rounds += 1
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixed point after {max_iter} rounds "
            f"— the graph's diameter exceeds max_iter; raise max_iter"
        )
    return labels, rounds


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """See :func:`connected_components_with_rounds` — same computation,
    labels only."""
    labels, _ = connected_components_with_rounds(
        edges, src=src, dst=dst, max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
    )
    return labels


def dedup_clusters(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Near-dup clusters from candidate pairs: (doc_id, cluster_id,
    is_canonical).  cluster_id = min doc_id of the component;
    is_canonical marks the one doc per cluster a dedup pass keeps."""
    comp = connected_components(pairs, src=a, dst=b)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).cast("int").alias("is_canonical"),
    )


def canonical_by_quality(
    clusters: DataFrame, scored: DataFrame, q_col: str = "q"
) -> DataFrame:
    """Quality-aware survivor selection: instead of dedup_clusters'
    min-id canonical, keep the HIGHEST-quality member of each near-dup
    cluster (ties broken by doc_id — deterministic, oracle-replayed).
    This is the selection policy real curation pipelines want: when
    near-dups differ (truncation, boilerplate variants), the kept copy
    should be the best one, not the numerically-first one.

    ``clusters`` is dedup_clusters output (doc_id, cluster_id);
    ``scored`` carries (doc_id, q_col).  Output one row per cluster:
    (cluster_id, n_members, keep_doc_id, keep_q).

    Scale shape: clusters cover only documents that appeared in a
    candidate pair — a small fraction of the corpus — so the quality
    join is keyed by doc_id on that fraction, and the per-cluster
    argmax is one max_by hash-agg on cluster_id (no window, no sort).
    """
    joined = clusters.join(
        scored.select(F.col("doc_id"), F.col(q_col).alias("_q")), "doc_id"
    )
    # max_by with a struct key: (q, -doc_id) lexicographic max = best
    # quality, lowest doc_id on ties
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("_q"), (-F.col("doc_id")).alias("_nid"))
            ).alias("_best"),
        )
        .select(
            "cluster_id",
            "n_members",
            (-F.col("_best._nid")).alias("keep_doc_id"),
            F.col("_best._q").alias("keep_q"),
        )
    )
