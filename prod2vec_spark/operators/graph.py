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
  For general graphs with long chains the alternating
  large-star/small-star algorithm (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) converges in
  O(log² n) rounds — implemented as
  :func:`connected_components_star` (equivalence + rounds-bound
  pytest-locked on a 64-chain).
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
            f"— the graph's diameter exceeds max_iter (raise it, or use "
            f"connected_components_star for long-chain graphs)"
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


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    checkpoint_dir: "str | None" = None,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    the general-graph counterpart of min-label propagation, converging
    in O(log² n) rounds on LONG CHAINS where propagation needs
    diameter rounds.  Same contract as
    :func:`connected_components_with_rounds`: ((node, comp), rounds).

    Per round, each node u with directed neighborhood Γ(u) and
    m = min(Γ(u) ∪ {u}):
      * large-star: rewire every neighbor v > u to m;
      * small-star: rewire every neighbor v ≤ u (and u itself) to m.
    At the fixed point every component is a star rooted at its minimum
    node, so labels read directly off the edge set.

    Scale notes: each half-round is one groupBy-min + one equi-join —
    2 shuffles, the same budget as a propagation round; lineage breaks
    per round (eager localCheckpoint) and the overflow-free decimal
    checksum is observed on that same pass — one SQL execution per
    round.  Use this over propagation when the candidate
    graph is NOT a union of near-cliques (e.g. transitive similarity
    chains across a corpus); for LSH near-clique graphs propagation's
    ~2 rounds wins."""
    # one-scan both-directions emit — see connected_components' note
    both = (
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
    )
    # canonical undirected edge list (u < v), self-loops dropped
    e = (
        both.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"),
            F.greatest("a", "b").alias("v"),
        )
        .distinct()
    )
    e, (prev,) = _checksum_break(e, checkpoint_dir, ("u", "v"))
    singletons = both.select(F.col("a").alias("node")).distinct()

    def _star(cur: DataFrame, large: bool) -> DataFrame:
        d = cur.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
            cur.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        mins = d.groupBy("x").agg(F.min("y").alias("mn"))
        mins = mins.select(
            "x", F.least(F.col("mn"), F.col("x")).alias("m")
        )
        joined = d.join(mins, "x")
        if large:
            # rewire every strictly-larger neighbor to m; every edge
            # (a<b) is processed by its smaller endpoint, so no edge
            # drops out of the graph
            out = joined.filter(F.col("y") > F.col("x")).select(
                F.least(F.col("y"), F.col("m")).alias("u"),
                F.greatest(F.col("y"), F.col("m")).alias("v"),
            )
        else:
            # v ranges over Γ⁺(u) = neighbors ≤ u PLUS u itself — the
            # center edge (u, m) is what keeps u attached once its
            # smaller neighbors are rewired away (Kiveris §3)
            nbrs = joined.filter(F.col("y") <= F.col("x")).select(
                F.least(F.col("y"), F.col("m")).alias("u"),
                F.greatest(F.col("y"), F.col("m")).alias("v"),
            )
            centers = mins.select(
                F.least(F.col("x"), F.col("m")).alias("u"),
                F.greatest(F.col("x"), F.col("m")).alias("v"),
            )
            out = nbrs.union(centers)
        return out.filter(F.col("u") != F.col("v")).distinct()

    rounds = 0
    converged = False
    for _ in range(max_iter):
        e = _star(e, large=True)
        e, (cur,) = _checksum_break(
            _star(e, large=False), checkpoint_dir, ("u", "v")
        )
        rounds += 1
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # a truncated star graph is not a component assignment —
        # surface it instead of returning silently-wrong labels
        # (ADVICE r5; the checksum fixed point is the convergence
        # certificate, max_iter is only a runaway bound)
        raise RuntimeError(
            f"connected_components_star: no fixed point after "
            f"{max_iter} rounds; raise max_iter (O(log² n) expected)"
        )
    # fixed point: every edge points root -> member; emit labels, and
    # re-attach isolated-after-rewiring roots + true singletons
    members = e.select(F.col("v").alias("node"), F.col("u").alias("comp"))
    roots = singletons.join(
        members.select(F.col("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("comp"))
    return members.unionByName(roots), rounds


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
