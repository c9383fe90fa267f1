"""Graph-shaped security analytics over SCO reference edges.

The reference's process handling stops at one ``parent_ref`` hop
(firepit/deref.py:142-150); investigations usually need the whole ancestry
chain. ``ancestors`` computes the bounded transitive closure with
iterative self-joins — each round doubles nothing (linear frontier
expansion), every join is an equi-join on uuid ids (uniform keys, AQE
handles the rest), and the loop is bounded by ``max_depth``, so the plan
stays a fixed-size DAG the optimizer can reason about.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from firepit_spark.functions import pin


def edges_from(df: DataFrame, ref_col: str = "parent_ref") -> DataFrame:
    """(child, parent) edge list from a SCO table's ref column."""
    return df.filter(F.col(ref_col).isNotNull()).select(
        F.col("id").alias("child"), F.col(ref_col).alias("parent")
    )


def ancestors(
    df: DataFrame, ref_col: str = "parent_ref", max_depth: int = 8
) -> DataFrame:
    """(descendant_id, ancestor_id, depth) pairs up to ``max_depth``.

    depth=1 is the direct parent. Cycles are cut by the depth bound (STIX
    process graphs are acyclic in practice; a cycle would simply stop
    contributing after max_depth).
    """
    # each level is pinned: the union output and the next level's join
    # both read it, and the empty-frontier probe would otherwise recompute
    # the whole join chain once per remaining level (O(depth^2) rework).
    # Long-lived sessions call firepit_spark.functions.release() after the
    # terminal action.
    edges = pin(edges_from(df, ref_col))
    level = pin(edges.select(
        F.col("child").alias("descendant_id"),
        F.col("parent").alias("ancestor_id"),
        F.lit(1).alias("depth"),
    ))
    out = level
    for d in range(2, max_depth + 1):
        nxt = (
            level.alias("l")
            .join(edges.alias("e"), F.col("l.ancestor_id") == F.col("e.child"))
            .select(
                F.col("l.descendant_id"),
                F.col("e.parent").alias("ancestor_id"),
                F.lit(d).alias("depth"),
            )
        )
        if d == max_depth:
            # terminal level: nothing joins after it (only the union output
            # reads it), so it needs neither the persist nor the
            # empty-frontier probe — both were one materialization job per
            # call for zero reuse (r14-opt, guide §1.2). An empty terminal
            # level unions zero rows: same result.
            out = out.unionByName(nxt)
            break
        nxt = pin(nxt)
        if nxt.isEmpty():
            # dead frontier: nothing references it, free it immediately
            nxt.unpersist()
            break
        out = out.unionByName(nxt)
        level = nxt
    return out


def _truncate(df: DataFrame, eager: bool, checkpoint_dir: str | None) -> DataFrame:
    """Cut lineage for one iteration round.

    Default is ``localCheckpoint`` (executor-local blocks — fast, no
    configured dir needed, right for local mode and short jobs). With
    ``checkpoint_dir`` set we use reliable ``checkpoint()`` to that
    directory instead: on a real cluster a lost executor drops its
    localCheckpoint blocks and KILLS the whole iterative job, while
    reliable checkpoints live on the shared filesystem and recompute-free
    recovery works. Any long-running 100-TB closure should pass a dir on
    HDFS/S3.

    Reliable checkpoint files are NOT auto-deleted by default — one
    labels snapshot lands per round and Spark only removes them when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set it
    for long iterative jobs) or when the caller cleans the dir after the
    job; the ContextCleaner-frees-blocks behavior the local path enjoys
    does not apply here."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        # honor THIS caller's dir even if an earlier job set another.
        # getCheckpointDir returns a URI with a per-set UUID subdir, so
        # compare against the last RAW value we set instead (re-setting
        # every round would spray one UUID dir per truncation).
        if getattr(sc, "_fp_checkpoint_dir", None) != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
            sc._fp_checkpoint_dir = checkpoint_dir
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) labels for an undirected edge list; the component
    id is the smallest node id in the component (deterministic, so the
    result is oracle-checkable against a recursive-CTE closure).

    ``max_iter`` is a strict budget of propagation steps: a graph that has
    not converged within it returns labels propagated exactly ``max_iter``
    steps (not ``max_iter + 1``), so some components may still carry more
    than one label.

    Min-label propagation with pointer jumping: every round each node
    takes the minimum of its own label, its neighbors' labels, AND its
    label's label (path halving — the Shiloach-Vishkin / hash-to-min
    shortcut). The neighbor step alone converges in O(diameter) rounds,
    which bites on chain-shaped near-dup graphs (a 0.03-threshold
    shingle graph at sf0.1 measured diameter ~13); the jump step
    compresses label paths geometrically, so convergence is
    O(log diameter) with one extra equi-join per round on the tiny
    label frame. Labels only ever decrease and every label is a node id
    inside the component, so the fixpoint — each component uniformly
    labeled by its min id — is unchanged; only the round count drops.
    The convergence probe exits early; the changed-count is computed
    inline from the old-vs-new label in the SAME pass (no separate
    join-the-two-generations job per round), and rounds run TWO per
    action: the intermediate round is a lazy plan barrier only, so each
    convergence check (one driver job) advances the labels two
    propagation steps. Labels are monotone non-increasing, so a no-op
    second step proves the fixpoint regardless of what the first step
    did (once any round changes nothing, every later round changes
    nothing); at worst one extra no-op round runs when convergence
    lands between the two steps — values are unchanged either way
    (r13 A/B: identical labels, ~1.5× fewer scheduler round-trips).

    Each round is lineage-truncated (``localCheckpoint`` by default,
    reliable ``checkpoint`` when ``checkpoint_dir`` is given — required
    for failure-durability on a real cluster): without truncation the
    round-k plan textually embeds both round-(k-1) operands, so the plan
    TREE doubles per round — Spark OOMs building the explain string long
    before any data pressure (observed at ~8 rounds). Checkpointing makes
    every round's plan O(1); this is the same move GraphX/GraphFrames
    make for iterative algorithms. Checkpoint blocks are freed by the
    ContextCleaner when the superseded frames are garbage-collected.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = _truncate(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct(),
        # eager: also cuts the (possibly expensive) upstream pair-
        # generation lineage out of every round's plan
        eager=True,
        checkpoint_dir=checkpoint_dir,
    )
    labels = _truncate(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        eager=True,
        checkpoint_dir=checkpoint_dir,
    )
    def _round(cur: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(cur, sym["b"] == cur["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("comp").alias("nb_comp"))
        )
        half = cur.join(
            neighbor_min, cur["node"] == F.col("node2"), "left"
        ).select(
            "node",
            F.col("comp").alias("__old"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nb_comp"), F.col("comp"))
            ).alias("__m"),
        )
        # pointer jump: follow the (previous round's) label of the new
        # label — comp(comp(v)) is in v's component and <= comp(v), so
        # the min-id fixpoint is untouched while chain distances halve.
        # Every __m value is a node id present in `cur` (labels carry
        # node ids only); the left join + coalesce just keeps the row
        # count invariant obvious.
        ptr = cur.select(
            F.col("node").alias("__pn"), F.col("comp").alias("__pc")
        )
        jumped = F.least(F.col("__m"), F.coalesce(F.col("__pc"), F.col("__m")))
        return half.join(ptr, F.col("__m") == F.col("__pn"), "left").select(
            "node",
            jumped.alias("comp"),
            # labels only decrease: changed <=> strictly smaller
            (jumped < F.col("__old")).alias("__chg"),
        )

    # max_iter is a STRICT propagation-step budget (r14-opt): the loop
    # runs floor(max_iter/2) double-rounds plus one single round when
    # max_iter is odd — never max_iter+1 steps as the r13 form could on a
    # non-converging graph. Converged graphs (every gated case) see the
    # identical step sequence.
    steps_left = max_iter
    while steps_left > 0:
        # two propagation rounds per driver action: the intermediate
        # round is truncated LAZILY (plan barrier, no job of its own)
        # and materializes inside the same count job as the second
        if steps_left >= 2:
            mid = _truncate(
                _round(labels).drop("__chg"),
                eager=False,
                checkpoint_dir=checkpoint_dir,
            )
            new_labels = _truncate(
                _round(mid),
                eager=False,  # materialized by the count below
                checkpoint_dir=checkpoint_dir,
            )
            steps_left -= 2
        else:
            new_labels = _truncate(
                _round(labels),
                eager=False,
                checkpoint_dir=checkpoint_dir,
            )
            steps_left -= 1
        # monotone labels: a no-op SECOND round proves the fixpoint
        # (any round after a no-op round is a no-op)
        n_changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.drop("__chg")
        if n_changed == 0:
            break
    return labels.select("node", "comp")


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-duplicate clusters from a similarity-pair list: (doc, cluster)
    where cluster = min doc id in the connected component — the keep-one-
    per-cluster endgame of every pairwise dedup operator in dedup.py.
    ``max_iter`` is :func:`connected_components`' strict propagation-step
    budget: a pair graph that needs more steps returns split clusters."""
    return connected_components(
        pairs, src=src, dst=dst, max_iter=max_iter, checkpoint_dir=checkpoint_dir
    ).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    weight_col: str | None = None,
    damping: float = 0.85,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    truncate_every: int = 3,
) -> DataFrame:
    """(node, rank) over a directed edge list — the corpus-weighting /
    spam-triage consumer of :func:`firepit_spark.functions.html.
    host_graph_edges` (feed it straight in with
    ``weight_col="n_links"``).

    Standard damped PageRank with dangling-mass redistribution: ranks
    start uniform at 1/N and each round becomes ``(1-d)/N + d *
    (Σ_incoming rank·w/outw + dangling/N)``, where ``dangling`` is the
    rank mass sitting on nodes with no outgoing edges — redistributing
    it keeps ``Σ rank = 1`` every round (the invariant the tests pin).
    A FIXED ``max_iter`` (no convergence probe) keeps the result exactly
    reproducible by an iteration-for-iteration SQL oracle.

    Plan shape per round: one equi-join of the (src, dst, p) transition
    frame against the rank frame + a groupBy(dst) partial-agg, plus a
    ONE-ROW dangling-mass aggregate cross-joined back via broadcast —
    no driver-side collect in the loop. The transition frame is
    computed once (edge weights normalized by out-weight).

    Lineage control: inside a ``truncate_every``-round window each
    round's rank frame is a LAZY ``localCheckpoint(eager=False)`` —
    the plan collapses to a LogicalRDD leaf immediately (so the next
    round's two references cost O(1) plan size instead of doubling it,
    and AQE's plan-string rendering stays bounded; a plain ``persist``
    is NOT enough, its explain string still expands the cached subtree
    2^k-fold) but NO job runs; every ``truncate_every`` rounds one
    eager checkpoint (:func:`_truncate`) runs the whole window as a
    SINGLE job whose intermediate rounds materialize-and-truncate as
    they are first computed. That amortizes the per-round
    materialization job (the r12-measured dominant cost at 5M edges)
    over k rounds; ``truncate_every=1`` reproduces the old
    checkpoint-every-round behavior. Superseded round blocks are freed
    by the ContextCleaner as the loop rebinds the only reference."""
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    nodes = _truncate(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        eager=True,
        checkpoint_dir=checkpoint_dir,
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outw = e.groupBy("src").agg(F.sum("w").alias("__outw"))
    trans = _truncate(
        e.join(outw, "src").select(
            "src", "dst", (F.col("w") / F.col("__outw")).alias("p")
        ),
        eager=True,
        checkpoint_dir=checkpoint_dir,
    )
    sources = trans.select(F.col("src").alias("node")).distinct()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(max_iter):
        dangling = (
            ranks.join(sources, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        contrib = (
            trans.join(ranks, trans["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("__c"))
        )
        new_ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("__c"), F.lit(0.0))
                       + F.col("__dm") / n)
                ).alias("rank"),
            )
        )
        if (i + 1) % max(truncate_every, 1) == 0 or i == max_iter - 1:
            ranks = _truncate(new_ranks, eager=True,
                              checkpoint_dir=checkpoint_dir)
        else:
            ranks = new_ranks.localCheckpoint(eager=False)
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src_host",
    dst: str = "dst_host",
    weight_col: str | None = None,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    truncate_every: int = 3,
) -> DataFrame:
    """(node, hub, authority) by Kleinberg's HITS over a directed
    (optionally weighted) edge list — PageRank's complement for crawl
    curation: authorities are the content pages worth keeping, hubs the
    link directories worth crawling but not training on.

    Power iteration with L2 normalization after every half-step:
    ``auth(v) = Σ_{u→v} w·hub(u)`` then ``auth /= ‖auth‖₂``, then
    ``hub(u) = Σ_{u→v} w·auth(v)`` then ``hub /= ‖hub‖₂``; hubs start
    at 1. A FIXED ``max_iter`` keeps the result reproducible by an
    iteration-for-iteration SQL oracle (same contract as
    :func:`pagerank`). Nodes without in-edges hold authority 0, without
    out-edges hub 0.

    Plan shape per round: two equi-joins of the edge frame against the
    score frame + groupBy partial-aggs, and two ONE-ROW norm aggregates
    cross-joined back via broadcast — no driver collect in the loop.

    Scores stay SPARSE inside the loop (r13-opt): hub and authority ride
    as separate frames holding only nodes whose raw sum has a
    contribution — zero-score nodes are dropped, not materialized. That
    removes the two nodes-left-joins per round AND the hub⋈auth
    score-frame join per round (5 joins → 2) and shrinks every barrier
    block. Values are bit-identical to the dense form: an absent node's
    0.0 contributes nothing to the edge-join sums (IEEE x+0.0 == x, and
    the oracle's own norm CTE already sums the sparse raw frame), and
    the single final nodes-left-join reinstates the exact 0.0 the dense
    per-round coalesce produced. Lineage control matches
    :func:`pagerank`: multiply-referenced intermediates (each
    half-step's pre-norm frame and the auth frame the hub half-step and
    the final select both read) are LAZY localCheckpoints — plan
    barriers with no per-round job — and one eager checkpoint every
    ``truncate_every`` rounds runs the window as a single job and cuts
    lineage; superseded blocks are ContextCleaner-freed."""
    w = (F.col(weight_col).cast("double") if weight_col
         else F.lit(1.0))
    e = _truncate(
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"),
            w.alias("w"),
        ),
        eager=True,
        checkpoint_dir=checkpoint_dir,
    )
    nodes = _truncate(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        eager=True,
        checkpoint_dir=checkpoint_dir,
    )
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = nodes.select("node", F.lit(0.0).alias("auth")).filter(F.lit(False))

    def _normalized(raw: DataFrame, col: str) -> DataFrame:
        # raw is referenced twice (norm agg + rescale select): a lazy
        # localCheckpoint makes it a shared plan barrier (LogicalRDD
        # leaf, blocks filled on first compute) without running a job.
        # raw is the SPARSE contribution frame — the L2 norm over it is
        # identical to the dense norm (zero rows add exact 0.0), which
        # is also precisely how the SQL oracle's norm CTE computes it.
        raw = raw.localCheckpoint(eager=False)
        norm = raw.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__n")
        )
        return raw.crossJoin(F.broadcast(norm)).select(
            "node",
            F.when(F.col("__n") > 0, F.col(col) / F.col("__n"))
            .otherwise(F.lit(0.0)).alias(col),
        )

    for i in range(max_iter):
        auth_raw = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy(e["dst"].alias("node"))
            .agg(F.sum(F.col("w") * F.col("hub")).alias("auth"))
        )
        # auth is referenced twice (the hub half-step's edge join + the
        # final output select on the last round): lazy localCheckpoint
        auth = _normalized(auth_raw, "auth").localCheckpoint(eager=False)
        hub_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy(e["src"].alias("node"))
            .agg(F.sum(F.col("w") * F.col("auth")).alias("hub"))
        )
        hub = _normalized(hub_raw, "hub")
        # only hub crosses rounds (next auth half-step reads it); auth
        # frames are superseded each round, so the window checkpoint
        # truncates hub alone and auth stays a lazy barrier
        if (i + 1) % max(truncate_every, 1) == 0 or i == max_iter - 1:
            hub = _truncate(hub, eager=True, checkpoint_dir=checkpoint_dir)
        else:
            hub = hub.localCheckpoint(eager=False)
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("authority"),
        )
    )


def roots(df: DataFrame, ref_col: str = "parent_ref") -> DataFrame:
    """Processes with no (known) parent — the tree roots."""
    e = edges_from(df, ref_col)
    no_parent = df.filter(F.col(ref_col).isNull()).select("id")
    dangling = (
        e.select(F.col("parent").alias("id"))
        .join(df.select("id"), "id", "left_anti")
        .distinct()
    )
    return no_parent.unionByName(dangling).distinct()


def process_tree(df: DataFrame, ref_col: str = "parent_ref", max_depth: int = 8) -> DataFrame:
    """Each process annotated with its root ancestor and depth below it."""
    anc = ancestors(df, ref_col, max_depth)
    r = roots(df, ref_col).select(F.col("id").alias("ancestor_id"))
    to_root = anc.join(r, "ancestor_id").select(
        F.col("descendant_id").alias("id"),
        F.col("ancestor_id").alias("root_id"),
        "depth",
    )
    own_root = r.select(
        F.col("ancestor_id").alias("id"),
        F.col("ancestor_id").alias("root_id"),
        F.lit(0).alias("depth"),
    )
    # processes whose parent chain dead-ends outside the table keep their
    # deepest known ancestor as root
    return own_root.unionByName(to_root)


def cluster_representatives(
    labels: DataFrame,
    docs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick the BEST-scoring document per near-dup cluster instead of the
    min-id default — the production keep-one rule (keep the longest /
    highest-quality copy, drop the rest).

    ``labels`` is :func:`dedup_clusters` output; ``docs`` provides the
    score column. Returns (cluster_id, keeper, keeper_score, n_docs).
    Ties break on the id ascending (deterministic) without assuming the
    id is numeric — string doc ids order lexically. One join on the doc
    id + one per-cluster window; cluster sizes bound the window
    partitions, so no skew beyond the largest cluster.
    """
    from pyspark.sql import Window

    scored = labels.join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("__s")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__s").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper"),
            F.col("__s").alias("keeper_score"),
            "n_docs",
        )
    )


def dedup_keep_best(
    df: DataFrame,
    labels: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Filter the corpus to one best-scoring survivor per cluster (plus
    every unclustered document). The quality-aware counterpart of
    fuzzy_dedup's min-id keep-one."""
    reps = cluster_representatives(labels, df, score_col, id_col)
    drop = labels.join(
        reps.select(F.col("keeper").alias("doc_id")), "doc_id", "left_anti"
    ).select(F.col("doc_id").alias(id_col))
    return df.join(drop, id_col, "left_anti")
