"""Connected components over a near-dup pair graph → dedup clusters.

The dedup pipeline's last stage: pair emitters (MinHash-LSH, SimHash,
embedding-LSH — operators/dedup.py, simsearch.py) produce EDGES, but
what a corpus build actually needs is one CLUSTER id per document and
one canonical survivor per cluster (near-duplication is transitive in
effect: A≈B and B≈C must collapse to one kept doc even when A,C were
never paired).

One engine, ``connected_components``: min-label components by GRAPH
CONTRACTION in Spark, finished by one single-task NumPy pass. Labels
are (node, min reachable id).

- contraction rounds: each round maps every node to
  l(u) = min(u, Γ(u)), compresses that mapping to idempotence by
  squaring (l ← l∘l until stable), and relabels the edge list through
  it — self-loops drop, duplicates collapse. Near-dup graphs
  (quasi-cliques from LSH buckets plus chain-of-cluster tails) shrink
  geometrically: measured 190,925 → 229 → 2 edges on the sf0.1 LSH
  pair graph. Every loop join is hash-partitioned on node ids; the only
  driver state is the per-frame row counts, which ride the checkpoint
  jobs as observed metrics.
- one gate, ``_CC_LOCAL_FINISH_ROWS``: once the MEASURED edge count
  satisfies 2·edges ≤ the gate, the remaining graph fits one task and
  ``_cc_local_finish`` labels it in one Arrow crossing — on entry for
  graphs already under the gate, otherwise right after the contraction
  round that brings the graph under it. Spark therefore only runs
  rounds on graphs above the gate: at 100 TB the first billions-of-
  edges rounds stay distributed and the finish sees the contracted
  remnant.
- lineage: each loop frame is eagerly localCheckpoint-ed — without
  truncation the plan doubles every iteration and Catalyst analysis,
  not the data, becomes the bottleneck. On a cluster with an HDFS
  checkpoint dir, swap for ``checkpoint()`` (documented, not
  env-gated: local mode has no reliable checkpoint dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Size-based partitioning for the contraction loop's frames (mapping /
# contracted-edge tables). The coalesce happens BEFORE the
# localCheckpoint, so it also sets the parallelism of the stage that
# COMPUTES the frame — 100k rows/partition keeps a large round parallel
# (measured: 2M here serialized round 1 into one task and cost more
# than it saved; the r6 "128m scan splits can serialize local map
# stages" lesson, rediscovered). At scale the count is capped by the
# input's own partition count.
_LOOP_ROWS_PER_PARTITION = 100_000

# r14 OPT (guide §4.2 "do the heavy lifting in native code", §2.6 job
# overhead): once the MEASURED edge count clears this gate the whole
# remaining component computation fits one task, and further Spark
# rounds are pure driver round-trips — 19 jobs on the sf0.1 ER match
# graph to contract ~135k edges that one vectorized Shiloach-Vishkin
# pass labels in milliseconds. ≤ 1M node rows of (long, long) ≈ 16 MB —
# trivially one-task-sized, and small enough to broadcast when the
# finish's labels are composed. Tests pin the loop by zeroing it.
_CC_LOCAL_FINISH_ROWS = 1_000_000


def _maybe_broadcast(df: DataFrame, bound_rows: int) -> DataFrame:
    """Broadcast-hint ``df`` when its row bound clears the gate.

    Auto-broadcast never fires on the loop's frames: a checkpointed
    frame keeps its source plan's size estimate and a join's estimate
    is the product of its children's, so the estimates balloon (their
    digit count doubles with every squaring pass). The row bound comes
    from the measured edge counts instead."""
    return F.broadcast(df) if bound_rows <= _CC_LOCAL_FINISH_ROWS else df


def _cc_local_finish(base: DataFrame) -> DataFrame:
    """(u, v) long edges, gate-bounded → (node, comp) in ONE Arrow
    crossing over a single partition: root hooking plus pointer jumping
    (Shiloach–Vishkin shape) in NumPy.

    Exactness: labels start as each node's own id (via its index in
    the SORTED unique node array, so index order == id order). Each
    pass hooks every tree ROOT onto the smallest root label across the
    edges leaving its tree, then compresses pointers until every tree
    is a star; labels only decrease and a label is always a node of the
    same component. At the fixpoint no edge joins two trees, so each
    component is one star rooted at its minimum — exactly (node, min
    reachable id), the contract of the contraction loop. Hooking roots
    (not just edge endpoints) is what keeps the pass count logarithmic
    in practice: endpoint-only hooking moves a label one hop per pass
    inside a tree, i.e. diameter-many passes on a path with shuffled
    ids (measured: 2,171 passes for a 3,000-node path, against 10 with
    root hooking). Every non-final pass lowers at least one root, so
    the loop terminates. Integer arithmetic only; row order is
    deterministic (sorted by node). Self-loops are harmless; the
    caller keeps NULL endpoints away from it.
    """

    def finish(batches):
        import numpy as np
        import pyarrow as pa

        us, vs = [], []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            us.append(batch.column(0).to_numpy(zero_copy_only=False))
            vs.append(batch.column(1).to_numpy(zero_copy_only=False))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        nodes = np.unique(np.concatenate([u, v]))
        ui = np.searchsorted(nodes, u)
        vi = np.searchsorted(nodes, v)
        lab = np.arange(len(nodes), dtype=np.int64)
        while True:
            new = lab.copy()
            # hook: every root takes the min root label across its edges
            lu, lv = lab[ui], lab[vi]
            np.minimum.at(new, lu, lv)
            np.minimum.at(new, lv, lu)
            # compress: labels only ever decrease and new[x] <= x by
            # construction, so chasing pointers is monotone
            while True:
                nn = new[new]
                if np.array_equal(nn, new):
                    break
                new = nn
            if np.array_equal(new, lab):
                break
            lab = new
        comp = nodes[lab]
        step = 1 << 20
        for i in range(0, len(nodes), step):
            yield pa.record_batch(
                [pa.array(nodes[i : i + step]), pa.array(comp[i : i + step])],
                names=["node", "comp"],
            )

    return base.coalesce(1).mapInArrow(finish, "node bigint, comp bigint")


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iters: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(a, b) undirected edges → (node, comp); comp = min node id reachable.

    Only nodes that appear in at least one edge are returned (isolated
    docs are their own cluster trivially — callers left-join if they
    want singletons labeled); a node whose only edge is a self-loop is
    returned labeled by itself.

    Min-label CC by GRAPH CONTRACTION (r7, VERDICT r6 #2): instead of
    joining the FULL edge list against a label table every round,
    relabel the edges themselves into the label graph each round —
    edge (u, v) becomes (l(u), l(v)), self-loops drop, duplicates
    collapse. Before each application the round's mapping is compressed
    to idempotence by repeated squaring (self-joins of the mapping
    table, ≤ log₂ chain length of them), so even a pure path graph
    collapses in O(1) contraction rounds. As soon as the measured edge
    count satisfies 2·edges ≤ ``_CC_LOCAL_FINISH_ROWS`` — on entry or
    after any round — ``_cc_local_finish`` labels the remaining graph
    in one task and its labels become the last mapping.

    Exactness: l(u) = min(u, Γ(u)) maps every node to a node of the
    same component; the component minimum maps to itself every round,
    and the label-graph image of a connected set is connected, so a
    component becomes edgeless only when contracted to a single node —
    necessarily its min — and a component still carrying edges still
    contains its min, which is therefore what the local finish labels
    it with. Composing the per-round mappings into ``labels`` yields
    exactly (node, min reachable id) (pytest-proven against union-find
    on chains, cliques, random graphs and the real LSH pair graph).

    Job-overhead discipline (round-trips, not data, dominate small
    frames): every driver probe (edge count, squaring stability) rides
    the frame's eager-checkpoint job as an observed metric; per-round
    mappings are composed into the final labels ONCE after the loop
    (k left-joins in one plan over checkpointed inputs); and loop
    frames are coalesced to ~``_LOOP_ROWS_PER_PARTITION`` rows per
    partition from the measured edge count.

    ``stats`` (if a dict is passed) records ``rounds`` (contraction
    rounds run in Spark), ``edges_per_round`` (the edge count entering
    each Spark round, then the count handed to the local finish) and
    ``local_finish`` (True when the finish ran).
    """
    base_obs = Observation()
    base = (
        pairs.select(
            F.col(a).cast("long").alias("u"), F.col(b).cast("long").alias("v")
        )
        .observe(
            base_obs,
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.col("u").isNull() | F.col("v").isNull(), 1)
            ).alias("nulls"),
        )
        .localCheckpoint(eager=True)
    )
    sym = base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
    next_n_edges = int(base_obs.get["n"])
    # NULL endpoints keep round 1 in Spark, whose group/join semantics
    # define them (a NULL node comes back labeled NULL). Contracted
    # edges never carry NULLs — the relabeling equi-joins drop them —
    # so after round 1 the finish is always allowed.
    finish_ok = int(base_obs.get["nulls"]) == 0
    # The loop's edge list stays ONE-DIRECTIONAL: the per-round min is
    # computed over a lazy two-scan union of the checkpointed frame
    # (symmetrizing inside the aggregation), and contracted edges are
    # re-canonicalized with greatest/least. Round 1 reads the caller's
    # pair list as-is (dups and self-loops are harmless: min() ignores
    # dups, a self-loop contributes its own id, and relabeled
    # self-loops drop at the lu != lv filter).
    edges = base
    rounds = 0
    edge_counts: list[int] = []
    mappings: list[DataFrame] = []
    mapping_bounds: list[int] = []
    finished = None
    while True:
        n_edges = next_n_edges
        if n_edges == 0:
            break
        edge_counts.append(n_edges)
        # Mapping table rows = nodes of the current graph <= 2·n_edges.
        node_bound = 2 * n_edges
        if finish_ok and node_bound <= _CC_LOCAL_FINISH_ROWS:
            finished = _cc_local_finish(edges)
            break
        if rounds >= max_iters:
            # Checked AFTER the emptiness probe so a graph that converges
            # in exactly max_iters rounds doesn't raise spuriously.
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                "rounds (pathological input — raise max_iters)"
            )
        rounds += 1
        finish_ok = True
        in_parts = base.rdd.getNumPartitions()
        nparts = max(1, min(in_parts, -(-n_edges // _LOOP_ROWS_PER_PARTITION)))
        l = (
            edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("l"))
            .coalesce(nparts)
            .localCheckpoint(eager=True)
        )
        # Compress the mapping to idempotence before applying it:
        # pointer-chain reach must cover the longest label chain —
        # quasi-cliques converge immediately, a path graph needs
        # log-many squarings. A SINGLE jump is not enough: on a chain it
        # only shifts labels by a constant, leaving Θ(n) contraction
        # rounds. The jump target l(u) is a current-graph node, hence
        # in l's own domain (the symmetrized aggregation puts every
        # endpoint in u); LEFT + coalesce is defensive only.
        for _ in range(64):
            sq_obs = Observation()
            l2 = (
                l.join(
                    l.select(F.col("u").alias("l"), F.col("l").alias("ll")),
                    "l",
                    "left",
                )
                .select(
                    "u",
                    F.coalesce("ll", "l").alias("l"),
                    (F.coalesce("ll", "l") != F.col("l")).alias("_moved"),
                )
                .coalesce(nparts)
                .observe(
                    sq_obs,
                    F.count(F.when(F.col("_moved"), 1)).alias("moved"),
                )
                .localCheckpoint(eager=True)
            )
            stable = int(sq_obs.get["moved"]) == 0
            l = l2.select("u", "l")
            if stable:
                break
        else:  # pragma: no cover — 2^64 exceeds any pointer chain
            raise RuntimeError("mapping compression did not converge")
        mappings.append(l)
        mapping_bounds.append(node_bound)
        e_obs = Observation()
        edges = (
            edges.join(l.select("u", F.col("l").alias("lu")), "u")
            .join(l.select(F.col("u").alias("v"), F.col("l").alias("lv")), "v")
            .where(F.col("lu") != F.col("lv"))
            .select(
                F.greatest("lu", "lv").alias("u"),
                F.least("lu", "lv").alias("v"),
            )
            .distinct()
            .coalesce(nparts)
            .observe(e_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        next_n_edges = int(e_obs.get["n"])
    if stats is not None:
        stats["rounds"] = rounds
        # free telemetry — the counts double as the termination checks
        stats["edges_per_round"] = edge_counts
        if finished is not None:
            stats["local_finish"] = True
    if finished is not None:
        if not mappings:
            # finish on entry: it labels every node of the input already
            return finished
        mappings.append(
            finished.select(F.col("node").alias("u"), F.col("comp").alias("l"))
        )
        mapping_bounds.append(2 * edge_counts[-1])
    # Compose the per-round mappings once: node → l₁ → l₂ → … → lₖ.
    # Every input is checkpointed, so this is k small left-joins in ONE
    # plan/action instead of k checkpointed folds inside the loop. A
    # node absent from a round's mapping had already contracted to its
    # final (edgeless) label — the coalesce keeps it. Labels cover every
    # edge-touched node INCLUDING self-loop-only ones.
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for i, m in enumerate(mappings):
        labels = labels.join(
            _maybe_broadcast(
                m.select(
                    F.col("u").alias("comp"), F.col("l").alias(f"_n{i}")
                ),
                mapping_bounds[i],
            ),
            "comp",
            "left",
        ).select("node", F.coalesce(f"_n{i}", "comp").alias("comp"))
    return labels


def split_oversized_clusters(
    comp: DataFrame,
    attrs: DataFrame,
    verify,
    max_cluster_size: int,
) -> DataFrame:
    """(r7, VERDICT r6 #5) The production escalation behind the
    over-merge tripwire: members of clusters larger than
    ``max_cluster_size`` are re-verified DIRECTLY against the cluster
    hub (the record whose id is the cluster label, i.e. the min
    member); members that fail the pairwise check split out as
    singleton clusters instead of riding a transitive chain.

    ``comp`` is (node, comp) as returned by ``connected_components``.
    ``attrs`` is (node, attr) — the attribute the verifier reads.
    ``verify`` is a callable ``(member_attr: Column, hub_attr: Column) -> boolean
    Column`` (e.g. ``lambda m, h: F.levenshtein(m, h) <= 1``).

    Scale shape: the oversized-cluster id list is tiny by construction
    (it's the anomaly set) and broadcast; members re-join attrs hash-
    partitioned on node/comp — never all-pairs. Known limitation,
    deliberate scope: split-outs are singletons — a production pipeline
    re-blocks them for a second pass; what this stage guarantees is
    that no record stays merged WITHOUT a direct pairwise match to its
    hub. Members whose attr (or whose hub's attr) is MISSING from
    ``attrs`` therefore also split out: they cannot be verified, and
    the guarantee — plus "no row ever vanishes" (r7 review: the old
    inner joins silently dropped them) — beats keeping an unprovable
    merge."""
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("_n"))
    oversized = sizes.where(F.col("_n") > max_cluster_size).select("comp")
    keep = comp.join(oversized, "comp", "left_anti").select("node", "comp")
    attr_m = attrs.select(
        F.col(attrs.columns[0]).alias("node"),
        F.col(attrs.columns[1]).alias("_attr_m"),
    )
    attr_h = attrs.select(
        F.col(attrs.columns[0]).alias("comp"),
        F.col(attrs.columns[1]).alias("_attr_h"),
    )
    # LEFT joins so a missing attr row can never drop a member; a NULL
    # attr makes verify() evaluate NULL, the when() falls through, and
    # the member splits to a singleton — unverifiable ≠ merged.
    checked = (
        comp.join(F.broadcast(oversized), "comp")
        .join(attr_m, "node", "left")
        .join(attr_h, "comp", "left")
        .select(
            "node",
            F.when(
                (F.col("node") == F.col("comp"))
                | verify(F.col("_attr_m"), F.col("_attr_h")),
                F.col("comp"),
            )
            .otherwise(F.col("node"))
            .alias("comp"),
        )
    )
    return keep.union(checked)


def dedup_clusters(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_cluster_size: int | None = None,
    oversize_action: str = "raise",
    attrs: DataFrame | None = None,
    verify=None,
) -> DataFrame:
    """Edges → (doc_id, cluster_id, is_canonical).

    ``cluster_id`` is the min doc_id in the component; the canonical
    survivor is that min doc (deterministic, order-independent — the
    same keep-lowest rule as exact dedup's min(doc_id)). Components come
    from ``connected_components``: graph contraction in Spark while the
    edge count is above ``_CC_LOCAL_FINISH_ROWS``, a single-task NumPy
    finish below it.

    ``max_cluster_size`` (r6, VERDICT r5 #4): transitive closure over a
    pairwise similarity predicate can chain-merge records that are NOT
    pairwise similar (A≈B, B≈C, but A,C far apart — the classic
    entity-resolution over-merge). ``oversize_action`` picks the
    response (r7, VERDICT r6 #5):

    - ``"raise"`` (default): the cheap tripwire — any component larger
      than the cap raises, naming offending cluster ids. Costs one
      extra action over the (already materialized) label table.
    - ``"split"``: the documented production escalation — members of
      oversized clusters are re-verified directly against the cluster
      hub via ``split_oversized_clusters`` (requires ``attrs`` +
      ``verify``); failures become singletons instead of silently
      riding the chain.
    """
    if oversize_action not in ("raise", "split"):
        raise ValueError(f"unknown oversize_action: {oversize_action!r}")
    if oversize_action == "split" and max_cluster_size is None:
        # An explicitly configured escalation must never silently no-op
        # (r7 review: the old nesting skipped the whole stage).
        raise ValueError(
            "oversize_action='split' requires max_cluster_size — without "
            "a cap the escalation would silently never fire"
        )
    comp = connected_components(pairs, a, b)
    if max_cluster_size is not None and oversize_action == "split":
        if attrs is None or verify is None:
            raise ValueError(
                "oversize_action='split' needs attrs (node, attr) and a "
                "verify(member, hub) predicate"
            )
        comp = split_oversized_clusters(comp, attrs, verify, max_cluster_size)
    elif max_cluster_size is not None:
        bad = (
            comp.groupBy("comp")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_cluster_size)
            .limit(5)
            .collect()
        )
        if bad:
            ids = [(r["comp"], r["n"]) for r in bad]
            raise ValueError(
                f"over-merged clusters exceed max_cluster_size="
                f"{max_cluster_size}: (cluster_id, size) = {ids} — "
                "transitive chaining has fused dissimilar records; "
                "re-verify pairs within these clusters (oversize_action="
                "'split') or tighten the match predicate"
            )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).cast("int").alias("is_canonical"),
    )
