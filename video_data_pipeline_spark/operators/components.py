"""Connected components over a pair list (dedup cluster formation).

After near-dup candidate generation (MinHash-LSH / SimHash), duplicates
form *clusters* via transitivity: A~B, B~C ⇒ {A,B,C} dedup together with
one survivor. That closure is an iterative algorithm — the one shape in
this engine that loops over actions (like PageRank/label propagation).

Implementation: min-label propagation with pointer doubling. Each node
starts labeled with itself; every round each node takes the min label
among (a) itself, (b) its neighbors' labels, and (c) the label of the
node its own label points at (the path-shortcut / pointer-jumping step
from Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14). The shortcut typically collapses convergence to a handful of
rounds on the dense cliquish graphs near-dup pairs form — but it is NOT
a worst-case O(log diameter) guarantee (see the corrected bound on
:func:`connected_components`).
Each round is two joins + one groupBy; the round result is truncated
with ``localCheckpoint(eager=True)`` (``persist`` alone keeps the full
logical plan, which embeds ~3 copies of the previous round's plan and
grows ~3^rounds — the driver would OOM compiling round ~6's query).
Superseded rounds' checkpoint blocks are unpersisted explicitly the
moment the next round materializes, so executor storage stays at one
round's footprint instead of waiting on driver GC + ContextCleaner.

At 100 TB scale the edge list (near-dup pairs) is tiny relative to the
corpus, so rounds are cheap; the log-round bound keeps the driver loop
short even on degenerate chain-of-near-dups graphs. As labels converge,
most nodes' candidate label equals the component minimum, so the hop
join concentrates on one key per large component; AQE's skew-join
splitting (enabled in our session defaults) absorbs that hot partition.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free_checkpoint_blocks(df: DataFrame) -> None:
    """Immediately release a *superseded* localCheckpoint's storage blocks.

    ``DataFrame.unpersist()`` only touches CacheManager entries, not the
    RDD a localCheckpoint persisted; those blocks are otherwise freed only
    when the driver GCs the DataFrame and the ContextCleaner drains its
    queue. Over many rounds on a large cluster that lag pins executor
    storage needlessly, so reach the LogicalRDD's underlying RDD and
    unpersist it now. Best-effort: any internals drift degrades silently
    to the GC path.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    strict: bool = False,
) -> DataFrame:
    """Edges (undirected, any orientation) → (node, component) where
    component = min node id reachable. Node set = all endpoint ids.

    Round bound (corrected in r7 — a parity suite on adversarial graph
    shapes caught the old claim): the label-of-label jump
    doubles coverage only when the currently-known min node's OWN
    knowledge extends away from the querying node — true on id-sorted
    paths and on the dense cliquish graphs near-dup pairs form, where
    convergence is a handful of rounds, but on tree-shaped components
    with adversarial id placement the jump adds nothing and propagation
    is O(diameter): a random 200-node / 150-edge graph (largest
    component 111 nodes, tree-like) needs 21 rounds, NOT log₂. Hence
    max_iter=50 (was 20). If the loop exhausts:
    ``strict=True`` raises ``RuntimeError``; otherwise a
    ``RuntimeWarning`` is emitted and the labels are a valid partial
    propagation but NOT the true components.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("component")).persist()

    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nmin"))
        )
        cand = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("cand"),
        )
        # pointer doubling: follow the candidate label one hop through the
        # current labeling (label[label[node]]) and keep the smaller — this
        # is what turns O(diameter) propagation into O(log diameter)
        hop = labels.select(
            F.col("node").alias("cnode"), F.col("component").alias("ccomp")
        )
        # eager localCheckpoint truncates lineage each round — persist()
        # alone would leave a logical plan that grows ~3^rounds and OOMs
        # the driver at plan-compilation time after ~5-6 rounds
        updated = (
            cand.join(hop, cand.cand == hop.cnode, "left")
            .select(
                "node",
                F.least(
                    F.col("cand"), F.coalesce(F.col("ccomp"), F.col("cand"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .where(F.col("u.component") != F.col("l.component"))
            .count()
        )
        labels.unpersist()
        _free_checkpoint_blocks(labels)  # no-op for the round-0 cached labels
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"connected_components: no convergence after {max_iter} rounds; "
            "labels are a partial propagation (graph diameter exceeds "
            f"~2**{max_iter})"
        )
        if strict:
            sym.unpersist()
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    sym.unpersist()
    # labels is already an eager localCheckpoint (or, with max_iter=0, the
    # trivial node->node labeling), so the caller never recomputes the chain
    return labels


