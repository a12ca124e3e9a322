"""Connected components over candidate-duplicate pairs: the step
after near-dup detection — group transitively-linked documents into
clusters so one representative per cluster survives.

Algorithm: iterative min-label propagation (each node repeatedly
adopts the smallest label among itself and its neighbors until
fixpoint). Converges in O(diameter) rounds; near-dup clusters are
shallow (diameter ≲ 5 in practice), so the loop is short. Each round
is one shuffle on the node id — at 100 TB this is the standard
large-graph CC pattern (GraphX/GraphFrames use the same skeleton);
``max_iter`` bounds the worst case and a local checkpoint every few
rounds truncates the growing lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from analyst_spark.functions.dedup import checkpoint, persist


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int = 5,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component id =
    min node id in the component. Deterministic."""
    # read twice by the edge union; a pair list its owner already
    # persisted or checkpointed is used as it is
    p = persist(pairs, fill=False)
    # lineage-truncating: every loop round re-reads the edge list —
    # without this the (possibly expensive) pair pipeline upstream
    # re-executes inside each round's actions. Materialized by the
    # first round's action.
    edges = checkpoint(
        p.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(p.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    labels = persist(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        fill=False,
    )
    # convergence via the label-sum invariant: min-label propagation
    # only ever DECREASES a label, so the total strictly decreases iff
    # any label changed — one tiny aggregate per round instead of the
    # join-against-previous-labels the check used to pay (r14; the
    # aggregate job also fills the new labels' cache, so the per-round
    # job count is unchanged). decimal(38,0): an int64 sum would
    # overflow at ~10^12 nodes with wide ids; exactness is what makes
    # sum-equality ⟺ fixpoint. SOUND ONLY FOR INTEGRAL IDS (ADVICE
    # r14): a fractional id rounds under the decimal cast (2.4 → 2
    # masks a change) and a string id casts to NULL (SUM skips it) —
    # non-integral node columns take the type-agnostic join check.
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    integral_ids = isinstance(
        labels.schema["label"].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = None
    for i in range(max_iter):
        # each node's candidate label: min of its own and its
        # neighbors' current labels
        neighbor = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.select("node", "label").union(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # each round's action below materializes the new labels; a
        # superseded persisted round is unpersisted right after it,
        # checkpointed rounds (and the final labels) are freed by
        # release_cached
        if (i + 1) % checkpoint_every == 0:
            new_labels = checkpoint(new_labels)
        else:
            new_labels = persist(new_labels, fill=False)
        if integral_ids:
            new_sum = new_labels.agg(label_sum.alias("s")).first()["s"]
            labels.unpersist()
            labels = new_labels
            # None = empty graph (no first-round skip needed
            # otherwise: every component has >= 2 nodes, so round 1
            # always changes its max node's label)
            if new_sum is None or new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
    return labels.select(F.col("node"), F.col("label").alias("component"))
