"""CSR-blocked relax for the label-correcting fixpoint core.

North-star architecture item (BASELINE.json:6): "iterative kernels
operate on CSR-blocked adjacency partitions". The plain relax
(operators/sssp.py) advances one hop per superstep; on high-diameter
graphs the superstep count — not per-superstep cost — dominates.

The block relax co-partitions the frontier with the edge blocks by
``(node // block_width) % P`` and, inside each partition, runs a LOCAL
label-correcting fixpoint over that block's adjacency held as CSR numpy
arrays (built per batch from the Arrow columns — no Python-object graph).
Edges whose destination lands in the same block relax immediately;
cross-block improvements exit as messages for the global min-merge. One
global superstep therefore advances through arbitrarily long intra-block
chains ("block-centric" iteration, cf. Giraph++/Blogel), cutting global
rounds toward the number of block-boundary crossings on the shortest
path.

Everything else is ``operators.sssp.label_fixpoint``: ``csr_fixpoint``
hands it the block relax, so the global merge, the tie-break and the job
budget are the core's. The local loop applies the same lexicographic-min
updates over the same label (``SSSP_BLOCK``: ``(dist, prev_dist, prev)``;
``ZIGZAG_BLOCK``: ``(dist, g, prev)``), and the least fixpoint is unique,
so dists AND prevs match the plain relax exactly (tested).
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.supersteps import SuperstepResult
from .sssp import SSSP_COLS, SSSP_IDS, SSSP_KEY, label_fixpoint
from .zigzag import ZIGZAG_IDS, ZIGZAG_KEY, zigzag_seeds


class BlockLabel(NamedTuple):
    """A fixpoint state in block form: ``ids``/``key`` as in
    ``label_fixpoint``, their Arrow ``schema``, the edge columns a label
    reads and ``extend(label_u, u, *edge) -> label_v`` for one relaxed edge
    ``u -> v`` (the plain relax's message projection, per edge)."""

    ids: tuple
    key: tuple
    schema: str
    edge_cols: tuple
    extend: Callable


SSSP_BLOCK = BlockLabel(
    SSSP_IDS,
    SSSP_KEY,
    "qid long, node long, dist double, prev_dist double, prev long",
    ("weight",),
    lambda lu, u, w: (lu[0] + w, lu[0], u),
)
# g resets to 0 on a positive-weight flip edge, else parent g + 1
ZIGZAG_BLOCK = BlockLabel(
    ZIGZAG_IDS,
    ZIGZAG_KEY,
    "node long, dist double, g int, prev long",
    ("weight", "is_flip"),
    lambda lu, u, w, flip: (lu[0] + w, 0 if flip and w > 0 else lu[1] + 1, u),
)


def _local_relax_factory(
    label: BlockLabel, num_blocks: int, cutoff: float, block_width: int
):
    """Cogrouped-map fn: (frontier block, edge block) -> improved labels
    reached through any number of intra-block hops."""
    n_ids = len(label.ids)
    cols = [*label.ids, *label.key]

    def fn(frontier: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if frontier.empty or edges.empty:
            return frontier[cols]
        order = np.argsort(edges["src"].to_numpy(), kind="stable")
        esrc = edges["src"].to_numpy()[order]
        edst = edges["dst"].to_numpy()[order].tolist()
        eattr = list(zip(*(edges[c].to_numpy()[order].tolist() for c in label.edge_cols)))
        # CSR over the block's source vertices
        uniq, starts = np.unique(esrc, return_index=True)
        starts = np.append(starts, len(esrc))
        src_pos = {int(s): (int(starts[i]), int(starts[i + 1])) for i, s in enumerate(uniq)}

        # seed the local best map with the incoming frontier labels so
        # intra-block improvements compare against them
        best: dict[tuple, tuple] = {}
        for row in zip(*(frontier[c].tolist() for c in cols)):
            k, lab = row[:n_ids], row[n_ids:]
            if k not in best or lab < best[k]:
                best[k] = lab
        out: dict[tuple, tuple] = {}
        stack = list(best)
        while stack:
            k = stack.pop()
            u = k[-1]
            rng = src_pos.get(u)
            if rng is None:
                continue
            lu = best[k]
            for i in range(rng[0], rng[1]):
                cand = label.extend(lu, u, *eattr[i])
                if cand[0] > cutoff:
                    continue
                v = edst[i]
                kv = (*k[:-1], v)
                if kv not in best or cand < best[kv]:
                    best[kv] = cand
                    out[kv] = cand
                    # only same-block destinations can relax further locally
                    if (v // block_width) % num_blocks == (u // block_width) % num_blocks:
                        stack.append(kv)

        # emit only labels set/improved by local relaxation (the incoming
        # frontier is already in the global state)
        return pd.DataFrame([(*k, *lab) for k, lab in out.items()], columns=cols)

    return fn


def csr_fixpoint(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    label: BlockLabel,
    cutoff: float,
    num_blocks: Optional[int],
    block_width: int,
    max_iter: int,
) -> SuperstepResult:
    """``label_fixpoint`` with the block relax over ``edges`` (src, dst,
    *label.edge_cols). ``block_width``: ids are blocked by
    ``(id // block_width) % num_blocks`` — width 1 is a round-robin
    (hash-like) blocking; a larger width gives RANGE blocking, which is
    what makes block-centric iteration pay off on graphs whose id
    assignment preserves locality (crawl-order url ids, dictionary-encoded
    host-sorted ids): intra-block chains collapse into one superstep."""
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def blk(c: str):
        return F.pmod(F.floor(F.col(c) / F.lit(block_width)), F.lit(num_blocks))

    eb = edges.select("src", "dst", *label.edge_cols).withColumn("_blk", blk("src"))
    _frontier_blk = blk("node")
    fn = _local_relax_factory(label, num_blocks, float(cutoff), block_width)

    def relax(frontier: DataFrame, i: int) -> DataFrame:
        return (
            frontier.withColumn("_blk", _frontier_blk)
            .groupBy("_blk")
            .cogroup(eb.groupBy("_blk"))
            .applyInPandas(fn, schema=label.schema)
        )

    return label_fixpoint(
        spark, seeds, label.ids, label.key, relax, max_iter=max_iter, name="csr"
    )


def zigzag_sssp_csr(
    spark: SparkSession,
    state_edges: DataFrame,
    seed_states: list[int],
    cutoff: float,
    num_blocks: Optional[int] = None,
    block_width: int = 2,
    max_iter: int = 10_000,
) -> DataFrame:
    """Block-centric zigzag relaxation over the doubled-state graph
    (operators/zigzag.py semantics; ``state_edges`` must already exclude
    flips out of the seed states). Zigzag graphs are dominated by 0-cost
    moves (forward/backward hops, sibling transfers), so block-local
    convergence collapses long 0-cost chains into one superstep.
    block_width defaults to 2 so both states of a node share a block.
    Returns (node=state, dist, g, prev) equal to zigzag_sssp's state."""
    result = csr_fixpoint(
        spark, state_edges, zigzag_seeds(spark, seed_states), ZIGZAG_BLOCK,
        cutoff, num_blocks, block_width, max_iter,
    )
    return result.state.select(*ZIGZAG_IDS, *ZIGZAG_KEY)


def bounded_sssp_csr(
    spark: SparkSession,
    edges_w: DataFrame,
    seeds: DataFrame,
    cutoff: float,
    num_blocks: Optional[int] = None,
    block_width: int = 1,
    max_iter: int = 10_000,
) -> DataFrame:
    """Block-centric variant of ``bounded_sssp`` (scalar cutoff, no sinks;
    the plain kernel covers the full parameter surface). Returns the same
    converged state (qid, node, dist, prev, prev_dist); see
    ``csr_fixpoint`` for ``block_width``."""
    result = csr_fixpoint(
        spark, edges_w, seeds, SSSP_BLOCK, cutoff, num_blocks, block_width, max_iter
    )
    return result.state.select(*SSSP_COLS)
