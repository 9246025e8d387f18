"""Iterative graph analytics: PageRank by fixed-iteration power
method, hash-portable across engines.

Companion to cluster.py's connected components (the other iterative
operator): every iteration is one distributed join + one exact decimal
aggregation over (node, rank) pairs — the shuffle never carries more
than the rank vector. Fixed iteration count (not convergence polling)
keeps the job count deterministic and the results bit-identical to the
unrolled-CTE SQL oracle.

Numeric discipline (functions/hashsafe.py rationale): the whole
iteration is EXACT INTEGER arithmetic in units of 1e-10 — per-edge
contribution round_half_up(rank/outdeg) as (2r + d) div (2d), the
per-node reduction an exact bigint sum (order-independent), and the
damped update with damping as an exact rational. No decimal->double
conversion anywhere (the old decimal/double form differed by 1 ulp
between engines — caught by the round-8 sf1.0 hash sweep). No step
depends on partition or scan order, so a 1000-executor run hashes
identically to local[1].

At 100 TB: ranks are |V|-sized, edges |E|-sized; each round is an
equi-join edges ⋈ ranks (shuffle on node id) + map-side-combinable
sum. localCheckpoint per round bounds lineage growth exactly as in
connected_components.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint, release

DEC_PR = "decimal(20,10)"


def pagerank(edges: DataFrame, iterations: int = 5,
             damping: float = 0.85, checkpoint_every: int = 6,
             broadcast_ranks: bool = True,
             assume_distinct: bool = False) -> DataFrame:
    """Rank nodes of a directed edge list (``src``, ``dst``).

    Every node is assumed to have out-degree >= 1 (callers with
    undirected graphs pass both edge directions, which guarantees it;
    true sink handling would redistribute sink mass and is not needed
    for the bidirectional corpus graphs this engine builds).
    Returns (node, rank) with rank as decimal(20,10).

    broadcast_ranks: with it, each iteration ships the |V|-sized rank
    vector to the edge partitions and the checkpointed edge relation is
    never re-shuffled — one exchange per round (the contrib agg)
    instead of two (measured 1.5x at sf0.1). Right whenever |V| fits
    in executor memory (dim-bounded graphs like this one). For
    web-scale |V|, set False and pre-partition edges by src once —
    the join then co-locates against the rank vector's hash
    partitioning round over round.
    """
    from pyspark.sql import Window as W

    edges = edges.select("src", "dst")
    # a duplicated edge would double-count its contribution, so dedup
    # unless the caller's construction already guarantees uniqueness
    # (assume_distinct skips a full |E| shuffle in that case)
    if not assume_distinct:
        edges = edges.distinct()
    # one checkpointed relation (src, dst, d): the per-iteration join
    # is then a single equi-join against the rank vector.
    if broadcast_ranks:
        # Persist the (possibly expensive) caller-constructed edge
        # relation FIRST: everything below (degree agg, node set, the
        # per-round join input) derives from it, and without the
        # persist the construction re-executes once per derivation
        # (measured: edge construction dominated q_graph_pagerank at
        # sf0.1, and it ran ~3x — nodes checkpoint, degree agg, cache
        # fill).  One pass now materializes it for all consumers.
        edges = edges.persist()
        # out-degree via map-side-combined groupBy (shuffle carries
        # ~|V| partial counts, not |E| rows) broadcast-joined back —
        # the degree relation is |V|-sized, the same memory license as
        # broadcasting the rank vector below. Measured 1.6 s faster at
        # sf0.1 than the window form, which shuffles AND sorts all |E|
        # rows on src.
        deg = edges.groupBy("src").agg(F.count("*").alias("d")).persist()
        # edges_d stays LAZY (optimization round r12): caching it was a
        # THIRD |E|-sized materialization per call (edges cache + deg
        # cache + edges_d cache); re-deriving it per round is one
        # broadcast-hash-join probe over the already-cached edges —
        # cheaper than the fill it replaces at every scale, and one
        # less |E| relation held in executor storage (guide §5).
        edges_d = edges.join(F.broadcast(deg), "src")
        # every node has out-degree >= 1 (see docstring), so the node
        # set IS deg's key set — |V|-sized, already distinct, no extra
        # pass over |E|.
        nodes = deg.select(F.col("src").alias("node"))
    else:
        # web-scale path (|V| too big to broadcast): out-degree rides
        # a window count over the src partitioning — one shuffle, and
        # the resulting partitioning co-locates the per-round join
        edges_d = (edges.withColumn(
            "d", F.count("*").over(W.partitionBy("src")))
            .localCheckpoint(eager=True))
        nodes = (edges_d.select(F.col("src").alias("node")).distinct()
                 .localCheckpoint(eager=True))
    # one driver-side scalar (same license as the convergence counts in
    # cluster.py): the teleport term needs |V| as a literal; in the
    # broadcast branch this count is also the single action that fills
    # the edges/deg caches.
    n_nodes = nodes.count()
    # PURE INTEGER iteration in units of 1e-10 (round 8): the previous
    # form quantized each step to decimal(20,10) but routed the damped
    # update through `cast(sum as double)` — decimal->double conversion
    # and the subsequent round() differ by 1 ulp between engines, which
    # the sf1.0 hash sweep exposed as a last-decimal rank flip. With
    # damping as an exact rational (Fraction of its decimal string) and
    # round-half-up expressed as (2a + b) div (2b), every step is exact
    # bigint arithmetic — bit-identical on ANY engine by construction.
    from fractions import Fraction

    scale = 10 ** 10
    dfrac = Fraction(str(damping))
    dnum, dden = dfrac.numerator, dfrac.denominator
    tnum, tden = (1 - dfrac).numerator, (1 - dfrac).denominator
    t_int = ((2 * tnum * scale + tden * n_nodes)
             // (2 * tden * n_nodes))
    r0_int = (2 * scale + n_nodes) // (2 * n_nodes)
    # long literals: r0 fits int32, but 2*r in the contrib expression
    # then wraps 32-bit — cast the seed (and the teleport term below)
    # to bigint explicitly
    ranks = nodes.select("node", F.lit(r0_int).cast("long").alias("r"))

    def _round(ranks, _):
        # (r12 rejected experiment: computing the per-src contribution
        # on the |V|-sized deg ⋈ broadcast(ranks) join and broadcasting
        # THAT onto the raw edges doubled the per-round broadcast-build
        # jobs — measured 4.61 → 5.69 s at matched calib on
        # q_graph_pagerank. One broadcast per round, per-edge division,
        # wins locally.) In the web-scale branch |V| is too big to
        # broadcast: the rank vector shuffle-joins against edges_d's
        # src partitioning.
        contrib = ((F.broadcast(ranks) if broadcast_ranks else ranks)
                   .join(edges_d, F.col("node") == edges_d.src)
                   .select(F.col("dst"),
                           F.expr("(2 * r + d) div (2 * d)")
                           .alias("contrib")))
        return (contrib.groupBy(F.col("dst").alias("node"))
                .agg(F.sum("contrib").alias("s"))
                .select("node",
                        (F.lit(t_int).cast("long")
                         + F.expr(f"(2 * {dnum} * s + {dden}) "
                                  f"div (2 * {dden})")).alias("r")))

    # short fixed-k runs stay one lazy plan (each eager materialization
    # costs a scheduled job — measured slower than the lineage it saves
    # below ~6 rounds); long convergence loops bound lineage growth at
    # this cadence. The final |V|-sized ranks are materialized inside
    # the operator call, so its caches can be released here — without
    # that the persisted |E| relation leaks executor storage across a
    # 477-query sweep (VERDICT r11 item 8); callers (and the bench) pay
    # identical total work.
    ranks = fixpoint(ranks, _round, iterations, every=checkpoint_every)
    for df in (edges, deg) if broadcast_ranks else (edges_d, nodes):
        release(df)
    return ranks.select(
        "node",
        F.expr("cast(cast(r as decimal(20,0))"
               " * cast(0.0000000001 as decimal(11,10))"
               f" as {DEC_PR})").alias("rank"))


def pagerank_oracle_sql(edges_cte: str, iterations: int = 5,
                        damping: float = 0.85) -> str:
    """The DuckDB twin of :func:`pagerank`: the fixed iteration loop
    unrolled into chained CTEs (aggregates are not allowed inside a
    recursive CTE term), mirroring the operator's PURE INTEGER
    formulation — units of 1e-10, damping as an exact rational, and
    round-half-up as (2a + b) // (2b) — so both engines compute
    identical bigints at every step (no decimal->double conversion
    anywhere; see the operator comment for the 1-ulp divergence the
    sf1.0 sweep caught in the old decimal/double form). The final CTE
    r{{N}} exposes the decimal(20,10) ``rank`` callers consume."""
    from fractions import Fraction

    scale = 10 ** 10
    dfrac = Fraction(str(damping))
    dnum, dden = dfrac.numerator, dfrac.denominator
    tnum, tden = (1 - dfrac).numerator, (1 - dfrac).denominator
    steps = []
    for i in range(1, iterations + 1):
        prev = "ri0" if i == 1 else f"ri{i-1}"
        steps.append(f"""
    ri{i} AS MATERIALIZED (
      SELECT e.dst AS node,
             (2 * {tnum} * {scale} + {tden} * max(nn.n_nodes))
               // (2 * {tden} * max(nn.n_nodes))
             + (2 * {dnum}
                * sum((2 * {prev}.r + od.d) // (2 * od.d))
                + {dden}) // (2 * {dden}) AS r
      FROM {prev}
      JOIN edges e ON e.src = {prev}.node
      JOIN outdeg od ON od.src = {prev}.node
      CROSS JOIN nn
      GROUP BY e.dst
    )""")
    # MATERIALIZED throughout: DuckDB v1.0 inlines CTEs, so the
    # unrolled iteration chain re-evaluates `edges` (and every earlier
    # rank table) at each expansion level — measured 233 s at sf0.1 on
    # q_graph_pagerank before materialization. Materialization cannot
    # change results, only evaluation strategy.
    edges_cte = re.sub(r"^(\s*edges)\s+AS\s+\(",
                       r"\1 AS MATERIALIZED (", edges_cte, count=1,
                       flags=re.M)
    return f"""
    WITH {edges_cte},
    outdeg AS MATERIALIZED (
      SELECT src, count(*) AS d FROM edges GROUP BY 1),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM edges
      UNION
      SELECT dst FROM edges
    ),
    nn AS MATERIALIZED (SELECT count(*) AS n_nodes FROM nodes),
    ri0 AS MATERIALIZED (
      SELECT node,
             (2 * {scale} + nn.n_nodes) // (2 * nn.n_nodes) AS r
      FROM nodes CROSS JOIN nn
    ),{','.join(steps)},
    r{iterations} AS MATERIALIZED (
      SELECT node,
             cast(cast(r as decimal(20,0))
                  * cast(0.0000000001 as decimal(11,10))
                  as {DEC_PR}) AS rank
      FROM ri{iterations}
    )
    """


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a
    self-vote and smallest-label tie-break, so every round is
    deterministic: label(v) <- mode({label(u) : u->v edges} +
    {label(v)}), ties to the minimum label. Returns (node, label)
    after the fixed iteration count.

    Scale: each round joins the |V| label relation against the edge
    list (the strategy is left to AQE, which sees the real label-vector
    size per round — a forced per-round broadcast measured SLOWER at
    bench scale, r12), then a (node,label)-keyed count with map-side
    partials and a per-node arg-min aggregate — partial aggregation on
    both steps, never a full per-node row_number sort over the label
    multiset. localCheckpoint per round keeps the self-referencing
    lineage flat (same reasoning as q_graph_components)."""

    def _round(labels, _):
        # Optimization round r12 (§2.2/§2.3): the per-node
        # mode/tie-break is min(struct(-c, label)) — an aggregate with
        # map-side partials — instead of a row_number window, which
        # shuffled every (node, label, c) row and sorted the full
        # multiset each round. Flat at sf0.1; at scale the partial
        # collapses per-map duplicates before the exchange.
        msgs = (edges.join(labels, labels.node == edges.src)
                .select(F.col("dst").alias("node"), "label")
                .unionByName(labels.select("node", "label")))
        cnt = msgs.groupBy("node", "label").agg(F.count("*").alias("c"))
        top = F.min(F.struct((-F.col("c")).alias("nc"),
                             F.col("label").alias("l"))).alias("t")
        return (cnt.groupBy("node").agg(top)
                .select("node", F.col("t.l").alias("label")))

    return fixpoint(edges.select(F.col("src").alias("node"),
                                 F.col("src").alias("label")).distinct(),
                    _round, iterations)
