"""Distributed NMF topic modeling (Lee & Seung 2001 multiplicative
updates) — topic extraction as iterated relational algebra.

The doc-term count matrix V lives as a sparse (doc, term, v) relation;
the factors W (docs x k) and H (k x terms) live as (key, comp, val)
relations. One alternating update is then four joins and four
aggregations:

  Hnum = WᵀV   (join V·W on doc, sum per (comp, term))
  WtW  = WᵀW   (k x k, a tiny aggregate)
  H'   = H ∘ Hnum / (WtW·H),  rounded 8dp
  Wnum = V·H'ᵀ (join V·H' on term, sum per (doc, comp))
  HHt  = H'H'ᵀ (k x k)
  W'   = W ∘ Wnum / (W·HHt),  rounded 8dp

Numeric discipline (registry.py conventions): V is INTEGER counts;
W/H values are decimal(18,8) after every 8dp round, so every sum is an
exact decimal reduction (order-independent on any engine at any
parallelism); the elementwise update is double arithmetic over
identical inputs with an identical operation tree, re-quantized to
8dp. decimal(18,8) keeps every product within DuckDB's and Spark's
38-digit cap — a wider scale would make Spark silently reduce scale on
multiply (engine-dependent) and break the hash. Init is deterministic
and asymmetric on both engines (doc-id / first-char arithmetic), since
a symmetric init never separates the components.

Fixed k=2, 2 iterations, unrolled into chained CTEs on the oracle side
— topic modeling, value-hash-checked.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .operators.fixpoint import fixpoint
from .registry import query
from .sources.fixtures import load_table

_NMF_K = 2
_NMF_ITERS = 2
_D8 = "decimal(18,8)"


def _nmf_oracle() -> str:
    comps = list(range(_NMF_K))
    parts = [f"""
WITH v AS MATERIALIZED (
  SELECT doc_id AS d, tok AS t, cast(count(*) as bigint) AS v
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY 1, 2
),
comps AS MATERIALIZED (SELECT unnest(range({_NMF_K})) AS c),
w0 AS MATERIALIZED (
  SELECT d, c, cast(1 + ((d * 31 + c * 17) % 7) / 10.0 as {_D8}) AS w
  FROM (SELECT DISTINCT d FROM v) CROSS JOIN comps
),
h0 AS MATERIALIZED (
  SELECT c, t,
         cast(1 + ((ascii(substr(t, 1, 1)) * 13 + c * 29) % 5) / 10.0
              as {_D8}) AS h
  FROM (SELECT DISTINCT t FROM v) CROSS JOIN comps
)"""]
    pw, ph = "w0", "h0"
    for i in range(1, _NMF_ITERS + 1):
        parts.append(f""",
hnum{i} AS MATERIALIZED (
  SELECT w.c, v.t,
         sum(cast(w.w as decimal(20,8)) * cast(v.v as decimal(10,0))) AS num
  FROM v JOIN {pw} w ON w.d = v.d
  GROUP BY 1, 2
),
wtw{i} AS MATERIALIZED (
  SELECT a.c AS ca, b.c AS cb,
         cast(round(cast(sum(cast(a.w as decimal(20,8)) * b.w)
                         as double), 8) as {_D8}) AS g
  FROM {pw} a JOIN {pw} b ON a.d = b.d
  GROUP BY 1, 2
),
hden{i} AS MATERIALIZED (
  SELECT g.ca AS c, h.t,
         sum(cast(g.g as decimal(20,8)) * h.h) AS den
  FROM wtw{i} g JOIN {ph} h ON h.c = g.cb
  GROUP BY 1, 2
),
h{i} AS MATERIALIZED (
  SELECT h.c, h.t,
         cast(round(cast(h.h as double) * cast(n.num as double)
                    / cast(d.den as double), 8) as {_D8}) AS h
  FROM {ph} h
  JOIN hnum{i} n ON n.c = h.c AND n.t = h.t
  JOIN hden{i} d ON d.c = h.c AND d.t = h.t
),
wnum{i} AS MATERIALIZED (
  SELECT v.d, h.c,
         sum(cast(h.h as decimal(20,8)) * cast(v.v as decimal(10,0))) AS num
  FROM v JOIN h{i} h ON h.t = v.t
  GROUP BY 1, 2
),
hht{i} AS MATERIALIZED (
  SELECT a.c AS ca, b.c AS cb,
         cast(round(cast(sum(cast(a.h as decimal(20,8)) * b.h)
                         as double), 8) as {_D8}) AS g
  FROM h{i} a JOIN h{i} b ON a.t = b.t
  GROUP BY 1, 2
),
wden{i} AS MATERIALIZED (
  SELECT w.d, g.ca AS c,
         sum(cast(g.g as decimal(20,8)) * w.w) AS den
  FROM {pw} w JOIN hht{i} g ON g.cb = w.c
  GROUP BY 1, 2
),
w{i} AS MATERIALIZED (
  SELECT w.d, w.c,
         cast(round(cast(w.w as double) * cast(n.num as double)
                    / cast(d.den as double), 8) as {_D8}) AS w
  FROM {pw} w
  JOIN wnum{i} n ON n.d = w.d AND n.c = w.c
  JOIN wden{i} d ON d.d = w.d AND d.c = w.c
)""")
        pw, ph = f"w{i}", f"h{i}"
    parts.append(f""",
mass AS MATERIALIZED (
  SELECT c, round(cast(sum(w) as double), 6) AS doc_mass
  FROM {pw} GROUP BY c
),
top AS MATERIALIZED (
  SELECT c, t, h,
         row_number() OVER (PARTITION BY c ORDER BY h DESC, t) AS rnk
  FROM {ph}
)
SELECT cast(top.c as int) AS component,
       cast(rnk as int) AS rank,
       t AS term,
       round(cast(h as double), 6) AS weight,
       doc_mass
FROM top JOIN mass ON mass.c = top.c
WHERE rnk <= 8
ORDER BY component, rank""")
    return "".join(parts)


@query("q_topic_nmf", oracle=_nmf_oracle())
def q_topic_nmf(spark, sf_dir):
    """NMF topic model over the corpus doc-term counts: k=2
    components, 2 alternating multiplicative updates, top-8 terms per
    component with weights plus each component's document mass — the
    classic distributed topic-extraction pipeline (count vectorize ->
    factorize -> read topics), expressed entirely as joins and
    aggregations over the sparse count relation. The oracle unrolls
    both updates into chained CTEs, so a matrix-factorization TRAINING
    loop is value-hash-checked (see module docstring for the decimal
    discipline that makes that possible).

    Scale: V is the only corpus-sized relation; each update touches it
    twice with doc- or term-keyed equi-joins against the factor
    relations. k is a fixed small constant, so the factors live WIDE —
    one column per component (W: (d, w0..w{{k-1}}), H: (t, h0..h{{k-1}}))
    — the standard dense-factor layout (optimization round r11): WᵀW and
    HHᵀ collapse from |factor|-shuffling self-joins into 1-row exact
    aggregates broadcast back as literals, the elementwise updates
    become pure column math on one join instead of a 3-way (key, comp)
    join, and every aggregation stays map-side-combinable. Values,
    rounding, and decimal sum order are unchanged expression-for-
    expression versus the long (d, c, w) form (exact decimal sums are
    order-independent; verified result-identical before the swap), so
    the unrolled-CTE oracle is untouched. Measured 5.9-7.0 s → 4.4-5.2 s
    at sf0.1 (alternating A/B, warm). No step materializes a dense
    matrix; k and iterations are fixed constants."""
    K = _NMF_K
    d = load_table(spark, sf_dir, "documents")
    v = (d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
         .groupBy(F.col("doc_id").alias("d"), "t")
         .agg(F.count("*").alias("v"))
         .repartition("d")
         .persist())
    w = (v.select("d").distinct()
         .select("d", *[(1 + ((F.col("d") * 31 + c * 17) % 7) / 10.0)
                        .cast(_D8).alias(f"w{c}") for c in range(K)]))
    h = (v.select("t").distinct()
         .select("t", *[(1 + ((F.ascii(F.substring("t", 1, 1)) * 13
                               + c * 29) % 5) / 10.0)
                        .cast(_D8).alias(f"h{c}") for c in range(K)]))

    def gram_row(f, col):
        """One-row kxk Gram aggregate (sum f_a·f_b, 8dp-rounded) —
        replaces the long form's self-join + groupBy."""
        return f.agg(*[F.round(F.sum(F.col(f"{col}{a}") * F.col(f"{col}{b}"))
                               .cast("double"), 8).cast(_D8)
                       .alias(f"g{a}{b}")
                       for a in range(K) for b in range(K)])

    def dot_g(c, col):
        """den_c = sum_b g_cb * col_b — decimal terms added in ascending
        b, the same exact-decimal reduction as the long form's sum."""
        s = None
        for b in range(K):
            term = F.col(f"g{c}{b}") * F.col(f"{col}{b}")
            s = term if s is None else s + term
        return s

    v10 = F.col("v").cast("decimal(10,0)")
    key = {"h": "t", "w": "d"}  # each factor's row key

    def update(f, col, other, ocol, ship=lambda x: x):
        """One multiplicative update of factor f (columns col0..) from
        the other factor: Fnum = V·other (one join on other's key, k
        sums per term), divided by F·Gram(other)."""
        num = (v.join(ship(other), key[ocol])
               .groupBy(key[col])
               .agg(*[F.sum(F.col(f"{ocol}{c}") * v10).alias(f"num{c}")
                      for c in range(K)]))
        return (f.join(num, key[col])
                .crossJoin(F.broadcast(gram_row(other, ocol)))
                .select(key[col], *[F.round(F.col(f"{col}{c}").cast("double")
                                            * F.col(f"num{c}").cast("double")
                                            / dot_g(c, col).cast("double"),
                                            8).cast(_D8).alias(f"{col}{c}")
                                    for c in range(K)]))

    def _half_step(state, i):
        h, w = state
        if i % 2 == 0:
            return update(h, "h", w, "w"), w
        # H is k x |vocab| — broadcast it (docstring license), so the
        # V-sized side never re-shuffles
        return h, update(w, "w", h, "h", F.broadcast)

    # one round per half-step: H's update is materialized before W's
    # reads it
    h, w = fixpoint((h, w), _half_step, 2 * _NMF_ITERS)

    # w and h are eagerly checkpointed, so nothing downstream re-reads
    # v — release the V-sized cache instead of leaking it across a
    # 477-query sweep (ADVICE r11; same fix as q_graph_components r9)
    v.unpersist()
    mass = w.agg(*[F.round(F.sum(f"w{c}").cast("double"), 6)
                   .alias(f"m{c}") for c in range(K)])
    # wide-to-long via ONE explode-of-structs pass (ADVICE r11 item 3):
    # the union-of-K-projections form duplicated the mass aggregate
    # (and the h scan) K times — no subtree reuse across union branches
    hlong = (h.select(F.explode(F.array(*[
        F.struct(F.lit(c).cast("int").alias("c"), F.col("t"),
                 F.col(f"h{c}").alias("h")) for c in range(K)])).alias("p"))
        .select("p.*"))
    mlong = (mass.select(F.explode(F.array(*[
        F.struct(F.lit(c).cast("int").alias("c"),
                 F.col(f"m{c}").alias("doc_mass")) for c in range(K)]))
        .alias("p")).select("p.*"))
    rnk = F.row_number().over(
        W.partitionBy("c").orderBy(F.desc("h"), "t"))
    top = hlong.withColumn("rnk", rnk).filter(F.col("rnk") <= 8)
    return (top.join(F.broadcast(mlong), "c")
            .select(F.col("c").cast("int").alias("component"),
                    F.col("rnk").cast("int").alias("rank"),
                    F.col("t").alias("term"),
                    F.round(F.col("h").cast("double"), 6).alias("weight"),
                    "doc_mass")
            .orderBy("component", "rank"))
