"""Search / retrieval / market-basket operators: BM25 ranking, RAG
sliding-window chunking, and item co-occurrence (association rules).

These are the IR-side counterparts of the H-family dedup/similarity
ladder (SURVEY.md §2 H): a training-data pipeline that dedups a corpus
also needs to *rank* it (BM25 for retrieval-augmented curation), *chunk*
it (fixed-token windows with overlap for context assembly), and mine
co-occurrence structure (associations for negative-sampling /
recommendation baselines). The reference has no IR surface; closest
analog is its ratings aggregation (challenge.py≈L187-195 [R]).

Scale notes (100 TB bar):
- BM25: per-doc term frequencies are scan-local expressions (zero
  shuffle); corpus statistics are ONE 1-row aggregate broadcast back;
  ranking is TakeOrderedAndProject. No inverted index is materialized —
  for a fixed small query-term set, a column-expression scan beats an
  index build it would amortize over one query.
- Chunking: pure per-row generator (sequence + explode) — embarrassingly
  parallel, output fan-out bounded by doc length / stride.
- Market basket: the self-join is per-basket quadratic, bounded by
  basket size (TPC-H ~4 items/order), never corpus-quadratic; item
  frequencies join via broadcast.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .functions.hashsafe import DEC
from .operators.fixpoint import fixpoint
from .registry import query
from .sources.fixtures import load_table
from .session import fan_out_scan

# BM25 hyperparameters (Robertson/Okapi defaults).
_K1 = 1.2
_B = 0.75


def _tf(term: str) -> str:
    """Spark-side exact term frequency over whitespace tokens."""
    return f"size(filter(split(text, ' '), x -> x = '{term}'))"


def _tf_duck(term: str) -> str:
    return f"len(list_filter(string_split(text, ' '), x -> x = '{term}'))"


def _bm25_part(tf: str, idf: str) -> str:
    """One term's BM25 contribution; identical expression tree on both
    engines so the double math is bit-identical (only reductions need
    decimal, per functions/hashsafe.py)."""
    return (f"({idf} * ({tf} * ({_K1} + 1.0)) / "
            f"({tf} + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl)))")


_IDF = "ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)"


@query(
    "q_bm25",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS dl,
             {_tf_duck('fast')} AS tf_fast,
             {_tf_duck('slow')} AS tf_slow
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             cast(sum(cast(dl AS {DEC})) AS double) / count(*) AS avgdl,
             sum(CASE WHEN tf_fast > 0 THEN 1 ELSE 0 END) AS df_fast,
             sum(CASE WHEN tf_slow > 0 THEN 1 ELSE 0 END) AS df_slow
      FROM d
    )
    SELECT doc_id,
           round({_bm25_part('tf_fast', _IDF.format(t='fast'))}
                 + {_bm25_part('tf_slow', _IDF.format(t='slow'))}, 4)
             AS bm25
    FROM d CROSS JOIN stats
    WHERE tf_fast + tf_slow > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def q_bm25(spark, sf_dir):
    """BM25 ranking of `documents` for the two-term query {fast, slow}
    (the fixture's sentiment-lexicon tokens). Per-doc tf/dl are
    higher-order-function expressions evaluated in the scan projection
    (no explode, no shuffle); corpus stats (N, avgdl as exact
    decimal-sum mean, per-term df) are one 1-row aggregate cross-joined
    back (broadcast); the final ranking is orderBy+limit →
    TakeOrderedAndProject. IDF uses the +1-inside-log Okapi form so
    scores stay positive. At 100 TB this is one scan + one scalar
    broadcast — no inverted index needed for a fixed query."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("dl"),
        F.expr(_tf("fast")).alias("tf_fast"),
        F.expr(_tf("slow")).alias("tf_slow"),
    )
    stats = d.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("dl").cast(DEC)).cast("double") / F.count("*"))
        .alias("avgdl"),
        F.sum(F.when(F.col("tf_fast") > 0, 1).otherwise(0)).alias("df_fast"),
        F.sum(F.when(F.col("tf_slow") > 0, 1).otherwise(0)).alias("df_slow"),
    )
    scored = (d.crossJoin(F.broadcast(stats))
              .where(F.col("tf_fast") + F.col("tf_slow") > 0)
              .select("doc_id", F.round(
                  F.expr(_bm25_part("tf_fast", _IDF.format(t="fast")))
                  + F.expr(_bm25_part("tf_slow", _IDF.format(t="slow"))),
                  4).alias("bm25")))
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(20)


_CHUNK = 32   # tokens per chunk
_STRIDE = 16  # tokens between chunk starts (50% overlap)


@query(
    "q_chunk_sliding",
    oracle=f"""
    SELECT doc_id,
           s // {_STRIDE} AS chunk_idx,
           len(tokens[s + 1 : s + {_CHUNK}]) AS n_chunk_tokens,
           array_to_string(tokens[s + 1 : s + {_CHUNK}], ' ') AS chunk_text
    FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         unnest(range(0, greatest(len(tokens), 1), {_STRIDE})) AS t(s)
    """,
)
def q_chunk_sliding(spark, sf_dir):
    """RAG-style sliding-window chunking: split every document into
    {_CHUNK}-token chunks with {_STRIDE}-token stride (50% overlap),
    emitting (doc_id, chunk_idx, n_chunk_tokens, chunk_text). Pure
    per-row generation — sequence() builds the start offsets from the
    token count and explode() fans out, so the operator is
    embarrassingly parallel with zero shuffle and output volume bounded
    by len/stride per doc. (DuckDB's range() is stop-exclusive and
    Spark's sequence() stop-inclusive; sequence to n-1 matches.)
    The final chunk is allowed to be short (slice past the end
    truncates in both engines)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tokens"))
    return (d.select(
        "doc_id", "tokens",
        F.explode(F.expr(
            f"sequence(0, greatest(size(tokens) - 1, 0), {_STRIDE})"))
        .alias("s"))
        .select(
            "doc_id",
            (F.col("s") / _STRIDE).cast("bigint").alias("chunk_idx"),
            F.expr(f"size(slice(tokens, s + 1, {_CHUNK}))")
            .alias("n_chunk_tokens"),
            F.expr(f"array_join(slice(tokens, s + 1, {_CHUNK}), ' ')")
            .alias("chunk_text")))


@query(
    "q_market_basket",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM b),
    item AS (SELECT l_partkey, count(*) AS n_item FROM b GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             count(*) AS n_pair
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_pair,
           round(cast(n_pair AS double) / ia.n_item, 4) AS confidence,
           round(cast(n_pair AS double) * n_orders.n
                 / (ia.n_item * ib.n_item), 4) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN n_orders
    ORDER BY n_pair DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_market_basket(spark, sf_dir):
    """Market-basket co-occurrence over lineitem: top-20 part pairs
    bought in the same order, with confidence (pair/item_a) and lift
    (pair·N / (item_a·item_b)). The self-join is on the basket key, so
    work is per-order quadratic bounded by basket size (~4 for TPC-H) —
    never corpus-quadratic; the distinct basket relation is computed
    once and persisted (3 consumers: totals, item counts, pair join).
    Item frequencies are a parts-cardinality dim joined broadcast-side;
    the final ranking is TakeOrderedAndProject. Same association-mining
    shape as q_token_pmi (PMI over token windows) but keyed on a true
    transaction id."""
    # persisted, not unpersisted: the query returns a lazy plan, so the
    # builder can't know when the caller is done with it (round-2
    # ADVICE reviewed; repo convention — MEMORY_AND_DISK + Spark's LRU
    # eviction bound the residency, same as queries_llm's gram persists)
    b = (load_table(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_partkey").distinct().persist())
    n_orders = b.agg(
        F.countDistinct("l_orderkey").alias("n"))
    item = b.groupBy(F.col("l_partkey")).agg(F.count("*").alias("n_item"))
    a, c = b.alias("a"), b.alias("c")
    pair = (a.join(c, (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("c.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("part_a"),
                     F.col("c.l_partkey").alias("part_b"))
            .agg(F.count("*").alias("n_pair")))
    ia = item.select(F.col("l_partkey").alias("part_a"),
                     F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"),
                     F.col("n_item").alias("n_b"))
    return (pair
            .join(F.broadcast(ia), "part_a")
            .join(F.broadcast(ib), "part_b")
            .crossJoin(F.broadcast(n_orders))
            .select(
                "part_a", "part_b", "n_pair",
                F.round(F.col("n_pair").cast("double") / F.col("n_a"), 4)
                .alias("confidence"),
                F.round(F.col("n_pair").cast("double") * F.col("n")
                        / (F.col("n_a") * F.col("n_b")), 4).alias("lift"))
            .orderBy(F.desc("n_pair"), "part_a", "part_b").limit(20))


@query(
    "q_rank_fusion",
    oracle="""
    WITH tf AS (
      SELECT doc_id, n_chars,
             len(list_filter(string_split(text, ' '), w -> w = 'join'))
               AS hits
      FROM documents
    ),
    r1 AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY hits DESC, doc_id) AS rnk
      FROM tf
    ),
    r2 AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
      FROM tf
    )
    SELECT r1.doc_id AS doc_id,
           r1.rnk AS rank_term, r2.rnk AS rank_length,
           round(1.0 / (60 + r1.rnk) + 1.0 / (60 + r2.rnk), 6) AS rrf
    FROM r1 JOIN r2 ON r1.doc_id = r2.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)
def q_rank_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (RRF, k=60 — Cormack et al.'s public
    formula) of two retrieval rankings: term-frequency rank for the
    query term and a document-length prior rank. The hybrid-retrieval
    merge every BM25+embedding search stack runs; rankings carry doc_id
    tiebreaks so row_number is total-ordered on both engines and the
    fused score is exact rational arithmetic rounded 6dp.

    Scale: each ranking is one ordered window (global order — at 100 TB
    rankings come pre-truncated per shard top-k, the fusion join then
    runs on candidate sets, not the corpus); the fusion itself joins
    |candidates|-sized relations and TakeOrderedAndProject emits the
    top-10."""
    d = load_table(spark, sf_dir, "documents")
    tf = d.select(
        "doc_id", "n_chars",
        F.size(F.filter(F.split(F.col("text"), " "),
                        lambda w: w == "join")).alias("hits"))
    r1 = tf.select("doc_id", F.row_number().over(
        W.orderBy(F.desc("hits"), "doc_id")).alias("rank_term"))
    r2 = tf.select("doc_id", F.row_number().over(
        W.orderBy(F.desc("n_chars"), "doc_id")).alias("rank_length"))
    return (r1.join(r2, "doc_id")
            .select("doc_id", "rank_term", "rank_length",
                    F.round(1.0 / (60 + F.col("rank_term"))
                            + 1.0 / (60 + F.col("rank_length")), 6)
                    .alias("rrf"))
            .orderBy(F.desc("rrf"), "doc_id").limit(10))


# ---------------------------------------------------------------------------
# q_mmr_rerank — maximal-marginal-relevance diversified re-ranking
# ---------------------------------------------------------------------------

_MMR_LAMBDA = "0.7"   # literal in BOTH dialects: 1-0.7 computed at runtime
_MMR_MU = "0.3"       # differs from the 0.3 literal in the last double bit


def _mmr_oracle() -> str:
    from .operators.similarity import DEC_SIM
    from .queries_llm import _NORMS_CTE
    lam, mu = _MMR_LAMBDA, _MMR_MU
    dot = (f"cast(sum(cast(cast(a.embedding[gs.i] as double)"
           f" * cast(b.embedding[gs.i] as double)"
           f" as {DEC_SIM})) as double)")
    return f"""
    WITH {_NORMS_CTE},
    probes AS (
      SELECT vec_id AS probe_id, embedding AS pe, nrm AS pn
      FROM norms WHERE vec_id < 4
    ),
    scored AS (
      SELECT probes.probe_id, n.vec_id, n.embedding, n.nrm,
             round(cast(sum(cast(cast(n.embedding[gs.i] as double)
                                 * cast(probes.pe[gs.i] as double)
                                 as {DEC_SIM})) as double)
                   / sqrt(max(n.nrm) * max(probes.pn)), 4) AS rel
      FROM norms n CROSS JOIN probes, range(1, 65) gs(i)
      WHERE n.vec_id <> probes.probe_id
      GROUP BY probes.probe_id, n.vec_id, n.embedding, n.nrm
    ),
    cands AS (
      SELECT probe_id, vec_id, embedding, nrm, rel,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY rel DESC, vec_id) AS crk
      FROM scored QUALIFY crk <= 8
    ),
    sims AS (
      SELECT a.probe_id, a.vec_id AS a_id, b.vec_id AS b_id,
             round({dot} / sqrt(max(a.nrm) * max(b.nrm)), 4) AS sim
      FROM cands a JOIN cands b
        ON a.probe_id = b.probe_id AND a.vec_id <> b.vec_id,
           range(1, 65) gs(i)
      GROUP BY a.probe_id, a.vec_id, b.vec_id
    ),
    sel1 AS (
      SELECT probe_id, vec_id, rel AS mmr FROM cands WHERE crk = 1
    ),
    step2 AS (
      SELECT c.probe_id, c.vec_id, c.rel, max(s.sim) AS maxsim
      FROM cands c
      JOIN sims s ON s.probe_id = c.probe_id AND s.a_id = c.vec_id
      JOIN sel1 t ON t.probe_id = s.probe_id AND t.vec_id = s.b_id
      WHERE NOT EXISTS (SELECT 1 FROM sel1 u
                        WHERE u.probe_id = c.probe_id
                          AND u.vec_id = c.vec_id)
      GROUP BY c.probe_id, c.vec_id, c.rel
    ),
    pick2 AS (
      SELECT probe_id, vec_id, {lam} * rel - {mu} * maxsim AS mmr
      FROM step2
      QUALIFY row_number() OVER (
        PARTITION BY probe_id
        ORDER BY {lam} * rel - {mu} * maxsim DESC, vec_id) = 1
    ),
    sel12 AS (
      SELECT * FROM sel1 UNION ALL SELECT * FROM pick2
    ),
    step3 AS (
      SELECT c.probe_id, c.vec_id, c.rel, max(s.sim) AS maxsim
      FROM cands c
      JOIN sims s ON s.probe_id = c.probe_id AND s.a_id = c.vec_id
      JOIN sel12 t ON t.probe_id = s.probe_id AND t.vec_id = s.b_id
      WHERE NOT EXISTS (SELECT 1 FROM sel12 u
                        WHERE u.probe_id = c.probe_id
                          AND u.vec_id = c.vec_id)
      GROUP BY c.probe_id, c.vec_id, c.rel
    ),
    pick3 AS (
      SELECT probe_id, vec_id, {lam} * rel - {mu} * maxsim AS mmr
      FROM step3
      QUALIFY row_number() OVER (
        PARTITION BY probe_id
        ORDER BY {lam} * rel - {mu} * maxsim DESC, vec_id) = 1
    ),
    final AS (
      SELECT probe_id, vec_id, mmr, 1 AS rk FROM sel1
      UNION ALL SELECT probe_id, vec_id, mmr, 2 FROM pick2
      UNION ALL SELECT probe_id, vec_id, mmr, 3 FROM pick3
    )
    SELECT probe_id, rk, vec_id, round(mmr, 4) + 0.0 AS mmr
    FROM final ORDER BY probe_id, rk
    """


@query("q_mmr_rerank", oracle=_mmr_oracle())
def q_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): for each of 4 probe queries, take the top-8 relevance
    candidates, then greedily select 3 results maximizing
    lambda*rel(c) - (1-lambda)*max_{s in selected} sim(c, s) — the
    standard diversified-retrieval / few-shot-example-selection
    operator a curation pipeline runs after similarity search.

    Hash discipline: rel and all candidate-candidate sims are the
    decimal-exact 4dp cosines used across the H family; the MMR linear
    combination uses LITERAL 0.7/0.3 coefficients on both engines
    (computing 1 - 0.7 at runtime yields a double one ulp away from
    the 0.3 literal), so scores are bit-identical and the greedy
    argmax (score desc, vec_id tie-break) picks identical items.

    Scale: the corpus-sized work is exactly the batch retrieval pass
    (one scan, broadcast probes, per-probe top-k); the MMR loop runs
    on |probes| x 8 candidates — k bounded joins on candidate-sized
    relations, never corpus-quadratic. At 100 TB the candidate pool
    per query stays O(k'), so reranking cost is independent of corpus
    size."""
    from .operators.similarity import dot_col
    from .queries_llm import _norm

    lam, mu = float(_MMR_LAMBDA), float(_MMR_MU)
    e = load_table(spark, sf_dir, "embeddings")
    # fan the single-row-group scan out before the per-(vector, probe)
    # exact-decimal relevance folds (optimization round r11)
    n = (fan_out_scan(e, "vec_id")
         .select("vec_id", "embedding",
                 _norm(F.col("embedding")).alias("nrm")))
    probes = (n.filter(F.col("vec_id") < 4)
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("pe"),
                      F.col("nrm").alias("pn")))
    scored = (n.crossJoin(F.broadcast(probes))
              .filter(F.col("vec_id") != F.col("probe_id"))
              .select("probe_id", "vec_id", "embedding", "nrm",
                      F.round(dot_col(F.col("embedding"), F.col("pe"))
                              / F.sqrt(F.col("nrm") * F.col("pn")), 4)
                      .alias("rel")))
    crk = F.row_number().over(
        W.partitionBy("probe_id").orderBy(F.desc("rel"), "vec_id"))
    cands = (scored.withColumn("crk", crk).filter(F.col("crk") <= 8)
             .persist())

    a = cands.select("probe_id", F.col("vec_id").alias("a_id"),
                     F.col("embedding").alias("ae"),
                     F.col("nrm").alias("an"))
    b = cands.select("probe_id", F.col("vec_id").alias("b_id"),
                     F.col("embedding").alias("be"),
                     F.col("nrm").alias("bn"))
    sims = (a.join(b, "probe_id")
            .filter(F.col("a_id") != F.col("b_id"))
            .select("probe_id", "a_id", "b_id",
                    F.round(dot_col(F.col("ae"), F.col("be"))
                            / F.sqrt(F.col("an") * F.col("bn")), 4)
                    .alias("sim")))

    sel = (cands.filter(F.col("crk") == 1)
           .select("probe_id", "vec_id", F.col("rel").alias("mmr"),
                   F.lit(1).alias("rk")))

    def _pick(sel, i):
        t = i + 2
        # anti-join out already-selected candidates, then penalty =
        # max sim against the selected set
        rem = cands.join(sel.select("probe_id", "vec_id"),
                         ["probe_id", "vec_id"], "left_anti")
        pen = (rem.select("probe_id", "vec_id", "rel")
               .join(sims, (sims.probe_id == rem.probe_id)
                     & (sims.a_id == rem.vec_id), "inner")
               .join(sel.select(F.col("probe_id").alias("sp"),
                                F.col("vec_id").alias("sel_id")),
                     (F.col("sp") == rem.probe_id)
                     & (F.col("b_id") == F.col("sel_id")), "inner")
               .groupBy(rem.probe_id.alias("probe_id"), "vec_id",
                        "rel")
               .agg(F.max("sim").alias("maxsim")))
        score = F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("maxsim")
        prk = F.row_number().over(
            W.partitionBy("probe_id").orderBy(score.desc(), "vec_id"))
        pick = (pen.withColumn("mmr", score).withColumn("prk", prk)
                .filter(F.col("prk") == 1)
                .select("probe_id", "vec_id", "mmr",
                        F.lit(t).alias("rk")))
        return sel.unionByName(pick)

    # eager checkpoint of the |probes|-sized selection per step
    # (optimization round r12, guide §5 lineage): step t+1's anti-join
    # AND penalty join AND the final union all reference `sel`, so the
    # lazy form re-executed step 2's join/window subtree ~4x inside the
    # final action — each re-run a stack of tiny stages whose
    # scheduling overhead dominated the query.
    sel = fixpoint(sel, _pick, 2)
    cands.unpersist()
    return (sel.select("probe_id", "rk", "vec_id",
                       (F.round("mmr", 4) + 0.0).alias("mmr"))
            .orderBy("probe_id", "rk"))


# ---------------------------------------------------------------------------
# q_inverted_index — postings-list materialization (distributed index build)
# ---------------------------------------------------------------------------


@query(
    "q_inverted_index",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    tf AS (
      SELECT w AS term, doc_id, count(*) AS tf
      FROM words WHERE w NOT IN ('the', 'a')
      GROUP BY 1, 2
    ),
    top AS (
      SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term
                                ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY term) AS df,
             sum(tf) OVER (PARTITION BY term) AS cf
      FROM tf
    )
    SELECT term, df, cast(cf as bigint) AS cf,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)
             AS postings_head
    FROM top WHERE rn <= 10
    GROUP BY term, df, cf
    ORDER BY term
    """,
)
def q_inverted_index(spark, sf_dir):
    """Distributed inverted-index build: per term, document frequency,
    collection frequency, and the head of its postings list as
    '<doc_id>:<tf>' entries (first 10 docs by id — the bounded
    representative of a full postings segment). The index-segment
    materialization behind BM25/TF-IDF serving; emitting postings as
    a deterministic doc-ordered string makes the artifact itself
    value-hash-checkable across engines. Stopwords excluded.

    Scale: one scan -> (term, doc) partial counts (map-side
    combinable), one shuffle on term to assemble each postings run —
    exactly how a segment build shards at 100 TB (terms are the
    partition key; skewed hot terms are bounded here by the head cap,
    and a full build would range-split long postings)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
          .filter(~F.col("w").isin("the", "a"))
          .groupBy(F.col("w").alias("term"), "doc_id")
          .agg(F.count("*").alias("tf")))
    wt = W.partitionBy("term")
    top = tf.select(
        "term", "doc_id", "tf",
        F.row_number().over(wt.orderBy("doc_id")).alias("rn"),
        F.count("*").over(wt).alias("df"),
        F.sum("tf").over(wt).alias("cf"))
    return (top.filter(F.col("rn") <= 10)
            .groupBy("term", "df", F.col("cf").cast("long").alias("cf"))
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("doc_id", "tf"))),
                    lambda x: F.concat_ws(
                        ":", x.doc_id.cast("string"),
                        x.tf.cast("string"))), ",")
                .alias("postings_head"))
            .orderBy("term"))


# ---------------------------------------------------------------------------
# q_query_likelihood — Dirichlet-smoothed language-model retrieval
# ---------------------------------------------------------------------------

_QL_MU = 2000.0


def _ql_part(tf: str, cf: str) -> str:
    """One term's Dirichlet query-likelihood contribution — identical
    expression tree on both engines (cf/coll_len are exact ints; one
    ln of a deterministic double)."""
    return (f"ln(({tf} + {_QL_MU} * (cast({cf} as double) / coll_len))"
            f" / (dl + {_QL_MU}))")


@query(
    "q_query_likelihood",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS dl,
             {_tf_duck('fast')} AS tf_fast,
             {_tf_duck('slow')} AS tf_slow
      FROM documents
    ),
    stats AS (
      SELECT cast(sum(dl) as bigint) AS coll_len,
             cast(sum(tf_fast) as bigint) AS cf_fast,
             cast(sum(tf_slow) as bigint) AS cf_slow
      FROM d
    )
    SELECT doc_id,
           round({_ql_part('tf_fast', 'cf_fast')}
                 + {_ql_part('tf_slow', 'cf_slow')}, 4) + 0.0
             AS ql_score
    FROM d CROSS JOIN stats
    WHERE tf_fast + tf_slow > 0
    ORDER BY ql_score DESC, doc_id
    LIMIT 20
    """,
)
def q_query_likelihood(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    mu = 2000) for the {fast, slow} query — the language-modeling
    counterpart of q_bm25 (probabilistic ranking vs tf-idf saturation;
    a hybrid stack fuses both via q_rank_fusion). Smoothing backs off
    each term to its collection frequency, so documents missing a
    query term still score — but the top-20 cut keeps the match set.

    Exactness: tf/dl/cf/collection length are exact integers from the
    same HOF token counting as q_bm25 (no explode); each term's score
    is ONE ln of a deterministic double, and the two-term sum is two
    identically-ordered double adds on both engines, rounded 4dp with
    the sign-of-zero guard (scores are negative log-probs, so zero is
    unreachable, but the guard is house style).

    Scale: scan-projection token counts, one broadcast stats row, and
    TakeOrderedAndProject — zero explodes, one pass."""
    d = load_table(spark, sf_dir, "documents")
    base = d.selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS dl",
        f"{_tf('fast')} AS tf_fast",
        f"{_tf('slow')} AS tf_slow")
    stats = base.selectExpr(
        "cast(sum(dl) as long) AS coll_len",
        "cast(sum(tf_fast) as long) AS cf_fast",
        "cast(sum(tf_slow) as long) AS cf_slow")
    part = (f"round({_ql_part('tf_fast', 'cf_fast')}"
            f" + {_ql_part('tf_slow', 'cf_slow')}, 4) + 0.0")
    return (base.crossJoin(F.broadcast(stats))
            .filter("tf_fast + tf_slow > 0")
            .selectExpr("doc_id", f"{part} AS ql_score")
            .orderBy(F.desc("ql_score"), "doc_id")
            .limit(20))


_PRF_FB = 10    # feedback depth (top-k of the first pass)
_PRF_T = 3      # expansion terms
_PRF_BETA = 0.5  # Rocchio weight for expansion terms


@query(
    "q_prf_expansion",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS dl,
             {_tf_duck('fast')} AS tf_fast,
             {_tf_duck('slow')} AS tf_slow
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             cast(sum(cast(dl AS {DEC})) AS double) / count(*) AS avgdl,
             sum(CASE WHEN tf_fast > 0 THEN 1 ELSE 0 END) AS df_fast,
             sum(CASE WHEN tf_slow > 0 THEN 1 ELSE 0 END) AS df_slow
      FROM d
    ),
    fb AS (
      SELECT doc_id, text, dl,
             round({_bm25_part('tf_fast', _IDF.format(t='fast'))}
                   + {_bm25_part('tf_slow', _IDF.format(t='slow'))}, 4)
               AS score
      FROM d CROSS JOIN stats
      WHERE tf_fast + tf_slow > 0
      ORDER BY score DESC, doc_id LIMIT {_PRF_FB}
    ),
    fbtf AS (
      SELECT fb.doc_id, fb.dl, fb.score, t.term, count(*) AS tf
      FROM fb, unnest(string_split(fb.text, ' ')) AS t(term)
      GROUP BY 1, 2, 3, 4
    ),
    cand AS (
      SELECT term,
             cast(sum(cast(round(tf * score / dl, 8) AS {DEC}))
                  AS double) AS w
      FROM fbtf WHERE term NOT IN ('fast', 'slow')
      GROUP BY term
      ORDER BY w DESC, term LIMIT {_PRF_T}
    ),
    expterms AS (
      SELECT 'fast' AS term, 1.0 AS wq
      UNION ALL SELECT 'slow', 1.0
      UNION ALL SELECT term, {_PRF_BETA} FROM cand
    ),
    tdf AS (
      SELECT t.term, count(DISTINCT d.doc_id) AS df
      FROM d, unnest(string_split(d.text, ' ')) AS t(term)
      WHERE t.term IN (SELECT term FROM expterms)
      GROUP BY t.term
    ),
    alltf AS (
      SELECT d.doc_id, d.dl, t.term, count(*) AS tf
      FROM d, unnest(string_split(d.text, ' ')) AS t(term)
      WHERE t.term IN (SELECT term FROM expterms)
      GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           round(cast(sum(cast(round(
             wq * (ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * ({_K1} + 1.0))
                   / (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))),
             8) AS {DEC})) AS double), 4) AS prf_score
    FROM alltf
    JOIN expterms USING (term)
    JOIN tdf USING (term)
    CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY prf_score DESC, doc_id LIMIT {_PRF_FB}
    """,
)
def q_prf_expansion(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (Rocchio/RM3 — round
    7, completing the retrieval family's second pass): BM25 pass 1 for
    {fast, slow} takes the top-10 as the feedback set; each
    non-query term is weighted by the relevance-model estimate
    Σ_d tf·score/dl over the feedback docs (each addend rounded 8dp →
    exact decimal sum, order-independent); the top-3 expansion
    terms join the query at Rocchio β=0.5; pass 2 scores every
    doc against the expanded 5-term query — per-term BM25 parts share
    one expression tree with the oracle, each part rounded 8dp before
    the decimal per-doc sum so the data-dependent term set can never
    introduce order-dependent float drift. Fully relational on BOTH
    engines (the expansion terms are discovered, not hardcoded), so
    the whole two-pass pipeline is value-hash-checked.

    Scale: pass 1 is the q_bm25 shape (scan + 1-row broadcast +
    TakeOrdered); term discovery explodes only the 10 feedback
    docs; pass 2 explodes the corpus once filtered to the 5-term
    broadcast set (semi-join pushes into the scan) with one map-side-
    combinable per-doc rollup. No inverted index, no corpus shuffle
    beyond the final 5-term tf rollup."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.expr("size(split(text, ' '))").alias("dl"),
        F.expr(_tf("fast")).alias("tf_fast"),
        F.expr(_tf("slow")).alias("tf_slow"))
    stats = d.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("dl").cast(DEC)).cast("double") / F.count("*"))
        .alias("avgdl"),
        F.sum(F.when(F.col("tf_fast") > 0, 1).otherwise(0))
        .alias("df_fast"),
        F.sum(F.when(F.col("tf_slow") > 0, 1).otherwise(0))
        .alias("df_slow"))
    fb = (d.crossJoin(F.broadcast(stats))
          .where(F.col("tf_fast") + F.col("tf_slow") > 0)
          .select("doc_id", "text", "dl", F.round(
              F.expr(_bm25_part("tf_fast", _IDF.format(t="fast")))
              + F.expr(_bm25_part("tf_slow", _IDF.format(t="slow"))),
              4).alias("score"))
          .orderBy(F.desc("score"), "doc_id").limit(_PRF_FB))
    fbtf = (fb.select("doc_id", "dl", "score",
                      F.explode(F.split("text", " ")).alias("term"))
            .groupBy("doc_id", "dl", "score", "term")
            .agg(F.count("*").alias("tf")))
    cand = (fbtf.filter(~F.col("term").isin("fast", "slow"))
            .groupBy("term")
            .agg(F.sum(F.round(F.col("tf") * F.col("score")
                               / F.col("dl"), 8).cast(DEC))
                 .cast("double").alias("w"))
            .orderBy(F.desc("w"), "term").limit(_PRF_T))
    expterms = (cand.select("term", F.lit(_PRF_BETA).alias("wq"))
                .unionByName(fb.sparkSession.createDataFrame(
                    [("fast", 1.0), ("slow", 1.0)], "term string, wq double")))
    corpus_tf = (d.select("doc_id", "dl",
                          F.explode(F.split("text", " ")).alias("term"))
                 .join(F.broadcast(expterms), "term")
                 .groupBy("doc_id", "dl", "term", "wq")
                 .agg(F.count("*").alias("tf")))
    tdf = (corpus_tf.groupBy("term")
           .agg(F.countDistinct("doc_id").alias("df")))
    part = (F.expr(
        f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) "
        f"* (tf * ({_K1} + 1.0)) "
        f"/ (tf + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))"))
    return (corpus_tf
            .join(F.broadcast(tdf), "term")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(
                F.sum(F.round(F.col("wq") * part, 8).cast(DEC))
                .cast("double"), 4).alias("prf_score"))
            .orderBy(F.desc("prf_score"), "doc_id").limit(_PRF_FB))


# ---------------------------------------------------------------------------
# q_snippet_extract — query-biased snippet (best keyword window)
# ---------------------------------------------------------------------------

_SNIP_W = 8  # snippet window length in tokens


@query(
    "q_snippet_extract",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ct FROM documents
    ), pos AS (
      SELECT doc_id, ct, u.i - 1 AS p,
             CASE WHEN ct[u.i] IN ('fast', 'slow', 'spark') THEN 1 ELSE 0
               END AS hit
      FROM toks, unnest(range(1, len(ct) + 1)) AS u(i)
    ), scored AS (
      SELECT doc_id, ct, p,
             sum(hit) OVER (PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN CURRENT ROW
                            AND {_SNIP_W - 1} FOLLOWING) AS win_hits,
             sum(hit) OVER (PARTITION BY doc_id) AS total_hits
      FROM pos
    ), best AS (
      SELECT doc_id, ct, p, win_hits, total_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY win_hits DESC, p) AS rn
      FROM scored
    )
    SELECT doc_id,
           cast(p as bigint) AS best_pos,
           cast(win_hits as bigint) AS win_hits,
           cast(total_hits as bigint) AS total_hits,
           array_to_string(ct[(p + 1):(p + {_SNIP_W})], ' ') AS snippet
    FROM best WHERE rn = 1 AND total_hits > 0
    """,
)
def q_snippet_extract(spark, sf_dir):
    """Query-biased snippet extraction (search-result highlighting):
    for each document containing at least one query term, pick the
    {w}-token window with the most query-term hits (earliest window on
    ties) and emit it as the snippet — the classic dynamic-teaser step
    every search UI runs after ranking. Expressed relationally:
    posexplode -> per-position forward-looking ROWS window sum -> one
    row_number() argmax per doc with the deterministic (score desc,
    pos asc) tie-break -> slice the token array back into text.

    Scale: everything is partitioned by doc_id — the explode, both
    window sums, and the argmax shuffle once on doc_id and never cross
    documents; the window frame is O(w) per row with constant state.
    At 100 TB, snippets run on the top-k *retrieved* set, not the
    corpus — the plan is identical, bounded by k * doc_len rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ct"))
    pos = toks.select(
        "doc_id", "ct",
        F.posexplode("ct").alias("p", "tok")).withColumn(
        "hit", F.col("tok").isin("fast", "slow", "spark").cast("int"))
    wfwd = (W.partitionBy("doc_id").orderBy("p")
            .rowsBetween(W.currentRow, _SNIP_W - 1))
    scored = pos.select(
        "doc_id", "ct", "p",
        F.sum("hit").over(wfwd).alias("win_hits"),
        F.sum("hit").over(W.partitionBy("doc_id")).alias("total_hits"))
    wrank = W.partitionBy("doc_id").orderBy(F.desc("win_hits"), "p")
    best = scored.withColumn("rn", F.row_number().over(wrank))
    return (best.filter((F.col("rn") == 1) & (F.col("total_hits") > 0))
            .select("doc_id",
                    F.col("p").cast("long").alias("best_pos"),
                    F.col("win_hits").cast("long").alias("win_hits"),
                    F.col("total_hits").cast("long").alias("total_hits"),
                    F.concat_ws(" ", F.slice("ct", F.col("p") + 1, _SNIP_W))
                    .alias("snippet")))


# ---------------------------------------------------------------------------
# q_proximity_rank — min-window proximity ranking (phrase-nearness)
# ---------------------------------------------------------------------------

_PROX_TERMS = ("join", "hash", "scan")


@query(
    "q_proximity_rank",
    oracle=f"""
    WITH guard AS (
      /* the position enumeration below is capped while the Spark
         side's posexplode is unbounded; a 100k-token document would
         silently diverge cross-engine (ADVICE r9, same latent class
         as the q_distinct_ngrams r9 catch) - so the oracle REFUSES
         loudly instead of dropping positions */
      SELECT CASE WHEN max(len(string_split(text, ' '))) >= 100000
             THEN error('q_proximity_rank oracle position cap 100000 exceeded by fixture')
             ELSE 1 END AS ok
      FROM documents
    ),
    tok AS (
      SELECT doc_id, gs.i AS pos, t[gs.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS t
            FROM documents) d
      JOIN range(1, 100000) gs(i) ON gs.i <= len(t)
      JOIN guard ON guard.ok = 1
    ),
    spans AS (
      SELECT a.doc_id,
             min(greatest(a.pos, b.pos, c.pos)
                 - least(a.pos, b.pos, c.pos) + 1) AS min_span,
             count(DISTINCT a.pos) AS n_t1,
             count(DISTINCT b.pos) AS n_t2,
             count(DISTINCT c.pos) AS n_t3
      FROM tok a
      JOIN tok b ON b.doc_id = a.doc_id AND b.w = '{_PROX_TERMS[1]}'
      JOIN tok c ON c.doc_id = a.doc_id AND c.w = '{_PROX_TERMS[2]}'
      WHERE a.w = '{_PROX_TERMS[0]}'
      GROUP BY a.doc_id
    )
    SELECT doc_id, cast(min_span as bigint) AS min_span,
           cast(n_t1 as bigint) AS n_t1,
           cast(n_t2 as bigint) AS n_t2,
           cast(n_t3 as bigint) AS n_t3
    FROM spans
    ORDER BY min_span, doc_id
    LIMIT 20
    """,
)
def q_proximity_rank(spark, sf_dir):
    """Proximity (min-window) ranking — the positional-IR rung above
    q_bm25's bag-of-words scoring: for the query terms {join, hash,
    scan}, each document containing ALL three is scored by the
    smallest token window covering one occurrence of each (the
    phrase-nearness signal MATCH_PHRASE / proximity boosts use), with
    per-term occurrence counts alongside; top-20 by (span, doc_id).
    The occurrence-combination join is per-document and bounded by
    per-term occurrence counts (a few each in any real corpus) —
    never corpus-quadratic; exact integer spans, so the cut is
    deterministic on both engines.

    Scale: positions come from one posexplode in the scan (the same
    positional-posting shape every proximity-scoring engine stores);
    the per-doc combination join is doc-keyed and co-partitioned; the
    final cut is TakeOrderedAndProject. At 100 TB the query-term
    filter prunes the posting scan before any join."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(F.split("text", " "))
                   .alias("pos", "w"))
    t1 = (tok.filter(F.col("w") == _PROX_TERMS[0])
          .select("doc_id", F.col("pos").alias("p1")))
    t2 = (tok.filter(F.col("w") == _PROX_TERMS[1])
          .select(F.col("doc_id").alias("d2"), F.col("pos").alias("p2")))
    t3 = (tok.filter(F.col("w") == _PROX_TERMS[2])
          .select(F.col("doc_id").alias("d3"), F.col("pos").alias("p3")))
    spans = (t1.join(t2, F.col("doc_id") == F.col("d2"))
             .join(t3, F.col("doc_id") == F.col("d3"))
             .groupBy("doc_id")
             .agg((F.min(F.greatest("p1", "p2", "p3")
                         - F.least("p1", "p2", "p3")) + 1)
                  .cast("long").alias("min_span"),
                  F.countDistinct("p1").cast("long").alias("n_t1"),
                  F.countDistinct("p2").cast("long").alias("n_t2"),
                  F.countDistinct("p3").cast("long").alias("n_t3")))
    return spans.orderBy("min_span", "doc_id").limit(20)


# ---------------------------------------------------------------------------
# q_rrf_fusion — reciprocal-rank fusion of two ranking signals
# ---------------------------------------------------------------------------

_RRF_K = 60


@query(
    "q_rrf_fusion",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             n_chars,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id)
               AS r_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tok DESC, doc_id)
               AS r_tokens
      FROM scored
    ),
    fused AS (
      SELECT doc_id, source, r_chars, r_tokens,
             cast(round(1.0 / ({_RRF_K} + r_chars), 8)
                  as decimal(18,8))
             + cast(round(1.0 / ({_RRF_K} + r_tokens), 8)
                    as decimal(18,8)) AS rrf
      FROM ranked
    ),
    cut AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY rrf DESC, doc_id)
                  AS rank_final
      FROM fused
    )
    SELECT source, doc_id,
           cast(r_chars as bigint) AS r_chars,
           cast(r_tokens as bigint) AS r_tokens,
           cast(rrf as double) AS rrf_score,
           cast(rank_final as bigint) AS rank_final
    FROM cut WHERE rank_final <= 3
    ORDER BY source, rank_final
    """,
)
def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09): two ranking
    signals over each source's documents (char mass, token count —
    standing in for BM25 vs embedding retrieval) fuse by
    score = Σ 1/(k + rank), k=60, and the top-3 fused docs per source
    survive. Ranks are integers with doc_id tie-breaks; each
    reciprocal term is rounded to 8dp and summed as exact decimals, so
    the fused order is bit-identical on both engines; the final cut
    re-ranks by (score DESC, doc_id).

    Scale: every window partitions by source (never an unpartitioned
    global sort — the q_curriculum_order ADVICE class); in a real
    retrieval stack the inputs are per-query top-k lists, which bound
    the fusion to k rows per signal regardless of corpus size — this
    per-source form is that same shape with source as the query key.
    Two keyed exchanges (both windows share the source partitioning),
    one filter."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W
    scored = d.select(
        "doc_id", "source", "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"))
    ws = W.partitionBy("source")
    ranked = scored.select(
        "doc_id", "source",
        F.row_number().over(ws.orderBy(F.desc("n_chars"), "doc_id"))
        .alias("r_chars"),
        F.row_number().over(ws.orderBy(F.desc("n_tok"), "doc_id"))
        .alias("r_tokens"))
    rrf = (F.round(1.0 / (_RRF_K + F.col("r_chars")), 8)
           .cast("decimal(18,8)")
           + F.round(1.0 / (_RRF_K + F.col("r_tokens")), 8)
           .cast("decimal(18,8)"))
    fused = ranked.withColumn("rrf", rrf)
    cut = fused.withColumn(
        "rank_final",
        F.row_number().over(ws.orderBy(F.desc("rrf"), "doc_id")))
    return (cut.filter(F.col("rank_final") <= 3)
            .select("source", "doc_id",
                    F.col("r_chars").cast("long").alias("r_chars"),
                    F.col("r_tokens").cast("long").alias("r_tokens"),
                    F.col("rrf").cast("double").alias("rrf_score"),
                    F.col("rank_final").cast("long").alias("rank_final"))
            .orderBy("source", "rank_final"))
