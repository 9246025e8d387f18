"""BPE merge mining (round 5) — the tokenizer-TRAINING pass that
q_wordpiece_encode's docstring defers to ("merge mining happens
offline"). Five iterations of: count adjacent token pairs over the
word-frequency dict → take the (count DESC, pair ASC) argmax → merge
that pair corpus-wide. Emits the learned merge table
(it, t1, t2, merged, cnt) — the artifact a 100 TB pipeline ships to
its tokenizer.

Representation: each word is a '|'-delimited token string
('|l|o|w|'), so a merge is a string replace of '|a|b|' with '|ab|'.
Both engines' replace() scan left-to-right non-overlapping, so the
corpus after each merge is IDENTICAL on both sides; two replace
passes per merge catch the boundary-sharing second occurrence in
'abab'-style runs (a ≥3-fold chain of the same pair in one word
would stay unmerged — identically on both engines, so the hash
cannot diverge; real corpora hit this at negligible rates).

Scale: the only N-sized pass is the initial word-frequency groupBy
(map-side combined). Every iteration then runs on the |vocab|-sized
dict: one pair-count shuffle + a 1-row argmax broadcast-joined back —
no collect(), no driver-side corpus. This is exactly how production
BPE trainers scale: the dict, not the corpus, is the working set.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .registry import query
from .sources.fixtures import load_table
from .session import fan_out_scan

N_MERGES = 5


def _bpe_chain(n_merges: int = N_MERGES) -> str:
    """Generated n-stage CTE chain (no final SELECT): tok0 →
    (pairs1, best1, tok1) → … DuckDB dialect."""
    parts = [f"""
    WITH words AS (
      SELECT w AS word, count(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY 1
    ),
    tok0 AS (
      SELECT '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS rep, n
      FROM words
    )"""]
    for i in range(1, n_merges + 1):
        parts.append(f""",
    pairs{i} AS (
      SELECT pr[1] AS t1, pr[2] AS t2, sum(n) AS cnt
      FROM (
        SELECT unnest(list_zip(l, list_slice(l, 2, len(l)))) AS pr, n
        FROM (SELECT list_filter(string_split(rep, '|'),
                                 x -> x <> '') AS l, n
              FROM tok{i - 1})
      )
      WHERE pr[2] IS NOT NULL
      GROUP BY 1, 2
    ),
    best{i} AS (
      SELECT t1, t2, cast(cnt as bigint) AS cnt
      FROM pairs{i} ORDER BY cnt DESC, t1, t2 LIMIT 1
    ),
    tok{i} AS (
      SELECT replace(replace(t.rep,
                             '|' || b.t1 || '|' || b.t2 || '|',
                             '|' || b.t1 || b.t2 || '|'),
                     '|' || b.t1 || '|' || b.t2 || '|',
                     '|' || b.t1 || b.t2 || '|') AS rep, t.n
      FROM tok{i - 1} t CROSS JOIN best{i} b
    )""")
    return "".join(parts)


def _bpe_oracle(n_merges: int = N_MERGES) -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS it, t1, t2, t1 || t2 AS merged, cnt FROM best{i}"
        for i in range(1, n_merges + 1))
    return f"{_bpe_chain(n_merges)}\n{sel}\nORDER BY it"


def _vocab(spark, sf_dir):
    """The corpus word-frequency dict as '|'-delimited token strings
    (rep, n), materialized ONCE (optimization round r12, guide §5):
    every merge level's pair aggregation otherwise re-derives the full
    corpus explode + groupBy through the lazy tok lineage — 5 corpus
    passes per run. After the checkpoint each level's work is
    vocab-sized."""
    d = load_table(spark, sf_dir, "documents")
    # fan the single-row-group scan out before tokenize + partial agg
    # (optimization round r11)
    d = fan_out_scan(d, "doc_id")
    words = (d.select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.col("w").rlike("^[a-z]+$"))
             .groupBy("w").agg(F.count("*").alias("n")))
    return words.select(
        F.concat(F.lit("|"),
                 F.regexp_replace("w", "(.)", "$1|")).alias("rep"),
        "n").localCheckpoint(eager=True)


def _best_pair(tok):
    """The (count DESC, pair ASC) argmax adjacent pair (t1, t2, cnt)."""
    toks = F.filter(F.split("rep", r"\|"), lambda x: x != "")
    pairs = (tok.select(
        F.explode(F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 1).alias("a"),
            F.slice(toks, 2, F.size(toks) - 1).alias("b"),
        )).alias("pr"), "n")
        .select(F.col("pr.a").alias("t1"), F.col("pr.b").alias("t2"), "n")
        .groupBy("t1", "t2").agg(F.sum("n").alias("cnt")))
    return pairs.orderBy(F.desc("cnt"), "t1", "t2").limit(1)


def _merge(tok, best):
    """Merge best's (t1, t2) pair in every token string (two replace
    passes catch the boundary-sharing second occurrence)."""
    b = best.select(F.col("t1").alias("_t1"), F.col("t2").alias("_t2"))
    pat = F.concat(F.lit("|"), F.col("_t1"), F.lit("|"),
                   F.col("_t2"), F.lit("|"))
    rep2 = F.concat(F.lit("|"), F.col("_t1"), F.col("_t2"), F.lit("|"))
    return (tok.join(F.broadcast(b))
            .select(F.replace(F.replace("rep", pat, rep2), pat, rep2)
                    .alias("rep"), "n"))


@query("q_bpe_train", oracle=_bpe_oracle())
def q_bpe_train(spark, sf_dir):
    """Learn the first five BPE merges from the documents corpus (see
    module docstring for representation, tie-breaks, and the 100 TB
    shape). The DuckDB oracle re-learns them with the identical
    five-stage CTE chain, so the learned TABLE — pairs, merged tokens,
    and weighted counts — is value-hash-checked end to end."""
    tok = _vocab(spark, sf_dir)
    results = []
    for i in range(1, N_MERGES + 1):
        best = (_best_pair(tok)
                .select("t1", "t2", F.col("cnt").cast("bigint").alias("cnt"))
                .persist())
        results.append(best.select(
            F.lit(i).alias("it"), "t1", "t2",
            F.concat("t1", "t2").alias("merged"), "cnt"))
        tok = _merge(tok, best)

    return functools.reduce(DataFrame.unionAll, results)


def _bpe_apply_oracle(n_merges: int = N_MERGES) -> str:
    """The training chain (same CTEs) plus a final compression-stats
    stage over the fully merged dict."""
    return f"""{_bpe_chain(n_merges)}
    SELECT cast(sum(n) as bigint) AS n_words,
           cast(sum(len(replace(rep, '|', '')) * n) as bigint) AS n_chars,
           cast(sum(len(list_filter(string_split(rep, '|'),
                                    x -> x <> '')) * n) as bigint)
             AS n_tokens,
           round(cast(sum(len(list_filter(string_split(rep, '|'),
                                          x -> x <> '')) * n) as double)
                 / sum(n), 4) AS tokens_per_word,
           round(cast(sum(len(replace(rep, '|', '')) * n) as double)
                 / sum(len(list_filter(string_split(rep, '|'),
                                       x -> x <> '')) * n), 4)
             AS chars_per_token
    FROM tok{n_merges}
    """


@query("q_bpe_apply", oracle=_bpe_apply_oracle())
def q_bpe_apply(spark, sf_dir):
    """Apply the five learned merges corpus-wide and measure what a
    tokenizer team actually tracks: tokens/word and chars/token
    compression of the merged vocabulary vs raw characters. Shares
    q_bpe_train's loop (same learned merges by construction); the
    oracle re-learns AND re-applies in one CTE chain, so the
    compression numbers are value-hash-checked.

    Scale: identical to q_bpe_train + one final map-side-combined
    aggregate over the |vocab|-sized dict."""
    tok = _vocab(spark, sf_dir)
    for _ in range(N_MERGES):
        tok = _merge(tok, _best_pair(tok))

    toks = F.filter(F.split("rep", r"\|"), lambda x: x != "")
    nch = F.length(F.replace("rep", F.lit("|"), F.lit("")))
    return tok.agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.sum(nch * F.col("n")).cast("bigint").alias("n_chars"),
        F.sum(F.size(toks) * F.col("n")).cast("bigint").alias("n_tokens"),
        F.round(F.sum(F.size(toks) * F.col("n")).cast("double")
                / F.sum("n"), 4).alias("tokens_per_word"),
        F.round(F.sum(nch * F.col("n")).cast("double")
                / F.sum(F.size(toks) * F.col("n")), 4)
        .alias("chars_per_token"))


# ---------------------------------------------------------------------------
# q_unigram_segment — unigram-LM (SentencePiece-style) min-cost
# segmentation with exact integer costs
# ---------------------------------------------------------------------------

_UNI_BI = ("th", "he", "er", "in", "an", "re", "on", "at", "or",
           "ar", "ta", "st")
_UNI_TRI = ("the", "ing", "ter", "row", "sca")
_UNI_INF = 1_000_000_000


def _uni_cost(piece: str) -> int:
    if len(piece) == 1:
        return 60
    if piece in _UNI_BI:
        return 90
    if piece in _UNI_TRI:
        return 100
    return _UNI_INF


def unigram_min_cost(w: str) -> int:
    """Viterbi/DP min segmentation cost of one word under the fixed
    integer-cost piece vocabulary (pieces up to 3 chars). Pure python
    twin shared by the Spark UDF and the tests; the oracle unrolls the
    identical recurrence in static SQL."""
    L = len(w)
    dp = [0] + [_UNI_INF] * L
    for k in range(1, L + 1):
        best = _UNI_INF
        for j in (1, 2, 3):
            if j <= k:
                c = dp[k - j] + _uni_cost(w[k - j:k])
                if c < best:
                    best = c
        dp[k] = best
    return dp[L]


def _uni_cost_sql(expr: str) -> str:
    bis = ", ".join(f"'{p}'" for p in _UNI_BI)
    tris = ", ".join(f"'{p}'" for p in _UNI_TRI)
    return (f"CASE WHEN length({expr}) = 1 THEN 60 "
            f"WHEN {expr} IN ({bis}) THEN 90 "
            f"WHEN {expr} IN ({tris}) THEN 100 "
            f"ELSE {_UNI_INF} END")


def _unigram_oracle(max_len: int = 8) -> str:
    """Unroll the DP over positions 1..max_len as CHAINED MATERIALIZED
    CTEs, one per position (the corpus' longest token is 8 chars —
    asserted in the twin test): dp_k = min over j=1..3 of dp_(k-j) +
    cost(piece). Lateral column aliases would read nicer, but DuckDB
    expands them by SUBSTITUTION — a 3-branch recurrence over 8 levels
    becomes a ~3^8-leaf expression tree per row (measured: the whole
    check 3m37s at sf0.1; sub-second after this rewrite). Each CTE is
    MATERIALIZED because a single-reference inline would re-substitute
    the previous level three times and rebuild the same blowup."""
    ctes = ["d0 AS MATERIALIZED (SELECT w, length(w) AS L FROM dw)"]
    for k in range(1, max_len + 1):
        terms = []
        for j in (1, 2, 3):
            if j > k:
                continue
            prev = f"dp{k - j}" if k - j else "0"
            piece = f"substr(w, {k - j + 1}, {j})"
            terms.append(f"CASE WHEN {k} <= L THEN {prev} + "
                         f"{_uni_cost_sql(piece)} ELSE {_UNI_INF} END")
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT *, "
            f"least({', '.join(terms)}) AS dp{k} FROM d{k - 1})")
    final = " ".join(f"WHEN {k} THEN dp{k}"
                     for k in range(1, max_len + 1))
    chain = ",\n    ".join(ctes)
    return f"""
    WITH words AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    dw AS MATERIALIZED (SELECT DISTINCT w FROM words),
    {chain},
    costs AS MATERIALIZED (
      SELECT w, CASE L {final} END AS wcost FROM d{max_len}
    )
    SELECT doc_id,
           cast(count(*) as bigint) AS n_words,
           cast(sum(wcost) as bigint) AS seg_cost,
           cast(max(wcost) as bigint) AS max_word_cost
    FROM words JOIN costs USING (w)
    GROUP BY doc_id
    """


@query("q_unigram_segment", oracle=_unigram_oracle())
def q_unigram_segment(spark, sf_dir):
    """Unigram-LM tokenizer inference (the SentencePiece segmentation
    mode, Kudo 2018) — completes the tokenizer family's third
    algorithm beside BPE (merge replay) and WordPiece (greedy longest
    match): each word is segmented by GLOBAL min total piece cost via
    Viterbi DP, which greedy matching gets wrong whenever a locally
    longest piece blocks a cheaper split. Costs are fixed integers
    (chars 60, common bigrams 90, trigrams 100 — the integer analogue
    of -log p), so the min cost is exact and the per-doc cost totals
    hash-check; the oracle unrolls the identical recurrence as eight
    static SQL columns over the distinct-word table (the min COST is
    unique even when the argmin path ties, so no tie-break leaks in).

    Scale: the DP runs once per DISTINCT word (a dict-cached python
    pass inside Arrow batches), then broadcast-joins back to the
    corpus — at 100 TB the vocabulary table is the small side and the
    per-token work is a hash lookup, exactly how production
    tokenizers amortize."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id",
                     F.explode(F.split("text", " ")).alias("w"))

    def seg(batches):
        cache: dict[str, int] = {}
        for pdf in batches:
            costs = []
            for w in pdf["w"]:
                c = cache.get(w)
                if c is None:
                    c = cache[w] = unigram_min_cost(w)
                costs.append(c)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "wcost": costs})

    per_word = words.mapInPandas(
        seg, schema="doc_id bigint, wcost bigint")
    return (per_word.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("wcost").cast("long").alias("seg_cost"),
                 F.max("wcost").cast("long").alias("max_word_cost")))
