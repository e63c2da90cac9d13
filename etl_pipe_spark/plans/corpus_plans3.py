"""Corpus-construction operators round 6b: the full BPE training
loop and exact global quantiles.

* **BPE merge training** — the complete iterative byte-pair-encoding
  trainer (Sennrich et al. 2016), not just one round's pair counts
  (`bpe_pair_stats` is the single-pass unit; this runs the LOOP).
  Each round counts adjacent-symbol pairs over the word-frequency
  table, picks the deterministic argmax (count desc, pair lex asc),
  and applies the merge to every word before the next round — the
  exact greedy left-to-right merge semantics of the reference BPE
  algorithm.  The learned merge list IS the tokenizer artifact a
  training pipeline ships.

  Exactness design (the reason an inherently sequential trainer can
  be hash-checked): words are held as `\\x01`-delimited symbol
  strings — every symbol wrapped as `\\x01 sym \\x01`, so a symbol
  boundary is the two-byte `\\x01\\x01` and the pair (a, b) appears
  as the unambiguous substring `\\x01 a \\x01\\x01 b \\x01` (symbols
  never contain the separator; a pattern anchored by separators on
  both sides cannot match inside a longer symbol).  Applying a merge
  is then plain non-regex `replace(...)`, which both Spark and DuckDB
  evaluate as a left-to-right non-overlapping scan that resumes AFTER
  each replacement — exactly BPE's greedy pairing (`aaaa` under merge
  (a,a) becomes `aa aa`, `aaa` becomes `aa a`).  All counts are
  bigints; the oracle unrolls the loop as generated CTE rounds.

* **Exact global quantiles** — nearest-lower-rank percentiles of the
  per-document token count, computed with the two-phase distributed
  rank (`operators/ordering.py`) instead of the single-task global
  window, then one broadcast join against the 5-row target-rank
  table.  Complements `approx_aggregates` (the sketch tier): the
  sketch serves monitoring cadence, this serves the places where the
  threshold must be exact and reproducible (contract cut-offs,
  regression gates).  rank_p = (n-1)*p//100 + 1 — pure integer, no
  interpolation, so the value is a real corpus member and the hash
  check is exact.

Scale notes (100 TB): BPE's corpus cost is ONE collapse to the
word-frequency table (vocabulary-sized — millions of rows against
billions of documents); every merge round after that is a
vocab-sized explode + partial-aggregated pair count + a 1-row
TakeOrdered, with the merge applied map-side.  Driver state per
round is exactly one (pair, count) row, and the per-round
localCheckpoint keeps round k's lineage from re-deriving rounds
0..k-1 (at cluster scale: checkpoint the word table to storage; a
production trainer also min-count-prunes the vocab first, which
this plan would express as one extra filter).  The quantile query
moves the corpus once into range partitions and never funnels it
into one task.

Reference parity: the reference engine (extract.py/transform.py) has
no tokenizer or statistics operators — this family extends it toward
the training-data workload, like corpus_plans2 before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..operators import scope
from ..operators.ordering import ranked_running_sum
from ..sources.catalog import load_table
from .catalog import register
from ..functions.frames import local_frame

BPE_MERGES = 8          # trained merge rounds (unrolled in the oracle)
BPE_VOCAB_TOP = 40      # vocabulary rows returned by the encode query
_SEP = "\x01"           # symbol delimiter; words containing it are dropped
_QUANT_PS = (25, 50, 75, 90, 99)


def _bpe_oracle() -> str:
    """Generate the unrolled-loop DuckDB twin: word frequencies →
    wrapped symbol strings, then BPE_MERGES mechanical
    (pairs, counts, argmax, apply) CTE rounds using the same
    separator-anchored plain `replace` as the Spark loop."""
    sep = "chr(1)"
    parts = [f"""WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND NOT contains(word, chr(1))
  GROUP BY word
),
w0 AS (
  SELECT regexp_replace(word, '(.)', {sep} || '\\1' || {sep}, 'g') AS w, wc
  FROM words
)"""]
    for i in range(BPE_MERGES):
        parts.append(f""", s{i} AS MATERIALIZED (
  SELECT string_split(trim(w, chr(1)), {sep} || {sep}) AS syms, wc FROM w{i}
), c{i} AS MATERIALIZED (
  SELECT syms[CAST(t.i AS INT)] AS l, syms[CAST(t.i AS INT) + 1] AS r,
         CAST(sum(wc) AS BIGINT) AS cnt
  FROM s{i}, unnest(range(1, len(syms))) AS t(i)
  GROUP BY 1, 2
), m{i} AS MATERIALIZED (
  SELECT l, r, cnt FROM c{i} ORDER BY cnt DESC, l, r LIMIT 1
), w{i + 1} AS MATERIALIZED (
  SELECT replace(w,
           {sep} || (SELECT l FROM m{i}) || {sep} || {sep}
                 || (SELECT r FROM m{i}) || {sep},
           {sep} || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || {sep})
           AS w, wc
  FROM w{i}
)""")
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS rnk, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, cnt FROM m{i}"
        for i in range(BPE_MERGES)
    )
    parts.append(f"\nSELECT * FROM ({rows}) ORDER BY rnk")
    return "".join(parts)


def _bpe_encode_oracle() -> str:
    """The encode twin: the same unrolled training rounds, then the
    final word table re-split into subword tokens and aggregated into
    the vocabulary (token frequency weighted by word count)."""
    train = _bpe_oracle()
    head = train[: train.rindex("\nSELECT * FROM (")]
    return head + f"""
, toks AS (
  SELECT unnest(string_split(trim(w, chr(1)), chr(1) || chr(1))) AS token,
         wc
  FROM w{BPE_MERGES}
), vocab AS (
  SELECT token, CAST(sum(wc) AS BIGINT) AS cnt,
         CAST(length(token) AS BIGINT) AS token_len
  FROM toks GROUP BY token
)
SELECT token, cnt, token_len,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk
FROM vocab
ORDER BY rnk
LIMIT {BPE_VOCAB_TOP}
"""


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the merge loop; return (final wrapped-word frame, merges).

    The corpus is touched ONCE (the vocab collapse); each round runs
    on the vocabulary.  The argmax collect is one row per round — the
    same bounded-driver-state class as the centroid collects in
    operators/ann.py — and the applied table is localCheckpoint'ed so
    round k never re-derives rounds 0..k-1.
    """
    sep2 = _SEP + _SEP
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & ~F.col("word").contains(_SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .select(
            F.regexp_replace("word", "(.)", _SEP + "$1" + _SEP).alias("w"),
            "wc",
        )
        .localCheckpoint(eager=True)
    )
    merges = []
    for i in range(BPE_MERGES):
        pairs = (
            words.select(
                F.split(F.expr("btrim(w, char(1))"), r"\x01\x01").alias("syms"),
                "wc",
            )
            .filter(F.size("syms") >= 2)  # sequence(1, 0) is DESCENDING
            .select(
                "syms", "wc",
                F.explode(
                    F.sequence(F.lit(1), F.size("syms") - 1)
                ).alias("i"),
            )
            .select(
                F.element_at("syms", F.col("i")).alias("l"),
                F.element_at("syms", F.col("i") + 1).alias("r"),
                "wc",
            )
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("wc").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not top:  # fully merged corpus — cannot happen at these sfs
            raise ValueError(f"no pairs left at merge round {i}")
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((i + 1, l, r, l + r, cnt))
        words = words.withColumn(
            "w",
            F.replace(
                F.col("w"),
                F.lit(_SEP + l + sep2 + r + _SEP),
                F.lit(_SEP + l + r + _SEP),
            ),
        ).localCheckpoint(eager=True)
    return words, merges


@register("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE merge table: BPE_MERGES rounds of
    (count pairs → argmax → apply merge) over the corpus
    word-frequency table, returning (rank, left, right, merged,
    count) per learned merge.  Loop mechanics in :func:`_bpe_train`.
    """
    _, merges = _bpe_train(spark, sf_dir)
    return local_frame(
        spark, merges,
        "rnk bigint, left_sym string, right_sym string, "
        "merged string, cnt bigint",
    ).orderBy("rnk")


@register("bpe_encode_vocab", oracle=_bpe_encode_oracle())
def bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE half of the tokenizer: the trained merges applied to
    every word, and the resulting subword vocabulary aggregated with
    corpus frequencies — the (token -> id, count) table a training
    pipeline ships next to the merge list.

    Plan: training's final word table (vocabulary-sized, merges
    already applied map-side by the loop's chained replaces) is
    re-split into symbols and exploded WEIGHTED by word count — one
    vocab-sized aggregate, the corpus itself never touched a second
    time.  Production encodes the real token stream with the same
    chained-replace expressions, which is a pure map stage.
    """
    words, _ = _bpe_train(spark, sf_dir)
    toks = (
        words.select(
            F.explode(
                F.split(F.expr("btrim(w, char(1))"), r"\x01\x01")
            ).alias("token"),
            "wc",
        )
        .groupBy("token")
        .agg(F.sum("wc").cast("bigint").alias("cnt"))
        .withColumn("token_len", F.length("token").cast("bigint"))
    )
    top = toks.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(
        BPE_VOCAB_TOP
    )
    from pyspark.sql.window import Window as W

    return top.withColumn(
        "rnk",
        F.row_number()
        .over(W.orderBy(F.col("cnt").desc(), F.col("token").asc()))
        .cast("bigint"),
    ).select("token", "cnt", "token_len", "rnk").orderBy("rnk")


COOC_WINDOW = 4      # co-occurrence window (token distance <= W)
COOC_TOP = 50        # collocation rows returned


_COOC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
), stream AS (
  SELECT unnest(a) AS tok FROM toks
), marg AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM stream GROUP BY tok
), n_tok AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tok FROM stream
), raw_pairs AS (
  SELECT least(a[CAST(t1.i AS INT)], a[CAST(t2.j AS INT)]) AS tok_a,
         greatest(a[CAST(t1.i AS INT)], a[CAST(t2.j AS INT)]) AS tok_b
  FROM toks,
       unnest(range(1, len(a))) AS t1(i),
       unnest(range(t1.i + 1, least(t1.i + {COOC_WINDOW}, len(a)) + 1))
         AS t2(j)
), pair_counts AS (
  SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS pair_cnt
  FROM raw_pairs GROUP BY tok_a, tok_b
), n_pairs AS (
  SELECT CAST(sum(pair_cnt) AS BIGINT) AS n_pairs FROM pair_counts
), top AS (
  SELECT tok_a, tok_b, pair_cnt,
         CAST(row_number() OVER (ORDER BY pair_cnt DESC, tok_a, tok_b)
              AS BIGINT) AS rnk
  FROM pair_counts
  ORDER BY pair_cnt DESC, tok_a, tok_b LIMIT {COOC_TOP}
)
SELECT t.tok_a, t.tok_b, t.pair_cnt, t.rnk,
       round(ln((CAST(t.pair_cnt AS DOUBLE) * n_tok.n_tok * n_tok.n_tok)
                / (CAST(n_pairs.n_pairs AS DOUBLE) * ma.cnt * mb.cnt)), 4)
         AS pmi_r4
FROM top t
JOIN marg ma ON ma.tok = t.tok_a
JOIN marg mb ON mb.tok = t.tok_b
CROSS JOIN n_tok CROSS JOIN n_pairs
ORDER BY t.rnk
"""


@register("cooccurrence_pmi", oracle=_COOC_ORACLE)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence collocations with pointwise mutual
    information — the distributional statistic under word2vec/GloVe
    embedding training and classic collocation extraction (Church &
    Hanks 1990): count unordered token pairs within a W-token window,
    rank by count, report PMI against the unigram marginals.

    Scale design: the pair stream is generated MAP-SIDE by nested
    array transforms over each document's token array (no positional
    self-join — a join on (doc_id, |i-j|<=W) would shuffle the
    exploded corpus twice and tempt a range-join plan); the only
    corpus-wide exchanges are the pair groupBy and the unigram count.
    Marginals attach AFTER the top-K cut: the 50-row collocation
    table broadcasts into the vocab-sized count table, so the PMI
    join is top-K-sized, never pair-space-sized.  The single ln()
    per row rounds at 4 decimals (the repo's log-score parity
    convention — bm25/unigram precedent).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("a")
    )
    # Outer index stops at size-1 so the inner sequence is never
    # descending (the sequence(1, 0) trap).
    pairs = (
        docs.filter(F.size("a") >= 2)
        .select(
            F.explode(
                F.expr(f"""flatten(transform(sequence(1, size(a) - 1), i ->
                  transform(sequence(i + 1, least(i + {COOC_WINDOW}, size(a))),
                            j -> struct(
                              least(element_at(a, i), element_at(a, j)) AS tok_a,
                              greatest(element_at(a, i), element_at(a, j)) AS tok_b
                            ))))""")
            ).alias("p")
        )
        .select("p.tok_a", "p.tok_b")
    )
    pair_counts = scope.cache(pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("pair_cnt")
    ))
    top = (
        pair_counts.orderBy(
            F.col("pair_cnt").desc(), F.col("tok_a"), F.col("tok_b")
        )
        .limit(COOC_TOP)
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                W.orderBy(
                    F.col("pair_cnt").desc(), F.col("tok_a"),
                    F.col("tok_b")
                )
            )
            .cast("bigint"),
        )
    )
    stream = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    marg = stream.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    n_tok = stream.agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    n_pairs = pair_counts.agg(
        F.sum("pair_cnt").cast("bigint").alias("n_pairs")
    )
    ma = marg.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("cnt_a"))
    mb = marg.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    out = (
        ma.join(F.broadcast(top), "tok_a")
        .join(mb, "tok_b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "tok_a", "tok_b", "pair_cnt", "rnk",
            F.expr(
                "round(ln((CAST(pair_cnt AS DOUBLE) * n_tok * n_tok)"
                " / (CAST(n_pairs AS DOUBLE) * cnt_a * cnt_b)), 4)"
            ).alias("pmi_r4"),
        )
        .orderBy("rnk")
    )
    return scope.checkpoint(out)


_QUANT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), r AS (
  SELECT doc_id, n_tokens,
         CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS rnk
  FROM d
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM d
), q AS (
  SELECT CAST(unnest([{", ".join(str(p) for p in _QUANT_PS)}]) AS BIGINT) AS p
)
SELECT q.p, ((n.n - 1) * q.p) // 100 + 1 AS target_rnk,
       r.n_tokens AS value
FROM q CROSS JOIN n
JOIN r ON r.rnk = ((n.n - 1) * q.p) // 100 + 1
ORDER BY q.p
"""


@register("exact_global_quantiles", oracle=_QUANT_ORACLE)
def exact_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-lower-rank percentiles of per-document token
    count — the threshold-grade twin of the approx_aggregates sketch.

    Plan: two-phase distributed rank (range partitions + partitioned
    window + p-row offset scan — operators/ordering.py) attaches the
    global rank without a single-task window; the 5-row target-rank
    table (percentiles x a broadcast 1-row count) joins back
    BROADCAST, so the corpus is scanned once and shuffled once.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    ranked = ranked_running_sum(
        docs, [F.col("n_tokens"), F.col("doc_id")], None
    )
    n_row = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    targets = (
        spark.range(len(_QUANT_PS))
        .select(
            F.element_at(
                F.array(*[F.lit(p) for p in _QUANT_PS]),
                (F.col("id") + 1).cast("int"),
            ).cast("bigint").alias("p")
        )
        .crossJoin(F.broadcast(n_row))
        .select(
            "p",
            (F.expr("((n - 1) * p) div 100") + 1).cast("bigint")
            .alias("target_rnk"),
        )
    )
    return (
        ranked.join(
            F.broadcast(targets), ranked["rnk"] == targets["target_rnk"]
        )
        .select("p", "target_rnk", F.col("n_tokens").alias("value"))
        .orderBy("p")
    )
