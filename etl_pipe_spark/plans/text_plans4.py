"""Corpus-construction operators round 4: boilerplate span removal and
token-budget curriculum selection.

Two operations every large-scale pretraining pipeline runs that the
registry still lacked (SURVEY §2.12 north-star family):

* **Boilerplate span removal** — the RefinedWeb/CCNet recipe of
  dropping lines that repeat verbatim across many documents (nav bars,
  cookie banners, license footers).  The driver corpus has no newlines,
  so the unit is a fixed 3-word span; the semantics — exact-hash span
  index, document-frequency threshold, strip-and-recount — are the
  published line-dedup algorithm unchanged.

* **Token-budget selection** — given a token budget, keep the
  highest-quality documents whose cumulative token count fits: the
  data-curriculum / quality-pareto step that turns a scored corpus
  into a training mix.  Quality here is the type-token ratio (the
  registry's repetition-filter metric), ranked globally with a
  prefix-sum cutoff.

Scale notes (100 TB): the span index is a single groupBy on the span
string — postings-bounded like the shingle index in dedup_plans; the
flagged-span set (df >= threshold) is orders of magnitude smaller than
the corpus but NOT assumed broadcastable — it meets the span stream in
an ordinary shuffle join that AQE can downgrade to broadcast when it
does fit.  Budget selection's global rank/prefix-sum uses the
two-phase range-partition decomposition in operators/ordering.py —
never a no-partition window (the single-task trap); no driver-side
iteration anywhere.
"""

from __future__ import annotations

import sys

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..operators import scope
from ..sources.catalog import load_table
from .catalog import register
from ..functions.frames import local_frame

try:
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp
# the cogrouped-map MMR kernel must pickle by value (the pandas_ops
# convention) so workers never need this module importable
_cp.register_pickle_by_value(sys.modules[__name__])

SPAN_WORDS = 3      # span width; stands in for "line" on newline-free corpora
BOILER_MIN_DF = 3   # spans seen in >= this many distinct docs are boilerplate
BUDGET_FRACTION = 0.3  # keep top-quality docs up to 30% of corpus tokens


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (doc, span): 3-word window text + its word count."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    n_spans = F.ceil(F.size("w") / SPAN_WORDS).cast("bigint")
    return (
        docs.select(
            "doc_id", "w",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_spans - 1)).alias("sid"),
        )
        .select(
            "doc_id",
            "sid",
            F.concat_ws(
                " ",
                F.slice(F.col("w"), (F.col("sid") * SPAN_WORDS + 1).cast("int"),
                        SPAN_WORDS),
            ).alias("span"),
            F.least(
                F.lit(SPAN_WORDS).cast("bigint"),
                F.size("w").cast("bigint") - F.col("sid") * SPAN_WORDS,
            ).alias("span_len"),
        )
    )


_BOILER_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), spans AS (
  SELECT doc_id, sid,
         array_to_string(w[(sid*{SPAN_WORDS}+1):(sid*{SPAN_WORDS}+{SPAN_WORDS})], ' ') AS span,
         least({SPAN_WORDS}, len(w) - sid*{SPAN_WORDS}) AS span_len
  FROM words,
       unnest(range(CAST(ceil(len(w)/{SPAN_WORDS}.0) AS BIGINT))) AS t(sid)
), boiler AS (
  SELECT span FROM spans GROUP BY span
  HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN b.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS boiler_spans,
       CAST(sum(CASE WHEN b.span IS NULL THEN s.span_len ELSE 0 END) AS BIGINT)
         AS kept_words
FROM spans s LEFT JOIN boiler b ON b.span = s.span
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


@register("boilerplate_span_removal", oracle=_BOILER_ORACLE)
def boilerplate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip spans that repeat across >= BOILER_MIN_DF distinct docs —
    the line-level boilerplate dedup of RefinedWeb/CCNet, adapted to
    3-word spans because the driver corpus has no newlines.

    Plan: segment each doc into fixed spans (sequence + slice — pure
    native expressions, no UDF), build the span document-frequency
    index with one groupBy, flag spans over the df threshold, and
    re-aggregate per doc into (total spans, boilerplate spans, words
    surviving the strip).  Two shuffles total — the span-df groupBy
    and the per-doc rollup; the flagged set joins back by span key
    without a broadcast assumption.
    """
    spans = _spans(spark, sf_dir)
    boiler = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
        .select("span", F.lit(True).alias("is_boiler"))
    )
    return (
        spans.join(boiler, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
            .cast("bigint").alias("boiler_spans"),
            F.sum(F.when(F.col("is_boiler").isNull(), F.col("span_len"))
                  .otherwise(0)).cast("bigint").alias("kept_words"),
        )
        .orderBy("doc_id")
    )


_SPLIT_MULT = 2654435761          # Knuth multiplicative constant (2^32 / phi)
_SPLIT_MOD = 4294967296           # 2^32
_SPLIT_TRAIN, _SPLIT_VAL = 0.8, 0.9  # cumulative split boundaries

_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         ((doc_id * {_SPLIT_MULT}) % {_SPLIT_MOD}) / CAST({_SPLIT_MOD} AS DOUBLE)
           AS u
  FROM documents
)
SELECT CASE WHEN u < {_SPLIT_TRAIN} THEN 'train'
            WHEN u < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM assigned
GROUP BY 1
ORDER BY split
"""


@register("train_test_split_hash", oracle=_SPLIT_ORACLE)
def train_test_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash — the
    split step every training pipeline runs before packing/sharding.

    The hash is the Knuth multiplicative scheme on the stable document
    key (id * 2654435761 mod 2^32, scaled to [0,1)) — pure 64-bit
    integer arithmetic that BOTH engines evaluate identically, unlike
    engine-native hash functions (Spark xxhash64 has no DuckDB twin),
    so the assignment itself is oracle-checkable, reproducible across
    reruns, and stable under repartitioning.  In production the key
    would be a content fingerprint (doc_fingerprint) rather than the
    id, so re-crawled duplicates land in the same split — the
    composition is the same expression over a different column.  One
    narrow projection + one aggregation; no shuffle beyond the 3-group
    rollup.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    u = (
        (F.col("doc_id") * F.lit(_SPLIT_MULT)) % F.lit(_SPLIT_MOD)
    ) / F.lit(float(_SPLIT_MOD))
    assigned = docs.withColumn(
        "split",
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test"),
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
        .orderBy("split")
    )


_BUDGET_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
  FROM documents
), ranked AS (
  SELECT doc_id, n_tokens, ttr,
         CAST(row_number() OVER (ORDER BY ttr DESC, doc_id) AS BIGINT) AS rnk,
         CAST(coalesce(sum(n_tokens) OVER (
           ORDER BY ttr DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM scored
)
SELECT doc_id, n_tokens, ttr, rnk, tokens_before
FROM ranked
WHERE tokens_before < (SELECT sum(n_tokens) FROM scored) * {BUDGET_FRACTION}
ORDER BY rnk
"""


@register("token_budget_selection", oracle=_BUDGET_ORACLE)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the highest-quality documents whose cumulative token count
    fits a corpus-fraction budget — the data-curriculum selection step.

    Quality = type-token ratio (distinct words / words; an exact
    int-by-int IEEE division, so both engines produce identical bits).
    The budget cutoff uses the EXCLUSIVE prefix sum (tokens before
    this doc), so the document that crosses the budget line is still
    admitted — the standard "fill until full" semantics.  The global
    rank + prefix sum go through ``ranked_running_sum`` — range
    partitioning, per-partition windows, and a p-row offset scan —
    NOT a no-partition window, which would drag the whole corpus into
    one task (operators/ordering.py documents the decomposition and
    why the result is partition-count independent).
    """
    from ..operators.ordering import ranked_running_sum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    scored = docs.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct("w")) / F.size("w").cast("double")).alias("ttr"),
    )
    # descending ttr == ascending negated ttr (finite double in [0,1],
    # NaN-free: size/size over non-empty splits) — ranked_running_sum
    # takes plain ascending value expressions
    order = [(-F.col("ttr")), F.col("doc_id")]
    total = scored.agg(F.sum("n_tokens").alias("__total"))
    return (
        ranked_running_sum(scored, order, "n_tokens",
                           rank_name="rnk", before_name="tokens_before")
        .crossJoin(F.broadcast(total))
        .filter(F.col("tokens_before") < F.col("__total") * F.lit(BUDGET_FRACTION))
        .select("doc_id", "n_tokens", "ttr", "rnk", "tokens_before")
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# BM25 ranked retrieval — the query-scored counterpart to the TF-IDF
# term audit (tfidf_top_terms): given a set of term queries, rank the
# corpus by Okapi BM25.  At 100 TB this is the "find training docs
# about X" primitive: postings build in one shuffle, the query table
# broadcasts, and only per-(query, doc) partial scores move.
# --------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
# deterministic multi-term queries over the corpus vocabulary
_BM25_QUERIES = (
    (0, ("spark", "hash", "join")),
    (1, ("window", "sort", "merge")),
    (2, ("table", "scan", "batch", "value")),
)

_BM25_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), doclen AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM docs
), tok AS (
  SELECT doc_id, unnest(w) AS term FROM docs
), postings AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY term
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM doclen
), qterms (query_id, term) AS (
  VALUES {", ".join(f"({qid}, '{t}')" for qid, ts in _BM25_QUERIES for t in ts)}
), scored AS (
  SELECT q.query_id, p.doc_id,
         sum(
           ln((stats.n - d.df + 0.5) / (d.df + 0.5) + 1)
           * (p.tf * ({_BM25_K1} + 1))
           / (p.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * l.dl / stats.avgdl))
         ) AS s
  FROM qterms q
  JOIN df d ON d.term = q.term
  JOIN postings p ON p.term = q.term
  JOIN doclen l ON l.doc_id = p.doc_id, stats
  GROUP BY q.query_id, p.doc_id
), ranked AS (
  SELECT query_id, doc_id, round(s, 4) AS score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY round(s, 4) DESC, doc_id
         ) AS rnk
  FROM scored
)
SELECT query_id, doc_id, score, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_BM25_TOPK}
ORDER BY query_id, rnk
"""


@register("bm25_retrieval", oracle=_BM25_ORACLE)
def bm25_retrieval(spark: SparkSession, sf_dir: str,
                   query_set=None) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed query set, hash-checked
    end to end (Robertson & Zaragoza 2009; the Lucene-style
    +1-inside-the-log idf, so scores stay positive).

    Exactness recipe (the unigram_logprob_quality precedent): every
    BM25 input is an exact bigint (tf, df, N, doclen) or a single
    bigint/bigint IEEE division (avgdl), so both engines feed
    identical bits into ln(); the only order-dependent step — the
    per-(query, doc) float sum across query terms — is absorbed by
    rounding to 4 decimals before ranking, and the rank itself orders
    by the ROUNDED score with a doc_id tie-break, so massive
    synthetic-vocabulary ties resolve identically in both engines.

    Plan shape at scale — filter FIRST, aggregate second: the token
    stream broadcast-semi-joins the (tiny, literal) query-term list
    BEFORE any shuffle, so the tf aggregation and everything after it
    move only MATCHED postings — never the whole-vocabulary postings
    table.  The matched-postings frame feeds both tf and df, so it is
    cached for the query's lifetime (a retrieval system persists its
    inverted index; the ivfpq_rerank warm-path precedent) and the
    tiny final ranking is localCheckpoint'ed.  df per query term is
    exact even
    though it is computed POST-filter: filtering to a term's own
    postings does not change that term's document count.  Corpus
    stats (N, avgdl) are a 1-row broadcast crossJoin (the repo-wide
    scalar pattern) computed from a narrow no-shuffle scan.
    """
    return scope.checkpoint(_bm25_topk(spark, sf_dir, query_set))


def _bm25_topk(spark: SparkSession, sf_dir: str,
               query_set=None) -> DataFrame:
    """The lazy ranking behind :func:`bm25_retrieval`."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    doclen = docs.select(
        "doc_id", F.size("w").cast("bigint").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("__avgdl"))
    # query_set overrides the pinned oracle queries for scale sweeps
    # over corpora with a different vocabulary (tools/dedup_scaling);
    # the registered/oracle-checked form always uses the module set
    qterms = local_frame(
        docs.sparkSession,
        [(qid, t) for qid, ts in (query_set or _BM25_QUERIES) for t in ts],
        "query_id int, term string")
    tok = docs.select("doc_id", F.explode("w").alias("term"))
    matched = scope.cache(
        tok.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfm = matched.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    contrib = (
        F.log((F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        * (F.col("tf") * (_BM25_K1 + 1))
        / (F.col("tf") + _BM25_K1
           * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("__avgdl")))
    )
    scored = (
        matched.join(F.broadcast(dfm), "term")
        .join(F.broadcast(qterms), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id"))
    out = (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _BM25_TOPK)
        .select("query_id", "doc_id", "score", "rnk")
        .orderBy("query_id", "rnk")
    )
    return out


# --------------------------------------------------------------------------
# MMR diversified retrieval (Carbonell & Goldstein 1998) on the BM25
# shortlist: relevance-ranked but redundancy-penalized top-k — the
# "relevant AND non-duplicative examples" selection a training-data
# pipeline wants when near-dup docs crowd a query's result list.
# --------------------------------------------------------------------------

_MMR_LAMBDA = 0.7   # relevance weight; (1 - lambda) penalizes redundancy
_MMR_K = 5          # diversified picks per query


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB: the BM25 oracle runs as a nested
    CTE (single source — a scoring change reaches this oracle too),
    pairwise token-set Jaccard over the shortlist, then _MMR_K
    mechanical (candidates, pick, selected) CTE triples mirroring the
    Spark loop's arithmetic exactly."""
    lam, div = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 10)
    parts = [f"""WITH bm AS ({_BM25_ORACLE}),
tsets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
  FROM documents WHERE doc_id IN (SELECT doc_id FROM bm)
),
sim AS (
  SELECT x.query_id, x.doc_id AS cand_id, y.doc_id AS sel_id,
         CAST(len(list_intersect(tx.t, ty.t)) AS DOUBLE)
           / CAST(len(tx.t) + len(ty.t) - len(list_intersect(tx.t, ty.t))
                  AS DOUBLE) AS jac
  FROM bm x
  JOIN bm y ON y.query_id = x.query_id AND y.doc_id != x.doc_id
  JOIN tsets tx ON tx.doc_id = x.doc_id
  JOIN tsets ty ON ty.doc_id = y.doc_id
),
sel1 AS (
  SELECT query_id, doc_id, score, 1 AS sel_rank,
         CAST(score AS DOUBLE) AS mmr
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
        FROM bm)
  WHERE rn = 1
)"""]
    prev = "sel1"
    for k in range(2, _MMR_K + 1):
        parts.append(f""", cand{k} AS (
  SELECT b.query_id, b.doc_id, b.score,
         {lam} * b.score - {div} * max(s.jac) AS mmr
  FROM bm b
  LEFT JOIN {prev} dup
    ON dup.query_id = b.query_id AND dup.doc_id = b.doc_id
  JOIN sim s ON s.query_id = b.query_id AND s.cand_id = b.doc_id
  JOIN {prev} p ON p.query_id = s.query_id AND p.doc_id = s.sel_id
  WHERE dup.doc_id IS NULL
  GROUP BY b.query_id, b.doc_id, b.score
), pick{k} AS (
  SELECT query_id, doc_id, score, {k} AS sel_rank, mmr
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY mmr DESC, doc_id) AS rn
        FROM cand{k})
  WHERE rn = 1
), sel{k} AS (
  SELECT * FROM {prev} UNION ALL SELECT * FROM pick{k}
)""")
        prev = f"sel{k}"
    parts.append(f"""
SELECT query_id, CAST(sel_rank AS BIGINT) AS sel_rank, doc_id,
       score AS relevance, mmr AS mmr_score
FROM {prev}
ORDER BY query_id, sel_rank""")
    return "".join(parts)


@register("mmr_diversified_retrieval", oracle=_mmr_oracle())
def mmr_diversified_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximal-marginal-relevance re-ranking of the BM25 top-k:
    pick the most relevant doc, then repeatedly the doc maximizing
    lambda*relevance - (1-lambda)*max_jaccard_to_selected.

    Exactness composition: relevance is bm25_retrieval's 4dp-rounded
    score (its own hash-green recipe); redundancy is token-set Jaccard
    — an int/int IEEE division computed JVM-side; the greedy loop runs
    in float64 on those bit-identical inputs (two multiplies, a
    subtract, a max — each correctly rounded, so identical in Python
    and DuckDB), and every argmax tie-breaks by doc_id.  The oracle
    unrolls the K-step loop as generated CTE triples, the pagerank
    convention.

    Scale: MMR is a POST-RETRIEVAL operator — its input is the
    (queries x k) shortlist, never the corpus.  The corpus-sized work
    (postings, df, BM25 scoring) happens once in bm25_retrieval's
    ranking, whose k-row output is checkpointed; the
    pairwise-similarity table is (queries x k^2) rows.  The greedy
    selection itself is a cogroup().applyInPandas over query_id — each group is one query's
    k scores + k^2 sims (bounded by construction, k=10 here), so the
    loop is embarrassingly parallel across queries with ONE shuffle
    and no per-step driver round trips; a million-query batch costs a
    million tiny groups, not a million Spark jobs.  (This is the
    grouped-map sibling of pandas_group_zscore and completes the
    Arrow surface matrix with the COGROUPED shape.)
    """
    # materialized inside scope.inspect() too: the cogroup below pairs
    # the shortlist with `sims`, which derives from it, and Spark
    # rejects that as an ambiguous self-join unless the shortlist is a
    # checkpoint
    short = _bm25_topk(spark, sf_dir).localCheckpoint(eager=True).select(
        "query_id", "doc_id", "score")
    tsets = (
        load_table(spark, sf_dir, "documents")
        .join(short.select("doc_id").distinct(), "doc_id")
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("t"))
    )
    tx = tsets.select(F.col("doc_id").alias("cand_id"), F.col("t").alias("tc"))
    ty = tsets.select(F.col("doc_id").alias("sel_id"), F.col("t").alias("ts"))
    x = short.select("query_id", F.col("doc_id").alias("cand_id"))
    y = short.select("query_id", F.col("doc_id").alias("sel_id"))
    n_common = F.size(F.array_intersect(F.col("tc"), F.col("ts")))
    sims = (
        x.join(y, "query_id")
        .filter(F.col("cand_id") != F.col("sel_id"))
        .join(tx, "cand_id").join(ty, "sel_id")
        .select(
            "query_id", "cand_id", "sel_id",
            (
                n_common.cast("double")
                / (F.size("tc") + F.size("ts") - n_common).cast("double")
            ).alias("jac"),
        )
        # (queries x k^2) rows; the checkpoint also severs the shared
        # lineage with `short` so the cogroup isn't an ambiguous
        # self-join of the same shortlist scan
        .localCheckpoint(eager=True)
    )
    out_schema = (
        "query_id long, sel_rank long, doc_id long, "
        "relevance double, mmr_score double"
    )
    selected = (
        short.groupBy("query_id")
        .cogroup(sims.groupBy("query_id"))
        .applyInPandas(_mmr_greedy, out_schema)
    )
    return selected.orderBy("query_id", "sel_rank")


def _mmr_greedy(scores: pd.DataFrame, sims: pd.DataFrame) -> pd.DataFrame:
    """One query's greedy MMR trajectory (k rows in, K rows out).

    Pure float64 on inputs the JVM side already made bit-identical to
    the oracle's; argmax scans in doc_id order with a strict > so ties
    resolve to the smallest doc_id, matching the oracle's
    row_number(ORDER BY mmr DESC, doc_id).
    """
    if scores.empty:
        return pd.DataFrame(
            columns=["query_id", "sel_rank", "doc_id", "relevance",
                     "mmr_score"])
    lam = _MMR_LAMBDA
    div = round(1 - _MMR_LAMBDA, 10)
    qid = int(scores["query_id"].iloc[0])
    cand = scores.sort_values("doc_id")
    rel = dict(zip(cand["doc_id"].astype(int), cand["score"].astype(float)))
    jac: dict[tuple[int, int], float] = {
        (int(c), int(s)): float(j)
        for c, s, j in zip(sims["cand_id"], sims["sel_id"], sims["jac"])
    }
    picked: list[tuple[int, float, float]] = []  # (doc, rel, mmr)
    remaining = sorted(rel)
    # first pick: plain relevance argmax (strict > => smallest doc wins ties)
    best, best_v = None, None
    for d in remaining:
        if best_v is None or rel[d] > best_v:
            best, best_v = d, rel[d]
    picked.append((best, rel[best], float(rel[best])))
    remaining.remove(best)
    while remaining and len(picked) < _MMR_K:
        best, best_v = None, None
        for d in remaining:
            # missing (candidate, selected) pair => zero similarity —
            # keeps sparse sims tables (or upstream-dropped NULL-jac
            # rows) from crashing the Arrow worker with a KeyError
            msim = max(jac.get((d, p), 0.0) for p, _, _ in picked)
            v = lam * rel[d] - div * msim
            if best_v is None or v > best_v:
                best, best_v = d, v
        picked.append((best, rel[best], best_v))
        remaining.remove(best)
    return pd.DataFrame(
        {
            "query_id": [qid] * len(picked),
            "sel_rank": range(1, len(picked) + 1),
            "doc_id": [p[0] for p in picked],
            "relevance": [p[1] for p in picked],
            "mmr_score": [p[2] for p in picked],
        }
    )
