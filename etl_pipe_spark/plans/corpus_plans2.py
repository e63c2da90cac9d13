"""Corpus-construction operators round 5: exact substring dedup,
per-domain cap sampling, BPE pair statistics, and int8 embedding
quantization.

Four operations from the published LLM-pretraining-pipeline canon that
the registry still lacked (SURVEY §2.12 north-star family):

* **Exact substring dedup** — the ExactSubstr pass of Lee et al. 2022
  ("Deduplicating Training Data Makes Language Models Better"): find
  w-token substrings that occur more than once anywhere in the corpus
  and remove every occurrence except the first.  The paper builds one
  giant suffix array; the distributed re-expression is stride-1
  rolling windows hashed into a global window index — the same
  duplicated-substring set, computed with one groupBy instead of a
  single-node suffix sort.

* **Per-domain cap sampling** — the RefinedWeb/C4 rule of capping how
  many documents any one domain may contribute, so a handful of giant
  hosts cannot dominate the mix.  Selection within a domain is by
  deterministic key hash, so the sample is reproducible and
  oracle-checkable.

* **BPE pair statistics** — the first step of byte-pair-encoding
  tokenizer training (Sennrich et al. 2016): corpus word frequencies
  joined with within-word adjacent-symbol pairs, aggregated to the
  top merge candidates.  The full BPE loop is sequential by nature
  (each merge depends on the last); the distributed unit of work is
  exactly this pair-count pass, re-run per merge round.

* **Int8 scalar quantization** — per-dimension min/max linear
  quantization of float embeddings to uint8 codes (the standard 4x
  storage shrink before ANN indexing; the scalar-quantizer half of
  the FAISS SQ8 index).  The query certifies the codes themselves —
  integer outputs, exact across engines — not a float-tolerance echo.

Scale notes (100 TB): the substring window index is one groupBy on the
window text (postings bounded by occurrence counts, same shape as the
shingle index in dedup_plans); the per-domain cap is a partitioned
window — parallel across domains, and a skewed mega-domain can be
pre-capped per partition (any per-partition top-CAP superset contains
the global top-CAP) before the final rank; the pair count is two
narrow aggs (word counts, then pair sums); quantization is one
64-row dimension-stats agg broadcast back over a single explode pass.
No driver-side loops, no global single-task windows, no all-pairs
stage anywhere.

Reference parity: the reference engine (extract.py/transform.py) has
no corpus operators at all — this family extends it toward the
training-data workload the prompt stakes out, like text_plans4 and
corpus_plans before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..functions import vectors as VX
from ..operators import scope
from ..sources.catalog import load_table
from .catalog import register
from ..functions.frames import local_frame

WIN_WORDS = 8            # substring window width (tokens)
_POS_ENC = 1_000_000     # encodes (doc_id, sid) as one orderable bigint
DOMAIN_CAP = 10          # max docs any one source may contribute
_CAP_MULT = 2654435761   # Knuth multiplicative constant (2^32 / phi)
_CAP_MOD = 4294967296    # 2^32
BPE_TOP_K = 20           # merge candidates reported per pair-count pass
Q_LEVELS = 255           # uint8 code range 0..255


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2022, ExactSubstr)
# ---------------------------------------------------------------------------

_SUBSTR_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), wins AS (
  SELECT doc_id, sid,
         array_to_string(w[(sid+1):(sid+{WIN_WORDS})], ' ') AS win,
         doc_id * {_POS_ENC} + sid AS pos_key
  FROM words, unnest(range(len(w) - {WIN_WORDS} + 1)) AS t(sid)
  WHERE len(w) >= {WIN_WORDS}
), idx AS (
  SELECT win, count(*) AS occ, min(pos_key) AS keep_key
  FROM wins GROUP BY win HAVING count(*) >= 2
)
SELECT ws.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN i.win IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_windows,
       CAST(sum(CASE WHEN i.win IS NOT NULL AND ws.pos_key <> i.keep_key
                     THEN 1 ELSE 0 END) AS BIGINT) AS removed_windows
FROM wins ws LEFT JOIN idx i ON i.win = ws.win
GROUP BY ws.doc_id
ORDER BY ws.doc_id
"""


@register("substring_dedup_windows", oracle=_SUBSTR_ORACLE)
def substring_dedup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring audit with first-occurrence-
    wins removal counts — Lee et al. 2022's ExactSubstr, re-expressed
    as rolling windows over a distributed window index.

    Every stride-1 window of WIN_WORDS tokens is emitted with its
    corpus position encoded as one orderable bigint; windows whose
    text occurs >= 2 times anywhere (cross-document OR self-repeat)
    are duplicates, and the occurrence with the smallest position key
    is the keeper — every other occurrence is a removal candidate.
    Differs from boilerplate_span_removal (text_plans4) in kind:
    stride-1 overlapping windows vs disjoint spans, any-second-
    occurrence vs a document-frequency threshold, and positional
    first-wins vs strip-everywhere.

    Scale: the window stream is |tokens| rows wide but two columns
    narrow; the index groupBy is the only wide shuffle, and its
    postings are bounded by real duplication (a window seen once
    carries no group state beyond the count).  The index→stream join
    is an ordinary shuffle join on the window text that AQE downgrades
    to broadcast when the duplicate set fits.  min() over the encoded
    position replaces a struct-min so the oracle computes the identical
    bigint with plain integer arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    ).where(F.size("w") >= WIN_WORDS)
    n_win = (F.size("w") - WIN_WORDS + 1).cast("bigint")
    wins = (
        docs.select(
            "doc_id", "w",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_win - 1)).alias("sid"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.col("w"), (F.col("sid") + 1).cast("int"), WIN_WORDS)
            ).alias("win"),
            (F.col("doc_id") * _POS_ENC + F.col("sid")).alias("pos_key"),
        )
    )
    idx = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("occ"), F.min("pos_key").alias("keep_key"))
        .where(F.col("occ") >= 2)
    )
    flagged = wins.join(idx, "win", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("occ").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("dup_windows"),
            F.sum(
                F.when(
                    F.col("occ").isNotNull()
                    & (F.col("pos_key") != F.col("keep_key")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("removed_windows"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-domain cap sampling (RefinedWeb / C4 domain balancing)
# ---------------------------------------------------------------------------

_DOMAIN_CAP_ORACLE = f"""
WITH hashed AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         (doc_id * {_CAP_MULT}) % {_CAP_MOD} AS h
  FROM documents
), ranked AS (
  SELECT source, doc_id, n_tokens,
         CAST(row_number() OVER (
           PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rnk
  FROM hashed
)
SELECT source, doc_id, n_tokens, rnk
FROM ranked WHERE rnk <= {DOMAIN_CAP}
ORDER BY source, rnk
"""


@register("domain_cap_sampling", oracle=_DOMAIN_CAP_ORACLE)
def domain_cap_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source domain at DOMAIN_CAP documents, selected by
    deterministic key hash — the RefinedWeb/C4 domain-balancing rule
    that stops a handful of giant hosts dominating the training mix.

    The within-domain order is the Knuth multiplicative hash of the
    stable document key (same portable scheme as
    train_test_split_hash — pure 64-bit integer arithmetic both
    engines evaluate identically), tie-broken by the key itself, so
    the sample is reproducible under repartitioning and re-crawls.

    Scale: one partitioned window — parallel across domains.  For a
    skewed mega-domain the rank never needs the whole domain in one
    task: any per-partition top-CAP is a superset of the global
    top-CAP, so a pre-filter (per-partition row_number <= CAP over the
    same order) bounds the final window's input at CAP * shuffle
    partitions rows per domain; at this corpus the plain window is
    already the right plan and AQE handles residual skew.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    h = (F.col("doc_id") * F.lit(_CAP_MULT)) % F.lit(_CAP_MOD)
    ranked = docs.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
        ).cast("bigint"),
    )
    return (
        ranked.where(F.col("rnk") <= DOMAIN_CAP)
        .select("source", "doc_id", "n_tokens", "rnk")
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# BPE pair statistics (Sennrich et al. 2016, one merge round's counts)
# ---------------------------------------------------------------------------

_BPE_ORACLE = f"""
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY word
), pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, wc
  FROM words, unnest(range(1, len(word))) AS t(i)
  WHERE len(word) >= 2
), counted AS (
  SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM pairs GROUP BY pair
)
SELECT pair, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rnk
FROM counted
ORDER BY rnk
LIMIT {BPE_TOP_K}
"""


@register("bpe_pair_stats", oracle=_BPE_ORACLE)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top merge candidates for one byte-pair-encoding round: corpus
    word frequencies x within-word adjacent character pairs, summed
    and ranked (Sennrich et al. 2016's count step, the distributed
    unit of BPE tokenizer training).

    Scale: the corpus collapses to the word-frequency table first
    (groupBy word — vocabulary-sized, tiny next to the token stream),
    so the pair explosion runs over |vocab| * avg_word_len rows, not
    the corpus; the final top-K is a TakeOrderedAndProject, never a
    global sort.  Later merge rounds re-run the same pass over the
    re-symbolized word table — each round is this query with a wider
    symbol alphabet.
    """
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = (
        words.where(F.length("word") >= 2)
        .select(
            "word", "wc",
            F.explode(
                F.sequence(F.lit(1), (F.length("word") - 1).cast("int"))
            ).alias("i"),
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "wc")
    )
    counted = pairs.groupBy("pair").agg(F.sum("wc").cast("bigint").alias("cnt"))
    # Top-K first (TakeOrderedAndProject — never a global sort), THEN
    # rank: the no-partition window runs over <= BPE_TOP_K rows, and
    # because its order equals the top-K order the ranks are identical
    # to ranking-then-limiting.
    top = counted.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(BPE_TOP_K)
    return top.withColumn(
        "rnk",
        F.row_number().over(W.orderBy(F.col("cnt").desc(), F.col("pair").asc()))
        .cast("bigint"),
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# Int8 scalar quantization of embeddings (FAISS SQ8 storage half)
# ---------------------------------------------------------------------------

_SQ8_ORACLE = f"""
WITH flat AS (
  SELECT vec_id, CAST(t.i - 1 AS INT) AS dim,
         CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), stats AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM flat GROUP BY dim
), coded AS (
  SELECT f.vec_id,
         CASE WHEN s.hi = s.lo THEN 0
              ELSE CAST(floor((f.x - s.lo) / ((s.hi - s.lo) / {Q_LEVELS}) + 0.5)
                        AS BIGINT) END AS code
  FROM flat f JOIN stats s ON s.dim = f.dim
)
SELECT vec_id,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(CASE WHEN code = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
       CAST(sum(CASE WHEN code = {Q_LEVELS} THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
FROM coded
GROUP BY vec_id
ORDER BY vec_id
"""


@register("sq8_embedding_quantization", oracle=_SQ8_ORACLE)
def sq8_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uint8 scalar quantization of the embedding table: per-dimension
    corpus min/max -> linear codes 0..255 — the storage half of a
    FAISS-style SQ8 index (4x shrink before ANN), certified by exact
    integer outputs per vector (code sum + saturation counts).

    Both engines compute the identical double-precision expression
    floor((x - lo) / ((hi - lo) / 255) + 0.5): float32 -> double
    widening is exact and IEEE ops are bit-deterministic, so the codes
    — and hence the integer aggregates — hash-match exactly; no
    float-tolerance oracle needed.  Degenerate constant dimensions
    (hi = lo) code to 0 in both engines instead of dividing by zero.

    Scale: one posexplode pass (N x dim narrow rows), a 64-row
    dimension-stats aggregate broadcast back onto the stream, one
    groupBy vec_id.  The stats table is dim-sized — broadcastable at
    any corpus size — so the corpus never shuffles; production would
    write the codes column alongside the vectors (same plan minus the
    final agg) and feed ivfpq/ann from it.
    """
    flat = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("dim", "xf"))
        .select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    )
    stats = flat.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    coded = flat.join(F.broadcast(stats), "dim").select(
        "vec_id",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
        .otherwise(
            F.floor(
                (F.col("x") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / Q_LEVELS)
                + 0.5
            ).cast("bigint")
        )
        .alias("code"),
    )
    return (
        coded.groupBy("vec_id")
        .agg(
            F.sum("code").cast("bigint").alias("code_sum"),
            F.sum(F.when(F.col("code") == 0, 1).otherwise(0))
            .cast("bigint").alias("n_lo"),
            F.sum(F.when(F.col("code") == Q_LEVELS, 1).otherwise(0))
            .cast("bigint").alias("n_hi"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Distributed logistic-regression quality classifier (full-batch GD)
# ---------------------------------------------------------------------------

_LOGREG_ITERS = 8
_LOGREG_LR = 1.0
_LOGREG_ACC_FLOOR = 0.85
_LOGREG_LABEL_TOKENS = 55   # near the corpus mean -> balanced classes
# Loss-trace slack: per-row quantization error <= 2^-25; GD on a
# convex loss with lr < 2/L decreases every step, so 1e-6 absolute
# slack dwarfs the fixed-point wobble while catching regressions.
_LOGREG_EPS = 1e-6

_LOGREG_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       {_LOGREG_ITERS} AS n_iters,
       TRUE AS loss_monotone_decreasing,
       TRUE AS final_loss_below_initial,
       TRUE AS accuracy_ge_floor,
       TRUE AS weights_finite
FROM documents
"""


@register("logreg_quality_fit", oracle=_LOGREG_ORACLE)
def logreg_quality_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the corpus quality classifier — the GPT-3/CCNet keep-drop
    filter as a DISTRIBUTED fit: binary logistic regression by
    full-batch gradient descent, one whole-stage-codegen aggregation
    per step (operators/logreg.py), gradient and loss traces in 2^-24
    fixed point so the fit is bit-deterministic under any partitioning
    (the kmeans_fit_clusters recipe).

    Features are the cheap text statistics a real filter uses (token
    count, type-token ratio, mean word length, plus bias); the label
    is a deterministic length-class rule so training is reproducible
    and the accuracy floor is meaningful.  Invariant-boolean oracle:
    the loss trace must decrease EVERY step (guaranteed for convex
    log-loss at lr < 2/L — features are bounded in [0,1], so L <= 1),
    the final model must beat the accuracy floor, and the weights must
    be finite; the exact doc count pins that the fit saw the whole
    corpus.

    Scale: each GD step aggregates d+1 bigints — the shuffle is
    MODEL-sized, never data-sized; the feature frame is cached once.
    Mini-batch or L-BFGS drop into the same frame-agg seam.
    """
    from ..operators.logreg import logreg_fit_gd, standardize

    toks = F.split("text", " ")
    raw = load_table(spark, sf_dir, "documents").select(
        F.lit(1.0).alias("f_bias"),
        (F.size(toks) / 100.0).alias("f_ntok"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("f_ttr"),
        ((F.length("text") - F.size(toks) + 1) / F.size(toks) / 10.0)
        .alias("f_wlen"),
        (F.size(toks) >= _LOGREG_LABEL_TOKENS).cast("int").alias("y"),
    )
    # Conditioning: z-score the non-bias features with deterministic
    # fixed-point corpus stats (operators/logreg.standardize) — without
    # it, a corpus whose label boundary sits in a dense feature region
    # (the 1M sweep corpus) needs far more than 8 steps.
    feats = scope.cache(standardize(raw, ["f_ntok", "f_ttr", "f_wlen"]))
    fit = logreg_fit_gd(
        feats, ["f_bias", "f_ntok", "f_ttr", "f_wlen"], "y",
        lr=_LOGREG_LR, n_iters=_LOGREG_ITERS,
    )
    import math as _m

    losses = fit.losses
    row = (
        int(fit.n_rows),
        _LOGREG_ITERS,
        all(b <= a + _LOGREG_EPS for a, b in zip(losses, losses[1:])),
        losses[-1] < losses[0] - _LOGREG_EPS,
        fit.accuracy >= _LOGREG_ACC_FLOOR,
        all(_m.isfinite(w) for w in fit.weights),
    )
    return local_frame(
        spark, [row],
        "n_docs bigint, n_iters int, loss_monotone_decreasing boolean, "
        "final_loss_below_initial boolean, accuracy_ge_floor boolean, "
        "weights_finite boolean",
    )


# ---------------------------------------------------------------------------
# Bigram stupid-backoff LM quality on a held-out split
# ---------------------------------------------------------------------------

BACKOFF_ALPHA = 0.4       # Brants et al. 2007 "Stupid Backoff" constant
_LM_HOLDOUT_MOD = 5       # doc_id % 5 == 0 -> held-out (scored); else train

_BIGRAM_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), train_tok AS (
  SELECT unnest(w) AS token FROM words WHERE doc_id % {_LM_HOLDOUT_MOD} <> 0
), uc AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c1 FROM train_tok GROUP BY token
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM train_tok
), bc AS (
  SELECT w[i] AS prev, w[i+1] AS cur, CAST(count(*) AS BIGINT) AS c2
  FROM words, unnest(range(1, len(w))) AS t(i)
  WHERE doc_id % {_LM_HOLDOUT_MOD} <> 0
  GROUP BY 1, 2
), eval_big AS (
  SELECT doc_id, w[i] AS prev, w[i+1] AS cur
  FROM words, unnest(range(1, len(w))) AS t(i)
  WHERE doc_id % {_LM_HOLDOUT_MOD} = 0
), scored AS (
  SELECT e.doc_id,
         CASE WHEN bc.c2 IS NOT NULL THEN bc.c2 / CAST(up.c1 AS DOUBLE)
              WHEN ucur.c1 IS NOT NULL THEN {BACKOFF_ALPHA} * ucur.c1 / tot.n
              ELSE {BACKOFF_ALPHA} * 1.0 / tot.n END AS p,
         CASE WHEN bc.c2 IS NULL THEN 1 ELSE 0 END AS backed_off
  FROM eval_big e
  LEFT JOIN bc ON bc.prev = e.prev AND bc.cur = e.cur
  LEFT JOIN uc up ON up.token = e.prev
  LEFT JOIN uc ucur ON ucur.token = e.cur, tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(backed_off) AS BIGINT) AS backoff_bigrams,
       round(-sum(ln(p)) / count(*), 4) AS avg_nll
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


@register("bigram_backoff_quality", oracle=_BIGRAM_ORACLE)
def bigram_backoff_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity scoring under a bigram stupid-backoff model
    — the KenLM-shaped quality filter of CCNet, with the smoothing of
    Brants et al. 2007 ("Stupid Backoff": score = c(prev,cur)/c(prev),
    backing off to alpha * c(cur)/N, floored at alpha * 1/N for
    out-of-vocabulary tokens).  The model trains on 80% of documents
    and scores the held-out 20%, so the backoff path genuinely
    triggers (a model scored on its own training text never sees an
    unseen bigram — the unigram_logprob_quality query's limitation
    this op removes); backoff_bigrams is an exact integer per doc,
    hard-checking the CASE ladder itself, and avg_nll follows the
    unigram recipe: exact bigint-ratio probabilities, one float
    log-sum per doc absorbed by round(4).

    Plan: bigram and unigram count tables are one groupBy each over
    the train slice (vocabulary- and bigram-vocabulary-sized — joined
    back on their keys as ordinary shuffle joins, NOT assumed
    broadcastable; AQE splits the stop-word-key skew); the eval bigram
    stream is built by zipping each doc's word array against its own
    tail — no self-join, no window.  In production the train slice is
    last month's corpus and the eval slice is the new crawl: the same
    plan incrementally scores each day's batch against a frozen count
    model, exactly like incremental_neardup_lsh probes frozen band
    keys.
    """
    words = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    train = words.where(F.col("doc_id") % _LM_HOLDOUT_MOD != 0)
    held = words.where(F.col("doc_id") % _LM_HOLDOUT_MOD == 0)

    train_tok = train.select(F.explode("w").alias("token"))
    uc = train_tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1"))
    tot = train_tok.agg(F.count(F.lit(1)).cast("double").alias("__n"))

    def bigrams(df: DataFrame) -> DataFrame:
        pair = F.explode(
            F.arrays_zip(
                F.slice(F.col("w"), 1, F.size("w") - 1).alias("prev"),
                F.slice(F.col("w"), 2, F.size("w") - 1).alias("cur"),
            )
        ).alias("bg")
        return df.where(F.size("w") >= 2).select("doc_id", pair).select(
            "doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
        )

    bc = bigrams(train).groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2"))

    e = (
        bigrams(held)
        .join(bc, ["prev", "cur"], "left")
        .join(uc.withColumnRenamed("token", "prev")
                .withColumnRenamed("c1", "prev_c1"), "prev", "left")
        .join(uc.withColumnRenamed("token", "cur")
                .withColumnRenamed("c1", "cur_c1"), "cur", "left")
        .crossJoin(F.broadcast(tot))
    )
    p = (
        F.when(F.col("c2").isNotNull(),
               F.col("c2") / F.col("prev_c1").cast("double"))
        .when(F.col("cur_c1").isNotNull(),
              F.lit(BACKOFF_ALPHA) * F.col("cur_c1") / F.col("__n"))
        .otherwise(F.lit(BACKOFF_ALPHA) * F.lit(1.0) / F.col("__n"))
    )
    return (
        e.select(
            "doc_id", p.alias("p"),
            F.when(F.col("c2").isNull(), 1).otherwise(0).alias("backed_off"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("backed_off").cast("bigint").alias("backoff_bigrams"),
            F.round(-F.sum(F.log("p")) / F.count(F.lit(1)), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SQ8 ANN: asymmetric search over the int8 codes + exact rerank
# ---------------------------------------------------------------------------

SQ8_SHORTLIST = 15
SQ8_TOPK = 5
SQ8_RECALL_FLOOR = 0.6

_SQ8_RECON = (
    f"CASE WHEN s.hi = s.lo THEN s.lo ELSE s.lo + ((s.hi - s.lo) / {Q_LEVELS}) * "
    f"least(greatest(floor((f.x - s.lo) / ((s.hi - s.lo) / {Q_LEVELS}) + 0.5), 0), {Q_LEVELS}) END"
)

_SQ8_ANN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), flat AS (
  SELECT vec_id, CAST(t.i AS INT) AS dimi,
         CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), stats AS (
  SELECT dimi, min(x) AS lo, max(x) AS hi FROM flat GROUP BY dimi
), recon AS (
  SELECT f.vec_id, list({_SQ8_RECON} ORDER BY f.dimi) AS rv
  FROM flat f JOIN stats s USING (dimi) GROUP BY f.vec_id
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0
), short AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q.query_id
           ORDER BY list_dot_product(q.qv, r.rv)
                  / (sqrt(list_dot_product(q.qv, q.qv))
                     * sqrt(list_dot_product(r.rv, r.rv))) DESC,
             r.vec_id) AS srnk
  FROM q JOIN recon r ON r.vec_id <> q.query_id
), rer AS (
  SELECT s.query_id, s.neighbor_id,
         row_number() OVER (PARTITION BY s.query_id
           ORDER BY list_dot_product(q.qv, e.v)
                  / (sqrt(list_dot_product(q.qv, q.qv))
                     * sqrt(list_dot_product(e.v, e.v))) DESC,
             s.neighbor_id) AS rnk
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN e ON e.vec_id = s.neighbor_id
  WHERE s.srnk <= {SQ8_SHORTLIST}
)
SELECT query_id, neighbor_id, rnk, TRUE AS recall_ge_floor
FROM rer WHERE rnk <= {SQ8_TOPK}
ORDER BY query_id, rnk
"""


@register("sq8_ann_rerank", oracle=_SQ8_ANN_ORACLE)
def sq8_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 as a USABLE index: asymmetric search (raw float queries vs
    int8-reconstructed corpus, BLAS-scored in operators/sq8.py) feeding
    an exact expression-fold rerank — the SQ8 counterpart of
    ivfpq_rerank (IndexRefineFlat over a scalar quantizer instead of
    PQ).

    Parity: codes are bit-identical across engines (the
    sq8_embedding_quantization contract); the shortlist stage compares
    RANKS only (matmul vs SQL fold differ at ulp level — the
    operators/ann.py stance, rank agreement verified at
    sf0.001/0.01/0.1); the rerank stage uses the zip_with/fold cosine
    (functions/vectors.py) whose bits MATCH DuckDB exactly.  The
    recall_ge_floor boolean re-certifies quality every round against
    the in-query brute-force answer over raw vectors.

    Scale: encode is one shuffle-free pass writing dim BYTES per
    vector (4x under float32); search touches the codes once per
    query chunk, per-batch argpartition prunes to (k+1) candidates
    before anything shuffles, and the merge window sees batches x
    (k+1) rows per query.  Production composes these codes with the
    IVF cell index (probe cells -> decode only cell members), same as
    ivfpq; the flat scan here is the registered exact-oracle surface.
    """
    from ..operators import sq8 as SQ8

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double(F.col("embedding")).alias("v"))
    lo, scale = SQ8.sq8_stats(emb)
    codes = SQ8.sq8_encode(emb, lo, scale)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    short = SQ8.sq8_search_topk(codes, q, lo, scale, k=SQ8_SHORTLIST)
    return _sq8_rerank_tail(spark, sf_dir, emb, q, short)


def _sq8_rerank_tail(spark: SparkSession, sf_dir: str, emb: DataFrame,
                     q: DataFrame, short: DataFrame) -> DataFrame:
    """Exact-cosine rerank of an SQ8 shortlist + the in-query recall
    certificate (extensions.certify_recall) — shared by the in-memory
    form (sq8_ann_rerank) and the persisted-index form
    (sq8_index_persisted)."""
    reranked = (
        short.join(emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "neighbor_id",
            VX.cosine(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    out = (
        reranked.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= SQ8_TOPK)
        .select("query_id", "neighbor_id", "rnk")
    )
    from .extensions import certify_recall

    return certify_recall(spark, sf_dir, out, SQ8_RECALL_FLOOR)


@register("sq8_index_persisted", oracle=_SQ8_ANN_ORACLE)
def sq8_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED SQ8 index under the exact-ranking hash check
    (round 7, the r6 verdict's item 6): build writes the (lo, scale)
    quantizer and the codes table (operators/index_store.py — the
    store's SQ8 codec), search RELOADS them and ranks via the same mapInArrow
    kernel as sq8_ann_rerank, and the identical _SQ8_ANN_ORACLE
    certifies that the save/load round trip through BINARY code
    storage changes NOTHING about shortlist or reranked order.

    Production builds once (4x-shrunk codes are the artifact), serves
    many searches, and grows by frozen-quantizer appends —
    tests/test_index_store.py pins the append contract (history bytes
    untouched, appended vectors searchable, out-of-range values
    clipping like FAISS `add`).
    """
    from ..operators.index_store import build_sq8_index, search_sq8_index
    from .ingest_plans import _io_dir

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double(F.col("embedding")).alias("v"))
    path = _io_dir(sf_dir, "sq8_index")
    build_sq8_index(spark, emb, path)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    short = search_sq8_index(spark, path, q, k=SQ8_SHORTLIST)
    return _sq8_rerank_tail(spark, sf_dir, emb, q, short)
