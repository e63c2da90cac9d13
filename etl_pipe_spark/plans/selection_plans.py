"""Data-selection operators: DSIR importance resampling, count-min
heavy hitters, and cluster-balanced embedding subsampling.

Three selection-family operations from the published LLM-data-curation
canon that the registry still lacked:

* **DSIR importance resampling** — Xie et al. 2023 ("Data Selection
  for Language Models via Importance Resampling"): fit hashed-n-gram
  bag models on a *target* distribution (here: the ``lang = 'en'``
  slice) and on the raw corpus, score every raw document by its
  summed log importance ratio, and keep the top fraction.  The paper
  samples with Gumbel noise; the pipeline form selects the top-k by
  weight with a deterministic tiebreak so the output is reproducible
  and oracle-checkable.

* **Count-min heavy hitters** — Cormode & Muthukrishnan 2005: a
  d x w integer sketch over the token stream, with the classic
  estimate contract (min over rows >= exact count, overestimate
  bounded by collisions).  Completes the sketch family next to HLL
  (approx_aggregates), KLL quantiles, and the Bloom incremental
  filter — CMS is the point-frequency member.

* **Cluster-balanced sampling** — the diversity-preserving subsample
  used by coreset/SemDeDup-style pipelines: assign embeddings to IVF
  cells and cap each cell's contribution, so dense regions cannot
  dominate the training mix the way giant domains would without
  domain-cap sampling (corpus_plans2).  Selection within a cell is
  by Knuth multiplicative hash — deterministic, engine-portable.

Float-parity stance: DSIR's per-bucket log ratio is fixed-pointed at
1e-6 grain BEFORE the per-document sum (round(ln(exact-rational) *
1e6) as bigint — the logreg_quality_fit recipe), so document scores
are exact integer sums immune to accumulation order; the only
cross-engine risk is a 1-ulp libm ln() difference landing exactly on
a rounding boundary (~1e-10 per bucket).  CMS and the cluster sample
are pure integer outputs.

Scale (100 TB): the DSIR model is B=1024 buckets — two bucket-count
aggs (map-side combined into <= B rows per partition), one broadcast
model join back over the n-gram stream, one per-doc agg; the global
top-fraction rank goes through ranked_running_sum (two-phase
rank/offset merge), never a single-task window.  The CMS sketch is
d*w = 64 cells regardless of corpus size (the groupBy's partial aggs
are cell-bounded per partition); the candidate set here is the exact
vocabulary (testdata vocab is tiny) — at web scale the candidate
stream comes from a sampled/thresholded subset and the sketch serves
the point lookups, which is exactly the join shape this query pins.
The cluster cap is a per-cell window over ~sqrt(N)-sized cells; a
skewed mega-cell pre-caps per partition (Spark's WindowGroupLimit
does this automatically — pinned in the plan) like
domain_cap_sampling.  All three inputs pass the spread_for_compute
gate: these are small-input/heavy-expansion plans (token and
centroid explodes multiply bytes 10-100x after the scan), so a
narrow single-row-group input is round-robined to compute width
first — measured 8+ min -> seconds at 250k docs on a single-file
corpus.

Reference parity: the reference engine (extract.py/transform.py) has
no selection operators — this family extends it toward the
training-data workload, like corpus_plans/corpus_plans2 before it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..functions import text as TX
from ..operators import scope
from ..operators.layout import spread_for_compute
from ..operators.ordering import ranked_running_sum
from ..sources.catalog import load_table
from .catalog import register
from .dedup_plans import _IVF_ASSIGN_CTE, _emb_with_norms, _ivf_ranked

DSIR_BUCKETS = 1024       # hashed n-gram feature dimension
DSIR_TARGET_LANG = "en"   # target distribution: the English slice
DSIR_KEEP_FRAC = 0.25     # keep the top quarter by importance weight
_FP = 1_000_000           # fixed-point grain for the log ratio

CMS_DEPTH = 4             # sketch rows (independent hash functions)
CMS_WIDTH = 16            # sketch columns — small so collisions are real
CELL_CAP = 8              # max vectors any one IVF cell contributes
_KNUTH = 2654435761       # multiplicative hash constant (2^32 / phi)
_MOD32 = 4294967296       # 2^32


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

_DSIR_ORACLE = f"""
WITH words AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, lang, unnest(w) AS t FROM words
  UNION ALL
  SELECT doc_id, lang,
         w[CAST(i.i AS INT) + 1] || ' ' || w[CAST(i.i AS INT) + 2] AS t
  FROM words, unnest(range(len(w) - 1)) AS i(i)
  WHERE len(w) >= 2
), hashed AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS b
  FROM grams
), counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS rb,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS tb
  FROM hashed GROUP BY b
), totals AS (
  SELECT CAST(sum(tb) AS DOUBLE) AS tn, CAST(sum(rb) AS DOUBLE) AS rn
  FROM counts
), model AS (
  SELECT c.b,
         CAST(round(ln(
             ((c.tb + 1) * (totals.rn + {DSIR_BUCKETS}.0))
           / ((c.rb + 1) * (totals.tn + {DSIR_BUCKETS}.0))
         ) * {_FP}) AS BIGINT) AS lr
  FROM counts c, totals
), scored AS (
  SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(m.lr) AS BIGINT) AS weight_fp
  FROM hashed h JOIN model m ON m.b = h.b
  GROUP BY h.doc_id
), ranked AS (
  SELECT doc_id, n_grams, weight_fp,
         row_number() OVER (ORDER BY weight_fp DESC, doc_id) AS rnk
  FROM scored
)
SELECT doc_id, n_grams, weight_fp,
       CAST(CASE WHEN rnk <= (SELECT ceil(count(*) * {DSIR_KEEP_FRAC})
                              FROM scored)
            THEN 1 ELSE 0 END AS INT) AS selected
FROM ranked ORDER BY doc_id
"""


@register("dsir_importance_select", oracle=_DSIR_ORACLE)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight against the English target
    slice, with the top DSIR_KEEP_FRAC selected — hashed unigram +
    bigram features, add-one-smoothed bucket models, fixed-point log
    ratios summed exactly per document.

    Plan — exactly TWO passes over the n-gram stream, which is the
    expensive object (an early revision aggregated target and raw
    counts separately and re-derived the stream for scoring: 3-4
    recomputations, measured 142 s at 250k docs; this form measures
    9 s at 50k / 23 s warm at 250k on local[32] — ~2.7x wall for 5x
    docs, the n-gram explode dominating as it should):

    1. ONE fused conditional aggregate produces (raw, target) counts
       per bucket — map-side combine bounds per-partition agg state at
       B=1024 cells, and the model derives from that B-row table with
       a broadcast of the 1-row totals.
    2. The scoring pass joins the BROADCAST model back over the stream
       (no corpus shuffle) into the per-doc agg.

    The doc-sized scored table is persisted (it feeds the rank's
    range-sampling pass AND the final output — the bm25_retrieval
    precedent), the top-fraction rank runs through
    ranked_running_sum's two-phase rank (never one window task), and
    the result is localCheckpoint'ed.
    """
    docs = spread_for_compute(spark, load_table(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")

    # Let-bind the token array (round 10): the bigram lambda's
    # element_at(toks, i) re-ran the FULL split once per bigram —
    # O(n_tokens^2) per document in interpreted HOF eval (jstack'd:
    # tasks pinned in StringSplit.nullSafeEval under ConcatWs.eval,
    # 25-110 s for a 5 s query).  transform(array(toks), ...) binds
    # the split result once per row; inner references are O(1).
    def _grams(t: Column) -> Column:
        bigrams = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(t, bigrams)

    grams = F.element_at(F.transform(F.array(toks), _grams), 1)
    # Persist the hashed n-gram stream (round 10, guide §5): it feeds
    # the model's count pass AND the scoring join — without the cache
    # the explode+md5 stream (the expensive object) derives three
    # times (counts, the totals sub-agg inside the broadcast model,
    # and scoring).  The cached frame is the NARROW (doc_id, lang, b)
    # projection — ~24 bytes/gram, disk-spillable; at cluster scale
    # that cache is still gram-count-sized, but recomputing the
    # tokenize+md5 stream twice costs strictly more than writing the
    # projection once.
    hashed = scope.cache(docs.select(
        "doc_id", "lang",
        F.explode(grams).alias("t"),
    ).select(
        "doc_id", "lang",
        (TX.hash32(F.col("t")) % DSIR_BUCKETS).alias("b"),
    ))
    counts = hashed.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("rb"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).cast("bigint").alias("tb"),
    )
    totals = counts.agg(
        F.sum("tb").cast("double").alias("tn"),
        F.sum("rb").cast("double").alias("rn"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            F.log(
                ((F.col("tb") + 1) * (F.col("rn") + float(DSIR_BUCKETS)))
                / ((F.col("rb") + 1) * (F.col("tn") + float(DSIR_BUCKETS)))
            ) * _FP
        ).cast("bigint").alias("lr"),
    )
    scored = scope.cache(
        hashed.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("lr").cast("bigint").alias("weight_fp"),
        )
    )
    k = scored.agg(
        F.ceil(F.count(F.lit(1)) * DSIR_KEEP_FRAC).alias("k")
    )
    # descending fixed-point weight == ascending negated (bigint)
    ranked = ranked_running_sum(
        scored, [(-F.col("weight_fp")), F.col("doc_id")], None,
        rank_name="rnk",
    )
    out = (
        ranked.crossJoin(F.broadcast(k))
        .select(
            "doc_id", "n_grams", "weight_fp",
            (F.col("rnk") <= F.col("k")).cast("int").alias("selected"),
        )
        .orderBy("doc_id")
    )
    return scope.checkpoint(out)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------

_CMS_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), keyed AS (
  SELECT r.r AS row_id,
         CAST(concat('0x', substr(md5(CAST(r.r AS VARCHAR) || ':' || t),
                                  1, 8)) AS BIGINT) % {CMS_WIDTH} AS col_id
  FROM tok, unnest(range({CMS_DEPTH})) AS r(r)
), cells AS (
  SELECT row_id, col_id, CAST(count(*) AS BIGINT) AS cell
  FROM keyed GROUP BY row_id, col_id
), exact AS (
  SELECT t, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY t
), cand AS (
  SELECT e.t, e.exact_cnt, r.r AS row_id,
         CAST(concat('0x', substr(md5(CAST(r.r AS VARCHAR) || ':' || e.t),
                                  1, 8)) AS BIGINT) % {CMS_WIDTH} AS col_id
  FROM exact e, unnest(range({CMS_DEPTH})) AS r(r)
)
SELECT c.t AS token, c.exact_cnt, min(cl.cell) AS cms_est,
       CAST(min(cl.cell) >= c.exact_cnt AS INT) AS contract_ok
FROM cand c JOIN cells cl
  ON cl.row_id = c.row_id AND cl.col_id = c.col_id
GROUP BY c.t, c.exact_cnt
ORDER BY c.exact_cnt DESC, c.t
"""


@register("cms_heavy_hitters", oracle=_CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates next to exact counts
    for every vocabulary type, with the CMS contract (estimate >=
    exact) certified per row.

    The sketch is CMS_DEPTH x CMS_WIDTH = 64 integer cells whatever
    the corpus size: the token stream explodes x depth, and the cell
    groupBy's map-side partial agg is bounded at 64 cells per
    partition, so the exchange moves partitions x 64 rows, not the
    stream.  Width is deliberately small (16) so hash collisions are
    REAL on the testdata vocabulary and the estimates genuinely
    overcount — the contract row would pass trivially with a wide
    sketch.  Candidate lookups re-derive the d hash keys from the
    vocabulary table and join the 64-cell sketch broadcast.
    """
    docs = spread_for_compute(spark, load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("t"))
    rows = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])

    def col_id(row_col, tok_col):
        key = F.concat(row_col.cast("string"), F.lit(":"), tok_col)
        return (TX.hash32(key) % CMS_WIDTH).alias("col_id")

    keyed = tok.select(
        F.explode(rows).alias("row_id"), "t"
    ).select("row_id", col_id(F.col("row_id"), F.col("t")))
    cells = keyed.groupBy("row_id", "col_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell")
    )
    exact = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    cand = exact.select(
        "t", "exact_cnt", F.explode(rows).alias("row_id")
    ).select(
        "t", "exact_cnt", "row_id", col_id(F.col("row_id"), F.col("t"))
    )
    return (
        cand.join(F.broadcast(cells), ["row_id", "col_id"])
        .groupBy("t", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            F.col("t").alias("token"), "exact_cnt", "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).cast("int")
            .alias("contract_ok"),
        )
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


# ---------------------------------------------------------------------------
# Cluster-balanced sampling (coreset/SemDeDup-style diversity subsample)
# ---------------------------------------------------------------------------

_CLUSTER_SAMPLE_ORACLE = f"""
WITH {_IVF_ASSIGN_CTE},
hashed AS (
  SELECT a.vec_id, a.cent_id,
         (a.vec_id * {_KNUTH}) % {_MOD32} AS hkey
  FROM assign a
), capped AS (
  SELECT vec_id, cent_id,
         row_number() OVER (
           PARTITION BY cent_id ORDER BY hkey, vec_id) AS rnk
  FROM hashed
)
SELECT vec_id, cent_id, CAST(rnk AS BIGINT) AS rnk
FROM capped WHERE rnk <= {CELL_CAP}
ORDER BY cent_id, vec_id
"""


@register("cluster_balanced_sample", oracle=_CLUSTER_SAMPLE_ORACLE)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving embedding subsample: every IVF cell
    contributes at most CELL_CAP vectors, chosen by Knuth-hash rank —
    dense embedding regions cannot dominate the mix, the embedding-
    space analogue of domain_cap_sampling's host rule.

    Plan: one broadcast-centroid assignment pass (the _ivf_ranked
    kernel shared with the ANN family), then a per-cell window over
    ~sqrt(N)-sized cells.  A skewed mega-cell pre-caps per partition
    before the final rank — any per-partition top-CELL_CAP superset
    contains the global top-CELL_CAP, the same reduction
    domain_cap_sampling documents.  Output is pure integers, so the
    oracle hash-checks the selection itself, not a float echo.
    """
    # min_ratio=1.0: the k-centroid crossJoin multiplies work x32
    # after the scan, so anything short of full compute width leaves
    # cores idle (a one-row-group parquet file plans "17 partitions"
    # by bytes but delivers ONE task — measured: the 250k assignment
    # fold ran serially for minutes; spread, it rides all 32 cores).
    # On a real wide table planned >= width and the exchange is skipped.
    emb = spread_for_compute(spark, _emb_with_norms(spark, sf_dir),
                             min_ratio=1.0)
    assign = _ivf_ranked(emb).filter(F.col("rn") == 1).select(
        "vec_id", "cent_id"
    )
    hashed = assign.withColumn(
        "hkey", (F.col("vec_id") * _KNUTH) % _MOD32
    )
    w = W.partitionBy("cent_id").orderBy("hkey", "vec_id")
    return (
        hashed.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= CELL_CAP)
        .select("vec_id", "cent_id", "rnk")
        .orderBy("cent_id", "vec_id")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture selection (multinomial mixing a la T5 /
# DoReMi-lite, with integer-exact quota arithmetic)
# ---------------------------------------------------------------------------

MIX_OUT_DEN = 2      # output budget: N // 2 documents


_TEMPER_ORACLE = f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents
  GROUP BY source
), weights AS (
  SELECT source, n_s, CAST(floor(sqrt(n_s)) AS BIGINT) AS w_s FROM counts
), params AS (
  SELECT CAST(sum(n_s) AS BIGINT) // {MIX_OUT_DEN} AS n_out,
         CAST(sum(w_s) AS BIGINT) AS s
  FROM weights
), quotas AS (
  SELECT w.source, w.n_s, w.w_s, (p.n_out * w.w_s) // p.s AS k_s
  FROM weights w, params p
), ranked AS (
  SELECT d.doc_id, d.source,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY (d.doc_id * {_KNUTH}) % {_MOD32}, d.doc_id) AS rnk
  FROM documents d
)
SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rnk,
       CAST(q.k_s AS BIGINT) AS k_s
FROM ranked r JOIN quotas q ON q.source = r.source
WHERE r.rnk <= q.k_s
ORDER BY r.source, r.rnk
"""


@register("temperature_mixture_select", oracle=_TEMPER_ORACLE)
def temperature_mixture_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: each source's share of the
    output budget is proportional to n_s^(1/2) — the tau=0.5
    multinomial temperature that upweights small sources relative to
    proportional mixing (the T5/mT5 mixing rule; DoReMi's learned
    weights drop into the same quota slot).

    Exactness design: tau=0.5 is computed as floor(sqrt(n_s)) — an
    INTEGER weight, so the denominator is an exact bigint sum (a
    float p_s = n_s^tau / sum would be summation-order dependent and
    could flip a floor() at a quota boundary between engines).  The
    integer quantization error is < 1 part in sqrt(n_s) — irrelevant
    at corpus scale, decisive for cross-engine determinism.  Quota
    k_s = (n_out * w_s) // s and the within-source pick (Knuth-hash
    rank) are all integer, so the oracle hash-checks the exact
    selected set.

    Plan: one groupBy builds the source table (tiny), quotas derive
    from it with a broadcast 1-row params join, and selection is a
    per-source ranked window — same WindowGroupLimit-over-skew story
    as domain_cap_sampling, except the cap is data-derived.  Differs
    from mixture_sampling (fixed literal rates, stateless hash
    threshold) in computing the mix FROM the observed distribution.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    weights = counts.withColumn(
        "w_s", F.floor(F.sqrt(F.col("n_s"))).cast("bigint")
    )
    params = weights.agg(
        F.expr(f"CAST(sum(n_s) AS BIGINT) div {MIX_OUT_DEN}").alias("n_out"),
        F.sum("w_s").cast("bigint").alias("s"),
    )
    quotas = weights.crossJoin(F.broadcast(params)).select(
        "source",
        F.expr("(n_out * w_s) div s").cast("bigint").alias("k_s"),
    )
    w = W.partitionBy("source").orderBy(
        (F.col("doc_id") * _KNUTH) % _MOD32, "doc_id"
    )
    ranked = docs.select("doc_id", "source").withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("rnk") <= F.col("k_s"))
        .select("doc_id", "source", "rnk", "k_s")
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# Priority sampling (Duffield, Lund & Thorup 2007)
# ---------------------------------------------------------------------------

WPS_K = 200  # sample size


_WPS_ORACLE = f"""
WITH prio AS (
  SELECT doc_id,
         CAST(n_chars AS BIGINT) AS weight,
         CAST(((doc_id + 1) * {_KNUTH}) % {_MOD32} AS DOUBLE)
           / CAST(greatest(n_chars, 1) AS DOUBLE) AS priority
  FROM documents
)
SELECT doc_id, weight, priority
FROM prio
ORDER BY priority, doc_id
LIMIT {WPS_K}
"""


@register("weighted_priority_sample", oracle=_WPS_ORACLE)
def weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional k-sample via priority order.

    Priority sampling (Duffield et al., JACM 2007): give item i the
    priority q_i = u_i / w_i with u_i uniform, keep the k smallest —
    inclusion probability is ~proportional to weight, and the sample
    supports unbiased subset-sum estimation.  Here u_i is the Knuth
    multiplicative hash of the stable doc key scaled to 32 bits, so
    the draw is reproducible, repartition-proof, and oracle-checkable;
    the priority is one integer-by-integer IEEE double division —
    bit-identical in any engine, no libm in sight (contrast DSIR's
    fixed-pointed ln above).  Weight = n_chars, the char-budget proxy
    (a quality score composes the same way).

    Scale: ORDER BY + LIMIT k compiles to TakeOrderedAndProject —
    each task keeps a k-row heap and only k rows per partition ever
    move, so the full corpus is one map pass + a k-row reduce; no
    global sort, no shuffle of the corpus.  This is the one-line
    weighted subsample every mixture builder wants BEFORE the heavier
    quota machinery (temperature_mixture_select) kicks in.
    """
    docs = load_table(spark, sf_dir, "documents")
    # greatest(w, 1): a zero-weight row would divide by zero, where
    # Spark's non-ANSI division yields NULL (sorts first) but DuckDB
    # yields +inf (sorts last) — the one input that can split the
    # engines.  Clamping in BOTH keeps the draw total and identical.
    priority = (
        ((F.col("doc_id") + 1) * F.lit(_KNUTH)) % F.lit(_MOD32)
    ).cast("double") / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            priority.alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(WPS_K)
    )
