"""Grouped-map Pandas operator (applyInPandas) with exact parity.

Completes the UDF surface demonstration: mapInPandas (multimodal)
and here the grouped-map shape — per-group normalization, the canonical "needs whole-group
context" operator.

Parity trick: all statistics derive from *integer* sums (n_chars is
int64), which are exact under any execution order; the float math then
runs on identical inputs on both engines, so even mean/std/z-scores
hash-match without rounding.
"""

from __future__ import annotations

import sys

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.catalog import load_table
from .catalog import register

try:
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    import cloudpickle as _cp
_cp.register_pickle_by_value(sys.modules[__name__])

_ZSCORE_SCHEMA = (
    "doc_id long, lang string, n_chars long, lang_mean double, "
    "lang_std double, z_score double"
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # integer sums are order-independent => exact across engines
    x = pdf["n_chars"].astype("int64")
    # Round each sum to double BEFORE any arithmetic — the oracle's
    # CAST(... AS DOUBLE) does exactly that, and mirroring its rounding
    # sequence keeps parity bit-for-bit even when s*s exceeds 2^53
    # (arbitrary-precision (s*s)/n rounds once; double (s*s)/n rounds
    # at the multiply too).
    n = float(len(x))
    s = float(int(x.sum()))
    sq = float(int((x * x).sum()))
    mean = s / n
    var = (sq - (s * s) / n) / n  # population variance, same expr as oracle
    std = var**0.5 if var > 0 else 0.0  # clamp mirrored in the oracle's CASE
    out = pdf[["doc_id", "lang", "n_chars"]].copy()
    out["lang_mean"] = mean
    out["lang_std"] = std
    out["z_score"] = (x - mean) / std if std > 0 else 0.0
    return out


_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT lang,
         count(*) AS n,
         sum(n_chars) AS s,
         sum(n_chars * n_chars) AS sq
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars,
  CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE) AS lang_mean,
  CASE WHEN (CAST(st.sq AS DOUBLE) - (CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)) / CAST(st.n AS DOUBLE)) / CAST(st.n AS DOUBLE) > 0
       THEN sqrt((CAST(st.sq AS DOUBLE) - (CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)) / CAST(st.n AS DOUBLE)) / CAST(st.n AS DOUBLE))
       ELSE 0.0 END AS lang_std,
  CASE WHEN (CAST(st.sq AS DOUBLE) - (CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)) / CAST(st.n AS DOUBLE)) / CAST(st.n AS DOUBLE) > 0
       THEN (CAST(d.n_chars AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
            / sqrt((CAST(st.sq AS DOUBLE) - (CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE)) / CAST(st.n AS DOUBLE)) / CAST(st.n AS DOUBLE))
       ELSE 0.0 END AS z_score
FROM documents d JOIN stats st ON d.lang = st.lang
"""


@register("pandas_group_zscore", oracle=_ZSCORE_ORACLE)
def pandas_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document length via applyInPandas.

    Arrow ships each language group to one pandas call; statistics come
    from exact integer sums so the result is bit-identical to the SQL
    formulation (the oracle) — demonstrating that even Python-side
    operators can stay inside the exactness contract.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return docs.groupBy("lang").applyInPandas(_zscore_group, _ZSCORE_SCHEMA)


# ---------------------------------------------------------------------------
# Unicode NFC normalization (mapInPandas + exact cross-engine oracle)
# ---------------------------------------------------------------------------

_NFC_SCHEMA = "doc_id long, denorm string, nfc string"


def _nfc_batches(it):
    """Arrow-batched NFC pass: decompose 'e' -> 'e'+U+0301, renormalize.

    The synthetic corpus is ASCII, so the denormalized input is
    manufactured deterministically INSIDE the query (every 'e' becomes
    the two-codepoint decomposed form) — the normalization then has
    real work to do and the oracle can assert byte-exact output, not
    just an identity pass.  unicodedata's NFC table for combining
    acute is stable across every Unicode version, so the Python and
    utf8proc (DuckDB) answers agree by construction.
    """
    import unicodedata

    for pdf in it:
        denorm = pdf["text"].str.replace("e", "e\u0301", regex=False)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "denorm": denorm,
                "nfc": denorm.map(lambda s: unicodedata.normalize("NFC", s)),
            }
        )


_NFC_ORACLE = """
WITH d AS (
  SELECT doc_id,
         replace(text, 'e', 'e' || chr(769)) AS denorm,
         nfc_normalize(replace(text, 'e', 'e' || chr(769))) AS nfc
  FROM documents
)
SELECT doc_id,
       CAST(len(denorm) AS BIGINT) AS denorm_cp,
       CAST(len(nfc) AS BIGINT) AS nfc_cp,
       md5(nfc) AS nfc_md5
FROM d
ORDER BY doc_id
"""


@register("unicode_nfc_normalize", oracle=_NFC_ORACLE)
def unicode_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC text normalization — the first op of every LLM
    text pipeline (tokenizers require a canonical composition form).

    The heavy lifting is Arrow-batched Python (unicodedata is the
    reference NFC implementation; Spark has no native normalizer), a
    single mapInPandas pass with no shuffle at all — the groupBy-free
    map shape that scales embarrassingly.  Codepoint counts and the
    md5 of the normalized UTF-8 bytes are computed JVM-side after the
    UDF; the DuckDB twin runs utf8proc's nfc_normalize over the same
    manufactured input, so the md5 column is a byte-exact cross-
    implementation check of the normalization itself.

    Codepoint-count note: Spark's length() counts UTF-16 code units,
    DuckDB's len() counts codepoints — they agree here because every
    character in play is BMP; the md5 check is the load-bearing one.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = docs.mapInPandas(_nfc_batches, _NFC_SCHEMA)
    return out.select(
        "doc_id",
        F.length("denorm").cast("bigint").alias("denorm_cp"),
        F.length("nfc").cast("bigint").alias("nfc_cp"),
        F.md5(F.encode(F.col("nfc"), "UTF-8")).alias("nfc_md5"),
    ).orderBy("doc_id")
