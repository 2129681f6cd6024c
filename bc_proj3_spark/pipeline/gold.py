"""Gold stages: per-source words tables, combined view, relevance scoring.

Mirrors gold_integrated_data_preNLP.py (three projections to
(source, source_sk, words, publish_dt), CTAS each, union-all view) and
gold_article_scoring.py (clean → tokenize → stopword-remove → lemmatize
→ distinct → term-weight score → filter > 0), rebuilt JVM-native:

- clean_text replays the reference chain exactly (lower, strip leading
  'rt ', URLs → '', non-alphanumerics → ''; gold_article_scoring.py:36-41);
- tokenization is split-on-whitespace (what ml.feature.Tokenizer does,
  :49-51) and stopword removal uses StopWordsRemover's default English
  list (:54-65) applied as a native array_except — same semantics after
  the chain's array_distinct, no ML-transform per-row overhead;
- lemmatization (:69-88, an NLTK WordNet UDF in the reference) is a
  native rule-based suffix normalizer by default ('ies'→'y', strip
  final 's' except 'ss'), with NLTK's WordNetLemmatizer used via a
  pandas UDF when the library is importable — documented deviation:
  this container has no NLTK, tests pin the native path. Both paths
  apply the reference's len > 2 filter;
- the 31-term weight dictionary is the reference's scoring config
  (:104-136; weights sourced from public clean-energy glossaries) and
  the score is a native F.aggregate over a map literal — the rewrite of
  score_udf recommended in SURVEY.md §2.10 U3 (which also fixes its
  untyped-StringType return).

Scale: everything here is scan-side column work (explode-free!) —
scoring stays inside whole-stage codegen; only the CTAS writes move
data. The combined view is a unionByName, not a materialization.
"""

from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog

# Reference scoring config (gold_article_scoring.py:104-136), weights from
# the public glossaries cited there.
CLEAN_TECH_TERMS: dict[str, int] = {
    "climate": 20, "change": 4, "oxide": 1, "battery": 1, "electricity": 3,
    "abatement": 1, "emission": 1, "kyoto": 8, "ipcc": 20, "lithium": 15,
    "ion": 8, "photovoltaic": 25, "renewable": 8, "energy": 10, "solar": 8,
    "carbon": 5, "innovation": 20, "technology": 30, "clean": 9, "green": 14,
    "kilowatt": 4, "megawatt": 4, "polysilicon": 30, "biofuel": 40,
    "efficiency": 12, "fuel": 8, "tax": 4, "air": 2, "quality": 7,
    "bio": 8, "biogas": 12,
}


def clean_text(c: Column) -> Column:
    r"""The reference chain (gold_article_scoring.py:36-41). Its last
    class, ``[^a-zA-Z0-9\s]``, is spelled ``[^\p{Alnum}\s]``: the same
    ASCII class in Java's regex engine, which matches it as one class
    test per character instead of a union of ranges, several times
    faster."""
    c = F.lower(c)
    c = F.regexp_replace(c, r"^rt ", "")
    c = F.regexp_replace(c, r"(https?://)\S+", "")
    return F.regexp_replace(c, r"[^\p{Alnum}\s]", "")


@functools.cache
def _stopwords() -> tuple[str, ...]:
    """StopWordsRemover's default English list (gold_article_scoring.py:54-58)."""
    from pyspark.ml.feature import StopWordsRemover

    return tuple(StopWordsRemover.loadDefaultStopWords("english"))


def _words_array(words) -> Column:
    """A constant array of single tokens as one literal string split on
    spaces: constant-folded by the optimizer like an ``F.array`` of
    literals, but built with a handful of driver-to-JVM calls instead of
    a few per element."""
    return F.split(F.lit(" ".join(map(str, words))), " ")


def _native_lemma(tok: Column) -> Column:
    """Rule-based suffix normalizer: 'ies'→'y'; strip one final 's'
    unless the word ends in 'ss'. A deterministic, JVM-side stand-in
    for WordNet's noun pluralization handling."""
    return F.regexp_replace(
        F.regexp_replace(tok, r"ies$", "y"), r"(?<!s)s$", ""
    )


def lemmatize(tokens: Column) -> Column:
    """Lemmatize + keep tokens longer than 2 chars
    (gold_article_scoring.py:69-88). Uses NLTK's WordNetLemmatizer via a
    pandas UDF when available; otherwise the native rule above."""
    try:
        import nltk  # noqa: F401
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, StringType

        # Explicit Series type hints (via the module-level pandas import,
        # so get_type_hints can resolve them under future-annotations)
        # drive pyspark's scalar-pandas eval-type inference.
        @pandas_udf(ArrayType(StringType()))
        def _lemma_udf(col: pd.Series) -> pd.Series:
            from nltk.stem import WordNetLemmatizer

            wnl = WordNetLemmatizer()

            def _lem(toks):
                # Arrow hands array cells over as numpy arrays — no `or []`
                # truthiness; None is the only empty sentinel to guard.
                if toks is None:
                    return []
                return [w for w in (wnl.lemmatize(t) for t in toks) if len(w) > 2]

            return col.map(_lem)

        return _lemma_udf(tokens)
    except ImportError:
        lemmed = F.transform(tokens, _native_lemma)
        return F.filter(lemmed, lambda t: F.length(t) > 2)


def unique_lemmas(words: Column) -> Column:
    """clean → tokenize → stopword-remove → lemmatize → distinct
    (gold_article_scoring.py:36-88). Stopwords go through array_except:
    a hash-set difference instead of a scan of the list per token. Its
    de-duplication keeps first occurrences, so after the final
    array_distinct the result equals a per-token filter's."""
    tokens = F.split(clean_text(words), r"\s+")
    return F.array_distinct(lemmatize(F.array_except(tokens, _words_array(_stopwords()))))


def score_tokens(unique_tokens: Column) -> Column:
    """Native rewrite of score_udf: fold the term-weight map over the
    distinct token array (gold_article_scoring.py:92-144 → F.aggregate
    + map literal; returns int, unlike the UDF's implicit string)."""
    weights = F.map_from_arrays(
        _words_array(CLEAN_TECH_TERMS),
        _words_array(CLEAN_TECH_TERMS.values()).cast("array<int>"),
    )
    return F.aggregate(
        unique_tokens,
        F.lit(0),
        lambda acc, t: acc + F.coalesce(F.try_element_at(weights, t), F.lit(0)),
    )


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------

_WORD_SOURCES = {
    # source tag -> (silver table, sk column, text columns, date column)
    "nyt": ("nytarchive", "nyt_sk", ("abstract", "lead_paragraph", "snippet"), "publish_dt"),
    "ggl": ("googlescholar", "ggl_sk", ("snippet", "title"), "publish_dt"),
    "arx": ("arxiv", "arx_sk", ("summary", "title"), "updated_dt"),
}


def gold_words(spark: SparkSession, catalog: Catalog, fresh: bool = False) -> dict:
    """Three <src>_words tables (gold_integrated_data_preNLP.py:48-138)."""
    counts = {}
    for src, (table, sk, text_cols, date_col) in _WORD_SOURCES.items():
        if fresh:
            catalog.drop("gold", f"{table}_words")
        words = catalog.read("silver", table).selectExpr(
            f"'{src}' AS source",
            f"{sk} AS source_sk",
            f"lower(concat_ws(' ', {', '.join(text_cols)})) AS words",
            f"{date_col} AS publish_dt",
        )
        counts[src] = catalog.overwrite("gold", f"{table}_words", words)
    return counts


def combined_pre_nlp(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """vw_combined_pre_nlp: UNION ALL of the three words tables
    (gold_integrated_data_preNLP.py:156-166) — a view, not a copy."""
    parts = [
        catalog.read("gold", f"{table}_words")
        for table, _, _, _ in _WORD_SOURCES.values()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def gold_scoring(spark: SparkSession, catalog: Catalog) -> int:
    """scored_articles (gold_article_scoring.py:149-175): the NLP-lite
    scoring chain over the combined view, keeping article_score > 0."""
    df = combined_pre_nlp(spark, catalog)
    scored = (
        df.withColumn("vector_unique", unique_lemmas(F.col("words")))
        .withColumn("article_raw_score", score_tokens(F.col("vector_unique")))
        .withColumn("unique_words", F.size("vector_unique"))
        # an article with no scorable word (empty or only stopwords) has
        # unique_words = 0: try_divide gives NULL, which the > 0 filter
        # below drops, as the reference's non-ANSI divide then filter does
        .withColumn(
            "article_score",
            F.try_divide(F.lit(1.0) * F.col("article_raw_score"), F.col("unique_words")),
        )
    )
    cols = ("source", "source_sk", "publish_dt", "words",
            "article_raw_score", "unique_words", "article_score")
    # keep article_score > 0 as a generator over a 0-or-1-element array,
    # not a Filter: the optimizer pushes a Filter below the projection by
    # inlining article_score, which evaluates the whole scoring chain twice
    scored = scored.select(
        F.inline(F.filter(F.array(F.struct(*cols)), lambda r: r["article_score"] > 0))
    )
    return catalog.overwrite("gold", "scored_articles", scored, partition_by=["source"])
