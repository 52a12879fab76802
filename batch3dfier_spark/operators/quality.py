"""Model-based quality filtering — the linear-classifier document
scorer every production curation stack runs between heuristic filters
and dedup (CCNet's fastText LM filter, GPT-3's WebText-vs-Common-Crawl
logistic regression, Llama's quality classifiers), re-expressed in
this repo's exact-integer oracle discipline.

A trained quality classifier at inference time is a dot product
between a fixed weight vector and per-document features, followed by
a threshold — the training happens offline, the pipeline only ever
runs the linear head.  This operator implements that inference pass
with caller-suppliable integer weights over engineered text features;
the defaults are an illustrative hand-set head (documented, NOT
trained — the contract is the scoring plumbing, a production caller
drops in their own weights).

Quantization variant (the same move as bm25's ln-free idf and
affinity's ppm log-ratio): instead of a float sigmoid over float
ratios, features are exact-integer parts-per-million via integer
division, the score is an exact BIGINT dot product, and the decision
is `score_q >= threshold_q` — sigmoid is monotone, so thresholding
the logit is the same classifier, and Spark and DuckDB agree
bit-for-bit with no IEEE ordering concerns anywhere.

Features (all BIGINT, all from one projection over the text column):
    stop_ppm  = (1e6 * n_stop)  div n_tokens   -- stopword density
    alpha_ppm = (1e6 * n_alpha) div n_chars    -- alphabetic fraction
    punct_ppm = (1e6 * n_punct) div n_chars    -- sentence punctuation
    avgtok_mil = (1000 * n_nonws) div n_tokens -- avg token len (milli)
    len_cred  = least(n_tokens, len_cap)       -- bounded length credit
(token-less / empty docs score bias only: every div guards its
denominator and yields 0, mirrored in the twin.)

Scale shape (100 TB): the whole operator is a single stateless
projection — split/translate/regexp_count + integer arithmetic, zero
shuffles, zero Python, fully inside whole-stage codegen — so it
composes with pushed-down filters and costs one pass like the other
textstats.  Used as a filter (`quality_kept`), the predicate prunes
at the scan when the score column is materialized.

Reference analog: none (the reference has no text surface); this sits
beside textstats/c4_clean in the quality layer mandated by the build
brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import ALPHA, PUNCT, STOPWORDS, WS_CHARS, WS_RE

__all__ = ["quality_score", "sql_quality_score", "DEFAULT_WEIGHTS",
           "DEFAULT_THRESHOLD_Q"]

# Illustrative fixed linear head (hand-set, documented above): favors
# stopword-dense, alphabetic, adequately long prose; penalizes
# punctuation soup and very long tokens (URL/code junk).  A caller
# with a trained classifier passes its own integer weights.
DEFAULT_WEIGHTS: dict[str, int] = {
    "stop_ppm": 3,
    "alpha_ppm": 2,
    "punct_ppm": -4,
    "avgtok_mil": -50,
    "len_cred": 500,
    "bias": 0,
}
# sits at the synthetic corpus's upper-third score boundary so the
# default head is a real classifier on the fixtures (keeps ~1/3),
# not a constant; production callers pin their own operating point
DEFAULT_THRESHOLD_Q = 1_570_000
DEFAULT_LEN_CAP = 1_000


def _div0(num: Column, den: Column) -> Column:
    # integer division with a zero-denominator guard, written as
    # (num - num % den) / den: the numerator is exactly divisible, the
    # quotient is an integer < 2^53, and IEEE division of two exactly-
    # representable longs with an integer quotient is exact — so this
    # equals DuckDB's `//` bit-for-bit on our non-negative operands
    return F.when(den > 0, ((num - num % den) / den).cast("long")
                  ).otherwise(F.lit(0).cast("long"))


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    weights: dict[str, int] | None = None,
    threshold_q: int = DEFAULT_THRESHOLD_Q,
    len_cap: int = DEFAULT_LEN_CAP,
) -> DataFrame:
    """Attach `quality_q` (exact BIGINT linear score) and
    `quality_kept` (score >= threshold_q) as pure JVM expressions.

    `weights` maps feature names (see module docstring) plus 'bias'
    to integer weights; missing keys default to DEFAULT_WEIGHTS.
    """
    w = {**DEFAULT_WEIGHTS, **(weights or {})}
    s = F.coalesce(F.col(text_col), F.lit(""))
    trimmed = F.trim(s)
    n_chars = F.length(s).cast("long")
    n_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))).cast("long")
    n_punct = (F.length(s)
               - F.length(F.translate(s, "".join(PUNCT), ""))).cast("long")
    n_alpha = (F.length(s)
               - F.length(F.translate(s, ALPHA, ""))).cast("long")
    n_nonws = F.length(F.translate(s, WS_CHARS, "")).cast("long")
    pad = F.concat(F.lit(" "),
                   F.regexp_replace(F.lower(trimmed), WS_RE, "  "),
                   F.lit(" "))
    n_stop = F.regexp_count(
        pad, F.lit(" (" + "|".join(STOPWORDS) + ") ")).cast("long")

    stop_ppm = _div0(F.lit(1_000_000) * n_stop, n_tokens)
    alpha_ppm = _div0(F.lit(1_000_000) * n_alpha, n_chars)
    punct_ppm = _div0(F.lit(1_000_000) * n_punct, n_chars)
    avgtok_mil = _div0(F.lit(1_000) * n_nonws, n_tokens)
    len_cred = F.least(n_tokens, F.lit(len_cap)).cast("long")

    score = (
        F.lit(w["stop_ppm"]) * stop_ppm
        + F.lit(w["alpha_ppm"]) * alpha_ppm
        + F.lit(w["punct_ppm"]) * punct_ppm
        + F.lit(w["avgtok_mil"]) * avgtok_mil
        + F.lit(w["len_cred"]) * len_cred
        + F.lit(w["bias"])
    ).cast("long")
    return df.withColumn("quality_q", score).withColumn(
        "quality_kept", F.col("quality_q") >= F.lit(threshold_q))


def sql_quality_score(
    text: str = "text",
    weights: dict[str, int] | None = None,
    threshold_q: int = DEFAULT_THRESHOLD_Q,
    len_cap: int = DEFAULT_LEN_CAP,
    from_sql: str = "documents",
    select_cols: str = "doc_id",
) -> str:
    """DuckDB twin: identical integer features, identical dot product.
    Stopword hits use the LIST_FILTER idiom proven hit-identical to
    the Spark regexp_count pad by the textstats oracle."""
    w = {**DEFAULT_WEIGHTS, **(weights or {})}
    s = f"COALESCE({text}, '')"
    toks = f"REGEXP_SPLIT_TO_ARRAY(TRIM({s}), '\\s+')"
    n_tokens = (f"CASE WHEN LENGTH(TRIM({s})) = 0 THEN 0 "
                f"ELSE LEN({toks}) END")
    stop_list = "[" + ", ".join(f"'{x}'" for x in STOPWORDS) + "]"
    n_stop = (f"LEN(LIST_FILTER({toks}, "
              f"t -> LIST_CONTAINS({stop_list}, LOWER(t))))")
    n_chars = f"LENGTH({s})"
    n_punct = f"LENGTH(REGEXP_REPLACE({s}, '[^.,;:!?]', '', 'g'))"
    n_alpha = f"LENGTH(REGEXP_REPLACE({s}, '[^A-Za-z]', '', 'g'))"
    n_nonws = f"LENGTH(REGEXP_REPLACE({s}, '\\s', '', 'g'))"
    div0 = lambda num, den: (
        f"CASE WHEN {den} > 0 THEN ({num}) // ({den}) ELSE 0 END")
    stop_ppm = div0(f"1000000 * ({n_stop})", n_tokens)
    alpha_ppm = div0(f"1000000 * ({n_alpha})", n_chars)
    punct_ppm = div0(f"1000000 * ({n_punct})", n_chars)
    avgtok_mil = div0(f"1000 * ({n_nonws})", n_tokens)
    len_cred = f"LEAST({n_tokens}, {len_cap})"
    score = (
        f"CAST({w['stop_ppm']} * ({stop_ppm}) + {w['alpha_ppm']} * "
        f"({alpha_ppm}) + {w['punct_ppm']} * ({punct_ppm}) + "
        f"{w['avgtok_mil']} * ({avgtok_mil}) + {w['len_cred']} * "
        f"({len_cred}) + {w['bias']} AS BIGINT)"
    )
    return (
        f"SELECT {select_cols},\n"
        f"       {score} AS quality_q,\n"
        f"       {score} >= {threshold_q} AS quality_kept\n"
        f"FROM {from_sql}"
    )
