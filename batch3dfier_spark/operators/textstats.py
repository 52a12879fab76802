"""Text analysis for the training-data pipeline: language-ID, quality
scoring, token counting, document fingerprinting.

Execution shape (revised in round 5): EVERY stat is an ordinary JVM
Column expression — no HOF lambdas (round-3 discovery: they defeat
Spark's codegen cache, so every fresh plan pays seconds of janino
compilation) and no Arrow hop either (the round-4 kernel traded the
compile landmine for a python-worker hop; this version eliminates
both).  The tricks that make that possible:

- character-class counts are length diffs over `translate` (cheaper
  than regex and codegen-friendly);
- whole-token membership counts (stopwords, per-language marker hits)
  use the DOUBLE-SPACE PAD: normalize every whitespace run to two
  spaces, pad with one space each side, then `regexp_count(pad,
  ' (w1|w2|...) ')` — each token owns a private leading and trailing
  space, so adjacent marker tokens cannot steal each other's
  delimiter and the count equals exact set-membership over the
  split tokens;
- ratios are `FLOOR(num/den * 1e6 + 0.5)/1e6` — one IEEE division of
  exact integers, then explicit half-away rounding, the identical
  bit-for-bit arithmetic in Spark, DuckDB, and C;
- the fingerprint is sha256 of the whitespace-normalized document,
  reduced mod 2^31 (v2 semantics; the v1 per-token rolling fold is
  NOT map-only-expressible in JVM SQL without lambdas or an
  explode+shuffle, and whole-document sha256 is a strictly stronger
  fingerprint; the rolling-hash construction itself lives on in
  dedup's shingle hashes).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

__all__ = [
    "token_count",
    "pretok_count",
    "sql_pretok_count",
    "PRETOK_RE",
    "add_textstats",
    "repetition_ratios",
    "repetition_stats",
    "scrub_pii",
    "pii_scrub_columns",
    "vocab_topk",
    "corpus_stats",
    "sql_corpus_stats",
    "c4_line_filter",
    "sql_c4_line_filter",
]

# language marker words (tiny stopword lists; the n-gram-heuristic
# language-ID analog — deterministic and SQL-expressible)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "nl": ["de", "het", "een", "van", "en"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

FP_MOD = 2_147_483_648  # 2^31: rolling-hash modulus (ANSI-safe)

# ASCII whitespace class — matches Java \s (Spark) and RE2 \s (DuckDB)
# exactly; python's own \s would additionally match unicode spaces and
# silently diverge from the SQL twin on non-ASCII corpora
WS_RE = r"[ \t\n\x0b\f\r]+"
PUNCT = set(".,;:!?")


def _tokens(text: Column) -> Column:
    # empty-safe whitespace tokenization; identical semantics to
    # regexp_split_to_array in the oracle after the same trim+guard
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for blank text).  Pure JVM — split/
    size/when are ordinary expressions (no HOF lambdas), so this stays
    inside whole-stage codegen for filter pushdown in pipelines."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(_tokens(text))
    )


# BPE-style pre-tokenizer law: the lookahead-free variant of the
# GPT-2 pattern (contractions | space?+letters | space?+digits |
# space?+symbol-run | whitespace-run), written with explicit ASCII
# classes and escape sequences that mean the same thing in java.regex
# and RE2 (the scrub_pii discipline — GPT-2's actual `\s+(?!\S)`
# lookahead does not exist in RE2, so the law drops it; every
# whitespace run is one token either way, the count only shifts where
# GPT-2 would split a trailing-space run, a documented variant).
# Alternation is leftmost-first in BOTH engines' default mode, so the
# match sequence — and therefore the count — is identical.
PRETOK_RE = ("'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
             "| ?[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+")


def pretok_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer token count (0 for null/blank text) —
    the sizing law a tokenizer-faithful `pack_sequences` run feeds in
    via `n_tokens_col` (pre-tokens upper-bound BPE tokens per word, so
    packing to a budget in pre-tokens never overflows a context
    window measured in the same law).  One JVM regexp_count, codegen-
    resident like token_count."""
    return F.regexp_count(
        F.coalesce(text, F.lit("")), F.lit(PRETOK_RE)
    ).cast("long")


def sql_pretok_count(text: str = "text") -> str:
    pat = PRETOK_RE.replace("'", "''")
    return (f"CAST(LEN(REGEXP_EXTRACT_ALL(COALESCE({text}, ''), "
            f"'{pat}')) AS BIGINT)")


def _ratio6(num: Column, den: Column) -> Column:
    """FLOOR(num/den * 1e6 + 0.5)/1e6 — half-away rounding written as
    explicit IEEE ops so Spark, DuckDB, and any C runtime produce the
    identical double (engine-native ROUND(x, 6) implementations differ
    on boundary values; this form cannot)."""
    return F.when(
        den > 0,
        F.floor(num.cast("double") / den.cast("double") * F.lit(1e6)
                + F.lit(0.5)) / F.lit(1e6),
    ).otherwise(F.lit(0.0))


def _marker_hits(pad: Column, words: list[str]) -> Column:
    """Exact whole-token membership count via the double-space pad
    (see module docstring): each split token owns a private leading
    AND trailing space in `pad`, so non-overlapping ' (w1|w2|..) '
    matches count exactly the tokens equal to a marker word."""
    return F.regexp_count(
        pad, F.lit(" (" + "|".join(words) + ") ")
    ).cast("long")


ALPHA = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
WS_CHARS = " \t\n\x0b\f\r"


def add_textstats(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Attach the full textstats column family as pure JVM expressions
    (zero lambdas, zero Python — everything stays inside whole-stage
    codegen): n_chars, n_tokens, punct/alpha/stopword ratios, avg token
    length, per-language marker hits + arg-max prediction (tie-break:
    language name ascending), and the document fingerprint
    (sha256 of the whitespace-normalized text, mod 2^31; 0 for blank).

    Cross-engine exactness: every count is an integer, every ratio the
    explicit FLOOR(x*1e6+0.5)/1e6 form (see _ratio6), and sha256 hex
    is identical in Spark and DuckDB — so the twin
    (plans/queries._sql_textstats) reproduces all values bit-for-bit.
    Reference parity: the reference has no text stack; this is the
    training-data surface mandated by the build brief."""
    s = F.coalesce(F.col(text_col), F.lit(""))
    trimmed = F.trim(s)
    # double-space pad over the lowercased text: every token gets a
    # private leading and trailing space (blank text -> '  ', no hits)
    pad = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(trimmed), WS_RE, "  "),
        F.lit(" "),
    )
    n_chars = F.length(s).cast("long")
    n_tokens = token_count(s).cast("long")
    n_punct = F.length(s) - F.length(F.translate(s, "".join(PUNCT), ""))
    n_alpha = F.length(s) - F.length(F.translate(s, ALPHA, ""))
    n_nonws = F.length(F.translate(s, WS_CHARS, ""))
    n_stop = _marker_hits(pad, STOPWORDS)
    hits = {lg: _marker_hits(pad, ws) for lg, ws in LANG_MARKERS.items()}
    # argmax over languages, name-ascending scan, strictly-greater
    # replaces — identical to the SQL twin's CASE chain
    lang_pred = (
        F.when(hits["nl"] > F.greatest(hits["de"], hits["en"], hits["fr"]),
               F.lit("nl"))
        .when(hits["fr"] > F.greatest(hits["de"], hits["en"]), F.lit("fr"))
        .when(hits["en"] > hits["de"], F.lit("en"))
        .otherwise(F.lit("de"))
    )
    norm = F.regexp_replace(trimmed, WS_RE, " ")
    fingerprint = F.when(
        F.length(trimmed) == 0, F.lit(0).cast("long")
    ).otherwise(
        F.conv(F.substring(F.sha2(norm, 256), 1, 15), 16, 10).cast("long")
        % F.lit(FP_MOD)
    )
    new_cols: dict[str, Column] = {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": _ratio6(n_punct, F.length(s)),
        "alpha_ratio": _ratio6(n_alpha, F.length(s)),
        "stopword_ratio": _ratio6(n_stop, n_tokens),
        "avg_token_len": _ratio6(n_nonws, n_tokens),
        "hits_en": hits["en"],
        "hits_nl": hits["nl"],
        "hits_de": hits["de"],
        "hits_fr": hits["fr"],
        "lang_pred": lang_pred,
        "fingerprint": fingerprint,
    }
    # withColumns semantics: a stat column REPLACES an input column of
    # the same name in place (e.g. the documents table's own n_chars);
    # genuinely new columns append in order
    keep = [
        new_cols.pop(f.name).alias(f.name) if f.name in new_cols
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(
        *keep, *(c.alias(n) for n, c in new_cols.items())
    )


_REPETITION = ("dup_line_frac", "dup_line_char_frac", "top_bigram_frac")


@F.pandas_udf(StructType([StructField(n, DoubleType()) for n in _REPETITION]))
def repetition_ratios(text: pd.Series) -> pd.DataFrame:
    """Gopher-style within-document repetition metrics of each text —
    the standard quality filters for web-scraped training text
    (boilerplate pages repeat the same line/navigation bigram over and
    over), as a struct column:

    - dup_line_frac: 1 - distinct_lines / lines
    - dup_line_char_frac: chars inside lines occurring >1 time / chars
      in all lines (both counting repeats)
    - top_bigram_frac: occurrences of the most frequent word bigram /
      total bigrams

    One Arrow-batched scalar UDF, O(doc) python per doc (Counter over
    lines and bigrams — the same bounded per-doc pattern as the gram
    builders); all three ratios are exact-integer divisions, so the SQL
    twin reproduces them bit-for-bit unrounded.  Evaluated once per row
    however many fields a filter reads (the return type is a DataType:
    a DDL string needs a session at import)."""
    n = len(text)
    dl = np.zeros(n)
    dlc = np.zeros(n)
    tb = np.zeros(n)
    for k, txt in enumerate(text):
        txt = txt if isinstance(txt, str) else ""
        lines = txt.split("\n")
        lc = Counter(lines)
        dl[k] = 1.0 - len(lc) / len(lines)
        chars_all = sum(len(ln) * c for ln, c in lc.items())
        if chars_all:
            dlc[k] = sum(
                len(ln) * c for ln, c in lc.items() if c > 1
            ) / chars_all
        toks = txt.split()
        if len(toks) >= 2:
            bc = Counter(zip(toks, toks[1:]))
            tb[k] = max(bc.values()) / (len(toks) - 1)
    return pd.DataFrame(dict(zip(_REPETITION, (dl, dlc, tb))))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, dup_line_frac, dup_line_char_frac, top_bigram_frac): the
    `repetition_ratios` of every document."""
    return df.select(
        F.col(id_col), repetition_ratios(F.col(text_col)).alias("_r")
    ).select(id_col, "_r.*")


# ---------------------------------------------------------------------------
# SQL twins (DuckDB dialect) — kept adjacent so drift is visible in review
# ---------------------------------------------------------------------------

def sql_token_count(text: str = "text") -> str:
    return (
        f"CASE WHEN LENGTH(TRIM({text})) = 0 THEN 0 "
        f"ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM({text}), '\\s+')) END"
    )


def sql_fingerprint(text: str = "text") -> str:
    """DuckDB twin of the v2 fingerprint: sha256 hex of the
    whitespace-normalized document, first 15 hex digits (60 bits)
    reduced mod 2^31 — identical hex and integer arithmetic in both
    engines, 0 for blank text."""
    norm = f"REGEXP_REPLACE(TRIM({text}), '\\s+', ' ', 'g')"
    return (
        f"CASE WHEN LENGTH(TRIM({text})) = 0 THEN 0 ELSE "
        f"CAST(CAST(CONCAT('0x', SUBSTR(SHA256({norm}), 1, 15)) AS UBIGINT)"
        f" % {FP_MOD} AS BIGINT) END"
    )


# ---------------------------------------------------------------------------
# PII scrubbing (Dolma / CCNet-style).  Each entry carries a Java
# (Spark) pattern and an RE2 (DuckDB) pattern with IDENTICAL semantics:
# word boundaries are written as explicit ASCII constructs — Java gets
# zero-width lookarounds (?<![0-9A-Za-z_]) / (?![0-9A-Za-z_]), RE2 gets
# its native \b, which is DEFINED over exactly that ASCII word class.
# A bare \b on the Java side would be Unicode-aware (CJK chars count as
# word chars), silently skipping e.g. an IP glued to a CJK character
# that the oracle scrubs — the round-4 divergence surface.
# ---------------------------------------------------------------------------

_AG_L = r"(?<![0-9A-Za-z_])"  # Java ASCII-guard, left  (== RE2 \b here)
_AG_R = r"(?![0-9A-Za-z_])"   # Java ASCII-guard, right (== RE2 \b here)

PII_PATTERNS: list[tuple[str, str, str, str]] = [
    # (name, java_pattern, re2_pattern, token); order matters: each
    # pattern runs on the output of the previous one (the alpha-TLD
    # requirement keeps emails from eating IPs; the replacement tokens
    # contain no digits, so later patterns cannot match inside earlier
    # rewrites)
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ip",
        _AG_L + r"([0-9]{1,3}\.){3}[0-9]{1,3}" + _AG_R,
        r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
        "<IP>",
    ),
    (
        "phone",
        r"\+?[0-9][0-9()\- ]{6,}[0-9]",
        r"\+?[0-9][0-9()\- ]{6,}[0-9]",
        "<PHONE>",
    ),
]


def pii_scrub_columns(text_col: str = "text") -> tuple[Column, list[Column]]:
    """The scrubbed `text_col` and its n_email / n_ip / n_phone counts
    as row-wise columns (see scrub_pii), for a caller to select next to
    whatever else it keeps."""
    cur = F.coalesce(F.col(text_col), F.lit(""))
    counts = []
    for name, java_pat, _re2_pat, tok in PII_PATTERNS:
        counts.append(
            (F.size(F.split(cur, java_pat, -1)) - 1)
            .cast("bigint")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, java_pat, tok)
    return cur.alias(text_col), counts


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Replace emails / IPv4s / phone-shaped digit runs with typed
    tokens and count each category — the standard pre-training scrub
    (Dolma's pii filter, CCNet pipelines).  Pure JVM: chained
    regexp_replace plus a split-based match count per category (no
    Python, no HOF lambdas).  Counts are taken on the text as each
    pattern sees it (post-previous-rewrites), identical to the DuckDB
    twin `sql_scrub_pii` which replays the same patterns in the same
    order.  Word boundaries are explicit ASCII constructs on both
    sides (see PII_PATTERNS), so engine and oracle are byte-identical
    even where digits neighbor CJK or other non-ASCII characters."""
    text, counts = pii_scrub_columns(text_col)
    return df.select(F.col(id_col), text, *counts)


def sql_scrub_pii(text: str = "text", from_sql: str = "documents") -> str:
    """DuckDB twin of scrub_pii: same patterns, same order, counts via
    regexp_extract_all on the same intermediate rewrites.  `from_sql`
    may be a table name or a parenthesized subquery exposing
    (doc_id, {text})."""
    cur = f"COALESCE({text}, '')"
    count_cols = []
    for name, _java_pat, re2_pat, tok in PII_PATTERNS:
        p = re2_pat.replace("'", "''")
        count_cols.append(
            f"LEN(REGEXP_EXTRACT_ALL({cur}, '{p}')) AS n_{name}"
        )
        cur = f"REGEXP_REPLACE({cur}, '{p}', '{tok}', 'g')"
    return (
        f"SELECT doc_id, {cur} AS {text}, "
        + ", ".join(count_cols)
        + f" FROM {from_sql}"
    )


def vocab_topk(
    df: DataFrame,
    k: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: the k most frequent whitespace tokens with
    their counts and 1-based rank — the input a tokenizer-training or
    stopword-mining pass starts from.

    Scale shape: explode to token granularity, groupBy token (partial
    map-side counting absorbs hot tokens — 'the' combines within every
    task before the shuffle), then a global top-k which Spark executes
    as TakeOrderedAndProject: each partition keeps only its local top
    k and the driver merges k-sized heaps — never a full sort of the
    vocabulary.  Rank ties at the boundary are pinned by (freq DESC,
    token ASC), so the result set is deterministic."""
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    return (
        df.select(
            F.explode(
                F.when(
                    F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) == 0,
                    F.array().cast("array<string>"),
                ).otherwise(toks)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(k)
        .withColumn(
            # the global window here runs AFTER limit(k): its one
            # partition holds exactly k rows, bounded by the argument,
            # never by the corpus
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), F.col("token").asc())
            ).cast("bigint"),
        )
    )


def sql_vocab_topk(k: int = 1000, text: str = "text",
                   table: str = "documents") -> str:
    """DuckDB twin of vocab_topk (same tokenizer, same tie order)."""
    t = f"TRIM(COALESCE({text}, ''))"
    return f"""
WITH tok AS (
  SELECT UNNEST(CASE WHEN LENGTH({t}) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE REGEXP_SPLIT_TO_ARRAY({t}, '\\s+') END) AS token
  FROM {table}
),
freqs AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok GROUP BY token
  ORDER BY freq DESC, token ASC
  LIMIT {k}
)
SELECT token, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS BIGINT)
         AS rank
FROM freqs
"""


def corpus_stats(
    df: DataFrame,
    strata_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum corpus composition report — the first table every
    training-mixture decision reads (how many docs/tokens/chars per
    language or source, how long a typical document is).  One
    partial-aggregating groupBy; the stratum key's cardinality is tiny
    (languages, sources), and hot strata combine map-side, so the
    shuffle carries one row per (partition, stratum).

    Determinism: counts and sums are exact integers; mean_tokens is
    the single final IEEE division (bit-identical in any engine)."""
    tok = token_count(F.col(text_col)).cast("bigint")
    return df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(tok).cast("bigint").alias("total_tokens"),
        F.sum(F.length(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("bigint").alias("total_chars"),
        F.min(tok).cast("bigint").alias("min_tokens"),
        F.max(tok).cast("bigint").alias("max_tokens"),
        (F.sum(tok).cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("mean_tokens"),
    )


def sql_corpus_stats(strata: str = "lang", text: str = "text",
                     table: str = "documents") -> str:
    """DuckDB twin of corpus_stats."""
    tc = sql_token_count(text)
    return f"""
SELECT {strata},
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM({tc}) AS BIGINT) AS total_tokens,
       CAST(SUM(LENGTH(COALESCE({text}, ''))) AS BIGINT) AS total_chars,
       CAST(MIN({tc}) AS BIGINT) AS min_tokens,
       CAST(MAX({tc}) AS BIGINT) AS max_tokens,
       CAST(SUM({tc}) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
FROM {table}
GROUP BY {strata}
"""


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    min_lines: int = 3,
) -> DataFrame:
    """The C4 line-level cleaning rule (Raffel et al. 2020, "Exploring
    the Limits of Transfer Learning", section 2.2 — the public recipe
    behind the C4 corpus), the step a web-text pipeline runs BEFORE
    any dedup.  No reference analog (batch3dfier has no text surface);
    this is part of the training-data operator family the build brief
    mandates.

    Document-level drops (the whole page goes):
      - page contains 'lorem ipsum' (any case) — placeholder text;
      - page contains '{' — leaked code/templates.
    Line-level keeps (lines are whitespace-trimmed first):
      - ends in a terminal punctuation mark ('.', '!', '?', '"');
      - has >= min_words whitespace-separated words;
      - does not contain 'javascript' (any case).
    Pages with fewer than min_lines surviving lines are dropped (C4
    counted sentences; kept lines are the deterministic proxy).

    Returns `df`'s surviving pages with text_col rewritten to their
    kept lines in order, plus n_kept (the kept-line count).

    Scale shape: one row-wise projection and two filters — no shuffle,
    no join back, no Python.  The two document-level predicates are
    map-only string scans that PUSH DOWN to the parquet read.  The line
    tests run inside `filter` over the split page; the lambda costs the
    codegen cache, but at 5 000 and 100 000 pages on a 4-vCPU host this
    form took 0.5x-0.8x the time of the old posexplode + groupBy(id)
    reassembly.  Word counts come from regexp_extract_all + size.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(text, "\n", -1), lambda line: F.trim(line)),
        lambda line: line.rlike('[.!?"]$')
        & (F.size(F.regexp_extract_all(line, F.lit(r"(\S+)"), 1))
           >= min_words)
        & ~F.lower(line).contains("javascript"),
    )
    return (
        df.where(~F.lower(text).contains("lorem ipsum") & ~text.contains("{"))
        .withColumn("_ls", lines)
        .where(F.size("_ls") >= max(min_lines, 1))
        .withColumn(text_col, F.array_join("_ls", "\n"))
        .withColumn("n_kept", F.size("_ls").cast("bigint"))
        .drop("_ls")
    )


def sql_c4_line_filter(
    min_words: int = 5,
    min_lines: int = 3,
    text: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of c4_line_filter.  Shared-subset semantics: the
    terminal-punctuation class and the word regex '\\S+' mean the same
    thing in java.regex and RE2; TRIM strips U+0020 in both engines."""
    return f"""
WITH docs AS (
  SELECT doc_id, COALESCE({text}, '') AS text FROM {table}
  WHERE LOWER(COALESCE({text}, '')) NOT LIKE '%lorem ipsum%'
    AND COALESCE({text}, '') NOT LIKE '%{{%'
), l AS (
  SELECT doc_id, UNNEST([{{'line_no': i - 1, 'line': TRIM(arr[i])}}
                         FOR i IN RANGE(1, LEN(arr) + 1)],
                        recursive := true)
  FROM (SELECT doc_id, string_split(text, chr(10)) AS arr FROM docs)
), kept AS (
  SELECT doc_id, line_no, line FROM l
  WHERE regexp_matches(line, '[.!?"]$')
    AND LEN(regexp_extract_all(line, '\\S+')) >= {min_words}
    AND LOWER(line) NOT LIKE '%javascript%'
)
SELECT doc_id,
       STRING_AGG(line, chr(10) ORDER BY line_no) AS {text},
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept GROUP BY doc_id
HAVING COUNT(*) >= {min_lines}
"""
