"""HTML -> text extraction with a byte-identical-per-url invariant.

The synthetic pages table stores both `html` (binary) and `text`; the
engine must re-extract `text` from `html` byte-for-byte (BASELINE.json
input_hint).  The fixture HTML is:

    <html><head><title>{title}</title></head><body>{s1}. {s2}. ... {sn}.</body></html>

and the extraction contract is:

    text = title + "\\n" + body with every ". " turned into ".\\n"

- `extract_text_cols`: Spark Column expressions (decode + regexp_extract
  + replace) — JVM-side, no Python.  Its pandas twin is a test oracle
  in tests/oracle_kernels.py.
- `render_html_np`: the fixture HTML, for datagen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_TITLE_RE = "<title>(.*?)</title>"
_BODY_RE = "<body>(.*?)</body>"


def extract_text_cols(html: Column) -> Column:
    """html binary column -> extracted text column (pure JVM expressions).

    Implementation note (measured, do not "optimize" back): a
    locate+substr variant (indexOf both tags, slice between) looked
    cheaper than two lazy-dot java.regex extractions but benched 2.4x
    SLOWER at full width (128M pages, local[32]: 70.3 s vs 29.5 s,
    both on quiet stage windows — bench_runs/r6/v2/): every locate /
    substr subtree re-evaluates the decode() input, multiplying full
    string passes, while the two regexp_extract calls scan once each
    with a trivial non-backtracking pattern."""
    s = F.decode(html, "UTF-8")
    title = F.regexp_extract(s, _TITLE_RE, 1)
    body = F.regexp_extract(s, _BODY_RE, 1)
    return F.concat(title, F.lit("\n"), F.replace(body, F.lit(". "), F.lit(".\n")))


def render_html_np(titles: pd.Series, bodies: pd.Series) -> pd.Series:
    """Render the fixture HTML (datagen side)."""
    return (
        "<html><head><title>"
        + titles
        + "</title></head><body>"
        + bodies
        + "</body></html>"
    )
