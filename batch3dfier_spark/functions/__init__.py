"""Scalar function surface (SURVEY.md §2.7).

The geocode and the HTML -> text extraction are Spark `Column`
expression builders (JVM-side, whole-stage codegen — the hot path at
100 TB); for the geocode that is `operators/tiler.with_geocode`, built
from `geocode_key` and `TWO32`.  Their numpy/pandas twins are pure
functions of the same inputs that tests assert agree: `geocode_np`
(also used by datagen and perfbench) here, the text extraction twin in
`tests/oracle_kernels.py`.  `render_html_np` renders the fixture HTML
for datagen.
"""

from .geocode import (  # noqa: F401
    GEOCODE_TS_FMT,
    TWO32,
    geocode_key,
    geocode_np,
)
from .text import (  # noqa: F401
    extract_text_cols,
    render_html_np,
)
