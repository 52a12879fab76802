"""Scalar function surface (SURVEY.md §2.7).

Everything here comes in two twins:
- a Spark `Column` expression builder (JVM-side, whole-stage codegen —
  the hot path at 100 TB); for the geocode that is
  `operators/tiler.with_geocode`, built from `geocode_key` and `TWO32`,
  and
- a numpy/pandas implementation (the duckdb/pandas oracle + datagen).

Both are pure functions of their inputs; tests assert they agree.
"""

from .geocode import (  # noqa: F401
    GEOCODE_TS_FMT,
    TWO32,
    geocode_key,
    geocode_np,
)
from .text import (  # noqa: F401
    extract_text_cols,
    extract_text_np,
    render_html_np,
)
from .wkb import (  # noqa: F401
    EWKB_SRID_DEFAULT,
    ewkb_point_hex_np,
    ewkb_point_hex_udf,
)
