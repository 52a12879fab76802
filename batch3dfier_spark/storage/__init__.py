"""Iceberg-style table layer: snapshot/manifest commits + per-tile lineage."""

from .tablefmt import IcebergishTable  # noqa: F401
