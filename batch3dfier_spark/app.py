"""CLI entry point — the batch3dfy analog (spark-submit friendly).

Mirrors the reference's console surface (batch3dfierapp.py:23-110):
one YAML config, three work-selection modes, a thread/parallelism knob,
end-of-run processed/skipped report.  Usage:

    spark-submit --py-files batch3dfier_spark.zip -m batch3dfier_spark.app \
        run config.yml
    python -m batch3dfier_spark.app run config.yml

Config surface (defaults in CONFIG_DEFAULTS; reference twin noted):

    input:
      pages: /path/to/pages_parquet      # url, warc_ts, html, text, lang
    territory: {xmin: ..., ymin: ..., xmax: ..., ymax: ...}
    tile_index: {nx: 8, ny: 8}           # regular grid (tile_index.bag_index)
    mode:                                 # exactly one of (bag3dfy modes)
      extent: /path/extent.geojson       # polygon -> tile subset + filter
      tile_list: [t_0_0, t_1_2]          # explicit units
      # tile_list: [all]                 # full index scan mode
    buffer: 0.0                          # border overlap (clip buffer)
    output:
      table: /path/out_table             # Icebergish table root
    parallelism: 32                      # threads knob -> shuffle partitions
    resume: true                         # anti-join vs committed lineage
    skip_units: []                       # O15 skip bookkeeping

The per-tile processor here is the built-in percentile-heights rollup
(the 3dfier-worker analog); `run_job` accepts any process callable.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from .datagen import REF_TERRITORY
from .geo import Rect, polygon_bbox
from .operators import tiler
from .operators.dispatch import run_tiles, skip_report, tile_gid_frame
from .operators.tiler import TileIndex
from .storage.tablefmt import IcebergishTable

CONFIG_DEFAULTS = {
    "territory": {
        "xmin": REF_TERRITORY.xmin, "ymin": REF_TERRITORY.ymin,
        "xmax": REF_TERRITORY.xmax, "ymax": REF_TERRITORY.ymax,
    },
    "tile_index": {"nx": 8, "ny": 8},
    "buffer": 0.0,
    "parallelism": 4,
    "resume": True,
    "skip_units": [],
    # hot-tile salting (O10 skew handling): decomposable=True splits
    # tiles above salt_target_rows into (tile, salt) subgroups — ONLY
    # valid for row-wise processors (per-row output independent of the
    # rest of the tile); the default_processor aggregates per tile, so
    # the default stays False
    "dispatch": {"decomposable": False, "salt_target_rows": 250_000},
}


def parse_config(path: str) -> dict:
    """YAML -> validated flat config (parse_config_yaml analog,
    batch3dfierapp.py:44-110, including the extent-vs-tile_list
    disambiguation at 77-89)."""
    import yaml

    with open(path) as f:
        raw = yaml.safe_load(f) or {}
    cfg = {**CONFIG_DEFAULTS, **raw}
    if "input" not in cfg or "pages" not in cfg["input"]:
        raise ValueError("config needs input.pages")
    if "output" not in cfg or "table" not in cfg["output"]:
        raise ValueError("config needs output.table")
    mode = cfg.get("mode") or {}
    has_extent = "extent" in mode
    has_list = "tile_list" in mode
    if has_extent == has_list:
        raise ValueError("mode needs exactly one of extent | tile_list")
    t = cfg["territory"]
    cfg["_territory"] = Rect(t["xmin"], t["ymin"], t["xmax"], t["ymax"])
    return cfg


def load_extent_polygon(path: str) -> np.ndarray:
    """GeoJSON polygon -> (n,2) vertex array (extent_to_ewkb analog,
    config.py:262-301 — json instead of Fiona, no SRID probe: planar by
    construction)."""
    with open(path) as f:
        gj = json.load(f)
    if gj.get("type") == "FeatureCollection":
        gj = gj["features"][0]["geometry"]
    elif gj.get("type") == "Feature":
        gj = gj["geometry"]
    if gj.get("type") != "Polygon":
        raise ValueError(f"extent must be a Polygon, got {gj.get('type')}")
    ring = np.asarray(gj["coordinates"][0], dtype=np.float64)
    if len(ring) > 1 and (ring[0] == ring[-1]).all():
        ring = ring[:-1]  # drop GeoJSON's closing vertex
    return ring


def default_processor(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-tile worker (the 3dfier-binary analog): percentile heights of
    text length per tile, one output row per page."""
    z = pdf["text"].str.len().to_numpy(dtype=np.float64)
    out = pdf[["url", "tile_gid", "tile_unit"]].copy()
    out["z"] = z
    out["ground_50"] = float(np.percentile(z, 50)) if len(z) else np.nan
    out["roof_90"] = float(np.percentile(z, 90)) if len(z) else np.nan
    return out


def build_work_df(spark, cfg: dict):
    """Config -> (work DataFrame with tile columns, selected unit list,
    union flag) — entry points 1 and 2 of the reference lifecycle."""
    territory: Rect = cfg["_territory"]
    nx, ny = cfg["tile_index"]["nx"], cfg["tile_index"]["ny"]
    index = TileIndex.regular_grid(territory, nx, ny)
    pages = spark.read.parquet(cfg["input"]["pages"])
    geo = tiler.with_geocode(pages, territory)
    assigned = tiler.assign_tiles(geo, index, buffer=float(cfg["buffer"]))
    assigned = assigned.where(assigned.tile_gid.isNotNull())

    def select(gids):
        # one broadcast left_semi join, the rule run_tiles resumes by
        keep = F.broadcast(tile_gid_frame(spark, gids))
        return assigned.join(keep, on="tile_gid", how="left_semi")

    mode = cfg["mode"]
    union = False
    if "extent" in mode:
        poly = load_extent_polygon(mode["extent"])
        sel = tiler.select_tiles(index, poly)
        units = sel["unit"].tolist()
        # pushdown: only points in the extent's bbox reach the polygon
        # UDF (Catalyst moves a deterministic filter below the semi
        # join, so the join alone would not prune what the UDF reads)
        bb = polygon_bbox(poly)
        near = select(sel["gid"]).where(
            F.col("x").between(bb.xmin, bb.xmax)
            & F.col("y").between(bb.ymin, bb.ymax)
        )
        assigned = tiler.extent_filter(near, poly)
        union = tiler.union_or_split(sel, index, poly)
    else:
        tl = mode["tile_list"]
        if tl == ["all"] or tl == "all":
            units = index.frame["unit"].tolist()
        else:
            units = list(tl)
            known = set(index.frame["unit"])
            bad = [u for u in units if u not in known]
            if bad:
                raise ValueError(f"unknown tile units: {bad}")
            gid_of = index.frame.set_index("unit")["gid"]
            assigned = select(gid_of[units])
    return assigned, units, union, index


def run_job(
    spark,
    cfg: dict,
    process: Callable[[pd.DataFrame], pd.DataFrame] = default_processor,
) -> dict:
    """Full lifecycle: work selection -> per-tile dispatch with lineage
    commit -> report (main() analog, batch3dfierapp.py:113-319)."""
    work, units, union, index = build_work_df(spark, cfg)
    if union:
        # O9: extent smaller than one tile -> single work unit named
        # like the reference's output_batch3dfier (gid 0)
        work = work.withColumn(
            "tile_gid", work.tile_gid * 0
        ).withColumn("tile_unit", F.lit("output_batch3dfier"))
    unit_to_gid = dict(zip(index.frame["unit"], index.frame["gid"]))
    bad = [u for u in cfg["skip_units"] if u not in unit_to_gid]
    if bad:
        raise ValueError(f"unknown skip units: {bad}")
    # only skips within the selected units: committing an unselected
    # unit as 'skipped' would make a later run that selects it resume
    # past it with no rows
    skip_gids = {int(unit_to_gid[u])
                 for u in set(cfg["skip_units"]).intersection(units)}
    table = IcebergishTable(cfg["output"]["table"])
    disp = {**CONFIG_DEFAULTS["dispatch"], **(cfg.get("dispatch") or {})}
    lineage = run_tiles(
        work, process, table,
        skip_tiles=skip_gids, resume=bool(cfg["resume"]),
        decomposable=bool(disp["decomposable"]),
        salt_target_rows=int(disp["salt_target_rows"]),
    )
    report = skip_report(lineage)
    report["units_selected"] = len(units)
    report["union_mode"] = bool(union)
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="batch3dfier-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    runp = sub.add_parser("run", help="run a tiling job from a YAML config")
    runp.add_argument("config")
    runp.add_argument("--cores", type=int, default=None,
                      help="override parallelism (threads knob)")
    tp = sub.add_parser(
        "textpipe",
        help="run a training-data pipeline (dedup/filter/sample/mixture) "
             "over a documents table from a YAML config",
    )
    tp.add_argument("config")
    tp.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)

    from .session import get_spark

    if args.cmd == "textpipe":
        from .textpipe import parse_textpipe_config, run_textpipe

        cfg = parse_textpipe_config(args.config)
        spark = get_spark(app_name="batch3dfier-textpipe", cores=args.cores,
                          shuffle_partitions=2 * args.cores)
        spark.sparkContext.setLogLevel("WARN")
        try:
            report = run_textpipe(spark, cfg)
            print(json.dumps(report))
        finally:
            spark.stop()
        return 0

    cfg = parse_config(args.config)
    cores = args.cores or int(cfg["parallelism"])
    spark = get_spark(app_name="batch3dfier-spark", cores=cores,
                      shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("WARN")
    try:
        report = run_job(spark, cfg)
        print(json.dumps(report))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
