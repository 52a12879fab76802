"""CLI surface: YAML config parsing, extent GeoJSON loading, and the
three work-selection modes end-to-end through run_job."""

import json
import os

import pytest
import yaml

from batch3dfier_spark import datagen
from oracle_kernels import write_pages_parquet


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("appdata")
    p = str(d / "pages.parquet")
    write_pages_parquet(p, 2000)
    return p


def _cfg(tmp_path, pages_path, mode, **over):
    cfg = {
        "input": {"pages": pages_path},
        "tile_index": {"nx": 4, "ny": 4},
        "mode": mode,
        "output": {"table": str(tmp_path / "out_table")},
        "parallelism": 4,
        **over,
    }
    p = tmp_path / "job.yml"
    p.write_text(yaml.safe_dump(cfg))
    return str(p)


def _extent_geojson(tmp_path) -> str:
    # a rectangle covering the left ~half of REF_TERRITORY
    t = datagen.REF_TERRITORY
    xmid = t.xmin + (t.xmax - t.xmin) * 0.45
    ring = [
        [t.xmin - 1, t.ymin - 1], [xmid, t.ymin - 1],
        [xmid, t.ymax + 1], [t.xmin - 1, t.ymax + 1],
        [t.xmin - 1, t.ymin - 1],
    ]
    gj = {"type": "Feature",
          "geometry": {"type": "Polygon", "coordinates": [ring]}}
    p = tmp_path / "extent.geojson"
    p.write_text(json.dumps(gj))
    return str(p)


def test_parse_config_validation(tmp_path, pages_path):
    from batch3dfier_spark.app import parse_config

    good = parse_config(_cfg(tmp_path, pages_path, {"tile_list": ["all"]}))
    assert good["tile_index"]["nx"] == 4 and good["resume"] is True

    with pytest.raises(ValueError, match="exactly one"):
        parse_config(_cfg(tmp_path, pages_path, {}))
    with pytest.raises(ValueError, match="exactly one"):
        parse_config(
            _cfg(tmp_path, pages_path,
                 {"extent": "x", "tile_list": ["t_0_0"]})
        )


def test_run_all_mode(spark, tmp_path, pages_path):
    from batch3dfier_spark.app import parse_config, run_job
    from batch3dfier_spark.storage.tablefmt import IcebergishTable

    cfg = parse_config(_cfg(tmp_path, pages_path, {"tile_list": ["all"]}))
    report = run_job(spark, cfg)
    assert report["units_selected"] == 16
    assert report["tiles_ok"] == 16 and report["tiles_skipped"] == 0
    # output table holds every page exactly once (exactly-one rule)
    table = IcebergishTable(cfg["output"]["table"])
    assert table.read(spark).count() == 2000


def test_run_tile_list_and_skip(spark, tmp_path, pages_path):
    from batch3dfier_spark.app import parse_config, run_job

    cfg = parse_config(
        _cfg(tmp_path, pages_path,
             {"tile_list": ["t_0_0", "t_1_1", "t_2_2"]},
             skip_units=["t_2_2"])
    )
    report = run_job(spark, cfg)
    assert report["units_selected"] == 3
    assert report["tiles_ok"] == 2 and report["tiles_skipped"] == 1

    with pytest.raises(ValueError, match="unknown tile units"):
        bad = parse_config(
            _cfg(tmp_path, pages_path, {"tile_list": ["t_9_9"]})
        )
        run_job(spark, bad)

    # skip_units are validated like tile_list, not silently dropped
    (tmp_path / "s1").mkdir()
    with pytest.raises(ValueError, match="unknown skip units"):
        bad = parse_config(
            _cfg(tmp_path / "s1", pages_path, {"tile_list": ["t_0_0"]},
                 skip_units=["t_3_3", "t_9_9"])
        )
        run_job(spark, bad)

    # a skip outside the selected units is not committed: a later run
    # that selects the unit still processes it
    from batch3dfier_spark.storage.tablefmt import IcebergishTable

    (tmp_path / "s2").mkdir()
    cfg = parse_config(
        _cfg(tmp_path / "s2", pages_path, {"tile_list": ["t_0_0"]},
             skip_units=["t_3_3"])
    )
    report = run_job(spark, cfg)
    assert report["units_selected"] == 1
    assert report["tiles_total"] == 1 and report["tiles_skipped"] == 0
    cfg["mode"] = {"tile_list": ["t_3_3"]}
    cfg["skip_units"] = []
    run_job(spark, cfg)
    out = IcebergishTable(cfg["output"]["table"]).read(spark)
    assert out.where(out.tile_unit == "t_3_3").count() > 0


def test_run_extent_mode_and_resume(spark, tmp_path, pages_path):
    from batch3dfier_spark.app import (
        load_extent_polygon,
        parse_config,
        run_job,
    )
    from batch3dfier_spark.storage.tablefmt import IcebergishTable

    ext = _extent_geojson(tmp_path)
    poly = load_extent_polygon(ext)
    assert poly.shape == (4, 2)  # closing vertex dropped

    cfg = parse_config(_cfg(tmp_path, pages_path, {"extent": ext}))
    report = run_job(spark, cfg)
    # extent covers cols 0..1 of a 4x4 grid -> 8 units selected
    assert report["units_selected"] == 8
    assert report["union_mode"] is False
    n1 = IcebergishTable(cfg["output"]["table"]).read(spark).count()
    assert n1 > 0

    # resume: a second run finds all tiles committed -> no new work,
    # table row count unchanged
    report2 = run_job(spark, cfg)
    assert report2["tiles_ok"] == report["tiles_ok"]
    n2 = IcebergishTable(cfg["output"]["table"]).read(spark).count()
    assert n2 == n1


def test_tile_list_selects_by_one_join(spark, tmp_path, pages_path,
                                       monkeypatch):
    """A 5 000-unit tile_list over a 100x100 grid selects exactly the
    pages of those units, and never as an isin predicate (PySpark builds
    one with a JVM call per literal: seconds at thousands of units)."""
    import numpy as np
    from pyspark.sql import functions as F

    from batch3dfier_spark.app import build_work_df, parse_config
    from batch3dfier_spark.functions.geocode import geocode_np

    n = 100
    units = [f"t_{r}_{c}" for r in range(n) for c in range(n)
             if (r + c) % 2 == 0]
    cfg = parse_config(_cfg(tmp_path, pages_path, {"tile_list": units},
                            tile_index={"nx": n, "ny": n}))

    isin_sizes = []
    column_cls = type(F.col("tile_unit"))
    real_isin = column_cls.isin

    def counting_isin(self, *cols):
        vals = cols[0] if len(cols) == 1 and isinstance(
            cols[0], (list, set, tuple)) else cols
        isin_sizes.append(len(vals))
        return real_isin(self, *cols)

    monkeypatch.setattr(column_cls, "isin", counting_isin)
    work, selected, union, _ = build_work_df(spark, cfg)
    got = set(work.select("url").toPandas()["url"])
    monkeypatch.undo()

    # pandas selection: the grid rule of tiler.assign_tiles at buffer 0
    pages = datagen.gen_pages_range(0, 2000)
    t = cfg["_territory"]
    x, y = geocode_np(pages["url"], pages["warc_ts"], t)
    col = np.minimum(np.floor((x - t.xmin) / ((t.xmax - t.xmin) / n)), n - 1)
    row = np.minimum(np.floor((y - t.ymin) / ((t.ymax - t.ymin) / n)), n - 1)
    unit = [f"t_{int(r)}_{int(c)}" for r, c in zip(row, col)]
    want = set(pages.loc[np.isin(unit, units), "url"])
    assert len(selected) == 5_000 and not union
    assert 0 < len(want) < len(pages)
    assert got == want
    assert max(isin_sizes, default=0) < 1_000, isin_sizes


def test_cli_main_subprocess(tmp_path, pages_path):
    """The actual console path: python -m batch3dfier_spark.app run."""
    import subprocess
    import sys

    cfgp = _cfg(tmp_path, pages_path, {"tile_list": ["t_0_0"]})
    p = subprocess.run(
        [sys.executable, "-m", "batch3dfier_spark.app", "run", cfgp,
         "--cores", "2"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads([l for l in p.stdout.splitlines() if l.startswith("{")][-1])
    assert out["tiles_ok"] == 1
