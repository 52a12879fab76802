"""C4 line-level page cleaning (textstats.c4_line_filter): hand-checked
rule semantics, the contract query vs its DuckDB twin, the 100 TB
plan shape (no Window, no Python), and the YAML pipeline step."""

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_c4_rules_hand_checked(spark):
    from batch3dfier_spark.operators.textstats import c4_line_filter

    pages = _df(spark, [
        # 3 good lines -> survives intact
        (1, "the quick brown fox jumps over the fence.\n"
            "a second sentence with plenty of words here!\n"
            'did the third line also end correctly?"'),
        # good lines interleaved with drops: short, no-punct, javascript
        (2, "keep this first full sentence right here.\n"
            "Too short.\n"
            "this line has many words but no terminal punctuation\n"
            "please enable JavaScript to continue reading this page.\n"
            "   keep this trimmed sentence with leading spaces.   \n"
            "and keep the final one with enough words too."),
        # poison pages: lorem ipsum / curly brace
        (3, "Lorem ipsum dolor sit amet and then some words here.\n"
            "a perfectly fine sentence that would otherwise be kept."),
        (4, "function f() { return 1; } is code leakage.\n"
            "a perfectly fine sentence that would otherwise be kept."),
        # too few surviving lines (min_lines=3)
        (5, "only one good sentence lives on this page today.\n"
            "nope\nnah"),
    ])
    got = (
        c4_line_filter(pages, min_words=5, min_lines=3)
        .orderBy("doc_id").collect()
    )
    assert [r["doc_id"] for r in got] == [1, 2]
    assert got[0]["n_kept"] == 3
    assert got[0]["text"].count("\n") == 2
    assert got[1]["n_kept"] == 3
    assert got[1]["text"] == (
        "keep this first full sentence right here.\n"
        "keep this trimmed sentence with leading spaces.\n"
        "and keep the final one with enough words too."
    )


def test_c4_contract_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["c4_clean"][0](spark, SF).toPandas()
    # the fixture mix exercises every rule: some pages dropped, none
    # kept in full 7-line form
    assert 0 < len(got) < 500


def test_c4_plan_shape(spark):
    """One projection: no shuffle, no Window, no Python node — the line
    tests are JVM expressions over each page's own lines, so no hot
    boilerplate line can pin a task."""
    from batch3dfier_spark.operators.textstats import c4_line_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        c4_line_filter(docs.select("doc_id", "text"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "Exchange" not in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_c4_textpipe_step(spark, tmp_path):
    from batch3dfier_spark.textpipe import run_textpipe

    src = str(tmp_path / "docs")
    _df(spark, [
        (1, "the quick brown fox jumps over the fence.\n"
            "a second sentence with plenty of words here!"),
        (2, "Lorem ipsum dolor sit amet poisons this page entirely."),
    ]).write.parquet(src)
    cfg = {
        "input": {"documents": src},
        "output": {"path": str(tmp_path / "out")},
        "steps": [{"op": "c4_filter", "min_words": 5, "min_lines": 2}],
    }
    report = run_textpipe(spark, cfg)
    out = spark.read.parquet(cfg["output"]["path"]).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["text"].count("\n") == 1
    assert report["rows_out"] == 1
