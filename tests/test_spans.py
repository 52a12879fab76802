"""Duplicate-span detection (exact-substring dedup): hand-checked
span geometry, strip policy, and partition-independence."""

import pandas as pd
import pytest

# Two docs sharing one verbatim 10-token run; one doc sharing a
# different 6-token run with a third; one unique doc.
SHARED_A = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
SHARED_B = "lorem ipsum dolor sit amet consectetur"  # 6 toks
DOCS = [
    (0, f"intro words here {SHARED_A} and a unique tail zero"),
    (1, f"{SHARED_A} completely different continuation one"),
    (2, f"prefix two {SHARED_B} suffix two"),
    (3, f"three starts {SHARED_B} then ends three"),
    (4, "an entirely unique document with no repeated runs at all"),
]


def _spans(spark, n=4, min_docs=2, docs=DOCS):
    from batch3dfier_spark.operators.spans import duplicate_spans

    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    return (
        duplicate_spans(df, n=n, min_docs=min_docs)
        .toPandas()
        .sort_values(["doc_id", "span_id"])
        .reset_index(drop=True)
    )


def test_span_geometry_hand_checked(spark):
    out = _spans(spark, n=4)
    # every doc with a shared run reports exactly one maximal span
    assert sorted(out["doc_id"]) == [0, 1, 2, 3]
    by = {r.doc_id: r for r in out.itertuples()}
    # doc 0: SHARED_A occupies tokens [3, 13); 4-gram starts 3..9
    assert (by[0].start_tok, by[0].end_tok) == (3, 13)
    assert by[0].n_dup_grams == 7
    # doc 1: SHARED_A at [0, 10)
    assert (by[1].start_tok, by[1].end_tok) == (0, 10)
    # docs 2/3: SHARED_B (6 toks) at offsets 2 and 2
    assert (by[2].start_tok, by[2].end_tok) == (2, 8)
    assert (by[3].start_tok, by[3].end_tok) == (2, 8)
    assert by[2].n_dup_grams == 3


def test_strip_policy(spark):
    from batch3dfier_spark.operators.spans import strip_duplicate_spans

    df = spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    out = (
        strip_duplicate_spans(df, n=4)
        .toPandas()
        .set_index("doc_id")["text"]
        .to_dict()
    )
    # duplicated runs removed, surrounding text kept in order
    assert out[0] == "intro words here and a unique tail zero"
    assert out[1] == "completely different continuation one"
    assert out[2] == "prefix two suffix two"
    # untouched doc survives verbatim (already single-spaced)
    assert out[4] == DOCS[4][1]


def test_adjacent_grams_merge_one_span(spark):
    """Two shared runs separated by exactly n tokens of unique text
    stay SEPARATE spans; runs overlapping or touching merge."""
    run1 = "a b c d"
    run2 = "w x y z"
    docs = [
        (0, f"{run1} u1 u2 u3 u4 u5 {run2}"),
        (1, f"{run1} v1 v2 v3 v4 v5 {run2}"),
    ]
    out = _spans(spark, n=4, docs=docs)
    d0 = out[out.doc_id == 0]
    assert len(d0) == 2
    assert list(d0.start_tok) == [0, 9] and list(d0.end_tok) == [4, 13]


def test_partition_independence(spark):
    from batch3dfier_spark.operators.spans import duplicate_spans

    df = spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    a = duplicate_spans(df.repartition(1), n=4).toPandas()
    b = duplicate_spans(df.repartition(7), n=4).toPandas()
    key = ["doc_id", "span_id"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )


def test_textpipe_strip_dup_spans_step(spark, tmp_path):
    """The YAML surface reaches the strip policy."""
    from batch3dfier_spark.textpipe import run_textpipe

    src = tmp_path / "docs.parquet"
    pd.DataFrame(DOCS, columns=["doc_id", "text"]).to_parquet(src)
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "out")},
        "steps": [{"op": "strip_dup_spans", "n": 4}],
    }
    report = run_textpipe(spark, cfg)
    out = (
        spark.read.parquet(str(tmp_path / "out"))
        .toPandas().set_index("doc_id")["text"].to_dict()
    )
    assert out[2] == "prefix two suffix two"
    assert report["rows_out"] == len(DOCS)
