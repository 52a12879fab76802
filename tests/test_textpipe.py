"""Composable training-data pipeline: step semantics, determinism, and
the report accounting."""

import json
import os

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def cfg(tmp_path):
    return {
        "input": {"documents": f"{SF}/documents.parquet"},
        "output": {"path": str(tmp_path / "out")},
        "steps": [
            {"op": "exact_dedup"},
            {"op": "quality_filter", "min_tokens": 10,
             "max_top_bigram_frac": 0.5},
            {"op": "stratified_sample",
             "fractions": {"en": 0.5}, "default_fraction": 1.0,
             "seed": "s2"},
            {"op": "mixture", "weights": {"zh": 2.0}, "seed": "m1"},
        ],
    }


def test_textpipe_end_to_end(spark, cfg, tmp_path):
    from batch3dfier_spark.textpipe import run_textpipe

    report = run_textpipe(spark, cfg)
    assert report["rows_in"] == 500
    steps = {s["op"]: s["rows"] for s in report["steps"]}
    # monotone until the mixture step (which upsamples)
    assert steps["exact_dedup"] <= 500
    assert steps["quality_filter"] <= steps["exact_dedup"]
    assert steps["stratified_sample"] < steps["quality_filter"]
    assert steps["mixture"] > steps["stratified_sample"]  # zh doubled
    assert report["rows_out"] == steps["mixture"]
    assert os.path.exists(os.path.join(cfg["output"]["path"], "_report.json"))

    out = spark.read.parquet(cfg["output"]["path"])
    pdf = out.toPandas()
    # every zh survivor appears exactly twice (weight 2.0, no fraction)
    zh = pdf[pdf["lang"] == "zh"].groupby("doc_id").size()
    assert (zh == 2).all()
    # deterministic: a second run materializes identical rows
    cfg2 = dict(cfg, output={"path": str(tmp_path / "out2")})
    run_textpipe(spark, cfg2)
    a = pdf.sort_values(["doc_id", "copy_id"]).reset_index(drop=True)
    b = (
        spark.read.parquet(cfg2["output"]["path"]).toPandas()
        .sort_values(["doc_id", "copy_id"]).reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_textpipe_decontaminate_step(spark, tmp_path):
    from batch3dfier_spark.textpipe import run_textpipe

    cfg = {
        "input": {"documents": f"{SF}/documents.parquet"},
        "output": {"path": str(tmp_path / "o")},
        "steps": [
            {"op": "decontaminate",
             "benchmark": f"{SF}/documents.parquet", "ngram": 4},
        ],
    }
    # benchmark == corpus: every doc shares its own grams -> only docs
    # with <4 tokens (no grams) survive; fixture has none
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 0


def test_textpipe_line_dedup_step(spark, tmp_path):
    """line_dedup rewrites text (C4-style corpus-level line dedup)
    while keeping every doc row and its non-text columns."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    src = tmp_path / "docs"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "lang": ["en", "en", "zh"],
            "text": [
                "shared boilerplate line aaaa\nkeep me zero",
                "shared boilerplate line aaaa\nkeep me one",
                "shared boilerplate line aaaa",
            ],
        }
    )
    spark.createDataFrame(pdf).write.parquet(str(src))
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o")},
        "steps": [{"op": "line_dedup", "min_chars": 10}],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 3  # rows kept, text rewritten
    out = (
        spark.read.parquet(cfg["output"]["path"]).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert list(out["text"]) == [
        "shared boilerplate line aaaa\nkeep me zero",
        "keep me one",
        "",
    ]
    assert list(out["lang"]) == ["en", "en", "zh"]


def test_textpipe_yaml_cli_roundtrip(spark, cfg, tmp_path):
    """parse_textpipe_config validates and the CLI path executes it."""
    import yaml

    from batch3dfier_spark.textpipe import parse_textpipe_config

    p = tmp_path / "pipe.yml"
    p.write_text(yaml.safe_dump(cfg))
    parsed = parse_textpipe_config(str(p))
    assert parsed["steps"][0]["op"] == "exact_dedup"
    bad = tmp_path / "bad.yml"
    bad.write_text(yaml.safe_dump({"input": {}}))
    with pytest.raises(ValueError):
        parse_textpipe_config(str(bad))


def test_textpipe_near_dedup_step(spark, tmp_path):
    """near_dedup drops every clustered doc except the min-id keeper;
    unpaired docs pass through untouched."""
    from batch3dfier_spark.operators.dedup import (
        connected_components,
        simhash_near_dups,
    )
    from batch3dfier_spark.textpipe import run_textpipe

    cfg = {
        "input": {"documents": f"{SF}/documents.parquet"},
        "output": {"path": str(tmp_path / "nd")},
        "steps": [{"op": "near_dedup", "method": "simhash",
                   "max_hamming": 8}],
    }
    report = run_textpipe(spark, cfg)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    comp = connected_components(
        simhash_near_dups(docs, max_hamming=8)
    ).toPandas()
    n_drops = int((comp["id"] != comp["component"]).sum())
    assert n_drops > 0
    assert report["rows_out"] == 500 - n_drops
    kept = set(
        spark.read.parquet(cfg["output"]["path"])
        .select("doc_id").toPandas()["doc_id"]
    )
    # every component label survives, every non-label clustered doc dropped
    for _, r in comp.iterrows():
        if r["id"] == r["component"]:
            assert r["id"] in kept
        else:
            assert r["id"] not in kept


def test_textpipe_steps_execute_exactly_once(spark, tmp_path, monkeypatch):
    """Round-3 VERDICT #2: per-step counts must not re-execute the
    prefix chain.  A marker step counts (via accumulator) how many rows
    flow through it; with stage materialization + footer-metadata
    counts it processes the input exactly once, whereas the old lazy
    chain re-ran it for every downstream step's count."""
    from batch3dfier_spark import textpipe

    acc = spark.sparkContext.accumulator(0)

    def marker(spark_, df, step):
        schema = df.schema

        def f(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(f, schema=schema)

    monkeypatch.setitem(textpipe.STEPS, "marker", (textpipe.MAP, marker))
    cfg = {
        "input": {"documents": f"{SF}/documents.parquet"},
        "output": {"path": str(tmp_path / "once")},
        "steps": [
            {"op": "marker"},
            {"op": "exact_dedup"},
            {"op": "hash_sample", "fraction": 0.5, "seed": "s"},
            {"op": "mixture", "weights": {"zh": 2.0}, "seed": "m"},
        ],
    }
    report = textpipe.run_textpipe(spark, cfg)
    assert report["rows_in"] == 500
    assert acc.value == 500, (
        f"marker step executed {acc.value / 500:.1f}x — prefix chain "
        "re-execution is back"
    )


def test_textpipe_near_dedup_embedding_method(spark, tmp_path):
    """near_dedup method=embedding runs the recall-gated hyperplane-LSH
    funnel end-to-end from the YAML surface and keeps exactly the
    min-id doc per connected component, deterministically."""
    from batch3dfier_spark.operators.dedup import (
        connected_components,
        embedding_near_dups_lsh,
    )
    from batch3dfier_spark.textpipe import run_textpipe

    # fixture: documents enriched with an embedding column (the shape a
    # real pipeline produces by joining an embedding table upstream)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    joined = docs.join(emb, docs["doc_id"] == emb["vec_id"]).drop("vec_id")
    src = str(tmp_path / "docs_with_emb")
    joined.write.parquet(src)

    cfg = {
        "input": {"documents": src},
        "output": {"path": str(tmp_path / "out")},
        "steps": [
            {"op": "near_dedup", "method": "embedding", "dim": 64,
             "threshold": 0.4},
        ],
    }
    report = run_textpipe(spark, cfg)

    comp = connected_components(
        embedding_near_dups_lsh(
            spark.read.parquet(src), dim=64, threshold=0.4,
            id_col="doc_id", vec_col="embedding",
        )
    ).toPandas()
    n_drops = int((comp["id"] != comp["component"]).sum())
    assert n_drops > 0
    assert report["rows_out"] == 500 - n_drops
    kept = set(
        spark.read.parquet(cfg["output"]["path"])
        .select("doc_id").toPandas()["doc_id"]
    )
    dropped = set(comp[comp["id"] != comp["component"]]["id"])
    assert kept.isdisjoint(dropped)
    assert len(kept) == 500 - n_drops


def test_textpipe_minhash_near_dedup_drops_exact_dups(spark, tmp_path):
    """Round-3 ADVICE: near_dedup(minhash) WITHOUT a preceding
    exact_dedup step must still drop byte-identical duplicates (the
    funnel's exact-prefilter removes them from the pair graph; the
    pipeline unions the exact-dup star edges back in)."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    base = "the quick brown fox jumps over the lazy dog " * 5
    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            # docs 0,1,2 byte-identical; 3,4 identical; 5-7 unique
            "text": [base, base, base, "x y z", "x y z",
                     "alpha beta gamma", "delta epsilon zeta",
                     "eta theta iota"],
            "lang": ["en"] * 8,
        }
    )
    src = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.parquet(src)
    cfg = {
        "input": {"documents": src},
        "output": {"path": str(tmp_path / "out")},
        "steps": [{"op": "near_dedup", "method": "minhash",
                   "threshold": 0.5}],
    }
    report = run_textpipe(spark, cfg)
    kept = sorted(
        spark.read.parquet(cfg["output"]["path"])
        .select("doc_id").toPandas()["doc_id"]
    )
    # keepers: 0 (for 0,1,2), 3 (for 3,4), and the three unique docs
    assert kept == [0, 3, 5, 6, 7]
    assert report["rows_out"] == 5


def test_textpipe_scrub_pii_step(spark, tmp_path):
    """scrub_pii rewrites text and appends n_email/n_ip/n_phone while
    keeping every row and the other columns."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    src = tmp_path / "docs"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "lang": ["en", "en"],
            "text": ["mail me: a@b.io", "clean text only"],
        }
    )
    spark.createDataFrame(pdf).write.parquet(str(src))
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o")},
        "steps": [{"op": "scrub_pii"}],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 2
    out = (
        spark.read.parquet(cfg["output"]["path"]).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert list(out["text"]) == ["mail me: <EMAIL>", "clean text only"]
    assert list(out["n_email"]) == [1, 0]
    assert list(out["lang"]) == ["en", "en"]


def test_textpipe_resumes_after_crash(spark, tmp_path, monkeypatch):
    """Round-4 VERDICT #6: a pipeline that dies at step k+1 must NOT
    restart from zero — stages persist under <out>_stages with a step
    manifest, and a re-run executes only the remaining steps, yielding
    a report and output identical to an uninterrupted run."""
    import pandas as pd

    from batch3dfier_spark import textpipe

    calls = {"a": 0, "b": 0}
    fail = {"b": True}

    def op_a(spark_, df, step):
        calls["a"] += 1
        return df.where("doc_id < 400")

    def op_b(spark_, df, step):
        if fail["b"]:
            raise RuntimeError("injected crash at step 2")
        calls["b"] += 1
        return df.where("doc_id < 300")

    monkeypatch.setitem(textpipe.STEPS, "op_a", (textpipe.KEEP, op_a))
    monkeypatch.setitem(textpipe.STEPS, "op_b", (textpipe.KEEP, op_b))
    out = str(tmp_path / "out")
    cfg = {
        "input": {"documents": f"{SF}/documents.parquet"},
        "output": {"path": out},
        "steps": [
            {"op": "op_a"},
            {"op": "op_b"},
            {"op": "hash_sample", "fraction": 0.5, "seed": "s"},
        ],
    }
    with pytest.raises(RuntimeError, match="injected crash"):
        textpipe.run_textpipe(spark, cfg)
    # step 0's stage + manifest survived the crash
    stages = out + "_stages"
    with open(os.path.join(stages, "_manifest.json")) as f:
        man = json.load(f)
    assert [e["op"] for e in man["steps"]] == ["op_a"]

    # resume: only steps 1.. execute
    fail["b"] = False
    report = textpipe.run_textpipe(spark, cfg)
    assert calls["a"] == 1, "completed step 0 was re-executed"
    assert calls["b"] == 1
    assert [s["op"] for s in report["steps"]] == [
        "op_a", "op_b", "hash_sample"]
    assert not os.path.exists(stages)  # cleaned on success

    # identical to an uninterrupted run on a fresh output
    out2 = str(tmp_path / "out2")
    cfg2 = dict(cfg, output={"path": out2, "keep_stages": True})
    report2 = textpipe.run_textpipe(spark, cfg2)
    assert report["steps"] == report2["steps"]
    assert report["rows_in"] == report2["rows_in"]
    assert report["rows_out"] == report2["rows_out"]
    a = (spark.read.parquet(out).toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    b = (spark.read.parquet(out2).toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a[sorted(a.columns)],
                                  b[sorted(b.columns)])
    # keep_stages=True retains the stage dirs + manifest
    assert os.path.exists(os.path.join(out2 + "_stages",
                                       "_manifest.json"))

    # a config change invalidates from the first differing step:
    # re-running out2's pipeline with a changed step-1 config
    # re-executes op_b but still reuses step 0's stage
    calls_before = dict(calls)
    cfg3 = dict(cfg2, steps=[
        {"op": "op_a"},
        {"op": "op_b", "tag": "changed"},
        {"op": "hash_sample", "fraction": 0.5, "seed": "s"},
    ])
    textpipe.run_textpipe(spark, cfg3)
    assert calls["a"] == calls_before["a"], (
        "unchanged step 0 was re-executed on config change")
    assert calls["b"] == calls_before["b"] + 1


def test_textpipe_materialized_labels_survivors(spark, tmp_path):
    """Round-5 verdict #8 (materialize-once cluster pipeline): a
    near_dup_labels stage writes the (doc, component) labels table
    ONCE; the downstream cluster_survivors step reads the materialized
    stage instead of re-running the simhash + label-propagation
    funnel, and the survivor set is IDENTICAL to the composed
    cluster_survivors contract query."""
    from pyspark.sql import functions as F

    from batch3dfier_spark.plans.queries import REGISTRY
    from batch3dfier_spark.textpipe import run_textpipe

    cfg = {
        "input": {"documents": f"{SF}/documents.parquet"},
        "output": {"path": str(tmp_path / "out"), "keep_stages": True},
        "steps": [
            {"op": "near_dup_labels", "method": "simhash", "max_hamming": 8},
            {"op": "cluster_survivors", "policy": "longest"},
        ],
    }
    report = run_textpipe(spark, cfg)
    steps = {s["op"]: s["rows"] for s in report["steps"]}
    # the labels stage keeps every doc; survivors shrink
    assert steps["near_dup_labels"] == 500
    assert steps["cluster_survivors"] < 500

    # the labels STAGE parquet exists and carries the component column
    # — this is the materialized table a real pipeline would reuse
    stage = os.path.join(
        str(tmp_path / "out") + "_stages", "step_00_near_dup_labels"
    )
    lbl = spark.read.parquet(stage)
    assert "component" in lbl.columns and lbl.count() == 500

    # report counts identical to the composed contract query
    fn, _sql = REGISTRY["cluster_survivors"]
    composed = fn(spark, SF).where(F.col("is_kept"))
    assert composed.count() == steps["cluster_survivors"]
    got_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(cfg["output"]["path"])
        .select("doc_id").collect()
    )
    exp_ids = sorted(r["doc_id"] for r in composed.select("doc_id").collect())
    assert got_ids == exp_ids


def test_textpipe_paragraph_dedup_step(spark, tmp_path):
    """paragraph_dedup rewrites text (keep_first by default; drop_all
    removes every copy of a corpus-repeated paragraph) while keeping
    every doc row and its non-text columns."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    boiler = "this cookie banner paragraph repeats across the corpus"
    src = tmp_path / "docs"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "lang": ["en", "en"],
            "text": [
                boiler + "\n\nunique paragraph number zero padded long",
                boiler + "\n\nunique paragraph number one padded long!",
            ],
        }
    )
    spark.createDataFrame(pdf).write.parquet(str(src))
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o")},
        "steps": [{"op": "paragraph_dedup", "mode": "drop_all"}],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 2
    out = (
        spark.read.parquet(cfg["output"]["path"]).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert list(out["text"]) == [
        "unique paragraph number zero padded long",
        "unique paragraph number one padded long!",
    ]
    assert list(out["lang"]) == ["en", "en"]


def test_textpipe_hash_split_step(spark, tmp_path):
    """hash_split labels rows deterministically; keep filters the
    pipeline to one split, and re-running yields identical labels."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    src = tmp_path / "docs"
    pdf = pd.DataFrame({
        "doc_id": range(200),
        "text": [f"document body number {i}" for i in range(200)],
    })
    spark.createDataFrame(pdf).write.parquet(str(src))
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o")},
        "steps": [{
            "op": "hash_split",
            "splits": [["train", 0.8], ["val", 0.1], ["test", 0.1]],
            "seed": "tp",
        }],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 200
    out = spark.read.parquet(cfg["output"]["path"]).toPandas()
    assert set(out["split"]) == {"train", "val", "test"}
    counts = out["split"].value_counts()
    assert counts["train"] > counts["val"] + counts["test"]

    cfg2 = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o2")},
        "steps": [{
            "op": "hash_split",
            "splits": [["train", 0.8], ["val", 0.1], ["test", 0.1]],
            "seed": "tp",
            "keep": "val",
        }],
    }
    run_textpipe(spark, cfg2)
    kept = spark.read.parquet(cfg2["output"]["path"]).toPandas()
    val_ids = set(out[out["split"] == "val"]["doc_id"])
    assert set(kept["doc_id"]) == val_ids


def test_textpipe_quality_classifier_step(spark, tmp_path):
    """quality_classifier drops below-threshold docs using the linear
    head from the config; keep_score retains the quality_q column."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    src = tmp_path / "docs"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the cat sat on the mat and the dog slept by the door",
                "!!! ??? ;;; ::: ,,, ...",
                "",
            ],
        }
    )
    spark.createDataFrame(pdf).write.parquet(str(src))
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o")},
        "steps": [{
            "op": "quality_classifier",
            # head: +1 per stopword-ppm point, hard punct penalty
            "weights": {"stop_ppm": 1, "alpha_ppm": 0, "punct_ppm": -1,
                        "avgtok_mil": 0, "len_cred": 0, "bias": 0},
            "threshold_q": 1,
            "keep_score": True,
        }],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 1
    out = spark.read.parquet(cfg["output"]["path"]).toPandas()
    assert list(out["doc_id"]) == [0]
    assert "quality_q" in out.columns and "quality_kept" not in out.columns
    assert int(out["quality_q"].iloc[0]) > 0


def test_textpipe_contamination_filter_step(spark, tmp_path):
    """contamination_filter drops docs whose n-gram overlap with the
    benchmark parquet exceeds the ppm threshold."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    src = tmp_path / "docs"
    bench = tmp_path / "bench"
    pd_docs = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["a b c d e f g h", "p q r s t u v w"],
        }
    )
    spark.createDataFrame(pd_docs).write.parquet(str(src))
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["a b c d e f"]})
    ).write.parquet(str(bench))
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o")},
        "steps": [{
            "op": "contamination_filter",
            "benchmark": str(bench),
            "ngram": 3,
            "threshold_ppm": 500_000,
        }],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 1
    out = spark.read.parquet(cfg["output"]["path"]).toPandas()
    assert list(out["doc_id"]) == [2]


def test_textpipe_lm_filter_step(spark, tmp_path):
    """lm_filter keeps low-bits docs under a model self-trained on
    the batch; keep_score retains the score columns."""
    import pandas as pd

    from batch3dfier_spark.textpipe import run_textpipe

    src = tmp_path / "docs"
    # 'common' dominates training, so the all-common doc costs fewer
    # bits per token than the all-singleton doc
    pd_docs = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["common common common common common common",
                     "one two three four five six"],
        }
    )
    spark.createDataFrame(pd_docs).write.parquet(str(src))
    cfg = {
        "input": {"documents": str(src)},
        "output": {"path": str(tmp_path / "o")},
        "steps": [{
            "op": "lm_filter",
            "threshold_mbits": 2000,
            "keep_score": True,
        }],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 1
    out = spark.read.parquet(cfg["output"]["path"]).toPandas()
    assert list(out["doc_id"]) == [1]
    assert "lm_mbits_tok" in out.columns and "lm_kept" not in out.columns


def test_textpipe_semantic_dedup_step(spark, tmp_path):
    """semantic_dedup runs SemDeDup from the YAML surface: survivors
    match the operator's ~is_dup set exactly."""
    from batch3dfier_spark.operators.semdedup import semdedup
    from batch3dfier_spark.textpipe import run_textpipe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    joined = docs.join(emb, docs["doc_id"] == emb["vec_id"]).drop("vec_id")
    src = str(tmp_path / "docs_with_emb")
    joined.write.parquet(src)

    cfg = {
        "input": {"documents": src},
        "output": {"path": str(tmp_path / "out")},
        "steps": [
            {"op": "semantic_dedup", "threshold": 0.4,
             "n_centroids": 16},
        ],
    }
    report = run_textpipe(spark, cfg)

    exp = semdedup(
        spark.read.parquet(src), threshold=0.4, n_centroids=16,
        id_col="doc_id", vec_col="embedding",
    ).toPandas()
    exp_kept = set(exp[~exp["is_dup"]]["doc_id"])
    assert 0 < len(exp_kept) < 500
    kept = set(
        spark.read.parquet(cfg["output"]["path"])
        .select("doc_id").toPandas()["doc_id"]
    )
    assert kept == exp_kept


def test_textpipe_url_filter_step(spark, tmp_path):
    """url_filter drops blocked-host (incl. subdomain) and
    blocked-fragment rows from the YAML surface."""
    from batch3dfier_spark.textpipe import run_textpipe

    rows = [
        (1, "a", "http://x.bad.com/p"),
        (2, "b", "http://ok.com/casino"),
        (3, "c", "http://ok.com/fine"),
        (4, "d", "http://bad.com/fine"),
    ]
    src = str(tmp_path / "docs_url")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, url string"
    ).write.parquet(src)

    cfg = {
        "input": {"documents": src},
        "output": {"path": str(tmp_path / "out")},
        "steps": [
            {"op": "url_filter", "blocked_hosts": ["bad.com"],
             "blocked_fragments": ["casino"]},
        ],
    }
    report = run_textpipe(spark, cfg)
    assert report["rows_out"] == 1
    kept = spark.read.parquet(cfg["output"]["path"]).collect()
    assert [r["doc_id"] for r in kept] == [3]


def test_textpipe_lm_filter_order2(spark, tmp_path):
    """lm_filter order: 2 runs the bigram model and keeps exactly the
    operator's lm2_kept set."""
    from batch3dfier_spark.operators.lmscore import (
        lm2_score, lm2_train, lm_train)
    from batch3dfier_spark.textpipe import run_textpipe

    cfg = {
        "input": {"documents": f"{SF}/documents.parquet"},
        "output": {"path": str(tmp_path / "out")},
        "steps": [{"op": "lm_filter", "order": 2}],
    }
    report = run_textpipe(spark, cfg)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exp = lm2_score(
        docs.select("doc_id", "text"), lm_train(docs), lm2_train(docs)
    ).toPandas()
    exp_kept = set(exp[exp["lm2_kept"]]["doc_id"])
    assert 0 < len(exp_kept) < 500
    kept = set(
        spark.read.parquet(cfg["output"]["path"])
        .select("doc_id").toPandas()["doc_id"]
    )
    assert kept == exp_kept
    assert report["rows_out"] == len(exp_kept)


@pytest.fixture(scope="module")
def mixed_src(spark, tmp_path_factory):
    """The sf0.001 documents with their embeddings, a url column, a
    `component` label and a shared closing line — every column a step
    below reads, and text that the line-level steps rewrite."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = str(tmp_path_factory.mktemp("mixed") / "docs")
    (
        docs.join(emb, docs["doc_id"] == emb["vec_id"]).drop("vec_id")
        .withColumn("url", F.format_string(
            "http://h%d.example/p%d", F.col("doc_id") % 5, F.col("doc_id")))
        .withColumn("component", F.col("doc_id") - F.col("doc_id") % 3)
        .withColumn("text", F.concat(
            "text", F.lit(".\nAll rights reserved by the example publisher.")))
        .write.parquet(src)
    )
    return src


# one config per op of textpipe.STEPS but the mixture itself
_MIXED_STEPS = {
    "exact_dedup": {},
    "scrub_pii": {},
    "line_dedup": {"min_chars": 10},
    "paragraph_dedup": {"min_chars": 10},
    "c4_filter": {"min_words": 3, "min_lines": 1},
    "quality_filter": {"min_tokens": 10, "max_dup_line_frac": 0.3,
                       "max_top_bigram_frac": 0.2},
    "quality_classifier": {"keep_score": True},
    "near_dedup": {"method": "minhash", "threshold": 0.5},
    "url_filter": {"blocked_hosts": ["h0.example"]},
    "semantic_dedup": {"threshold": 0.4, "n_centroids": 16},
    "near_dup_labels": {"method": "simhash", "max_hamming": 8},
    "cluster_survivors": {"policy": "longest"},
    "decontaminate": {"ngram": 4},
    "contamination_filter": {"ngram": 4, "threshold_ppm": 500_000},
    "lm_filter": {"threshold_mbits": 12_000, "keep_score": True},
    "hash_sample": {"fraction": 0.5, "seed": "s"},
    "hash_split": {"splits": [["train", 0.8], ["val", 0.2]],
                   "keep": "train", "seed": "s"},
    "stratified_sample": {"fractions": {"en": 0.5},
                          "default_fraction": 1.0, "seed": "s"},
    "textstats": {},
    "domain_cap": {"cap": 20, "key_col": "source", "seed": "s"},
    "url_dedup": {},
    "pack_sequences": {"n_ctx": 64, "n_shards": 4},
    "strip_dup_spans": {"n": 8},
}


def test_mixed_steps_cover_every_op():
    from batch3dfier_spark import textpipe

    assert set(_MIXED_STEPS) == {
        op for op, (kind, _) in textpipe.STEPS.items()
        if kind != textpipe.RESAMPLE
    }


@pytest.mark.parametrize("op", sorted(_MIXED_STEPS))
def test_keep_step_after_mixture_keeps_each_row_once(spark, tmp_path,
                                                      mixed_src, op):
    """A mixture step repeats a doc_id once per copy.  No step after it
    multiplies rows: no (doc_id, copy_id) twice, never more rows out
    than in for a keep step, and exactly as many for a map or rewrite
    step.  A rewrite gives every copy of a document the text the same
    step gives the document without the mixture; pack_sequences gives
    every copy its own span."""
    from pyspark.sql import functions as F

    from batch3dfier_spark import textpipe

    step = {"op": op, **_MIXED_STEPS[op]}
    if "ngram" in step:
        bench = str(tmp_path / "bench")
        spark.read.parquet(f"{SF}/documents.parquet").where(
            "doc_id < 50").write.parquet(bench)
        step["benchmark"] = bench
    mix = {"op": "mixture", "weights": {"zh": 2.0}, "seed": "m1"}

    def run(steps, name):
        out = str(tmp_path / name)
        report = textpipe.run_textpipe(spark, {
            "input": {"documents": mixed_src},
            "output": {"path": out}, "steps": steps})
        return report, spark.read.parquet(out)

    report, out = run([mix, step], "out")
    rows_in, rows_out = (s["rows"] for s in report["steps"])
    assert rows_in > report["rows_in"]  # the mixture repeated some ids
    kind = textpipe.STEPS[op][0]
    if kind == textpipe.KEEP:
        assert 0 < rows_out <= rows_in
    else:
        assert rows_out == rows_in
    repeated = (
        out.groupBy("doc_id", "copy_id").count().where(F.col("count") > 1)
        .count()
    )
    assert repeated == 0
    if kind == textpipe.REWRITE:
        _, alone = run([step], "alone")
        got = out.select("doc_id", "text").distinct()
        assert got.count() == out.select("doc_id").distinct().count()
        assert got.exceptAll(alone.select("doc_id", "text")).count() == 0
        assert got.count() < out.count()
    if op == "pack_sequences":
        spans = out.where("n_tokens > 0").select("shard", "seq_id", "seq_off")
        assert spans.distinct().count() == spans.count()


def _clear_job_group(sc):
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def test_input_rows_from_footers_runs_no_job(spark, tmp_path):
    """rows_in comes from the footers of the files Spark reads: equal to
    count() for one file, for a multi-part directory holding a _SUCCESS
    file and a hidden parquet file (neither read by Spark), and for a
    file:// URI, with no Spark job."""
    import shutil

    from batch3dfier_spark import textpipe

    single = f"{SF}/documents.parquet"
    parts = str(tmp_path / "parts")
    spark.read.parquet(single).repartition(3).write.parquet(parts)
    part0 = sorted(n for n in os.listdir(parts) if n.endswith(".parquet"))[0]
    shutil.copy(os.path.join(parts, part0), os.path.join(parts, ".hidden.parquet"))
    assert os.path.exists(os.path.join(parts, "_SUCCESS"))
    sc, st = spark.sparkContext, spark.sparkContext.statusTracker()
    for k, path in enumerate([single, parts, "file://" + parts]):
        df = spark.read.parquet(path)
        want = df.count()
        group = f"input_rows.{k}"
        sc.setJobGroup(group, group)
        try:
            got = textpipe._input_rows(df)
        finally:
            _clear_job_group(sc)
        assert got == want, path
        assert st.getJobIdsForGroup(group) == [], path


def test_textpipe_jobs_per_step(spark, tmp_path, monkeypatch):
    """Spark jobs per step of the benchmark's pipeline, one job group
    per step (set where the step is built, as perfbench does); each
    count includes the step's stage write.  The keep-steps run one pass
    over their input (no join back on doc_id), and the input's row
    count reads footers: its group holds only the read's schema job."""
    from batch3dfier_spark import textpipe

    sc = spark.sparkContext
    apply_step = textpipe._apply_step

    def grouped(spark_, df, step):
        sc.setJobGroup(f"jobs.{step['op']}", step["op"])
        return apply_step(spark_, df, step)

    monkeypatch.setattr(textpipe, "_apply_step", grouped)
    steps = [
        {"op": "exact_dedup"},
        {"op": "quality_filter", "min_tokens": 10,
         "max_dup_line_frac": 0.3, "max_top_bigram_frac": 0.2},
        {"op": "near_dedup", "method": "minhash", "threshold": 0.72},
        {"op": "hash_split", "splits": [["train", 0.9], ["val", 0.05],
                                        ["test", 0.05]],
         "keep": "train", "seed": "s"},
        {"op": "domain_cap", "cap": 5, "key_col": "source", "seed": "s"},
    ]
    sc.setJobGroup("jobs.input", "input")
    try:
        textpipe.run_textpipe(spark, {
            "input": {"documents": f"{SF}/documents.parquet"},
            "output": {"path": str(tmp_path / "out")},
            "steps": steps,
        })
    finally:
        _clear_job_group(sc)
    st = sc.statusTracker()
    jobs = {g: len(st.getJobIdsForGroup(f"jobs.{g}"))
            for g in ["input"] + [s["op"] for s in steps]}
    assert jobs["input"] <= 1, jobs
    assert jobs["exact_dedup"] <= 3, jobs
    assert jobs["quality_filter"] <= 1, jobs
    # the minhash funnel runs in one task on this small input, and the
    # one-task CC labels are broadcast, so the drop join does not
    # shuffle the step's input
    assert jobs["near_dedup"] <= 7, jobs
    assert jobs["hash_split"] <= 1, jobs
    assert jobs["domain_cap"] <= 9, jobs
    assert sum(jobs.values()) <= 24, jobs
