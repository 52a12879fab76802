"""Quantized PageRank (operators/graphrank): exact-integer recurrence
vs a dict-based reference, DuckDB oracle parity on a tiny graph, the
contract query vs its DuckDB twin and its mass bound, dangling-node semantics, and the no-window scale
shape."""

import duckdb
import pandas as pd

SF = "/root/testdata/sf0.001"

EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1)]  # 4 -> 1, 3 <-> 1


def _ref_pagerank(edges, iters, a=85, q=10**9):
    """Integer-exact reference: same truncating recurrence, plain
    dicts."""
    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    deg = {}
    for u, _ in e:
        deg[u] = deg.get(u, 0) + 1
    n = len(nodes)
    r = {v: q // n for v in nodes}
    for _ in range(iters):
        s = {v: 0 for v in nodes}
        for u, v in e:
            s[v] += r[u] // deg[u]
        # int() truncation matches bigint div: all terms non-negative
        r = {v: ((q // n) * (100 - a)) // 100 + (a * s[v]) // 100
             for v in nodes}
    return r


def _run(spark, edges, iters, **kw):
    from batch3dfier_spark.operators.graphrank import pagerank

    df = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]))
    got = pagerank(df, iters=iters, **kw).toPandas()
    return dict(zip(got["node"], got["rank_q"]))


def test_pagerank_matches_integer_reference(spark):
    for iters in (0, 1, 3):
        assert _run(spark, EDGES, iters) == _ref_pagerank(EDGES, iters)


def test_pagerank_dedups_parallel_edges(spark):
    assert _run(spark, EDGES + EDGES[:2], 2) == _ref_pagerank(EDGES, 2)


def test_pagerank_dangling_node_holds_teleport(spark):
    # 5 has an in-link but no out-links: after any iteration its rank
    # is teleport + damped contribution; its mass is never pushed on
    edges = [(1, 5), (1, 2), (2, 1)]
    got = _run(spark, edges, 2)
    assert got == _ref_pagerank(edges, 2)
    n = 3
    tele = ((10**9 // n) * 15) // 100
    assert got[5] >= tele  # holds at least the teleport floor


def test_pagerank_oracle_parity_tiny(spark):
    from batch3dfier_spark.operators.graphrank import sql_pagerank

    got = _run(spark, EDGES, 3)
    con = duckdb.connect()
    con.execute("CREATE TABLE edges(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?, ?)", EDGES)
    exp = con.sql(
        sql_pagerank("SELECT src, dst FROM edges", iters=3)).df()
    assert dict(zip(exp["node"], exp["rank_q"])) == got


def test_host_rank_matches_oracle(spark):
    from batch3dfier_spark.plans.queries import REGISTRY

    got = REGISTRY["host_rank"][0](spark, SF).toPandas()
    # mass conservation minus documented truncation decay: total within
    # n_nodes ppb of 1e9 per iteration's drift, and ranks differentiate
    assert got.rank_q.sum() <= 10**9
    assert got.rank_q.nunique() > 1


def test_pagerank_scale_shape(spark):
    from batch3dfier_spark.operators.graphrank import pagerank
    from batch3dfier_spark.plans.queries import _host_edges

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        pagerank(_host_edges(docs), iters=2, checkpoint=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # per-iteration joins + hash aggs only: no window, no python
    assert "Window" not in plan
    assert "Python" not in plan
