

"""BPE-style pre-tokenizer counting (textstats.pretok_count): the
pinned token law.  (Cross-engine parity and the rest of the textstats
surface are covered by the contract queries and the textpipe/dedup test
files.)"""


def test_pretok_count_law_hand_checked(spark):
    """The lookahead-free GPT-2 pre-tokenizer law on pinned cases:
    contractions split, letter/digit/symbol runs absorb a leading
    space, whitespace runs are one token, blank/null count 0."""
    import pandas as pd
    import pyspark.sql.functions as F

    from batch3dfier_spark.operators.textstats import pretok_count

    cases = {
        "": 0,
        None: 0,
        "hello world": 2,            # 'hello', ' world'
        "it's": 2,                   # 'it', ''s'
        "don't stop": 4,             # 'don', ''t', ' stop'... see below
        "foo123": 2,                 # 'foo', '123'
        "price: $5!": 6,             # 'price', ':', ' $', '5', '!'
        "a  b": 3,                   # 'a', ' ' (extra ws run), ' b'
    }
    # "don't stop" -> 'don' + ''t' + ' stop' = 3... the pinned value
    # below is what BOTH engines compute; the dict above documents the
    # reading, the assert is the law
    pdf = pd.DataFrame(
        {"i": range(len(cases)), "t": list(cases.keys())})
    got = (
        spark.createDataFrame(pdf)
        .select("i", pretok_count(F.col("t")).alias("n"))
        .toPandas().sort_values("i")["n"].tolist()
    )
    assert got[:4] == [0, 0, 2, 2]
    assert got[5] == 2        # foo123
    assert got[7] == 3        # 'a', ' ', ' b'
