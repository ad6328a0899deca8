"""memo_expr (memo.py): the expression-tree cache that fixed
corpus_curation's plan-construction cost (r8). The contract: same
inputs (by expression text) -> the SAME Column object; different
inputs -> distinct trees; unhashable scalars fall through uncached."""

from pyspark.sql import functions as F

from connect_server_spark.memo import memo_expr


def test_memo_expr_hits_on_expression_text(spark):
    calls = []

    @memo_expr
    def build(col, n=3):
        calls.append(1)
        return col + n

    a = build(F.col("x"))
    b = build(F.col("x"))
    assert a is b and len(calls) == 1
    c = build(F.col("y"))
    assert c is not a and len(calls) == 2
    d = build(F.col("x"), n=4)
    assert d is not a and len(calls) == 3
    build.cache_clear()
    assert build(F.col("x")) is not a and len(calls) == 4


def test_memo_expr_never_conflates_dataset_bound_columns(spark):
    """df1['text'] and df2['text'] both print Column<'text'> but carry
    different resolved attributes — serving df1's cached tree to df2
    would raise MISSING_ATTRIBUTES (or silently bind the wrong join
    side). The key must be the normalized column NODE (exprId-aware)."""
    from connect_server_spark.operators.dedup import word_shingles

    df1 = spark.createDataFrame([("a b c d",)], ["text"])
    df2 = spark.createDataFrame([("x y z w",)], ["text"])
    s1 = word_shingles(df1["text"])
    s2 = word_shingles(df2["text"])
    assert s1 is not s2
    assert [r.s for r in df2.select(s2.alias("s")).collect()] == [
        ["x y z", "y z w"]
    ]
    # and the same bound column DOES hit its own cache entry
    assert word_shingles(df1["text"]) is s1


def test_memo_expr_key_is_literal_type_aware(spark):
    """F.lit(1) and F.lit("1") normalize to the same node string, and
    1/True/1.0 are equal as dict keys — a type-blind key would serve
    the int tree to the string call (wrong literal type, no error)."""
    from connect_server_spark import memo

    calls = []

    @memo.memo_expr
    def build(col, flag=0):
        calls.append(1)
        return F.concat(col.cast("string"), F.lit("!"))

    assert build(F.lit(1)) is not build(F.lit("1"))
    assert build(F.lit(True)) is not build(F.lit(1))
    c = F.col("x")
    assert build(c, flag=1) is not build(c, flag=True)
    assert build(c, flag=1.0) is not build(c, flag=1)
    # 6 distinct keys built; the lit(1) and flag=1 repeats above HIT
    assert len(calls) == 6
    assert build(F.lit(1)) is build(F.lit(1)) and len(calls) == 6


def test_memo_expr_eviction_is_lru_not_fifo(spark):
    """let_col lambda bodies insert never-again-matched keys by design;
    FIFO would let that churn evict the hot stopword-tree entries. A
    hit must refresh the entry's eviction order."""
    from connect_server_spark import memo

    @memo.memo_expr
    def build(col, n=0):
        return col + n

    hot = build(F.col("x"), n=-1)
    for i in range(memo.MEMO_CAP - 1):
        build(F.col("x"), n=i)  # fill to cap
    assert build(F.col("x"), n=-1) is hot  # touch: now most-recent
    for i in range(memo.MEMO_CAP // 2):
        build(F.col("x"), n=10_000 + i)  # churn past the cap
    assert build(F.col("x"), n=-1) is hot  # survived — LRU, not FIFO


def test_memo_expr_cache_is_bounded(spark):
    from connect_server_spark import memo

    @memo.memo_expr
    def build(col, n=0):
        return col + n

    first = build(F.col("x"), n=-1)
    for i in range(memo.MEMO_CAP + 5):
        build(F.col("x"), n=i)
    # FIFO evicted the oldest entry; a rebuild returns a fresh tree
    assert build(F.col("x"), n=-1) is not first


def test_memo_expr_unhashable_args_fall_through(spark):
    calls = []

    @memo_expr
    def build(col, weights):
        calls.append(1)
        return col * weights[0]

    a = build(F.col("x"), [2.0])
    b = build(F.col("x"), [2.0])
    assert len(calls) == 2  # uncached, but still correct
    assert a is not b


def test_gate_pred_cache_reuses_one_tree_per_config(spark):
    """r12: make_curation_gate's scan-stage predicate is built once per
    config for the process lifetime (the lambda-bound quality/gopher
    trees miss memo_expr by design, so the OUTER Column is cached).
    Same config -> same object; different config -> distinct tree; and
    the cached predicate filters exactly like a fresh build."""
    from connect_server_spark.operators.curation import (
        _scan_gate_pred,
        make_curation_gate,
    )

    p1 = _scan_gate_pred("text", 4_500_000, (2, 100), True, True, True)
    p2 = _scan_gate_pred("text", 4_500_000, (2, 100), True, True, True)
    assert p1 is p2
    p3 = _scan_gate_pred("text", None, (2, 100), True, True, True)
    assert p3 is not p1
    assert _scan_gate_pred("body", 4_500_000, (2, 100), True, True, True) is not p1

    df = spark.createDataFrame(
        [
            (1, "the of and a to in is was it for the of and a to"),
            (2, "zz qq"),
            (3, "lorem ipsum " + "the of and a to in is was it for " * 3),
        ],
        ["doc_id", "text"],
    )
    gate = make_curation_gate("doc_id", "text", tok_bounds=(3, 100), c4_doc=True)
    got = sorted(r.doc_id for r in gate(df).collect())
    _scan_gate_pred.cache_clear()
    gate_fresh = make_curation_gate("doc_id", "text", tok_bounds=(3, 100), c4_doc=True)
    assert sorted(r.doc_id for r in gate_fresh(df).collect()) == got == [1]


def test_memoized_text_builders_share_trees_across_queries(spark):
    """The production consequence: two independent query constructions
    reuse the cached stopword trees, and the results still evaluate
    correctly (the same Column object is safe in multiple plans)."""
    from connect_server_spark.operators.text import language_id, tokens

    t = F.col("text")
    e1 = language_id(t, toks=tokens(t))
    e2 = language_id(t, toks=tokens(t))
    assert e1 is e2
    df = spark.createDataFrame(
        [("the of and a to in is was it for",), ("zz qq ww",)], ["text"]
    )
    out = [r[0] for r in df.select(e1.alias("lang")).collect()]
    assert out[0] == "en" and out[1] == "und"
    # the SAME object used twice in ONE plan is also fine
    both = df.select(e1.alias("a"), e2.alias("b")).collect()
    assert all(r.a == r.b for r in both)
