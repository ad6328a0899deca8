"""Published document-quality gates: Gopher rules and C4 line cleaning.

The per-signal primitives live in :mod:`connect_server_spark.operators.
text` (mean word length, punct ratio, dup-line ratio, top-n-gram share);
this module composes them into the two canonical published filter sets a
pretraining pipeline actually runs:

* ``gopher_flags`` / ``gopher_pass`` — the Gopher quality heuristics
  (Rae et al. 2021, §A1.1): word-count bounds, mean-word-length bounds,
  symbol-to-word ratio, bullet/ellipsis line shares, alphabetic-word
  share, required-stopword evidence, plus the repetition axes.
* ``c4_clean_lines`` / ``c4_doc_flags`` — C4's line-level cleaning
  (Raffel et al. 2020, §2.2): keep only lines that end in terminal
  punctuation and have ≥ ``min_words`` words, drop lines mentioning
  javascript; flag documents containing "lorem ipsum" or curly braces
  for removal.

Everything is a pure Catalyst expression over ``split``/``filter``/
``transform``/``aggregate`` — scan-stage, zero shuffle, zero Python —
and every threshold is a keyword argument with the published default,
so a pipeline can tighten or loosen gates without forking the rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from connect_server_spark.functions.expr import let_col
from connect_server_spark.memo import memo_expr
from connect_server_spark.operators.text import (
    dup_line_ratio,
    mean_word_length,
    tokens,
    top_ngram_share,
)

__all__ = [
    "gopher_flags",
    "gopher_pass",
    "c4_clean_lines",
    "c4_doc_flags",
    "bucket_case",
    "metric_drift",
]

# Gopher's required-stopword inventory (§A1.1: "contains at least two of
# the following English words").
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

def _lines(text: Column) -> Column:
    return F.filter(
        F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0,
    )


def _ratio(num: Column, den: Column) -> Column:
    return F.round(num.cast("double") / F.greatest(den, F.lit(1)), 6)


@memo_expr
def gopher_flags(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_share: float = 0.9,
    max_ellipsis_line_share: float = 0.3,
    min_alpha_word_share: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_ratio: float = 0.3,
    max_top_2gram_share: float = 0.2,
    toks: Column | None = None,
) -> Column:
    """Struct of the Gopher rule verdicts plus the metrics behind them.

    Each ``ok_*`` field is one published rule; ``gopher_pass`` AND-folds
    them. Metrics are exposed alongside so a pipeline can audit WHY a
    document fell (the difference between a filter and a black box).
    The word-count defaults (50–100k) are the Gopher paper's; the
    repetition thresholds (dup-line 0.30, top-2-gram 0.20) are its
    §A1.3 duplicate-text limits. Pass ``toks`` (a caller-materialized
    or caller-let-bound token array) to share one split with sibling
    metrics; otherwise the split is let-bound here.
    """

    def build(toks: Column) -> Column:
        n_words = F.size(toks)
        mwl = mean_word_length(text, toks=toks)
        # symbol-to-word: '#' and '…'/'...' occurrences per word
        n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
        n_ellipsis = F.size(
            F.regexp_extract_all(text, F.lit(r"\.\.\.|…"), F.lit(0))
        )
        symbol_ratio = _ratio(n_hash + n_ellipsis, n_words)
        lines = _lines(text)
        n_lines = F.size(lines)
        bullet = F.size(
            F.filter(
                lines,
                lambda ln: ln.startswith("- ")
                | ln.startswith("* ")
                | ln.startswith("•"),
            )
        )
        ellipsis_end = F.size(
            F.filter(
                lines,
                lambda ln: ln.endswith("...") | ln.endswith("…"),
            )
        )
        alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
        stop_hits = F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
            )
        )
        dup_lines = dup_line_ratio(text)
        top2 = top_ngram_share(text, n=2, toks=toks)
        return F.struct(
            n_words.alias("n_words"),
            mwl.alias("mean_word_len"),
            symbol_ratio.alias("symbol_word_ratio"),
            _ratio(bullet, n_lines).alias("bullet_line_share"),
            _ratio(ellipsis_end, n_lines).alias("ellipsis_line_share"),
            _ratio(alpha_words, n_words).alias("alpha_word_share"),
            stop_hits.alias("stopword_hits"),
            dup_lines.alias("dup_line_ratio"),
            top2.alias("top_2gram_share"),
            ((n_words >= min_words) & (n_words <= max_words)).alias("ok_words"),
            (
                (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len)
            ).alias("ok_word_len"),
            (symbol_ratio <= max_symbol_word_ratio).alias("ok_symbols"),
            (
                _ratio(bullet, n_lines) <= max_bullet_line_share
            ).alias("ok_bullets"),
            (
                _ratio(ellipsis_end, n_lines) <= max_ellipsis_line_share
            ).alias("ok_ellipsis"),
            (
                _ratio(alpha_words, n_words) >= min_alpha_word_share
            ).alias("ok_alpha"),
            (stop_hits >= min_stopword_hits).alias("ok_stopwords"),
            (dup_lines <= max_dup_line_ratio).alias("ok_dup_lines"),
            (top2 <= max_top_2gram_share).alias("ok_top_2gram"),
        )

    return build(toks) if toks is not None else let_col(tokens(text), build)


def gopher_pass(flags: Column) -> Column:
    """AND of all ``ok_*`` verdicts in a :func:`gopher_flags` struct."""
    oks = [
        "ok_words", "ok_word_len", "ok_symbols", "ok_bullets",
        "ok_ellipsis", "ok_alpha", "ok_stopwords", "ok_dup_lines",
        "ok_top_2gram",
    ]
    out = F.lit(True)
    for name in oks:
        out = out & flags[name]
    return out


@memo_expr
def c4_clean_lines(text: Column, min_words: int = 5) -> Column:
    """C4 §2.2 line cleaning, as a pure expression: keep lines that end
    in terminal punctuation, have ≥ ``min_words`` whitespace words, and
    don't mention javascript (case-insensitive); rejoin survivors with
    newlines. Returns the cleaned text (possibly empty)."""
    kept = F.filter(
        _lines(text),
        lambda ln: (
            (
                ln.endswith(".") | ln.endswith("!") | ln.endswith("?")
                | ln.endswith('"') | ln.endswith("'")
            )
            & (F.size(F.split(ln, r"\s+")) >= min_words)
            & ~F.lower(ln).contains("javascript")
        ),
    )
    return F.array_join(kept, "\n")


@memo_expr
def c4_doc_flags(text: Column) -> Column:
    """C4's document-level removal flags: policy-placeholder text
    ("lorem ipsum") and source-code leakage (curly braces). True means
    DROP the whole document."""
    low = F.lower(text)
    return F.struct(
        low.contains("lorem ipsum").alias("has_lorem_ipsum"),
        (low.contains("{") | low.contains("}")).alias("has_brace"),
    )


def bucket_case(metric: Column, upper_edges: list[float]) -> Column:
    """Scan-stage quantile-bucket assignment shared by the batch drift
    report and the streaming quality monitor: half-open buckets
    ``(-inf, e0], (e0, e1], …, (e_last, +inf)`` built as one CASE chain
    over the (collapsed, ascending) upper edges. Keeping ONE builder is
    what guarantees the streaming monitor buckets a batch exactly the
    way :func:`metric_drift` bucketed the reference release."""
    from functools import reduce

    m = metric.cast("double")
    return reduce(
        lambda acc, ie: F.when(m <= F.lit(ie[1]), F.lit(ie[0])).otherwise(
            acc
        ),
        reversed(list(enumerate(upper_edges))),
        F.lit(len(upper_edges)),
    )


def metric_drift(
    old: "DataFrame",
    new: "DataFrame",
    metric_col: str,
    n_buckets: int = 10,
    rel_err: float = 1e-4,
    eps: float = 1e-6,
) -> "DataFrame":
    """Release-to-release distribution drift of one numeric corpus
    metric (doc length, quality score, token count …) as a Population
    Stability Index breakdown — the "did the new crawl shift the
    corpus" monitor that runs BEFORE a new release feeds training.

    Bucket edges are the OLD release's ``n_buckets``-quantiles from one
    GK-sketch pass (``approxQuantile`` — bounded driver state, no sort);
    both releases are bucketed with the same edges by a scan-stage CASE
    chain, reduced to per-bucket shares (narrow (bucket, count) aggs),
    and full-outer-merged on the bucket id (≤ ``n_buckets`` rows — the
    only join is bucket-count-sized). ``psi_term`` uses ``eps``-floored
    shares so emptied/new buckets contribute large-but-finite terms.

    NULL metric values are EXCLUDED from both sides' shares (they carry
    no position in the distribution; bucketing them anywhere would
    silently inflate that bucket's share — a loader regression nulling
    15% of the metric must show up as the null-rate alarm it is, not as
    fake tail drift). Monitor null rates separately.

    Returns ``(bucket, lo, hi, share_old, share_new, psi_term)`` ordered
    by bucket; total PSI = ``sum(psi_term)`` (rule of thumb: < 0.1
    stable, 0.1–0.25 moderate shift, > 0.25 investigate).
    """
    from pyspark.sql import DataFrame  # noqa: F401  (type only)

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edges = old.approxQuantile(metric_col, qs, rel_err)
    # collapse duplicate edges (heavily-tied metrics) — buckets stay
    # well-defined, just fewer of them
    uniq: list[float] = []
    for e in edges:
        if not uniq or e > uniq[-1]:
            uniq.append(e)

    bucket = bucket_case(F.col(metric_col), uniq)
    bounds = [(float("-inf"), *uniq), (*uniq, float("inf"))]

    def shares(df, name):
        from pyspark.sql import Window

        c = (
            df.filter(F.col(metric_col).isNotNull())
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # global window over the BUCKET-COUNT frame (≤ n_buckets rows):
        # one tiny single-partition pass beats a total-aggregate join,
        # which would re-run the corpus-side aggregation per consumer
        return c.select(
            "bucket",
            (F.col("n") / F.sum("n").over(Window.partitionBy())).alias(name),
        )

    spark = old.sparkSession
    merged = (
        spark.createDataFrame(
            [(i, bounds[0][i], bounds[1][i]) for i in range(len(uniq) + 1)],
            "bucket int, lo double, hi double",
        )
        .join(F.broadcast(shares(old, "share_old")), "bucket", "left")
        .join(F.broadcast(shares(new, "share_new")), "bucket", "left")
        .na.fill({"share_old": 0.0, "share_new": 0.0})
    )
    p = F.greatest(F.col("share_new"), F.lit(eps))
    q = F.greatest(F.col("share_old"), F.lit(eps))
    return merged.select(
        "bucket",
        "lo",
        "hi",
        F.round("share_old", 6).alias("share_old"),
        F.round("share_new", 6).alias("share_new"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    ).orderBy("bucket")
