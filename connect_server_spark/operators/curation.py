"""Corpus-curation operators a training-data pipeline needs beyond
dedup: benchmark decontamination and deterministic stratified sampling.

Scale design:

* **Decontamination** — benchmark suites are tiny next to the corpus, so
  the benchmark n-gram set is the BROADCAST side; the corpus explodes its
  shingles into narrow (id, gram-hash) rows and a broadcast LEFT SEMI
  join marks contaminated ids. The corpus text never shuffles; the only
  movement is the benchmark hash set to each executor, and the final
  anti-join is on ids.
* **Sampling** — no ``rand()``: the keep decision is a pure function of
  (seed, key) via md5, so it is reproducible across runs, engines, and
  retries (speculative task re-execution with ``rand()`` silently
  changes the sample). md5 yields identical lowercase hex in Spark and
  DuckDB, which makes sampled outputs oracle-gateable — compare the
  first 4 hex chars against ``floor(fraction·16⁴)`` rendered as hex:
  uniform on 65 536 buckets, granularity 2⁻¹⁶ (fraction 1.0 means keep
  everything — skip the filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from connect_server_spark.execution import stage_boundary
from connect_server_spark.memo import memo_expr

from connect_server_spark.operators.dedup import word_shingles

__all__ = [
    "benchmark_ngrams",
    "contaminated_ids",
    "decontaminate",
    "contamination_fraction",
    "decontaminate_fraction",
    "winnow_contamination",
    "eval_split",
    "split_leakage_pairs",
    "benchmark_bloom",
    "contaminated_ids_bloom",
    "decontaminate_bloom",
    "make_curation_gate",
    "deterministic_keep",
    "stratified_sample",
    "boilerplate_line_keys",
    "remove_boilerplate_lines",
]


def benchmark_ngrams(
    bench: DataFrame, text_col: str, n: int = 8
) -> DataFrame:
    """Distinct word n-gram hashes of a benchmark/test set — the small,
    broadcastable side of the contamination join."""
    return (
        bench.select(
            F.explode(
                F.transform(
                    word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
                )
            ).alias("_gram")
        )
        .distinct()
    )


def contaminated_ids(
    docs: DataFrame,
    bench_grams: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Ids of documents sharing ANY n-gram with the benchmark set — the
    standard test-set leakage sweep. Broadcast semi join on 8-byte gram
    hashes; corpus text stays put."""
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
            )
        ).alias("_gram"),
    )
    return (
        grams.join(F.broadcast(bench_grams), "_gram", "leftsemi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    n: int = 8,
) -> DataFrame:
    """Drop every document that leaks a benchmark n-gram (anti-join on
    ids — document bodies cross no shuffle)."""
    hits = contaminated_ids(
        docs, benchmark_ngrams(bench, bench_text_col, n), id_col, text_col, n
    )
    return docs.join(hits, id_col, "left_anti")


# ---- Bloom-filter decontamination (the 100× contamination-list path) ----
#
# The exact variant broadcasts the DISTINCT gram-hash set — right for
# benchmark suites (thousands of grams) but a web-dump-scale
# contamination list outgrows broadcast (1e9 grams × 8 B = 8 GB). The
# bloom variant broadcasts a REGISTER-BLOCKED bloom filter instead
# (split-block, the parquet bloom design): each gram maps to ONE 64-bit
# word and a k-bit mask inside it, so
#
# * the build is a `bit_or` aggregate over (word_idx, mask) rows —
#   map-side combined, final state = n_words rows no matter how large
#   the list;
# * the probe is ONE broadcast equi-join on word_idx plus a scan-stage
#   `(bits & mask) = mask` check — no extra join per hash function, no
#   Python, and the corpus side keeps the exact variant's plan shape;
# * memory is bits_per_item/8 bytes per gram (default 16 bits → 2 B/gram,
#   4× smaller than exact, and tunable) at a measured false-positive
#   rate ~(k·load/64)^k — with the default 16 bits/item, k = 6, that is
#   ~(6·4/64)^6 ≈ 3e-3.
#
# Errors are one-sided in the SAFE direction: a false positive drops an
# extra (clean) training document; a truly contaminated document can
# never slip through (bloom filters have no false negatives) — pinned in
# ``tests/test_text.py``.

_BLOOM_WORD_SEED = 9001
_BLOOM_BIT_SEED = 101


def _bloom_word_and_mask(gram: Column, n_words: int, k: int):
    """(word_idx, mask) of one gram hash: word index from one seeded
    rehash, k bit positions inside the 64-bit word from k more. Pure
    Catalyst (xxhash64 / pmod / shiftleft) — identical on build and
    probe sides by construction."""
    word = F.pmod(F.xxhash64(gram, F.lit(_BLOOM_WORD_SEED)), F.lit(n_words))
    mask = F.lit(0).cast("long")
    for j in range(k):
        bit = F.pmod(
            F.xxhash64(gram, F.lit(_BLOOM_BIT_SEED + j)), F.lit(64)
        ).cast("int")
        mask = mask.bitwiseOR(
            F.call_function("shiftleft", F.lit(1).cast("long"), bit)
        )
    return word, mask


def benchmark_bloom(
    bench: DataFrame,
    text_col: str,
    n: int = 8,
    expected_items: int | None = None,
    bits_per_item: int = 16,
    k: int = 6,
) -> tuple[DataFrame, int]:
    """Blocked-bloom filter of the benchmark/contamination n-gram set as
    a (word_idx, bits) DataFrame plus its word count. The aggregate is
    map-side combined, so the filter builds in one narrow shuffle of at
    most n_words rows per partition regardless of list size.
    ``expected_items`` defaults to the exact distinct-gram count (one
    cheap job on the list side); pass an estimate to skip it."""
    grams = benchmark_ngrams(bench, text_col, n)
    if expected_items is None:
        expected_items = grams.count()
    n_words = max(1, -(-(max(expected_items, 1) * bits_per_item) // 64))
    word, mask = _bloom_word_and_mask(F.col("_gram"), n_words, k)
    words = (
        grams.select(word.alias("word_idx"), mask.alias("_mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("bits"))
    )
    return words, n_words


def contaminated_ids_bloom(
    docs: DataFrame,
    bloom_words: DataFrame,
    n_words: int,
    id_col: str,
    text_col: str,
    n: int = 8,
    k: int = 6,
) -> DataFrame:
    """Ids of documents whose ANY n-gram the bloom filter reports —
    a superset of :func:`contaminated_ids` (no false negatives;
    false-positive rate set by the filter's sizing). Broadcast equi-join
    on word_idx; corpus text stays put, same plan shape as the exact
    sweep."""
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
            )
        ).alias("_gram"),
    )
    word, mask = _bloom_word_and_mask(F.col("_gram"), n_words, k)
    probes = grams.select(
        F.col(id_col), word.alias("word_idx"), mask.alias("_mask")
    )
    return (
        probes.join(F.broadcast(bloom_words), "word_idx")
        .filter(F.col("bits").bitwiseAND(F.col("_mask")) == F.col("_mask"))
        .select(id_col)
        .distinct()
    )


def decontaminate_bloom(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    n: int = 8,
    expected_items: int | None = None,
    bits_per_item: int = 16,
    k: int = 6,
) -> DataFrame:
    """:func:`decontaminate` with the broadcast side compressed to a
    blocked bloom filter — equivalence modulo the measured one-sided
    false-positive budget (every truly leaked document is still dropped;
    a ~(k·load/64)^k fraction of clean documents is dropped with it)."""
    words, n_words = benchmark_bloom(
        bench, bench_text_col, n, expected_items, bits_per_item, k
    )
    hits = contaminated_ids_bloom(
        docs, words, n_words, id_col, text_col, n, k
    )
    return docs.join(hits, id_col, "left_anti")


@memo_expr
def _scan_gate_pred(
    text_col: str,
    min_quality: int | None,
    tok_bounds: tuple[int, int] | None,
    require_lang: bool,
    gopher: bool,
    c4_doc: bool,
) -> Column:
    """The scan-stage predicate of :func:`make_curation_gate`, built once
    per config for the process lifetime (r12, guide §7.3: the quality/
    language/gopher trees under the let-bound token split are ~2.6 s of
    Catalyst/py4j construction per build and miss ``memo_expr`` BY DESIGN
    — the lambda variable gets a fresh JVM name per construction, so the
    inner builders can never hit; caching the OUTER Column sidesteps
    that). Pure plan construction over the unresolved ``F.col(text_col)``
    — reusable across any DataFrame carrying that column, the
    ``language_id`` precedent; no data, no results, no store state."""
    from connect_server_spark.functions.expr import let_col
    from connect_server_spark.operators.quality import (
        c4_doc_flags,
        gopher_flags,
        gopher_pass,
    )
    from connect_server_spark.operators.text import (
        alnum_token_count,
        language_id,
        quality_score,
        tokens,
    )

    t = F.col(text_col)

    def scan_pred(tk):
        cond = F.lit(True)
        if min_quality is not None:
            cond = cond & (quality_score(t, toks=tk) >= min_quality)
        if tok_bounds is not None:
            lo, hi = tok_bounds
            cond = cond & alnum_token_count(t).between(lo, hi)
        if require_lang:
            cond = cond & (language_id(t, toks=tk) != "und")
        if gopher:
            cond = cond & gopher_pass(gopher_flags(t, toks=tk))
        if c4_doc:
            flags = c4_doc_flags(t)
            cond = cond & (~flags["has_lorem_ipsum"] & ~flags["has_brace"])
        return cond

    needs_toks = (
        min_quality is not None
        or tok_bounds is not None
        or require_lang
        or gopher
    )
    if needs_toks:
        return let_col(tokens(t), scan_pred)
    return scan_pred(None)  # c4 flags alone never touch the token array


def make_curation_gate(
    id_col: str,
    text_col: str,
    min_quality: int | None = None,
    tok_bounds: tuple[int, int] | None = None,
    require_lang: bool = False,
    bloom: tuple | None = None,
    ngram_n: int = 8,
    bloom_k: int = 6,
    gopher: bool = False,
    c4_doc: bool = False,
    lm: tuple | None = None,
    lm_scored: tuple | None = None,
    materialize: bool = False,
):
    """A reusable batch→batch curation gate for ingest pipelines (the
    ``gate=`` hook of the composed streaming ingest sink, and the gate
    stage of the batch ``curation_full`` composite): quality floor, token bounds,
    language requirement, the published Gopher/C4 document gates, unigram
    LM routing, and bloom decontamination — all scan-stage except the
    LM score join (broadcast vocab + one per-doc agg + an id semi-join)
    and the decon anti-join (broadcast + id distinct).

    ``bloom`` is ``(bloom_words_df, n_words)`` from
    :func:`benchmark_bloom`. ``gopher=True`` applies all nine Gopher
    rule verdicts (Rae et al. 2021 §A1.1, published defaults);
    ``c4_doc=True`` drops C4's document-level removal flags (lorem
    ipsum / curly braces). ``lm`` is ``(vocab_df, oov_logp,
    min_avg_logprob)`` from :func:`~connect_server_spark.operators.text.
    unigram_lm` — the CCNet head/middle routing cut: keep documents
    whose mean token log-probability clears the floor. Rows a gate
    drops never reach the dedup probe, the pairs log, the survivor
    table, or the index — ingest-time curation, not post-hoc cleanup.

    ``materialize=True`` lazily checkpoints the survivor set before the
    LM and bloom legs: each of those consumes its input TWICE (score +
    join-back, probe + anti-join), and Spark plans duplicate — not
    share — a common subtree, so without the checkpoint the scan-stage
    gates re-run per consumer. Leave False for single-leg gates or
    batch-sized streaming inputs where recompute is cheaper than
    caching."""
    from connect_server_spark.operators.text import lm_quality_scores

    # normalize for the memo key (callers pass lists/tuples alike)
    tok_bounds_t = tuple(tok_bounds) if tok_bounds is not None else None

    def gate(df: DataFrame) -> DataFrame:
        out = df
        # All token-based verdicts under ONE let-bound split: separate
        # filters would each re-bind (and re-run) the split per row —
        # see the corpus_curation gate-inlining fix for the measurement.
        # The predicate Column itself is process-lifetime cached per
        # config (_scan_gate_pred, r12): identical tree, built once.
        if (
            min_quality is not None
            or tok_bounds_t is not None
            or require_lang
            or gopher
            or c4_doc
        ):
            out = out.filter(
                _scan_gate_pred(
                    text_col,
                    min_quality,
                    tok_bounds_t,
                    require_lang,
                    gopher,
                    c4_doc,
                )
            )
        if lm is not None or lm_scored is not None:
            # The boundary exists because the LM leg consumes `out`
            # twice (score + join-back) — but only on the `lm` path.
            # With `lm_scored` the caller already scored a superset and
            # `out` feeds the semi-join ONCE, so the checkpoint would
            # buy nothing and cost a full physical-planning + codegen
            # pass at build time (r13 decomposition: each lazy
            # localCheckpoint pays toRdd immediately).
            if materialize and lm_scored is None:
                out = out.transform(stage_boundary)
            if lm_scored is not None:
                # pre-scored reuse: the caller already ran
                # lm_quality_scores over (a superset of) this frame —
                # e.g. to derive a corpus-relative floor — so scoring
                # again would double the gate's only corpus-text pass.
                # The semi-join intersects, so scoring a superset is
                # harmless.
                scores_df, min_lp = lm_scored
                keep = scores_df.filter(
                    F.col("avg_logprob") >= min_lp
                ).select(id_col)
            else:
                vocab, oov_logp, min_lp = lm
                keep = (
                    lm_quality_scores(out, vocab, oov_logp, id_col, text_col)
                    .filter(F.col("avg_logprob") >= min_lp)
                    .select(id_col)
                )
            out = out.join(keep, id_col, "left_semi")
        if bloom is not None:
            if materialize:
                out = out.transform(stage_boundary)
            words, n_words = bloom
            hits = contaminated_ids_bloom(
                out, words, n_words, id_col, text_col, ngram_n, bloom_k
            )
            out = out.join(hits, id_col, "left_anti")
        return out

    return gate


def deterministic_keep(
    key: Column, fraction: Column, seed: str = ""
) -> Column:
    """Reproducible Bernoulli(fraction) decision as a pure function of
    (seed, key): first 4 hex chars of md5 compared against the fraction
    rendered on the same 16⁴ grid. fraction ≥ 1 keeps everything (the
    hex render only covers [0, 1) — ``floor(1.0·65536)`` would print
    five chars and the 4-char prefix comparison would silently keep
    ~1/16; rate caps like ``least(1, target/n)`` hit exactly 1.0)."""
    prefix = F.substring(F.md5(F.concat(F.lit(seed), key.cast("string"))), 1, 4)
    threshold = F.format_string(
        "%04x", F.floor(fraction * F.lit(65536)).cast("int")
    )
    return F.when(fraction >= 1, F.lit(True)).otherwise(prefix < threshold)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    fraction: Column,
    seed: str = "",
) -> DataFrame:
    """Keep each row with its stratum's probability — ``fraction`` is any
    per-row expression (a `when` chain over strata, a rate-table join),
    evaluated scan-stage. No shuffle, no rand()."""
    return df.filter(deterministic_keep(F.col(key_col), fraction, seed))


def boilerplate_line_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 3,
    delim: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """The hash keys of corpus-level boilerplate lines: any (trimmed)
    line occurring in at least ``min_docs`` DISTINCT documents. The
    CCNet / RefinedWeb observation: navigation bars, cookie banners and
    footers repeat across a site's pages, so cross-document line
    frequency separates boilerplate from content far better than any
    within-document signal.

    All-narrow plan: documents explode into (line-hash, id) pairs, a
    distinct + count on the 8-byte hash yields per-line document
    frequencies — line TEXT never enters the aggregation, only
    ``xxhash64`` keys. Returns one column ``line_key``.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), F.lit(delim))).alias("_line"),
    ).select("_id", F.trim(F.col("_line")).alias("_line"))
    return (
        lines.filter(F.length("_line") >= min_chars)
        .select(F.xxhash64(F.col("_line")).alias("line_key"), "_id")
        .distinct()
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .filter(F.col("_ndocs") >= min_docs)
        .select("line_key")
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 3,
    delim: str = "\n",
    min_chars: int = 1,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Line-level corpus dedup (CCNet §3.1 / RefinedWeb "line-wise
    corrections"): delete every line that occurs in ≥ ``min_docs``
    distinct documents, preserving the relative order of survivors.

    ``delim`` is a Java regex (Spark ``split`` semantics) — the default
    ``"\\n"`` is the CCNet line convention; regex metacharacters must be
    escaped by the caller.

    Scale shape: the removal join is a LEFT ANTI equi-join on the
    8-byte line hash — the boilerplate key set is vastly smaller than
    the corpus (bounded by lines repeating ``min_docs``× — AQE
    broadcasts it when it fits), and document text shuffles exactly
    once, in the per-document rebuild aggregation. Documents whose
    every line is boilerplate survive with empty text (the caller's
    quality gates drop empty docs; silently losing rows would corrupt
    downstream anti-joins on id).

    Returns (id_col, text_col, n_lines, n_removed) with the cleaned
    text under the original column name; ``carry_cols`` names extra
    per-document columns to pass through unchanged (rides the totals
    aggregation — no extra join).
    """
    boiler = boilerplate_line_keys(
        df, id_col, text_col, min_docs, delim, min_chars
    )
    lines = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in carry_cols],
        F.posexplode(F.split(F.col(text_col), F.lit(delim))).alias(
            "_pos", "_line"
        ),
    ).withColumn(
        "line_key",
        F.when(
            F.length(F.trim(F.col("_line"))) >= min_chars,
            F.xxhash64(F.trim(F.col("_line"))),
        ),
    )
    # r12 (guide §2.4 — one shuffle of the document text, not two + a
    # join): the old shape anti-joined the boiler keys, rebuilt the
    # kept lines in one groupBy, counted totals in a second groupBy
    # over the same exploded rows, then joined the two back on _id.
    # Marking boilerplate with a LEFT join (same broadcast-sized key
    # set; a NULL line_key matches nothing under either join, so
    # short-line rows stay kept) lets ONE aggregation produce the
    # rebuild, the kept count, the total count and the carried
    # constants together — collect_list skips the NULL structs of
    # boiler lines, so the rebuilt text is bit-identical.
    marked = lines.join(
        boiler.withColumn("_boiler", F.lit(True)), "line_key", "left"
    )
    keep = F.col("_boiler").isNull()
    merged = marked.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct(F.col("_pos"), F.col("_line")))
                    )
                ),
                lambda s: s["_line"],
            ),
            delim,
        ).alias("_clean"),
        F.count(F.when(keep, F.lit(1))).alias("_nkept"),
        F.count(F.lit(1)).alias("n_lines"),
        # per-document constants (exploded alongside the lines) — first()
        # is exact here, no extra join needed to re-attach them
        *[F.first(F.col(c)).alias(c) for c in carry_cols],
    )
    return (
        merged
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("_clean"), F.lit("")).alias(text_col),
            *carry_cols,
            "n_lines",
            (
                F.col("n_lines") - F.coalesce(F.col("_nkept"), F.lit(0))
            ).alias("n_removed"),
        )
    )


def eval_split(
    df: DataFrame,
    text_col: str,
    val_frac: float = 0.01,
    test_frac: float = 0.01,
    seed: str = "",
) -> DataFrame:
    """Deterministic train/val/test assignment keyed on CONTENT, not id:
    the split bucket is a hash of the normalized text, so byte-identical
    duplicates (re-crawls, mirrors, different doc ids) always land in
    the SAME split — the first line of defense against eval
    contamination. Near-duplicates can still straddle splits; that
    residual is what :func:`split_leakage_pairs` audits.

    Pure scan-stage expression (md5 → 16^4 grid, the
    :func:`deterministic_keep` discipline): no shuffle, no rand(),
    retry-stable. Returns the input plus a ``split`` column
    (test | val | train, carved in that order off the low buckets)."""
    from connect_server_spark.operators.dedup import normalize_text

    if val_frac < 0 or test_frac < 0 or val_frac + test_frac >= 1:
        raise ValueError("need 0 <= val_frac + test_frac < 1")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), normalize_text(F.col(text_col)))),
                1,
                4,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(65536.0)
    )
    split = (
        F.when(u < F.lit(test_frac), F.lit("test"))
        .when(u < F.lit(test_frac + val_frac), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def split_leakage_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The residual-leakage audit for :func:`eval_split`: near-duplicate
    pairs (MinHash-LSH banded candidates + exact-Jaccard verify) whose
    members landed in DIFFERENT splits — each row is an eval document
    whose near-twin is trainable, i.e. a measured contamination path the
    content-hash split could not remove. Returns ``(id_a, split_a,
    id_b, split_b, jaccard)``; the fix is to move flagged eval docs (or
    their whole near-dup cluster) into train or drop them.

    Cost shape is the dedup family's: banded equi-join candidates only,
    never all-pairs; the split columns ride the verify join's id
    lookups (two broadcast-sized joins against the candidate set)."""
    from connect_server_spark.operators.dedup import minhash_neardup_pairs

    pairs = minhash_neardup_pairs(
        df, id_col, text_col, threshold, num_hashes, bands, shingle_n
    )
    splits = df.select(F.col(id_col), F.col(split_col))
    a = splits.select(
        F.col(id_col).alias("id_a"), F.col(split_col).alias("split_a")
    )
    b = splits.select(
        F.col(id_col).alias("id_b"), F.col(split_col).alias("split_b")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "split_a", "id_b", "split_b", "jaccard")
    )


def contamination_fraction(
    docs: DataFrame,
    bench_grams: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document contamination FRACTION: the share of a document's
    distinct n-grams that appear in the benchmark set — the graded
    signal behind threshold decontamination (the lm-eval-harness /
    Brown et al. GPT-3 appendix practice): a 13-gram quote in a long
    document is citation, a 40% overlap is a leaked test item. The
    any-hit :func:`contaminated_ids` is this with threshold > 0.

    Plan: one explode to (id, gram-hash), a broadcast LEFT join against
    the benchmark gram set, one narrow per-doc aggregation — corpus
    text never shuffles, and the gram rows carry 8-byte hashes only.
    Documents shorter than ``n`` words contribute their whole
    normalized text as ONE gram (``word_shingles`` semantics), so a
    short document that exactly equals a benchmark item reports
    n_grams=1, frac=1.0 — an exact test-item leak is contamination
    regardless of length. Returns ``(id_col, n_grams, n_hits, frac)``.
    """
    grams = docs.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(
                F.transform(
                    word_shingles(F.col(text_col), n),
                    lambda s: F.xxhash64(s),
                )
            )
        ).alias("_gram"),
    )
    marked = grams.join(
        F.broadcast(bench_grams.withColumn("_hit", F.lit(1))),
        "_gram",
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.count(F.col("_gram")).alias("n_grams"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(
            F.coalesce(F.sum("_hit"), F.lit(0))
            / F.greatest(F.count(F.col("_gram")), F.lit(1)),
            6,
        ).alias("frac"),
    )


def decontaminate_fraction(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    max_fraction: float,
    n: int = 8,
) -> DataFrame:
    """Threshold decontamination: drop documents whose contamination
    fraction EXCEEDS ``max_fraction`` (0 reproduces the any-hit
    :func:`decontaminate` for gram-bearing documents). Anti-join on
    ids; document bodies cross no shuffle."""
    frac = contamination_fraction(
        docs, benchmark_ngrams(bench, bench_text_col, n), id_col, text_col, n
    )
    hits = frac.filter(F.col("frac") > max_fraction).select(id_col)
    return docs.join(hits, id_col, "left_anti")


def winnow_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str,
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Per-document contamination fraction over WINNOWING fingerprints
    (:func:`~connect_server_spark.operators.dedup.winnow_fingerprints`)
    instead of raw n-grams — the position-robust fuzzy complement to
    :func:`contamination_fraction`: the winnowing guarantee means any
    verbatim run of ≥ ``window + k - 1`` tokens shared with a benchmark
    item ALWAYS contributes a common fingerprint, while an edit only
    perturbs the fingerprints within ``window + k`` tokens of it — so a
    benchmark item pasted with light edits (the leak exact-gram decon
    undercounts) still reports a high fraction.

    Plan shape is :func:`contamination_fraction`'s exactly: fingerprint
    selection is scan-stage, the benchmark fingerprint set is distinct
    (bounded: ~2/(window+1) of the benchmark's grams) and broadcasts,
    one explode + broadcast LEFT join + one narrow per-doc aggregation —
    corpus text never shuffles. Returns ``(id_col, n_fps, n_hits,
    frac)`` with ONE ROW PER INPUT DOCUMENT — NULL text normalizes to
    the empty text (the ``word_shingles`` family convention) and reports
    its single empty-gram fingerprint with frac 0 unless the benchmark
    itself contains an empty item, exactly like
    :func:`contamination_fraction`; route the result through a
    threshold exactly like :func:`decontaminate_fraction`."""
    from connect_server_spark.operators.dedup import winnow_fingerprints

    bench_fps = (
        winnow_fingerprints(
            bench.select(F.col(bench_text_col).alias("text")),
            # any unique-enough id works: fingerprints are deduped anyway
            "text",
            "text",
            k=k,
            window=window,
        )
        .select(F.explode("fps").alias("_fp"))
        .distinct()
    )
    # one row per input document WITHOUT a join back: every document —
    # NULL/empty text included — yields >= 1 fingerprint (concat_ws
    # skips NULL tokens, so the empty text fingerprints as [md5("")]),
    # which the parity test pins; explode_outer keeps the contract
    # explicit if that invariant ever changes.
    doc_fps = winnow_fingerprints(
        docs, id_col, text_col, k=k, window=window
    ).select(F.col("id").alias(id_col), F.explode_outer("fps").alias("_fp"))
    marked = doc_fps.join(
        F.broadcast(bench_fps.withColumn("_hit", F.lit(1))), "_fp", "left"
    )
    return marked.groupBy(id_col).agg(
        F.count(F.col("_fp")).alias("n_fps"),
        F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"),
        (
            F.coalesce(F.sum("_hit"), F.lit(0))
            / F.greatest(F.count(F.col("_fp")), F.lit(1))
        ).alias("frac"),
    )
