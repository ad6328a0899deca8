"""The end-to-end batch curation composite: ONE pretraining-prep plan.

``curation_full`` is what a real corpus-prep run executes as a single
job — the r6 verdict's "missing #1": the individually-shipped stages
(boilerplate line removal, Gopher/C4 gates, unigram-LM routing, bloom
decontamination, exact dedup, temperature mixing) composed over ONE
corpus scan instead of a query per stage.

Single-scan discipline: the re-lined corpus is lazily
``localCheckpoint``-ed; every stage that needs a corpus pass (line
document-frequencies, the LM model build, the benchmark gram set, the
gates themselves) reads the checkpointed base, so the parquet scan of
``documents`` happens exactly once — pinned in
``tests/test_curation_full.py`` (the executed plan contains no
FileScan at all; every leaf is the one checkpointed RDD).

Registered rows-only: xxhash64 (line keys, bloom probes) has no DuckDB
twin, so the oracles are pytest-side — a stage-by-stage materialized
recomputation (composition ≡ sequential execution) and a hand-derived
fixture pin per stage.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connect_server_spark.execution import run_concurrently, stage_boundary

from connect_server_spark.registry import register
from connect_server_spark.tables import load_table, spread_scan

# Fixture-adapted gate thresholds, documented: the synthetic corpus
# contains no English function words (Gopher's required-stopword rule
# would drop 100% of documents — measured) and averages ~54 words per
# document, so the published 50-word floor and 2-stopword requirement
# are relaxed to 30/0 HERE, in the query; the operator keeps the
# published defaults.
_GOPHER_KW = {"min_words": 30, "min_stopword_hits": 0}
# Unigram-LM routing margin: keep documents whose avg token
# log-probability is within 1 nat of the CORPUS MEDIAN (≈ e× the median
# perplexity). Relative routing is the CCNet shape (perplexity
# percentiles, not absolute scores) and is the scale-correct choice: a
# uniform vocabulary-frequency shift (10× corpus, new domain mix) moves
# every score identically and the gate's behavior is unchanged, where an
# absolute floor silently drops 0% or 100% (measured: the replica-tagged
# sf1 sweep corpus shifts every score by exactly ln 10 ≈ 2.3, putting
# the whole corpus under the old -3.5 constant).
_LM_MARGIN = 1.0
_MIX_ALPHA = 0.5
_MIX_TARGET = 150  # < survivor count at sf>=0.01, so rates bite


def _relined(docs: DataFrame) -> DataFrame:
    """'\\n' every 8 words — the corpus_line_dedup convention: the
    synthetic corpus is single-line, and the line-level stages need
    real cross-document repeated lines."""
    words = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        "source",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(words) - 1) / F.lit(8)).cast("int"),
                ),
                lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
            ),
            "\n",
        ).alias("text"),
    )


def curation_full(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """The composed pipeline, stage order as a production prep run:

    1. boilerplate line removal (CCNet line dedup, ≥3-doc lines);
    2. Gopher + C4 document gates, fixture-adapted thresholds, all
       verdicts under ONE let-bound token split;
    3. unigram-LM routing (model trained on the same checkpointed base,
       bounded vocab broadcast; keep ``avg_logprob`` within
       ``_LM_MARGIN`` of the corpus median — relative routing);
    4. blocked-bloom decontamination against the held-out set (every
       41st document), 6-grams;
    5. exact dedup — canonical doc per md5(normalized text) window;
    6. temperature mixing (α=0.5) to ≈150 documents via the
       deterministic md5 Bernoulli gate.

    The corpus scans ONCE (lazy localCheckpoint); stages 2-4 reuse
    :func:`~connect_server_spark.operators.curation.make_curation_gate`.
    ``checkpoint=False`` exists for the composition-equivalence test
    (checkpointed RDD lineage is opaque to plan comparison).
    """
    from connect_server_spark.operators.curation import (
        benchmark_bloom,
        make_curation_gate,
        remove_boilerplate_lines,
    )
    from connect_server_spark.operators.dedup import normalize_text
    from connect_server_spark.operators.text import unigram_lm

    docs = load_table(spark, "documents", sf_dir)
    # Stage-boundary materialization: Spark duplicates (never shares) a
    # common subtree across consumers, so every multi-consumer boundary
    # is lazily checkpointed — each stage computes ONCE, the corpus
    # scans once, and the visible plan stays stage-sized (75 duplicated
    # Exchanges without this, measured at sf0.01).
    ckpt = (
        (lambda df: df.transform(stage_boundary))
        if checkpoint
        else (lambda df: df)
    )
    if checkpoint:
        # r12: (a) the reline projection is CPU-dense and every later
        # stage inherits the base checkpoint's partitioning, so the
        # one-split local scan is round-robin spread first (guide §2.5;
        # no-op at production split counts); (b) the base materializes
        # EAGERLY so the two independent model-building actions below
        # (LM floor chain, bloom sizing count) can run concurrently
        # without racing its first materialization.
        base = stage_boundary(spread_scan(_relined(docs)), eager=True)
    else:
        base = _relined(docs)

    cleaned = remove_boilerplate_lines(
        base, "doc_id", "text", min_docs=3, carry_cols=("source",)
    )
    from connect_server_spark.operators.text import lm_quality_scores

    ckpt_cleaned = ckpt(cleaned)
    bench = base.filter(F.col("doc_id") % 41 == 0).select("text")

    def _lm_part():
        # relative routing floor (see _LM_MARGIN): one GK-sketch pass
        # over the cleaned corpus's scores anchors the gate to THIS
        # corpus's median fluency; the scoring join is vocab-broadcast +
        # narrow (id, logp) agg, and `cleaned` is checkpoint-backed so
        # the corpus still scans once
        vocab, oov_logp = unigram_lm(base, "doc_id", "text")
        scores_ = ckpt(
            lm_quality_scores(ckpt_cleaned, vocab, oov_logp, "doc_id", "text")
        )
        med = scores_.approxQuantile("avg_logprob", [0.5], 1e-3)
        return scores_, med

    def _bloom_part():
        # 32 bits/item, k=8 → ~1.5e-5 false-positive rate per gram (vs
        # ~3e-3 at the 16/6 default): a training-prep run should not
        # shed ~10% of clean documents to filter noise; 4 B/gram is
        # still half the exact hash set.
        return benchmark_bloom(bench, "text", n=6, bits_per_item=32, k=8)

    if checkpoint:
        # r12 (guide §2.6, overlap independent jobs): the LM-floor chain
        # (vocab total → scores → median sketch) and the bloom-sizing
        # count are independent given the materialized base — submitting
        # them from two driver threads lets the later job's tasks
        # back-fill the earlier one's stragglers instead of serializing
        # two full action chains.
        (scores, med), bloom = run_concurrently(_lm_part, _bloom_part)
    else:
        scores, med = _lm_part()
        bloom = _bloom_part()
    if not med:
        raise ValueError(
            "curation_full: no scoreable documents survived boilerplate "
            "removal — cannot derive the corpus-relative LM floor (the "
            "corpus is empty or entirely boilerplate)"
        )
    lm_floor = med[0] - _LM_MARGIN
    # gopher=False here: the published defaults would drop the whole
    # stopword-free synthetic corpus, so the adapted gopher verdict is
    # applied by _gate_with_fixture_gopher in its own scan-stage pass
    gate = make_curation_gate(
        "doc_id",
        "text",
        c4_doc=True,
        lm_scored=(scores, lm_floor),
        bloom=bloom,
        ngram_n=6,
        bloom_k=8,
        materialize=checkpoint,
    )
    gated = _gate_with_fixture_gopher(gate, ckpt_cleaned)

    w = Window.partitionBy(F.md5(normalize_text(F.col("text"))))
    deduped = (
        gated.withColumn("_m", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_m"))
        .drop("_m")
    )
    from connect_server_spark.operators.sampling import mix_corpus

    # mix_corpus consumes its input twice (rate aggregation + the
    # broadcast join back) — same boundary rule as above
    mixed = mix_corpus(
        ckpt(deduped), "doc_id", "source", _MIX_ALPHA, _MIX_TARGET,
        seed="cf:",
    )
    return mixed.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("clean_digest"),
        "n_lines",
        "n_removed",
        "mix_weight",
        "keep_rate",
    )


def _gate_with_fixture_gopher(gate, cleaned: DataFrame) -> DataFrame:
    """Apply the gate with the two Gopher thresholds overridden for the
    stopword-free synthetic corpus (see ``_GOPHER_KW``): the shared
    make_curation_gate runs with ``gopher=False`` and the adapted
    gopher verdict is AND-ed in the same scan-stage filter pass."""
    return gate(cleaned.filter(_fixture_gopher_pred()))


@functools.lru_cache(maxsize=1)
def _fixture_gopher_pred():
    """The adapted-gopher filter Column, built once per process (r12,
    guide §7.3): the gopher tree under the let-bound token split misses
    ``memo_expr`` (fresh lambda-variable name per construction), so the
    outer Column is cached instead — a pure function of the fixed
    ``_GOPHER_KW`` over the unresolved ``text`` column. Like memo_expr,
    assumes ONE JVM gateway per process; cache_clear() on any path that
    recreates the SparkSession in-process."""
    from connect_server_spark.functions.expr import let_col
    from connect_server_spark.operators.quality import (
        gopher_flags,
        gopher_pass,
    )
    from connect_server_spark.operators.text import tokens

    t = F.col("text")
    return let_col(
        tokens(t),
        lambda tk: gopher_pass(gopher_flags(t, toks=tk, **_GOPHER_KW)),
    )


register("curation_full", curation_full, defer=True)


def corpus_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/val/test assignment over the documents table
    (5% val, 5% test so the eval splits are non-trivial at every test
    sf): per-split document and distinct-text counts. Byte-identical
    texts co-split by construction (the split key is a hash of the
    normalized text) — pinned with the md5 python mirror in
    ``tests/test_eval_split.py``. Rows-only (hex-grid hashing has no
    DuckDB twin)."""
    from connect_server_spark.operators.curation import eval_split
    from connect_server_spark.operators.dedup import normalize_text

    docs = load_table(spark, "documents", sf_dir)
    tagged = eval_split(docs, "text", val_frac=0.05, test_frac=0.05,
                        seed="es:")
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.md5(normalize_text(F.col("text")))).alias(
                "n_texts"
            ),
        )
        .orderBy("split")
    )


register("corpus_eval_split", corpus_eval_split, defer=True)


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The residual-leakage audit over the same split: near-dup pairs
    (MinHash-LSH + exact Jaccard, the dedup family's machinery) whose
    members straddle splits — each row is a measured eval-contamination
    path the content-hash split could not remove. Rows-only; planted
    cross-split near-dup detection and the co-split guarantee for exact
    duplicates are pinned in ``tests/test_eval_split.py``."""
    from connect_server_spark.operators.curation import (
        eval_split,
        split_leakage_pairs,
    )

    # shingle/minhash work is scan-stage CPU: spread the one-split
    # local scan (r12, guide §2.5)
    docs = spread_scan(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    tagged = eval_split(docs, "text", val_frac=0.05, test_frac=0.05,
                        seed="es:")
    return split_leakage_pairs(
        tagged, "doc_id", "text", threshold=0.5
    ).orderBy("id_a", "id_b")


register("corpus_split_leakage", corpus_split_leakage, defer=True)


def corpus_decon_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination report: each document's share of distinct
    8-grams that appear in the held-out set (every 41st document) —
    the threshold form of the any-hit sweep (a 40% overlap is a leaked
    test item; one quoted gram is citation). Only contaminated rows
    are returned (the clean corpus would be all zeros). Rows-only
    (xxhash64 gram keys); the python gram mirror and the
    any-hit-consistency pin live in ``tests/test_eval_split.py``."""
    from connect_server_spark.operators.curation import (
        benchmark_ngrams,
        contamination_fraction,
    )

    # gram explode + hashing is scan-stage CPU: spread the one-split
    # local scan (r12, guide §2.5; no-op at production split counts)
    docs = spread_scan(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    frac = contamination_fraction(
        docs, benchmark_ngrams(bench, "text", n=8), "doc_id", "text", n=8
    )
    return frac.filter(F.col("frac") > 0).orderBy("doc_id")


register("corpus_decon_fraction", corpus_decon_fraction, defer=True)


def corpus_decon_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination report over winnowing fingerprints: the
    held-out set (every 41st document) leaks into a document whenever
    they share fingerprint mass — position-robust, so a benchmark item
    pasted with light edits still reports high ``frac`` where the exact
    8-gram sweep undercounts. Contaminated rows only. Rows-only (the
    sliding-window min selection has no DuckDB twin); the hashlib
    mirror runs in ``tests/test_eval_split.py``."""
    from connect_server_spark.operators.curation import winnow_contamination

    # fingerprinting is scan-stage CPU: spread the one-split local scan
    # (r12, guide §2.5; measured 1.3× at sf0.1)
    docs = spread_scan(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    bench = docs.filter(F.col("doc_id") % 41 == 0)
    frac = winnow_contamination(
        docs, bench, "doc_id", "text", "text", k=4, window=4
    )
    return frac.filter(F.col("frac") > 0).orderBy("doc_id")


register("corpus_decon_winnow", corpus_decon_winnow, defer=True)


_URL_BLOCKLIST = ["src3.example", "src7.example"]
_URL_DOMAIN_CAP = 15


def corpus_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The URL-curation pass a crawl pipeline runs between WARC parsing
    and text gating (C4/RefinedWeb practice), composed end-to-end:
    deterministic per-document URLs (source → domain; every 4th URL
    carries tracking params and a trailing slash; paths repeat modulo
    200 so canonical-URL dups exist) → domain blocklist → canonical URL
    dedup (min doc_id wins) → per-domain cap (deterministic md5 rank) →
    per-domain telemetry. Rows-only (try_parse_url has no DuckDB twin);
    the python urllib mirror runs in ``tests/test_weburl.py``."""
    from connect_server_spark.operators.weburl import (
        cap_per_domain,
        filter_blocked_domains,
        url_dedup,
        url_domain,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example/page/"),
        (F.col("doc_id") % 200).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/?utm_source=feed&x=1")).otherwise(
            F.lit("")
        ),
    )
    tagged = docs.withColumn("url", url)
    block = spark.createDataFrame(
        [(d,) for d in _URL_BLOCKLIST], ["domain"]
    )
    deduped = url_dedup(
        filter_blocked_domains(tagged, "url", block), "url", "doc_id"
    ).withColumn("domain", url_domain(F.col("url")))
    # the cap window and the telemetry groupBy share the projected
    # domain column, so they share one hash partitioning
    kept = cap_per_domain(
        deduped, "url", "doc_id", _URL_DOMAIN_CAP, seed="uf:",
        domain_col="domain",
    )
    return (
        kept.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
        )
        .orderBy("domain")
    )


register("corpus_url_filter", corpus_url_filter, defer=True)


def corpus_from_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl HEAD of the pipeline, composed end-to-end in one plan:
    real ``.warc.gz`` shards (synthesized from the documents table,
    per-source domains) → WARC record parse → HTML text extraction →
    URL curation (blocklist → canonical dedup → per-domain cap) →
    fixture-adapted quality gate — with the per-stage FUNNEL the crawl
    operator actually reads: one row per domain counting survivors at
    every stage (parsed / url-filtered / gated). Monotone by
    construction; blocked domains report parsed counts but zero
    survivors downstream. Rows-only (binary container + try_parse_url
    have no DuckDB twin); invariants pinned in ``tests/test_weburl.py``."""
    from connect_server_spark.operators.quality import c4_doc_flags
    from connect_server_spark.operators.weburl import (
        cap_per_domain,
        filter_blocked_domains,
        url_dedup,
        url_domain,
    )
    from connect_server_spark.sources.warc import (
        html_to_text,
        parse_warc_records,
        synthesize_warc,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "text"
    )
    # r12 (guide §2.5): the synthesis groupBy's parallelism IS the shard
    # count — a fixed 8 ran the whole CPU-dense synth→parse→extract
    # chain on 8 of the session's cores. The funnel never sees the shard
    # (it groups by domain), so the count is a free parallelism knob;
    # floor 8 keeps the multi-record-shard shape at tiny sf.
    n_shards = max(8, spark.sparkContext.defaultParallelism)
    sharded = docs.withColumn("shard", F.col("doc_id") % n_shards).withColumn(
        "domain", F.concat(F.col("source"), F.lit(".example"))
    )
    recs = parse_warc_records(
        synthesize_warc(sharded, "doc_id", "text", domain_col="domain")
    )
    # one materialization: the parsed/extracted corpus feeds the funnel
    # base count and every downstream stage (same boundary rule as the
    # curation composites — Spark would otherwise duplicate the whole
    # Arrow parse per consumer).
    # r12 (guide §2.3/§8 — decide with small rows): every decision past
    # this point needs only (url, doc_id, gate verdict) — the quality
    # gate is a per-row function of the text, so its verdict is computed
    # HERE, in the same projection, and the text column is dropped.
    # The url-dedup and per-domain-cap window Exchanges then carry
    # ~60-byte rows instead of full documents, and the checkpoint
    # materializes the same narrow rows. Verdicts are unchanged: the
    # URL stages never modify text, so flagging before or after them
    # reads the same bytes.
    extracted = html_to_text(recs.filter(F.col("error").isNull()), "body")
    flags = c4_doc_flags(F.col("text"))
    parsed = extracted.select(
        F.col("target_uri").alias("url"),
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        (~flags["has_lorem_ipsum"] & ~flags["has_brace"]).alias("_gate_ok"),
    ).transform(stage_boundary)

    block = spark.createDataFrame([(d,) for d in _URL_BLOCKLIST], ["domain"])
    url_ok = cap_per_domain(
        url_dedup(filter_blocked_domains(parsed, "url", block), "url", "doc_id"),
        "url",
        "doc_id",
        _URL_DOMAIN_CAP,
        seed="cfc:",
    )

    # r12 (guide §2.4): the url_ok and gated funnel legs are ONE
    # aggregation — gated ⊆ url_ok, so a conditional count over the
    # gate verdict replaces the third groupBy + join (NULL verdicts —
    # NULL text — are skipped by count(when), exactly as the old
    # filter dropped them).
    funnel = (
        parsed.withColumn("domain", url_domain(F.col("url")))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_parsed"))
        .join(
            url_ok.withColumn("domain", url_domain(F.col("url")))
            .groupBy("domain")
            .agg(
                F.count(F.lit(1)).alias("n_url_ok"),
                F.count(F.when(F.col("_gate_ok"), F.lit(1))).alias(
                    "n_gated"
                ),
            ),
            "domain",
            "left",
        )
        .fillna(0, ["n_url_ok", "n_gated"])
        .orderBy("domain")
    )
    return funnel


register("corpus_from_crawl", corpus_from_crawl, defer=True)
