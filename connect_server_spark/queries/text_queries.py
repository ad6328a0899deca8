"""Driver queries for the text-analysis operator family over ``documents``,
fully oracle-gated (every operator is pure arithmetic/string logic)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connect_server_spark.operators.text import (
    BPE_SPLIT_RE,
    STOPWORDS,
    alnum_token_count,
    bpe_token_estimate,
    doc_fingerprint,
    dup_line_ratio,
    language_id,
    mean_word_length,
    pii_flags,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    top_ngram_share,
)
from connect_server_spark.memo import memo_expr
from connect_server_spark.registry import register
from connect_server_spark.tables import load_table, spread_scan


def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connect_server_spark.operators.text import tokens

    # CPU-dense per-row metric projection: spread the one-split local
    # scan first (r12, guide §2.5; measured 2.6× at sf0.1 — a no-op at
    # production split counts)
    docs = spread_scan(load_table(spark, "documents", sf_dir))
    t = F.col("text")
    pii = pii_flags(t)
    # normalize+split ONCE per row; every token-based metric references
    # the materialized column (~5% at sf0.1, interleaved A/B; values
    # bit-identical, so the oracle below is untouched)
    toks = F.col("_toks")
    return docs.select("doc_id", "text", tokens(t).alias("_toks")).select(
        "doc_id",
        token_count(t, toks=toks).alias("n_tokens"),
        alnum_token_count(t).alias("n_alnum_tokens"),
        bpe_token_estimate(t).alias("n_bpe_tokens"),
        language_id(t, toks=toks).alias("lang_guess"),
        stopword_ratio(t, toks=toks).alias("stopword_ratio_en"),
        mean_word_length(t, toks=toks).alias("mean_word_len"),
        punct_ratio(t).alias("punct_ratio"),
        quality_score(t, toks=toks).alias("quality_e7"),
        doc_fingerprint(t, toks=toks).alias("fingerprint"),
        dup_line_ratio(t).alias("dup_line_ratio"),
        top_ngram_share(t, 2, toks=toks).alias("top2gram_share"),
        pii["email"].alias("pii_email"),
        pii["card"].alias("pii_card"),
        pii["phone"].alias("pii_phone"),
    )


def sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


SCORES = {
    lang: f"""round(
      (CAST(len(list_intersect(list_distinct(w), {sql_list(ws)})) AS DOUBLE) / {len(ws)})
      * (CAST(len(list_filter(w, t -> list_contains({sql_list(ws)}, t))) AS DOUBLE)
         / greatest(len(w), 1)), 6)"""
    for lang, ws in STOPWORDS.items()
}

LANG_CASE = f"""
      CASE WHEN greatest(s_en, s_es, s_de) > 0 THEN (
        CASE WHEN s_en = greatest(s_en, s_es, s_de) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de) THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de) THEN 'de'
        END)
      ELSE 'und' END
"""

# SQL string literal form: apostrophes doubled; backslashes pass through
# (standard SQL strings are not escape-processed in DuckDB)
_BPE_RE_SQL = BPE_SPLIT_RE.replace("'", "''")

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_CARD = r"\b(?:\d[ -]?){12,15}\d\b"
_PII_PHONE = r"\+?\d[\d\s().-]{7,}\d"

register(
    "text_analysis",
    text_analysis,
    sql=f"""
    WITH toks AS (
      SELECT doc_id, text,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, concat_ws(' ', w[i], w[i + 1]) AS g
      FROM toks, unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    ),
    gcnt AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
    ),
    gtop AS (
      SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top2
      FROM gcnt GROUP BY doc_id
    ),
    scored AS (
      SELECT *,
        {SCORES['en']} AS s_en,
        {SCORES['es']} AS s_es,
        {SCORES['de']} AS s_de,
        round(CAST(len(list_filter(w, t -> list_contains({sql_list(STOPWORDS['en'])}, t))) AS DOUBLE)
              / greatest(len(w), 1), 6) AS swr,
        round(list_sum(list_transform(w, t -> CAST(len(t) AS DOUBLE)))
              / greatest(len(w), 1), 6) AS mwl,
        round(CAST(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
              / greatest(len(text), 1), 6) AS pr,
        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                    x -> len(x) > 0) AS ls
      FROM toks
    )
    SELECT
      s.doc_id,
      len(w) AS n_tokens,
      len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_alnum_tokens,
      len(regexp_extract_all(text, '{_BPE_RE_SQL}', 0)) AS n_bpe_tokens,
      {LANG_CASE} AS lang_guess,
      swr AS stopword_ratio_en,
      mwl AS mean_word_len,
      pr AS punct_ratio,
      CAST(round(swr * 1e6, 0) AS BIGINT) * 4
        + CAST(round(least(mwl / 8.0, 1.0) * 1e6, 0) AS BIGINT) * 3
        + CAST(round((1.0 - least(pr * 4.0, 1.0)) * 1e6, 0) AS BIGINT) * 3
        AS quality_e7,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(w, t -> CAST(ascii(t) + len(t) AS BIGINT))),
        (acc, x) -> (acc * 31 + x) % 1000000007
      ) AS fingerprint,
      round(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
            / greatest(len(ls), 1), 6) AS dup_line_ratio,
      coalesce(g.top2, 0.0) AS top2gram_share,
      len(regexp_extract_all(text, '{_PII_EMAIL}')) AS pii_email,
      len(regexp_extract_all(regexp_replace(text, '{_PII_EMAIL}', ' ', 'g'),
                             '{_PII_CARD}')) AS pii_card,
      len(regexp_extract_all(
            regexp_replace(regexp_replace(text, '{_PII_EMAIL}', ' ', 'g'),
                           '{_PII_CARD}', ' ', 'g'),
            '{_PII_PHONE}')) AS pii_phone
    FROM scored s LEFT JOIN gtop g ON s.doc_id = g.doc_id
    """,
)


_QMIN = 4_500_000
_TOK_LO, _TOK_HI = 10, 1000


@memo_expr
def _corpus_curation_gate_pred():
    """corpus_curation's scan-stage gate Column, built once per process
    (r12, guide §7.3): the quality/language trees under the let-bound
    token split miss ``memo_expr`` (fresh lambda-variable name per
    construction); caching the outer Column builds the identical tree
    exactly once. Pure construction over the unresolved ``text`` column
    and the fixed thresholds above — no data, no store state."""
    from connect_server_spark.functions.expr import let_col
    from connect_server_spark.operators.text import tokens

    t = F.col("text")
    return let_col(
        tokens(t),
        lambda tk: (
            (quality_score(t, toks=tk) >= _QMIN)
            & alnum_token_count(t).between(_TOK_LO, _TOK_HI)
            & (language_id(t, toks=tk) != "und")
        ),
    )


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical LLM training-data curation pipeline, composed from
    the text + dedup + curation operator families in ONE plan:
    quality-score gate → language gate → token-count bounds → exact dedup
    (canonical doc per normalized digest) → benchmark decontamination
    (every 41st document stands in as the held-out test set; any document
    sharing a 6-gram with it is dropped) → deterministic stratified
    sampling (per-source keep rate 0.5 / 0.25, decided by md5 — no
    rand(), so the sample is stable across runs, engines, and task
    retries). Gates are scan-stage expressions; the dedup shuffle carries
    (16-byte digest, doc_id); the benchmark gram set broadcasts; the
    sample decision is a pure projection."""
    from connect_server_spark.operators.curation import (
        decontaminate,
        stratified_sample,
    )
    from connect_server_spark.operators.dedup import normalize_text

    from connect_server_spark.operators.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    toks = F.col("_toks")

    # Gate FIRST, with the token split let-bound ONCE inside the filter
    # condition: a filter over alias-projected metrics gets pushed below
    # the projection by substituting each metric's full expression into
    # the condition — the split would be re-inlined at every reference
    # (~8× per row; measured +0.5 s at sf0.1, the r6 regression). Here
    # the split runs once per row in the gate and once per SURVIVOR in
    # the metric projection. Values are bit-identical (same oracle).
    # r8 note: the textually-duplicated metric trees below are NOT
    # evaluated twice — whole-stage codegen's subexpression elimination
    # dedupes identical trees inside the projection. Both let-bound
    # struct variants (flatten-now and flatten-after-the-dedup-shuffle)
    # were measured SLOWER at sf0.1 (med 1.93 s → 2.4-2.6 s): the
    # struct defeats that elimination and widens the window shuffle.
    # The r7 perf gap was plan-CONSTRUCTION cost, fixed by memo_expr on
    # the stopword-tree builders (functions/expr.py); the residual
    # construction cost (the toks=tk calls miss that memo — fresh
    # lambda-variable name per build) is fixed in r12 by caching the
    # whole let-bound gate Column (_corpus_curation_gate_pred).
    kept = (
        docs.filter(_corpus_curation_gate_pred())
        .select("doc_id", "source", "text", tokens(t).alias("_toks"))
        .select(
            "doc_id",
            "source",
            "text",
            language_id(t, toks=toks).alias("lang_pred"),
            quality_score(t, toks=toks).alias("quality_e7"),
            alnum_token_count(t).alias("n_tok"),
        )
    )
    # canonical-per-digest via a window on the digest: one shuffle
    # (bounded groups — copies of one text), not agg + join-back
    w = Window.partitionBy(F.md5(normalize_text(F.col("text"))))
    deduped = (
        kept.withColumn("_min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )
    bench = docs.filter(F.col("doc_id") % 41 == 0).select("text")
    decon = decontaminate(deduped, bench, "doc_id", "text", "text", n=6)
    frac = F.when(
        F.substring(F.md5(F.col("source")), 1, 1) < "8", F.lit(0.5)
    ).otherwise(F.lit(0.25))
    sampled = stratified_sample(decon, "doc_id", frac, seed="s1:")
    return sampled.select(
        "doc_id", "source", "lang_pred", "quality_e7", "n_tok"
    )


register(
    "corpus_curation",
    corpus_curation,
    sql=f"""
    WITH toks AS (
      SELECT doc_id, source, text,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents
    ),
    scored AS (
      SELECT *,
        {SCORES['en']} AS s_en,
        {SCORES['es']} AS s_es,
        {SCORES['de']} AS s_de,
        round(CAST(len(list_filter(w, t -> list_contains({sql_list(STOPWORDS['en'])}, t))) AS DOUBLE)
              / greatest(len(w), 1), 6) AS swr,
        round(list_sum(list_transform(w, t -> CAST(len(t) AS DOUBLE)))
              / greatest(len(w), 1), 6) AS mwl,
        round(CAST(len(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
              / greatest(len(text), 1), 6) AS pr
      FROM toks
    ),
    graded AS (
      SELECT doc_id, source, text, w,
        {LANG_CASE} AS lang_pred,
        CAST(round(swr * 1e6, 0) AS BIGINT) * 4
          + CAST(round(least(mwl / 8.0, 1.0) * 1e6, 0) AS BIGINT) * 3
          + CAST(round((1.0 - least(pr * 4.0, 1.0)) * 1e6, 0) AS BIGINT) * 3
          AS quality_e7,
        len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
      FROM scored
    ),
    kept AS (
      SELECT * FROM graded
      WHERE quality_e7 >= {_QMIN} AND n_tok BETWEEN {_TOK_LO} AND {_TOK_HI}
        AND lang_pred <> 'und'
    ),
    canon AS (
      SELECT min(doc_id) AS doc_id
      FROM kept
      GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    ),
    deduped AS (
      SELECT k.* FROM kept k JOIN canon c ON k.doc_id = c.doc_id
    ),
    bench_grams AS (
      SELECT DISTINCT unnest(
        CASE WHEN len(w) >= 6 THEN
          list_distinct(list_transform(range(1, greatest(len(w) - 4, 2)),
            i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5])))
        ELSE [array_to_string(w, ' ')] END) AS g
      FROM toks WHERE doc_id % 41 = 0
    ),
    doc_grams AS (
      SELECT doc_id, unnest(
        CASE WHEN len(w) >= 6 THEN
          list_distinct(list_transform(range(1, greatest(len(w) - 4, 2)),
            i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4], w[i+5])))
        ELSE [array_to_string(w, ' ')] END) AS g
      FROM deduped
    ),
    hits AS (
      SELECT DISTINCT d.doc_id
      FROM doc_grams d JOIN bench_grams b ON d.g = b.g
    ),
    decon AS (
      SELECT * FROM deduped
      WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    )
    SELECT doc_id, source, lang_pred, quality_e7, n_tok
    FROM decon
    WHERE substr(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE WHEN substr(md5(source), 1, 1) < '8'
                 THEN '8000' ELSE '4000' END
    """,
)


def training_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the documents table: whitespace token counts
    feed partition-local greedy next-fit packing at a 2048-token
    context budget. Rows-only: greedy packing is a sequential recurrence
    (running reset-sum), not SQL-expressible; the reference greedy
    equivalence and pack invariants are pinned in
    ``tests/test_packing.py``."""
    from connect_server_spark.operators.packing import pack_sequences

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_toks")
    )
    return pack_sequences(toks, "doc_id", "n_toks", budget=2048)


register("training_pack", training_pack, defer=True)


def training_pack_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed chunk→pack pipeline (r5 verdict "missing #2"): docs
    over the 512-token budget are split into ≤-budget ranges first, so
    EVERY pack fits the context window — unlike ``training_pack``, whose
    contract gives an oversized document a lone overflowing pack.
    Rows-only (greedy packing is a sequential recurrence); zero-overflow,
    lossless-coverage, and retry-determinism are pinned in
    ``tests/test_packing.py``."""
    from connect_server_spark.operators.packing import chunk_and_pack

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_toks")
    )
    return chunk_and_pack(toks, "doc_id", "n_toks", budget=512)


register("training_pack_chunked", training_pack_chunked, defer=True)


def training_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining token pipeline in ONE plan: REAL BPE token
    counts (trained merges, Arrow-batched segmentation) feed
    chunk-then-pack at a 256-token budget — what ``training_pack``
    approximates with whitespace counts, now measured end-to-end. The
    tokenizer UDF, the chunk explode, and the packing ``mapInPandas``
    all compose pipeline-parallel with zero added shuffle. Rows-only
    (corpus-trained state + sequential packing recurrence); both stages'
    invariants are pytest-pinned in their own suites."""
    from connect_server_spark.operators.packing import chunk_and_pack
    from connect_server_spark.operators.tokenizer import tokenize_bpe as tok

    docs = load_table(spark, "documents", sf_dir)
    model = bpe_model_for(spark, sf_dir)
    counts = tok(
        docs, "doc_id", "text", model["merges"], model["alphabet"]
    ).select("doc_id", "n_tokens")
    return chunk_and_pack(counts, "doc_id", "n_tokens", budget=256)


register("training_pack_bpe", training_pack_bpe, defer=True)


def bpe_model_for(spark: SparkSession, sf_dir: str) -> dict:
    """Train-once-per-dataset BPE model (merges + training alphabet),
    cached as JSON under /tmp (content-keyed like the minhash/IVF index
    caches): bench repetitions and the plan audit reuse the trained
    model instead of re-collecting piece frequencies every call."""
    import json
    import os

    from connect_server_spark.operators.tokenizer import train_bpe
    from connect_server_spark.tables import dataset_cache_key

    key = dataset_cache_key(sf_dir, "documents")
    # v2: the model now carries the full training alphabet so unmerged
    # characters keep real ids (v1 cached the merge list alone)
    # Deliberately DRIVER-LOCAL (plain open()/os.path, unlike the
    # executor-scanned index caches behind queries/_fixtures.py): the
    # trained model is read on the driver and shipped to executors in
    # the tokenizer UDF closure — executors never scan this path, so
    # the driver-local-root hazard does not apply.
    path = f"/tmp/connect_server_spark_bpe_merges_v2/{key}.json"
    if os.path.exists(path):
        with open(path) as f:
            m = json.load(f)
        return {
            "merges": [tuple(x) for x in m["merges"]],
            "alphabet": list(m["alphabet"]),
        }
    docs = load_table(spark, "documents", sf_dir)
    model = train_bpe(docs, "text", num_merges=500, max_pieces=20000)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(
            {"merges": [list(m) for m in model["merges"]],
             "alphabet": model["alphabet"]},
            f,
        )
    os.replace(tmp, path)  # atomic: concurrent trainers converge
    return model


def tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL merge-based BPE over the documents table (r5 verdict
    "missing #1"): merges trained from corpus piece frequencies
    (bounded, cached per dataset), segmentation applied scan-stage by
    one Arrow-batched UDF; emits the exact token count plus the id of
    the first token (a cheap cross-engine fingerprint of the
    segmentation). Rows-only: the merge table is corpus-trained state —
    token-for-token equivalence to an independent Python reference and
    the estimate-vs-exact band are pinned in
    ``tests/test_tokenizer.py``."""
    from connect_server_spark.operators.tokenizer import tokenize_bpe as tok

    docs = load_table(spark, "documents", sf_dir)
    model = bpe_model_for(spark, sf_dir)
    out = tok(docs, "doc_id", "text", model["merges"], model["alphabet"])
    return out.select(
        "doc_id",
        "n_tokens",
        F.element_at(F.col("token_ids"), 1).alias("first_token_id"),
    )


register("tokenize_bpe", tokenize_bpe, defer=True)


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: the 200 most frequent tokens with occurrence
    and document-frequency counts — deterministic (lexical tie-break),
    computed with the two-stage no-Expand distinct shape. Oracle-gated
    since the r12 rotation (the same SQL ran as the pytest mirror in
    ``tests/test_text.py`` since r11)."""
    from connect_server_spark.operators.text import top_tokens

    docs = load_table(spark, "documents", sf_dir)
    return top_tokens(docs, "doc_id", "text", k=200)


# Promoted to the driver gate in the r12 rotation (the SAME SQL ran as
# the pytest mirror in tests/test_text.py since r11 — the epoch-shuffle
# promotion pattern).
VOCAB_TOP_TOKENS_ORACLE_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(
        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    )
    SELECT token,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM toks WHERE token <> ''
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 200
"""

register("vocab_top_tokens", vocab_top_tokens, sql=VOCAB_TOP_TOKENS_ORACLE_SQL)


def lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter over the documents table: corpus
    unigram model (bounded vocab, broadcast) scoring each document's
    mean token log-probability + OOV count — the fluency/typicality
    routing signal beside the heuristic ``quality_score``. Rows-only
    (corpus-trained state); the python-reference equivalence gate runs
    in ``tests/test_text.py``."""
    from connect_server_spark.operators.text import (
        lm_quality_scores,
        unigram_lm,
    )

    docs = load_table(spark, "documents", sf_dir)
    vocab, oov = unigram_lm(docs, "doc_id", "text")
    return lm_quality_scores(docs, vocab, oov, "doc_id", "text")


register("lm_quality", lm_quality, defer=True)


def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate-line removal (CCNet line dedup): delete
    every line occurring in ≥3 distinct documents. The synthetic corpus
    is single-line, so the query first re-lines each document
    deterministically — '\\n' every 8 words — giving the operator real
    cross-document repeated lines (near-duplicate documents share
    8-word chunks) and a real multi-line rebuild. Oracle-gated since
    the r11 rotation (full DuckDB recomputation of the reline +
    cross-document line-frequency removal + in-order rebuild, compared
    on md5 digests of the cleaned text — the python-reference
    equivalence gate additionally runs in ``tests/test_text.py``)."""
    from connect_server_spark.operators.curation import (
        remove_boilerplate_lines,
    )

    docs = load_table(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    relined = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(words) - 1) / F.lit(8)).cast("int"),
                ),
                lambda i: F.array_join(
                    F.slice(words, i * 8 + 1, 8), " "
                ),
            ),
            "\n",
        ).alias("text"),
    )
    cleaned = remove_boilerplate_lines(
        relined, "doc_id", "text", min_docs=3
    )
    return cleaned.select(
        "doc_id",
        F.md5(F.col("text")).alias("clean_digest"),
        # long, not int: the oracle's length() is BIGINT and the value
        # hash is dtype-sensitive (same convention as validator sizes)
        F.length("text").cast("long").alias("clean_chars"),
        "n_lines",
        "n_removed",
    )


# The operator hashes lines (xxhash64) purely as a shuffle-width
# optimization; the oracle joins on the trimmed line TEXT — same
# semantics (a 64-bit collision would merely co-count two distinct
# lines, and the gate proves none occurs on this corpus).
CORPUS_LINE_DEDUP_ORACLE_SQL = """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    lines AS (
      SELECT doc_id, gs.i AS pos,
             array_to_string(w[(gs.i*8+1):(gs.i*8+8)], ' ') AS line
      FROM words, LATERAL (
        SELECT unnest(generate_series(
          0, CAST(floor((len(w)-1)/8.0) AS INT))) AS i
      ) gs
    ),
    boiler AS (
      SELECT line AS key
      FROM (SELECT DISTINCT doc_id, trim(line) AS line FROM lines
            WHERE length(trim(line)) >= 1)
      GROUP BY 1 HAVING count(*) >= 3
    ),
    flagged AS (
      SELECT l.doc_id, l.pos, l.line,
             (length(trim(l.line)) >= 1 AND b.key IS NOT NULL) AS removed
      FROM lines l LEFT JOIN boiler b ON trim(l.line) = b.key
    ),
    rebuilt AS (
      SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT removed THEN line END,
                                 chr(10) ORDER BY pos), '') AS clean,
             count(*) AS n_lines,
             CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed
      FROM flagged GROUP BY doc_id
    )
    SELECT doc_id, md5(clean) AS clean_digest,
           CAST(length(clean) AS BIGINT) AS clean_chars, n_lines, n_removed
    FROM rebuilt
"""

register("corpus_line_dedup", corpus_line_dedup, sql=CORPUS_LINE_DEDUP_ORACLE_SQL)


def corpus_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release corpus diff: 'v1' drops every 11th doc, 'v2'
    drops every 7th and edits every 13th — so all four statuses (added /
    removed / changed / unchanged) appear, derived deterministically
    from the one documents table. The diff itself moves only (id,
    digest) pairs. Oracle-gated since the r11 rotation (full DuckDB
    recomputation — null-tagged unit-separated md5 payload digests are
    bit-identical across engines); the same mirror also runs in
    ``tests/test_text.py``."""
    from connect_server_spark.storage import snapshot_diff

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") % 11 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", ["text", "lang", "source"])


# the same null-tagged digest snapshot_diff computes: NULL columns tag
# with a \x00 sentinel (never collides with real text), fields joined
# on the \x1f unit separator — md5 is bit-identical across engines
_RELEASE_DIG_SQL = (
    "md5(coalesce(text, chr(0)||'NULL') || chr(31) || "
    "coalesce(lang, chr(0)||'NULL') || chr(31) || "
    "coalesce(source, chr(0)||'NULL'))"
)

CORPUS_RELEASE_DIFF_ORACLE_SQL = f"""
    WITH oldd AS (
      SELECT doc_id, {_RELEASE_DIG_SQL} AS old_digest
      FROM documents WHERE doc_id % 11 <> 0
    ),
    newd AS (
      SELECT doc_id, {_RELEASE_DIG_SQL} AS new_digest
      FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                    ELSE text END AS text,
               lang, source
        FROM documents WHERE doc_id % 7 <> 0
      )
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_digest = n.new_digest THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.old_digest, n.new_digest
    FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id
"""

register(
    "corpus_release_diff", corpus_release_diff, sql=CORPUS_RELEASE_DIFF_ORACLE_SQL
)
