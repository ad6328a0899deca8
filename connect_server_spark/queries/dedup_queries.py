"""Driver queries for the dedup operator family (LLM-pipeline operators;
VERDICT r1 item 4) with DuckDB oracle twins.

Duplicates are planted deterministically so both engines see the same
corpus: every ``doc_id % 5 == 0`` document reappears uppercased with extra
whitespace (exact dup after normalization), and every ``doc_id % 10 == 0``
document reappears with its first two words dropped (Jaccard ≈ 0.85-0.95
near-dup).

The MinHash query is oracle-gated against *brute-force* Jaccard: with 16
bands × 2 rows, the probability of LSH missing a planted pair (J ≥ 0.8)
is < 1e-11, and random word-soup pairs sit at J ≈ 0.04 where the verify
stage rejects them — so LSH output == brute force, deterministically in
practice. The oracle's cross join is the *oracle's* cost at sf0.01 only;
the Spark plan itself must stay cartesian-free (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.execution import stage_boundary

from connect_server_spark.operators.dedup import (
    exact_dedup,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from connect_server_spark.queries._fixtures import (
    cache_root,
    fixture_ready,
)
from connect_server_spark.registry import register
from connect_server_spark.tables import load_table, spread_scan


def _corpus_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("  ")).alias("text"),
    )
    return docs.unionByName(dups)


_CORPUS_EXACT_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, concat(upper(text), '  ') AS text
      FROM documents WHERE doc_id % 5 = 0
"""


def _incremental_exact_batch(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(new batch, existing corpus) for ingest-time exact dedup: the batch
    mixes exact copies of known documents (uppercased + padded — same
    digest after normalization, must drop) with genuinely novel texts
    (suffix-extended, must survive)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    known_again = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("  ")).alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" entirely novel suffix")).alias("text"),
    )
    return known_again.unionByName(novel), docs


_INCREMENTAL_EXACT_BATCH_SQL = """
      SELECT doc_id + 100000 AS doc_id, concat(upper(text), '  ') AS text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             concat(text, ' entirely novel suffix') AS text
      FROM documents WHERE doc_id % 7 = 3
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, both shapes the reference pipeline needs, in one
    gated result (r4 review: the incremental family must sit inside the
    oracle gate window, so it is FOLDED into this query — the protocol
    used for repetition/PII in ``text_analysis``):

    * ``family='group'`` — whole-corpus grouping by md5 of normalized
      text: canonical id, copy count, member ids.
    * ``family='new_batch_survivor'`` — ingest-time anti-join: new-batch
      documents whose digest is absent from the existing corpus."""
    from connect_server_spark.operators.dedup import exact_dedup_against

    groups = exact_dedup(_corpus_exact(spark, sf_dir), "doc_id", "text").select(
        F.lit("group").alias("family"),
        "canonical_id",
        "n_copies",
        "member_ids_csv",
    )
    new, corpus = _incremental_exact_batch(spark, sf_dir)
    survivors = exact_dedup_against(new, corpus, "doc_id", "text").select(
        F.lit("new_batch_survivor").alias("family"),
        F.col("doc_id").alias("canonical_id"),
        F.lit(None).cast("long").alias("n_copies"),
        F.lit(None).cast("string").alias("member_ids_csv"),
    )
    return groups.unionByName(survivors)


register(
    "dedup_exact",
    dedup_exact,
    sql=f"""
    WITH corpus AS ({_CORPUS_EXACT_SQL}),
    normed AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM corpus
    ),
    groups AS (
      SELECT
        'group' AS family,
        min(doc_id) AS canonical_id,
        count(*) AS n_copies,
        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS member_ids_csv
      FROM normed
      GROUP BY norm
    ),
    batch AS ({_INCREMENTAL_EXACT_BATCH_SQL}),
    batch_normed AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM batch
    ),
    known AS (
      SELECT DISTINCT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
      FROM documents
    ),
    survivors AS (
      SELECT 'new_batch_survivor' AS family,
             b.doc_id AS canonical_id,
             CAST(NULL AS BIGINT) AS n_copies,
             CAST(NULL AS VARCHAR) AS member_ids_csv
      FROM batch_normed b
      WHERE NOT EXISTS (SELECT 1 FROM known k WHERE k.norm = b.norm)
    )
    SELECT * FROM groups
    UNION ALL
    SELECT * FROM survivors
    """,
)


def _corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+\s+\S+\s+", "").alias("text"),
    )
    return docs.unionByName(near)


_CORPUS_NEARDUP_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text
      FROM documents WHERE doc_id % 10 = 0
"""

# Shared shingle derivation (word 3-grams, distinct, normalized text).
_SHINGLES_SQL = """
      SELECT doc_id,
        list_distinct(
          list_transform(
            range(1, greatest(len(w) - 1, 2)),
            i -> concat_ws(' ', w[i], w[i+1], w[i+2])
          )
        ) AS shingles
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
        FROM corpus
      )
"""


def dedup_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup at Jaccard ≥ 0.5 (verified exactly), both
    ingest shapes in one gated result (r4 review: the incremental family
    must sit inside the oracle gate window — folded, like
    repetition/PII into ``text_analysis``):

    * ``family='self'`` — whole-corpus self near-dup pairs.
    * ``family='incremental'`` — daily-ingest shape: every ``doc_id % 7
      == 0`` document plays the NEW batch against the rest as the
      existing corpus; two-table band join, the corpus never
      self-paired. Gated against *brute-force cross Jaccard* exactly
      like the self family (16 bands × 2 rows: planted pairs at
      J ≥ 0.8 are missed with p < 1e-9; random pairs sit at J ≈ 0.04).

    Shingle-once: the two families branch four plans off the same corpus
    (self buckets, self verify, incremental buckets, incremental verify),
    and Spark does not dedupe common subplans across branches — so the
    text is parsed into shingle arrays ONCE behind a lazy
    ``localCheckpoint`` and every branch reuses the materialized arrays.
    (At 100 TB scope this is the same tradeoff as the persisted shingle
    store ``write_minhash_index`` makes durable: shingles land on
    executor-local disk, ~2-3× the text bytes spread across the cluster,
    in exchange for not re-running the regex parse per branch.)"""
    from connect_server_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_neardup_against_shingled,
        word_shingles,
    )

    corpus = _corpus_neardup(spark, sf_dir)
    shingled = corpus.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("_sh")
    ).transform(stage_boundary)
    self_pairs = jaccard_verify(
        lsh_candidate_pairs(shingled, "doc_id", "_sh", num_hashes=32, bands=16),
        shingled,
        "doc_id",
        "_sh",
        threshold=0.5,
    ).select(F.lit("self").alias("family"), "id_a", "id_b", "jaccard")
    incremental = minhash_neardup_against_shingled(
        shingled.filter(F.col("doc_id") % 7 == 0),
        shingled.filter(F.col("doc_id") % 7 != 0),
        "doc_id",
        "_sh",
        threshold=0.5,
        num_hashes=32,
        bands=16,
    ).select(
        F.lit("incremental").alias("family"),
        F.col("new_id").alias("id_a"),
        F.col("corpus_id").alias("id_b"),
        "jaccard",
    )
    return self_pairs.unionByName(incremental)


register(
    "dedup_neardup_minhash",
    dedup_neardup_minhash,
    sql=f"""
    WITH corpus AS ({_CORPUS_NEARDUP_SQL}),
    sets_ AS ({_SHINGLES_SQL})
    SELECT
      'self' AS family,
      a.doc_id AS id_a,
      b.doc_id AS id_b,
      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) AS jaccard
    FROM sets_ a JOIN sets_ b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    UNION ALL
    SELECT
      'incremental' AS family,
      n.doc_id AS id_a,
      c.doc_id AS id_b,
      CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
        / (len(n.shingles) + len(c.shingles)
           - len(list_intersect(n.shingles, c.shingles))) AS jaccard
    FROM sets_ n JOIN sets_ c
      ON n.doc_id % 7 = 0 AND c.doc_id % 7 <> 0
    WHERE CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
        / (len(n.shingles) + len(c.shingles)
           - len(list_intersect(n.shingles, c.shingles))) >= 0.5
    """,
)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: MinHash pairs → connected
    components (min-label propagation) → per-document canonical
    assignment over the FULL corpus. The oracle recomputes components
    with brute-force Jaccard pairs and a recursive transitive closure —
    two entirely different algorithms agreeing on every label."""
    from connect_server_spark.operators.clustering import assign_clusters

    corpus = _corpus_neardup(spark, sf_dir)
    pairs = minhash_neardup_pairs(
        corpus, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16
    )
    return assign_clusters(corpus, pairs, "doc_id").select(
        "doc_id", "component", "cluster_size", "is_canonical"
    )


register(
    "dedup_clusters",
    dedup_clusters,
    sql=f"""
    WITH RECURSIVE corpus AS ({_CORPUS_NEARDUP_SQL}),
    sets_ AS ({_SHINGLES_SQL}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sets_ a JOIN sets_ b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(id, r) AS (
      SELECT a AS id, a AS r FROM edges
      UNION
      SELECT e.a AS id, x.r
      FROM edges e JOIN reach x ON e.b = x.id
    ),
    comp AS (
      SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    ),
    assigned AS (
      SELECT c.doc_id, coalesce(k.component, c.doc_id) AS component
      FROM corpus c LEFT JOIN comp k ON c.doc_id = k.doc_id
    ),
    sizes AS (
      SELECT component, count(*) AS cluster_size
      FROM assigned GROUP BY component
    )
    SELECT a.doc_id, a.component, s.cluster_size,
           a.doc_id = a.component AS is_canonical
    FROM assigned a JOIN sizes s ON a.component = s.component
    """,
)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup with lossless rarest-first prefix
    filtering co-blocked on source — the signature-free exact dedup path:
    output is provably identical to brute force at the threshold. Same
    planted corpus as MinHash, but candidates come from shared
    globally-rare shingle hashes, not LSH bands. (The DuckDB twin uses
    its own complete method — size-bucket blocking — so the two engines
    agree on the RESULT through entirely different candidate schemes.)"""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("source"),
        F.regexp_replace(F.col("text"), r"^\S+\s+\S+\s+", "").alias("text"),
    )
    corpus = docs.unionByName(near)
    return ngram_jaccard_pairs(
        corpus, "doc_id", "text", block_col="source", threshold=0.5
    )


register(
    "dedup_ngram_jaccard",
    dedup_ngram_jaccard,
    sql="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, source,
             regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text
      FROM documents WHERE doc_id % 10 = 0
    ),
    normed AS (
      SELECT doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM corpus
    ),
    sets_ AS (
      SELECT doc_id, source,
        CASE WHEN len(w) >= 3 THEN
          list_distinct(
            list_transform(range(1, greatest(len(w) - 1, 2)),
              i -> concat_ws(' ', w[i], w[i+1], w[i+2])))
        ELSE [array_to_string(w, ' ')] END AS shingles
      FROM normed
    ),
    buckets AS (
      SELECT doc_id, source, shingles,
             unnest([length(bin(len(shingles))) - 1,
                     length(bin(len(shingles)))]) AS bkt
      FROM sets_
    )
    SELECT DISTINCT
      a.doc_id AS id_a,
      b.doc_id AS id_b,
      CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) AS jaccard
    FROM buckets a
    JOIN buckets b
      ON a.bkt = b.bkt AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    """,
)


def dedup_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-banded near-dup pairs (hamming ≤ 3 over 64-bit
    fingerprints of word 2-gram sets). Rows-only check: SimHash's bit
    votes are engine-specific (xxhash64), not SQL-portable."""
    return simhash_neardup_pairs(
        _corpus_neardup(spark, sf_dir), "doc_id", "text", max_hamming=3
    )


register("dedup_neardup_simhash", dedup_neardup_simhash, defer=True)


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-ingest) MinHash near-dup, standalone (bench
    isolation; the ORACLE-gated twin is the ``incremental`` family folded
    into ``dedup_neardup_minhash``): every ``doc_id % 7 == 0`` document
    plays the NEW batch, the rest the existing corpus — band-joined as
    two tables (the corpus is never self-paired). Cross-pairs-of-union
    equivalence is additionally pinned in ``tests/test_dedup.py``.
    Shingle-once via lazy localCheckpoint, as in
    :func:`dedup_neardup_minhash` (bucket and verify branches reuse the
    materialized shingle arrays instead of re-parsing text)."""
    from connect_server_spark.operators.dedup import (
        minhash_neardup_against_shingled,
        word_shingles,
    )

    corpus = _corpus_neardup(spark, sf_dir)
    shingled = corpus.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("_sh")
    ).transform(stage_boundary)
    return minhash_neardup_against_shingled(
        shingled.filter(F.col("doc_id") % 7 == 0),
        shingled.filter(F.col("doc_id") % 7 != 0),
        "doc_id",
        "_sh",
        threshold=0.5,
    )


register("dedup_incremental_minhash", dedup_incremental_minhash, defer=True)


def dedup_incremental_minhash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest FAST path: same split as
    ``dedup_incremental_minhash`` but the corpus (id, band, band_hash)
    index and shingle store are persisted once (cached per scale factor
    under /tmp; bench's warm-up pass pays the build) and every batch
    thereafter joins the pre-built index — O(batch) work, no corpus-text
    rescan. Rows-only; output equivalence to the recompute path is pinned
    in ``tests/test_dedup.py`` along with a plan test that the batch
    never reads corpus text."""
    from connect_server_spark.operators.dedup import (
        minhash_neardup_against_index,
        write_minhash_index,
    )

    from connect_server_spark.tables import dataset_cache_key

    # content-keyed (path+mtime+size): a regenerated dataset or a
    # same-basename sf_dir can never be served a stale index
    key = dataset_cache_key(sf_dir, "documents")
    # v2: the stores became path-addressed BUCKETED tables (shingles by
    # id, band index by band_hash) so the probe joins are Exchange-free
    # on the store side by layout — v1 plain-parquet caches are stale
    root = f"{cache_root(spark, 'connect_server_spark_minhash_index_v2')}/{key}"
    index_path, shingle_path = f"{root}/band_index", f"{root}/shingles"
    corpus = _corpus_neardup(spark, sf_dir)
    existing = corpus.filter(F.col("doc_id") % 7 != 0)
    if not (
        fixture_ready(spark, f"{index_path}/_SUCCESS")
        and fixture_ready(spark, f"{shingle_path}/_SUCCESS")
    ):
        write_minhash_index(
            existing, "doc_id", "text", index_path, shingle_path
        )
    return minhash_neardup_against_index(
        corpus.filter(F.col("doc_id") % 7 == 0),
        spark,
        index_path,
        shingle_path,
        "doc_id",
        "text",
        threshold=0.5,
    )


register(
    "dedup_incremental_minhash_indexed", dedup_incremental_minhash_indexed, defer=True
)


def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact-digest gate, standalone (bench isolation; the
    ORACLE-gated twin is the ``new_batch_survivor`` family folded into
    ``dedup_exact``): survivors are anti-joined on 16-byte digests."""
    from connect_server_spark.operators.dedup import exact_dedup_against

    new, corpus = _incremental_exact_batch(spark, sf_dir)
    return exact_dedup_against(new, corpus, "doc_id", "text").select("doc_id")


register("dedup_incremental_exact", dedup_incremental_exact, defer=True)


def _emb_neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup corpus: every 5th vector, plus planted twins
    (id + 1000000) for every 25th — the twin is the parent plus 0.25× its
    cyclic shift, cosine ≈ 0.97 vs the parent while unrelated pairs stay
    below ~0.55. Double-precision twin math is reproduced bit-identically
    in the oracle."""
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", "embedding")
    )
    v = F.col("embedding")
    shifted = F.concat(F.slice(v, 2, F.size(v) - 1), F.slice(v, 1, 1))
    twin = F.zip_with(
        v, shifted, lambda x, y: x.cast("double") + F.lit(0.25) * y.cast("double")
    )
    base = emb.select(
        "vec_id", F.transform(v, lambda x: x.cast("double")).alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), twin.alias("embedding")
    )
    return base.unionByName(twins)


_EMB_CORPUS_SQL = """
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings WHERE vec_id % 5 = 0
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(range(1, len(embedding) + 1),
               i -> CAST(embedding[i] AS DOUBLE)
                    + 0.25 * CAST(embedding[CASE WHEN i = len(embedding)
                                            THEN 1 ELSE i + 1 END] AS DOUBLE))
               AS embedding
      FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 25 = 0
"""


def dedup_neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact baseline (all-pairs on the bounded
    subset — the oracle-checkable twin of the LSH path)."""
    from connect_server_spark.operators.dedup import embedding_neardup_exact

    return embedding_neardup_exact(
        _emb_neardup_corpus(spark, sf_dir), threshold=0.9
    )


register(
    "dedup_neardup_embedding",
    dedup_neardup_embedding,
    sql=f"""
    WITH corpus AS ({_EMB_CORPUS_SQL}),
    scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> a.embedding[i] * b.embedding[i]))
               / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.embedding, x -> x * x)))),
               6) AS cosine
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
    """,
)


def dedup_neardup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, SRP-LSH scale path (rows-only: recall is
    probabilistic; the exact twin above is the gated baseline)."""
    from connect_server_spark.operators.dedup import embedding_neardup_lsh

    return embedding_neardup_lsh(
        _emb_neardup_corpus(spark, sf_dir), threshold=0.9, tables=8, bits=10
    )


register("dedup_neardup_embedding_lsh", dedup_neardup_embedding_lsh, defer=True)


def dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-cosine near-dup through the persisted IVF
    index — the daily-ingest shape for the embedding modality (the
    minhash twin is ``dedup_incremental_minhash_indexed``). Every 25th
    corpus vector's planted twin plays the NEW batch against the base
    corpus, whose IVF index is built once (cached per scale factor under
    /tmp; bench's warm-up pays the build). Rows-only: IVF recall is
    probabilistic at nprobe < nlist; nprobe = nlist equivalence to the
    exact all-pairs check is pinned in ``tests/test_dedup.py``."""
    from connect_server_spark.operators.dedup import (
        embedding_neardup_against_index,
    )
    from connect_server_spark.operators.similarity import write_ivf_index

    from connect_server_spark.tables import dataset_cache_key

    key = dataset_cache_key(sf_dir, "embeddings")
    index_path = (
        f"{cache_root(spark, 'connect_server_spark_emb_ivf_index_v2')}/{key}"
    )
    corpus = _emb_neardup_corpus(spark, sf_dir)
    base = corpus.filter(F.col("vec_id") < 1000000)
    if not fixture_ready(spark, f"{index_path}/cells/_SUCCESS"):
        # fixed target cell size (~256), floor 16: keeps probe work
        # O(nprobe * cell_size) as the store grows (similarity_queries
        # twin has the full sizing argument)
        write_ivf_index(base, index_path, nlist=max(16, base.count() // 256))
    batch = corpus.filter(F.col("vec_id") >= 1000000)
    return embedding_neardup_against_index(
        batch, spark, index_path, threshold=0.9, nprobe=4
    )


register("dedup_incremental_embedding", dedup_incremental_embedding, defer=True)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (Lee et al. exact-substring) duplicate spans over
    the documents table at 8-token windows: the boilerplate-cutting
    signal document-level dedup misses. Rows-only by gate capacity —
    the pipeline is md5-keyed and fully relational, so its exact DuckDB
    mirror runs in ``tests/test_dedup.py`` instead of the driver gate."""
    from connect_server_spark.operators.dedup import duplicated_ngram_spans

    # window-key hashing is scan-stage CPU: spread the one-split local
    # scan (r12, guide §2.5; measured 1.3× at sf0.1 — a no-op at
    # production split counts). The other _corpus_neardup consumers
    # measured FLAT-to-slower under the same spread (their wall is in
    # the post-shuffle pair stages), so the spread sits here, not in
    # the shared fixture.
    docs = spread_scan(_corpus_neardup(spark, sf_dir))
    return duplicated_ngram_spans(docs, "doc_id", "text", k=8)


# Rows-only by gate capacity; the SAME SQL runs verbatim in
# tests/test_dedup.py, and the constant lives here so a future rotation
# can promote it unchanged (the epoch-shuffle pattern; r13 pool).
_SPAN_K = 8
_SPAN_WIN_COLS = ", ".join(f"w[i+{j}]" for j in range(_SPAN_K))
DEDUP_SUBSTRING_SPANS_ORACLE_SQL = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') AS text
      FROM documents WHERE doc_id % 10 = 0
    ),
    toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM corpus
    ),
    win AS (
      SELECT doc_id, i - 1 AS pos, md5(concat_ws(' ', {_SPAN_WIN_COLS})) AS key
      FROM toks, unnest(range(1, len(w) - {_SPAN_K} + 2)) AS u(i)
      WHERE len(w) >= {_SPAN_K}
    ),
    dup AS (SELECT key FROM win GROUP BY key HAVING count(*) >= 2),
    flagged AS (
      SELECT doc_id, pos FROM win WHERE key IN (SELECT key FROM dup)
    ),
    lagged AS (
      SELECT doc_id, pos,
        CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_K}
             THEN 1 ELSE 0 END AS new_span
      FROM flagged
    ),
    grp AS (
      SELECT doc_id, pos,
        sum(new_span)
          OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
      FROM lagged
    )
    SELECT doc_id AS id, min(pos) AS span_start,
           max(pos) + {_SPAN_K} AS span_end,
           count(*) AS n_windows
    FROM grp GROUP BY doc_id, g
"""

register("dedup_substring_spans", dedup_substring_spans, defer=True)


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): prune SEMANTIC
    duplicates — embeddings whose cosine exceeds a high threshold —
    keeping one canonical per cluster. Composed entirely from existing
    scale paths: SRP-LSH candidate pairs (equi-join, never all-pairs)
    → exact-cosine verify → pointer-jumping connected components →
    skew-proof canonical assignment over the full embedding table.
    Rows-only (SRP is a numpy UDF); the LSH-vs-exact and
    clusters-vs-union-find gates run in ``tests/test_dedup.py``."""
    from connect_server_spark.operators.clustering import assign_clusters
    from connect_server_spark.operators.dedup import embedding_neardup_lsh

    emb = load_table(spark, "embeddings", sf_dir)
    # 16 tables x 8 bits: collision probability >= 0.9999 at cosine 0.95
    pairs = embedding_neardup_lsh(
        emb, threshold=0.95, tables=16, bits=8
    )
    return assign_clusters(
        emb.select("vec_id", "label"), pairs, "vec_id"
    ).select("vec_id", "label", "component", "cluster_size", "is_canonical")


register("dedup_semantic", dedup_semantic, defer=True)


def dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest leg of substring-duplicate detection: batch
    documents (every ``doc_id % 7 == 0``) probe the PERSISTED corpus
    window store (bucketed by key — built once per dataset, cached under
    /tmp) for spans duplicating the corpus or repeating internally.
    Rows-only; union-reference equivalence + store-layout plan pin in
    ``tests/test_dedup.py``."""
    from connect_server_spark.operators.dedup import (
        duplicated_spans_against_index,
        write_window_index,
    )
    from connect_server_spark.tables import dataset_cache_key

    key = dataset_cache_key(sf_dir, "documents")
    ix = f"{cache_root(spark, 'connect_server_spark_window_index_v1')}/{key}"
    corpus = _corpus_neardup(spark, sf_dir)
    existing = corpus.filter(F.col("doc_id") % 7 != 0)
    if not fixture_ready(spark, f"{ix}/_SUCCESS"):
        write_window_index(existing, "doc_id", "text", ix, k=8)
    return duplicated_spans_against_index(
        corpus.filter(F.col("doc_id") % 7 == 0), spark, ix, "doc_id", "text", k=8
    )


register("dedup_incremental_spans", dedup_incremental_spans, defer=True)


def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (Schleimer et al. 2003, the
    MOSS scheme) over the planted corpus: positional token 4-gram md5
    hashes, min per 4-hash sliding window, exact fingerprint-set Jaccard
    at 0.5. Deterministic by construction (no probabilistic signature —
    the winnowing guarantee makes any >= 7-token shared run visible), so
    it complements MinHash (probabilistic, sized for corpus scale) and
    exact n-gram Jaccard (full shingle sets): same candidates-by-
    equi-join shape, bounded fingerprint density ~2/(window+1).
    Rows-only: the sliding-window min selection has no DuckDB twin; the
    hashlib.md5 python mirror and the guarantee pin run in
    ``tests/test_dedup.py``."""
    from connect_server_spark.operators.dedup import winnow_neardup_pairs

    return winnow_neardup_pairs(
        _corpus_neardup(spark, sf_dir), "doc_id", "text",
        k=4, window=4, threshold=0.5,
    ).orderBy("id_a", "id_b")


register("dedup_winnow", dedup_winnow, defer=True)


def dedup_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest winnowing: the batch (every 7th document) probes the
    persisted corpus fingerprint index (cached per dataset under /tmp;
    bench's warm-up pass pays the build) — O(batch) work, no corpus-text
    rescan, hot fingerprints df-capped at probe time against the LIVE
    store. Rows-only; equivalence to recomputing winnow_neardup_pairs
    over the union is pinned in ``tests/test_dedup.py`` along with the
    store-side-Exchange-free plan check."""
    from connect_server_spark.operators.dedup import (
        winnow_neardup_against_index,
        write_winnow_index,
    )
    from connect_server_spark.tables import dataset_cache_key

    key = dataset_cache_key(sf_dir, "documents")
    index_path = (
        f"{cache_root(spark, 'connect_server_spark_winnow_index_v1')}/{key}"
    )
    corpus = _corpus_neardup(spark, sf_dir)
    existing = corpus.filter(F.col("doc_id") % 7 != 0)
    if not fixture_ready(spark, f"{index_path}/posts/_SUCCESS"):
        write_winnow_index(existing, "doc_id", "text", index_path)
    return winnow_neardup_against_index(
        corpus.filter(F.col("doc_id") % 7 == 0),
        spark,
        index_path,
        "doc_id",
        "text",
        threshold=0.5,
    )


register("dedup_incremental_winnow", dedup_incremental_winnow, defer=True)
