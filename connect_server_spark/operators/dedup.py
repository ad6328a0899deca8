"""Deduplication operators for large-scale corpora: exact digest,
MinHash-LSH, exact n-gram Jaccard, SimHash, embedding cosine (all-pairs,
SRP-LSH and IVF-indexed), duplicated substring spans, and winnowing
fingerprints — each with an incremental probe against a persisted store
where the family has one.

These are the LLM-training-pipeline operators the reference lacks but a
100 TB corpus engine needs. Design rules:

* **Never all-pairs.** Candidate generation is always a bucketed equi-join
  (LSH band hash, SimHash chunk, or rarest-first prefix hash); the only
  O(n²) work is within buckets, which banding/prefix-ordering keeps tiny.
  The plan must never contain a CartesianProduct.
* **Shuffle-light.** MinHash signatures and SimHash fingerprints are pure
  per-row column expressions over the shingle array (``array_min`` /
  ``transform`` over ``xxhash64``) — zero shuffle until the band-bucket
  join, whose key cardinality is bounded by design.
* **Exact dedup groups by digest, not by text** — the shuffle key is 16
  bytes instead of the document body.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from connect_server_spark.execution import stage_boundary

from connect_server_spark.functions.expr import let_col
from connect_server_spark.memo import memo_expr

__all__ = [
    "normalize_text",
    "word_shingles",
    "exact_dedup",
    "exact_dedup_against",
    "minhash_signature",
    "minhash_band_buckets",
    "lsh_candidate_pairs",
    "jaccard_verify",
    "minhash_neardup_pairs",
    "minhash_neardup_against",
    "minhash_neardup_against_shingled",
    "write_minhash_index",
    "minhash_neardup_against_index",
    "ngram_jaccard_candidates",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_fingerprints",
    "simhash_neardup_pairs",
    "embedding_neardup_exact",
    "embedding_neardup_lsh",
    "embedding_neardup_against_index",
    "duplicated_ngram_spans",
    "cut_duplicate_spans",
    "write_window_index",
    "duplicated_spans_against_index",
    "winnow_fingerprints",
    "winnow_neardup_pairs",
    "write_winnow_index",
    "winnow_neardup_against_index",
]


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


@memo_expr
def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text (the unit set for
    Jaccard similarity). Pure expression — evaluated in the scan stage.

    The token array is let-bound: the gram lambda references it 3× per
    index, and inlining would re-split (and re-regex) the whole document
    per reference."""

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        # Docs shorter than n words contribute their whole text as one shingle.
        return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
            F.array(F.concat_ws(" ", toks))
        )

    return let_col(F.split(normalize_text(text), " "), build)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: canonical (min) id, copy count,
    and the sorted duplicate-id list as CSV.

    Groups by ``md5`` digest of the normalized text so the shuffle carries
    a 16-byte key, not document bodies; ``min``/``count``/``collect_list``
    all combine map-side.
    """
    digest = F.md5(normalize_text(F.col(text_col))).alias("_digest")
    return (
        df.select(digest, F.col(id_col))
        .groupBy("_digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.array_join(F.array_sort(F.collect_list(id_col)), ",").alias("member_ids_csv"),
        )
        .select("canonical_id", "n_copies", "member_ids_csv")
    )


def exact_dedup_against(
    new: DataFrame, corpus: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Ingest-time exact dedup: keep only NEW documents whose normalized
    text digest is absent from the existing corpus — a left-anti join on
    16-byte md5 digests (the S8 insert-guard discipline applied to
    content rather than keys). Neither side's bodies cross the shuffle;
    at 100 TB the corpus side reduces to its distinct digest set, which
    can be precomputed and persisted. Intra-batch copies are NOT
    collapsed here (run :func:`exact_dedup` on the survivors)."""
    digest = F.md5(normalize_text(F.col(text_col))).alias("_digest")
    seen = corpus.select(digest).distinct()
    return (
        new.withColumn("_digest", F.md5(normalize_text(F.col(text_col))))
        .join(seen, "_digest", "left_anti")
        .drop("_digest")
    )


def _seeded_hash(seed: int):
    """One-argument lambda factory — a ``lambda s, i=i:`` default-arg trick
    would make PySpark pass the array *index* as the second argument."""
    return lambda s: F.xxhash64(s, F.lit(seed))


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: array of ``num_hashes`` minima of seeded
    ``xxhash64`` over the shingle set. Per-row expression, no shuffle.

    This is the *semantic spec* (and right when the signature is one
    column among many). The hot path is :func:`minhash_band_buckets`:
    higher-order-function lambdas are interpreted in Spark, so
    ``num_hashes`` ``transform``+``array_min`` passes per row cost ~5×
    the codegen'd aggregation."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _seeded_hash(i)))
            for i in range(num_hashes)
        ]
    )


@memo_expr
def _minhash_agg_exprs(num_hashes: int) -> tuple:
    """The ``num_hashes`` seeded-min aggregate Columns of
    :func:`minhash_band_buckets`, memoized per hash count: each build is
    ~130 py4j round trips (0.3–0.5 s of driver wall, measured), the
    trees are pure functions of ``num_hashes`` over the FIXED
    intermediate names ``_sh``/``_m{i}``, and Column objects are
    immutable — one tree serves every plan for the process lifetime."""
    return tuple(
        F.min(F.xxhash64(F.col("_sh"), F.lit(i))).alias(f"_m{i}")
        for i in range(num_hashes)
    )


@memo_expr
def _minhash_band_keys(bands: int, rows_per_band: int):
    """The band-key array Column over the ``_m{i}`` signature columns,
    memoized per (bands, rows_per_band) — same rationale as
    :func:`_minhash_agg_exprs` (~60 py4j calls per rebuild)."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col(f"_m{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(id, band, band_hash) rows with band keys identical to
    ``_band_hashes(minhash_signature(...))``, computed as
    explode(shingles) → groupBy(id) with one codegen'd seeded ``min`` per
    hash function.

    Scale: one pass over the exploded shingles; the shuffle after
    map-side partial aggregation is one row of ``num_hashes`` longs per
    document, independent of document length — and every min stays in
    whole-stage codegen instead of interpreted HOF lambdas."""
    rows_per_band = num_hashes // bands
    hashes = df.select(
        F.col(id_col), F.explode(F.col(shingles_col)).alias("_sh")
    )
    sig = hashes.groupBy(id_col).agg(*_minhash_agg_exprs(num_hashes))
    band_keys = _minhash_band_keys(bands, rows_per_band)
    return sig.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "band_hash")
    )


def _band_hashes(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Bucket key per band: hash of the band's signature slice."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.element_at(signature, b * rows_per_band + r + 1) for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that collide in ≥1 LSH band.

    Explodes each doc into ``bands`` bucket keys and self-joins on the
    bucket key — an equi-join, broadcast/hash-planned, never a cross join.

    The bucket table feeds BOTH sides of the self-join and Spark does not
    dedupe common subplans, so it is lazily checkpointed: the signature
    aggregation (the expensive pass over every shingle) runs once, and
    what lands on executor-local disk is ``bands`` narrow rows per
    document — id + two longs — independent of document size.
    """
    buckets = minhash_band_buckets(
        df, id_col, shingles_col, num_hashes, bands
    ).transform(stage_boundary)
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over the shingle sets of each candidate pair; keeps
    pairs with ``jaccard >= threshold``. Two hash-joins against the
    (id, shingles) projection — candidates only, never the full corpus²."""
    sets_ = docs.select(F.col(id_col), F.col(shingles_col))
    a = sets_.select(F.col(id_col).alias("id_a"), F.col(shingles_col).alias("_sa"))
    b = sets_.select(F.col(id_col).alias("id_b"), F.col(shingles_col).alias("_sb"))
    return _set_jaccard(pairs.select("id_a", "id_b"), a, b, threshold).select(
        "id_a", "id_b", "jaccard"
    )


def _set_jaccard(
    cands: DataFrame,
    a: DataFrame,
    b: DataFrame,
    threshold: float,
    store: str | None = None,
) -> DataFrame:
    """The exact set-Jaccard verify every set-based family ends in.
    ``cands`` holds two id columns ``(l, r)``; ``a`` is ``(l, _sa)`` and
    ``b`` is ``(r, _sb)``, the set of each id. Returns ``(l, r, shared,
    n_a, n_b, jaccard)`` — set sizes and intersection size as longs —
    for the pairs with ``jaccard >= threshold``.

    The candidates take their left sets first, then the right ones.
    When ``b`` reads the bucketed store at path ``store``, that join
    goes through :func:`~connect_server_spark.storage.probe_side` with
    the store on the left, so the O(corpus) set arrays never move; only
    candidate-sized rows shuffle."""
    from connect_server_spark.storage import probe_side

    l, r = cands.columns
    left = cands.join(a, l)
    if store is None:
        pairs = left.join(b, r)
    else:
        pairs = b.join(probe_side(b.sparkSession, store, left), r)
    shared = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    n_a = F.size("_sa").cast("long")
    n_b = F.size("_sb").cast("long")
    return pairs.select(
        l,
        r,
        shared.alias("shared"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        (shared / (n_a + n_b - shared)).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _posting_candidates(
    store: DataFrame, path: str, batch: DataFrame, key: str
) -> DataFrame:
    """Distinct ``(new_id, corpus_id)`` candidates of an indexed probe:
    the batch's ``(new_id, key)`` rows joined to the ``(corpus_id, key)``
    postings of the key-bucketed store at ``path`` (the minhash band
    index, the winnow posting store), through
    :func:`~connect_server_spark.storage.probe_side`."""
    from connect_server_spark.storage import probe_side

    return (
        store.join(probe_side(store.sparkSession, path, batch), key)
        .select("new_id", "corpus_id")
        .distinct()
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: shingle → signature → banded
    candidates → exact-Jaccard verify. Returns (id_a, id_b, jaccard)."""
    # r12 (guide §2.4): the (id, shingles) projection feeds the band
    # aggregation AND both sides of the verify join — three evaluations
    # of the shingle split per document without a boundary. The lazy
    # checkpoint computes the shingles once; what verify shuffles is
    # unchanged (it always carried the arrays to the candidates).
    docs = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_shingles")
    ).transform(stage_boundary)
    cands = lsh_candidate_pairs(docs, id_col, "_shingles", num_hashes, bands)
    return jaccard_verify(cands, docs, id_col, "_shingles", threshold)


def minhash_neardup_against(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental near-dup: each NEW document vs an EXISTING corpus —
    the daily-ingest shape. Band buckets are computed for both sides
    with the same seeded hashes, candidates are the band collisions of a
    TWO-TABLE equi-join (the corpus is never self-paired), and only
    candidates reach the exact-Jaccard verify — never O(corpus²)
    re-pairing. This variant recomputes the corpus index from text each
    call (fine for one-shot splits); for repeated daily ingest persist
    the index once with :func:`write_minhash_index` and use
    :func:`minhash_neardup_against_index`, which makes each batch
    O(batch) + the index join instead of an O(corpus) rescan.

    Returns ``(new_id, corpus_id, jaccard)`` with ``jaccard >=
    threshold``. Ids may overlap between the two tables (they are never
    compared for identity)."""
    nd = new.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_sh")
    )
    cd = corpus.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_sh")
    )
    return minhash_neardup_against_shingled(
        nd, cd, id_col, "_sh", threshold, num_hashes, bands
    )


def minhash_neardup_against_shingled(
    new_sh: DataFrame,
    corpus_sh: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """:func:`minhash_neardup_against` from PRE-SHINGLED inputs
    (id, shingles). Callers that branch several dedup families off one
    corpus shingle the text ONCE (and typically ``localCheckpoint`` the
    shingles so the band-bucket pass and the verify pass both reuse the
    materialized arrays instead of re-parsing text per branch — Spark
    does not dedupe common subplans across DataFrame branches)."""
    nb = minhash_band_buckets(
        new_sh, id_col, shingles_col, num_hashes, bands
    ).select(F.col(id_col).alias("new_id"), "band", "band_hash")
    cb = minhash_band_buckets(
        corpus_sh, id_col, shingles_col, num_hashes, bands
    ).select(F.col(id_col).alias("corpus_id"), "band", "band_hash")
    cands = nb.join(cb, ["band", "band_hash"]).select(
        "new_id", "corpus_id"
    ).distinct()
    a = new_sh.select(
        F.col(id_col).alias("new_id"), F.col(shingles_col).alias("_sa")
    )
    b = corpus_sh.select(
        F.col(id_col).alias("corpus_id"), F.col(shingles_col).alias("_sb")
    )
    return _set_jaccard(cands, a, b, threshold).select(
        "new_id", "corpus_id", "jaccard"
    )


def write_minhash_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    shingle_path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    mode: str = "overwrite",
    store_buckets: int = 32,
) -> None:
    """Persist the corpus side of incremental MinHash dedup so a daily
    batch never re-reads corpus TEXT: the O(corpus) shingling +
    signature pass is paid ONCE here, at ingest/backfill time.

    Two artifacts, both written as **path-addressed bucketed tables**
    (:func:`~connect_server_spark.storage.write_bucketed_path`) so the
    probe-time joins are Exchange-free on the store side BY LAYOUT, not
    by broadcast luck:

    * ``shingle_path`` — the (id, shingles) store the verify stage joins
      candidates against (corpus text itself is never needed again),
      bucketed by ``id``: the verify join shuffles only the batch-sized
      candidate rows; the O(corpus) shingle arrays never move, at ANY
      batch size (a broadcast-the-batch design caps the daily batch at
      the driver's memory — this doesn't).
    * ``index_path`` — the (id, band, band_hash) LSH band index,
      bucketed by ``band_hash``: the candidate-generation join shuffles
      only the batch's band rows; the O(corpus·bands) index rows stay
      put.

    The band buckets are derived FROM the persisted shingle store, so the
    corpus is shingled exactly once end-to-end. ``mode="append"`` closes
    the daily-ingest loop: after a batch clears the dedup gate, write its
    survivors into both artifacts — the index grows by O(batch), which is
    the whole point, and tomorrow's batch dedups against today's
    survivors too (round-trip pinned in ``tests/test_dedup.py``).
    Lifecycle: appends accrete bucket-suffixed small files; compact with
    :func:`~connect_server_spark.storage.compact_bucketed` (never plain
    ``compact`` — it would strip the bucket-id file names).
    Consumed by :func:`minhash_neardup_against_index`; seeds are
    deterministic (``xxhash64(·, i)``), so index and batch signatures
    agree across sessions by construction."""
    from connect_server_spark.storage import read_bucketed, write_bucketed_path

    spark = corpus.sparkSession
    shingled = corpus.select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_n).alias("shingles"),
    )
    if mode == "append":
        # appending: the new rows are batch-sized — derive buckets
        # directly (reading the whole store back would be O(corpus))
        shingled = shingled.transform(stage_boundary)
        write_bucketed_path(
            shingled, shingle_path, id_col, store_buckets, mode="append"
        )
        buckets = minhash_band_buckets(
            shingled, id_col, "shingles", num_hashes, bands
        )
        write_bucketed_path(
            buckets, index_path, "band_hash", store_buckets, mode="append"
        )
        return
    write_bucketed_path(shingled, shingle_path, id_col, store_buckets, mode=mode)
    shingles = read_bucketed(spark, shingle_path, id_col, store_buckets)
    buckets = minhash_band_buckets(
        shingles, id_col, "shingles", num_hashes, bands
    )
    write_bucketed_path(buckets, index_path, "band_hash", store_buckets, mode=mode)


def minhash_neardup_against_index(
    new: DataFrame,
    spark,
    index_path: str,
    shingle_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    store_buckets: int = 32,
) -> DataFrame:
    """Incremental near-dup against a PRE-BUILT corpus index (written by
    :func:`write_minhash_index`): the daily-ingest fast path. Per batch
    the plan computes signatures for the NEW documents only, equi-joins
    the persisted (id, band, band_hash) index, and verifies candidates
    against the persisted shingle store — no corpus text is scanned, no
    corpus shingle or signature is recomputed, and **neither store-side
    scan feeds an Exchange** (both stores are bucketed on their join
    key, so only batch-sized rows shuffle — asserted on the physical
    plan in ``tests/test_dedup.py``). Ingest cost is O(batch) + the
    index join, vs :func:`minhash_neardup_against`'s O(corpus) rescan.
    Both store joins follow the size-adaptive store-join rule
    (:func:`~connect_server_spark.storage.probe_side`); its at-scale,
    hinted plan is pinned with broadcast disabled in
    ``tests/test_dedup.py``.

    The candidate join keys on ``band_hash`` alone — the hash already
    commits to the band (``xxhash64(lit(band), slice)``), and a
    cross-band 64-bit collision merely adds a candidate that the exact
    Jaccard verify scores anyway, so the output contract is unchanged:
    ``(new_id, corpus_id, jaccard)`` with ``jaccard >= threshold``,
    exactly :func:`minhash_neardup_against`'s."""
    from connect_server_spark.storage import read_bucketed

    nd = new.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("_sh")
    )
    nb = minhash_band_buckets(nd, id_col, "_sh", num_hashes, bands).select(
        F.col(id_col).alias("new_id"), "band_hash"
    )
    cb = read_bucketed(spark, index_path, "band_hash", store_buckets).select(
        F.col(id_col).alias("corpus_id"), "band_hash"
    )
    cands = _posting_candidates(cb, index_path, nb, "band_hash")
    a = nd.select(F.col(id_col).alias("new_id"), F.col("_sh").alias("_sa"))
    b = (
        read_bucketed(spark, shingle_path, id_col, store_buckets)
        .select(F.col(id_col).alias("corpus_id"), F.col("shingles").alias("_sb"))
        # a replayed mode="append" ingest re-writes IDENTICAL shingle
        # rows (at-least-once); without this the verify join would emit
        # one pair per duplicate store row. Exchange-free by layout —
        # the store is bucketed on the id (same pattern as BM25's
        # doclens and the IVF cell store).
        .dropDuplicates(["corpus_id"])
    )
    return _set_jaccard(cands, a, b, threshold, store=shingle_path).select(
        "new_id", "corpus_id", "jaccard"
    )


def ngram_jaccard_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_block_rows: int | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for exact n-gram Jaccard near-dup via
    LOSSLESS prefix filtering (Bayardo, Ma & Srikant, "Scaling Up All
    Pairs Similarity Search", WWW 2007); see :func:`ngram_jaccard_pairs`
    for the end-to-end guarantees. Exposed separately so candidate counts
    are testable.

    Prefix filter: order every shingle universe by ``xxhash64`` (any
    consistent total order works) and keep each document's first
    ``|S| - ⌈t·|S|⌉ + 1`` hashes. ``J(A,B) >= t`` implies
    ``|A∩B| >= t·|A∪B| >= ⌈t·max(|A|,|B|)⌉``, so an intersection that
    large cannot hide entirely inside both documents' excluded suffixes
    (each suffix holds only ``⌈t·|S|⌉ - 1`` elements) — every qualifying
    pair therefore shares at least one PREFIX hash, and the equi-join on
    ``(block, prefix_hash)`` is complete. Against a random corpus this
    prunes ~1000× harder than size-bucket blocking: two documents
    collide only when they actually share a shingle, not merely when
    they have similar lengths."""
    if threshold <= 0:
        raise ValueError("threshold must be > 0 for bounded blocking")
    blocks = [block_col] if block_col else []
    shingled = df.select(
        F.col(id_col),
        *[F.col(b) for b in blocks],
        word_shingles(F.col(text_col), shingle_n).alias("_shingles"),
    ).transform(stage_boundary)
    return _ngram_candidates_shingled(
        shingled, id_col, blocks, threshold, max_block_rows
    )


def _ngram_candidates_shingled(
    shingled: DataFrame,
    id_col: str,
    blocks: list[str],
    threshold: float,
    max_block_rows: int | None,
) -> DataFrame:
    """Candidate pairs from a (id, blocks…, _shingles) frame — split out
    (r12) so :func:`ngram_jaccard_pairs` can share ONE checkpointed
    shingle projection between candidate generation and the exact
    verify instead of re-running the shingle split per consumer
    (guide §2.4)."""
    # Canonical order = GLOBAL FREQUENCY ascending (rarest first), hash as
    # tiebreak — the Bayardo et al. ordering. Any consistent total order
    # is lossless; rarest-first additionally starves hot buckets: a
    # boilerplate shingle shared by thousands of documents sorts LAST and
    # never enters a prefix unless a document is nearly all boilerplate,
    # so join-key fan-out tracks how *distinctive* a shingle is, not how
    # common. Candidate rows are NARROW (id + block + one 8-byte hash):
    # the shuffles never carry shingle arrays, and a pair colliding on
    # several prefix hashes dedups BEFORE the expensive intersect.
    # Corner case this cannot bound: a farm of thousands of EXACT copies
    # is quadratic in its own true output — run exact_dedup first.
    exploded = shingled.select(
        F.col(id_col),
        *[F.col(b) for b in blocks],
        F.explode(
            F.transform(F.col("_shingles"), lambda s: F.xxhash64(s))
        ).alias("_h"),
    )
    # r12 (guide §2.4 — compute once, shuffle once): the global shingle
    # frequency is a COUNT WINDOW over `_h`, not a groupBy + self-join.
    # The old freq-table join evaluated the shingle explode+hash subtree
    # TWICE (once under the groupBy's Exchange, once under the join's —
    # different subplans, so ReuseExchange cannot fire) and shuffled it
    # twice on the same key. The window computes `exploded` once behind
    # ONE `_h` Exchange; values are identical (count of rows per hash),
    # and the skew shape is no worse — the old join already co-located
    # every row of a hot shingle in one task.
    from pyspark.sql import Window

    with_cnt = exploded.withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy("_h"))
    )
    per_doc = (
        with_cnt
        .groupBy(id_col, *blocks)
        .agg(
            F.count(F.lit(1)).alias("_nsh"),
            F.array_sort(F.collect_list(F.struct("_cnt", "_h"))).alias("_ord"),
        )
    )
    prefix_len = (
        F.col("_nsh") - F.ceil(F.col("_nsh") * F.lit(float(threshold))) + 1
    ).cast("int")
    buckets = per_doc.select(
        F.col(id_col),
        *[F.col(b) for b in blocks],
        F.col("_nsh"),
        F.explode(
            F.transform(
                F.slice("_ord", F.lit(1), prefix_len), lambda s: s["_h"]
            )
        ).alias("_bkt"),
    )
    if max_block_rows is not None:
        # Skew guard: within a (block, bucket) the candidate count is
        # quadratic in bucket size, so one dominant source with uniform
        # document lengths degenerates. Oversized buckets (> cap rows)
        # are re-routed through banded MinHash-LSH candidate generation —
        # still an equi-join, with per-band bucket sizes bounded by
        # signature collisions rather than document counts. Pairs from
        # oversized buckets are still verified EXACTLY; what is traded is
        # candidate recall inside those buckets (the standard LSH
        # collision probability 1-(1-t^r)^b), never precision.
        counts = buckets.groupBy(*blocks, "_bkt").agg(
            F.count(F.lit(1)).alias("_bkt_rows")
        )
        flagged = buckets.join(counts, on=[*blocks, "_bkt"], how="left")
        buckets = flagged.filter(F.col("_bkt_rows") <= max_block_rows).drop(
            "_bkt_rows"
        )
        oversized_ids = (
            flagged.filter(F.col("_bkt_rows") > max_block_rows)
            .select(id_col)
            .distinct()
        )
    l, r = buckets.alias("l"), buckets.alias("r")
    cond = (F.col("l._bkt") == F.col("r._bkt")) & (
        F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    )
    for b in blocks:
        cond = cond & (F.col(f"l.{b}") == F.col(f"r.{b}"))
    # Exact necessary condition of J >= t, checked on the narrow rows
    # before the expensive verify: max(|A|,|B|)·t <= min(|A|,|B|).
    ratio_ok = (
        F.greatest(F.col("l._nsh"), F.col("r._nsh")) * threshold
        <= F.least(F.col("l._nsh"), F.col("r._nsh"))
    )
    cands = (
        l.join(r, cond & ratio_ok)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    if max_block_rows is not None:
        overflow_docs = shingled.join(
            oversized_ids, on=id_col, how="leftsemi"
        ).select(F.col(id_col), F.col("_shingles"))
        overflow_cands = lsh_candidate_pairs(
            overflow_docs, id_col, "_shingles"
        )
        cands = cands.unionAll(overflow_cands).distinct()
    return cands


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_block_rows: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup via LOSSLESS prefix filtering — the
    signature-free exact path (MinHash trades exactness for fewer
    candidates; this trades candidate count for exactness): output
    provably equals brute force at the threshold.

    Candidates come from an equi-join on rarest-first prefix hashes
    (completeness proof in :func:`ngram_jaccard_candidates` — Bayardo et
    al., WWW 2007), optionally co-blocked on ``block_col`` (e.g.
    source/lang); the only pairwise work is exact Jaccard over
    candidates. Never all-pairs.

    ``collapse_exact`` (default on) closes the exact-copy-farm corner:
    documents with identical normalized text have identical shingle
    sets, so prefix filtering is run on ONE representative per digest
    group and pairs expand back through group membership afterwards —
    candidate generation is O(distinct texts), not O(documents), and a
    farm of thousands of byte-identical copies costs the prefix filter
    nothing. Intra-group pairs (Jaccard exactly 1.0) and cross-group
    expansions are emitted so the output still provably equals brute
    force; the only quadratic term left is the true output itself.

    ``max_block_rows`` is the skew guard for 100 TB corpora: prefix-hash
    buckets larger than the cap (mostly-boilerplate corpora) fall back to
    banded MinHash-LSH candidate generation (exact verify, LSH-recall
    candidates) instead of the quadratic within-bucket join. ``None``
    keeps the fully-lossless path.

    Returns ``(id_a, id_b, jaccard)`` with ``jaccard >= threshold``.
    ``threshold`` must be positive: at t = 0 every pair qualifies and
    only a full cross join could be exact.
    """
    if not collapse_exact:
        cands = ngram_jaccard_candidates(
            df, id_col, text_col, block_col, threshold, shingle_n, max_block_rows
        )
        docs = df.select(
            F.col(id_col),
            word_shingles(F.col(text_col), shingle_n).alias("_shingles"),
        )
        return jaccard_verify(cands, docs, id_col, "_shingles", threshold)

    blocks = [block_col] if block_col else []
    # (id, digest) is narrow — document bodies never enter the digest
    # shuffles. min-per-group (not collect_list) keeps the aggregation
    # buffer O(1) even for a mega-group of copies. The three tables below
    # are each consumed by several downstream branches (the prefix
    # pipeline alone reads rep_docs five times); lazy localCheckpoints
    # truncate lineage so each is computed ONCE at runtime instead of
    # per-reference — the same reuse device as connected_components'
    # edge table.
    keyed = df.select(
        F.col(id_col),
        *[F.col(b) for b in blocks],
        F.md5(normalize_text(F.col(text_col))).alias("_digest"),
    ).transform(stage_boundary)
    reps = keyed.groupBy("_digest", *blocks).agg(F.min(id_col).alias("_rep"))
    member_map = (
        keyed.join(reps, ["_digest", *blocks])
        .select(F.col(id_col), *[F.col(b) for b in blocks], F.col("_rep"))
        .transform(stage_boundary)
    )
    rep_docs = df.join(
        reps.select(F.col("_rep").alias(id_col)), on=id_col, how="leftsemi"
    ).transform(stage_boundary)
    rep_pairs = ngram_jaccard_pairs(
        rep_docs,
        id_col,
        text_col,
        block_col,
        threshold,
        shingle_n,
        max_block_rows,
        collapse_exact=False,
    )
    # Cross-group expansion: J(a, b) = J(rep_a, rep_b) for every a, b in
    # the two groups (identical shingle sets within a group), so each
    # qualifying rep pair fans out through both membership lists. Ids
    # interleave across groups — reorder to keep the id_a < id_b contract.
    ma = member_map.select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("_ma")
    )
    mb = member_map.select(
        F.col("_rep").alias("id_b"), F.col(id_col).alias("_mb")
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            F.col("jaccard"),
        )
    )
    # Intra-group pairs: identical sets, Jaccard exactly 1.0 ≥ t. The
    # equi-join on digest streams the quadratic TRUE output of a copy
    # farm without materializing any group in memory.
    gl, gr = keyed.alias("gl"), keyed.alias("gr")
    cond = (F.col("gl._digest") == F.col("gr._digest")) & (
        F.col(f"gl.{id_col}") < F.col(f"gr.{id_col}")
    )
    for b in blocks:
        cond = cond & (F.col(f"gl.{b}") == F.col(f"gr.{b}"))
    intra = (
        gl.join(gr, cond)
        .select(
            F.col(f"gl.{id_col}").alias("id_a"),
            F.col(f"gr.{id_col}").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        # constant-folds away for any real threshold; keeps t > 1 exact
        .filter(F.lit(1.0) >= F.lit(float(threshold)))
    )
    return cross.unionByName(intra)


def simhash(shingles: Column, bits: int = 64) -> Column:
    """SimHash fingerprint: per bit position, majority vote of the shingle
    hashes' bits. Returns a bigint. Pure per-row expression; the hash
    array is let-bound so the 63 bit votes share one evaluation of it.

    This is the *semantic spec* (and the right shape when SimHash is one
    column among many). The hot path is :func:`simhash_fingerprints`, which
    computes the identical value through codegen'd hash aggregation —
    higher-order-function lambdas are interpreted in Spark, so 63
    ``aggregate`` folds per row cost ~20× the vectorized vote."""

    def fold(h: Column) -> Column:
        def bit(b: int) -> Column:
            ones = F.aggregate(
                h,
                F.lit(0),
                lambda acc, x: acc
                + F.shiftright(x, b).bitwiseAND(F.lit(1)).cast("int"),
            )
            return (ones * 2 > F.size(h)).cast("long") * F.lit(2 ** b).cast("long")

        out = F.lit(0).cast("long")
        for b in range(bits - 1):  # skip the sign bit to stay positive
            out = out + bit(b)
        return out

    return let_col(F.transform(shingles, lambda s: F.xxhash64(s)), fold)


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    bits: int = 64,
) -> DataFrame:
    """(id, _fp) with the same fingerprint as :func:`simhash`, computed as
    explode(shingles) → groupBy(id) with codegen'd packed ``sum``s.

    Two 31-bit vote counters pack into each 64-bit accumulator (bit b in
    the low field, bit b+32 in the high field): each vote contributes
    0/1 per field, and a per-document shingle count < 2³¹ can never
    carry across, so 32 sums replace 63 — half the aggregation-buffer
    width and half the per-row update work. Scale: the shuffle after
    map-side partial aggregation is one row of 32 longs per document —
    independent of document length — and every vote stays inside
    whole-stage codegen instead of interpreted HOF lambdas.
    """
    if not 2 <= bits <= 64:
        raise ValueError(f"bits must be in [2, 64], got {bits}")
    hashes = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("_sh"),
    ).select(F.col(id_col), F.xxhash64(F.col("_sh")).alias("_h"))
    aggs, fp = _simhash_vote_exprs(bits)
    votes = hashes.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *aggs)
    return votes.select(F.col(id_col), fp.alias("_fp"))


@memo_expr
def _simhash_vote_exprs(bits: int) -> tuple:
    """(packed vote aggregation columns, fingerprint fold) over the
    fixed ``_h``/``_n``/``_p*`` intermediate names, as pure functions of
    ``bits``. r12: memoized — the 32 packed sums plus the 63-step fold
    are ~500 py4j round-trips, rebuilt identically at every plan
    construction (measured ~2.5 s of dedup_neardup_simhash's build
    wall); the Column trees are immutable and unresolved, the
    ``memo_expr`` precedent for the stopword builders (guide §7.3 —
    plan-construction time is driver wall too)."""
    n_pairs = max(1, bits // 2)  # 32 packed accumulators for 64-bit fingerprints
    h = F.col("_h")

    # Bit b of the fingerprint votes in pair b % n_pairs: low field when
    # b < n_pairs, high field (fixed 32-bit offset — counts stay < 2³¹)
    # otherwise. Derived from n_pairs, not a hard-coded 64-bit layout, so
    # narrower fingerprints pack correctly too.
    def packed(b: int) -> Column:
        lo = F.shiftright(h, b).bitwiseAND(F.lit(1))
        if b + n_pairs >= bits - 1:  # top (sign) bit is skipped — lone low field
            return lo
        hi = F.shiftright(h, b + n_pairs).bitwiseAND(F.lit(1))
        return lo + F.shiftleft(hi.cast("long"), 32)

    aggs = tuple(
        F.sum(packed(b)).alias(f"_p{b}") for b in range(n_pairs)
    )
    fp = F.lit(0).cast("long")
    for b in range(bits - 1):
        pair = F.col(f"_p{b % n_pairs}")
        cnt = (
            pair.bitwiseAND(F.lit(0x7FFFFFFF))
            if b < n_pairs
            else F.shiftright(pair, 32)
        )
        fp = fp + (cnt * 2 > F.col("_n")).cast("long") * F.lit(2 ** b).cast(
            "long"
        )
    return (aggs, fp)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
) -> DataFrame:
    """SimHash near-dup via chunk banding: split the 64-bit fingerprint
    into 4 16-bit chunks; pairs within ``max_hamming`` (< 4 by pigeonhole)
    share at least one exact chunk — an equi-join key. Verify with
    ``bit_count(xor) <= max_hamming``.

    Fingerprints feed BOTH sides of the chunk self-join; the lazy
    checkpoint makes the vote aggregation (the pass over every shingle)
    run once — one (id, long) row per document lands on local disk."""
    fp = simhash_fingerprints(df, id_col, text_col, shingle_n).transform(stage_boundary)
    chunks = fp.select(
        id_col,
        "_fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_fp"), 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l._fp").alias("_fp_a"),
            F.col("r._fp").alias("_fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_fp_a").bitwiseXOR(F.col("_fp_b")))
    return cands.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def embedding_neardup_exact(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup, exact baseline: upper-triangle all-pairs
    cosine with ``id_a < id_b``, kept when ``cosine >= threshold``.

    All-pairs by construction — the correctness oracle for the LSH path,
    to be run on a bounded subset only. At corpus scale use
    :func:`embedding_neardup_lsh`."""
    from connect_server_spark.operators.similarity import cosine_similarity

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    tables: int = 8,
    bits: int = 12,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: SRP-LSH bucket self-join
    (pairs colliding in >= 1 table), exact cosine verify over candidates
    only. High-cosine pairs collide with probability
    ``1-(1-(1-θ/π)^bits)^tables``; the plan is an equi-join on
    (table, signature) — never all-pairs."""
    from connect_server_spark.operators.similarity import (
        cosine_similarity,
        srp_signatures_udf,
    )

    srp = srp_signatures_udf(tables, bits)
    # Candidate generation joins NARROW rows: (id, table, sig) only — a
    # vector entering the bucket join would be shuffled once per table
    # (×8) on both sides. Pairs are distinct'd BEFORE the verify, then the
    # vectors join back in via two hash joins, so each embedding moves
    # across the wire once and each surviving pair is scored exactly once
    # (mirrors ``ngram_jaccard_pairs`` / ``jaccard_verify``).
    #
    # r13 (guide §2.4/§4 — the minhash shingle-ckpt precedent): the
    # bucket projection feeds BOTH sides of the self-join, and Spark
    # duplicates (never shares) a common subtree — the executed pairs
    # plan carried TWO ArrowEvalPython stages (the SRP batch
    # matrix-multiply ran twice per document) and two embedding scans
    # for candidate generation alone. The lazy boundary materializes
    # the narrow (id, table, sig) rows once; both join sides read them.
    # The boundary is perf-only: under checkpoint mode ``none`` it is a
    # no-op and the SRP ArrowEvalPython runs twice again, by design;
    # the pairs are the same in every mode.
    buckets = stage_boundary(
        emb.select(
            F.col(id_col),
            F.posexplode(srp(F.col(vec_col))).alias("_table", "_sig"),
        )
    )
    left = buckets.alias("l")
    right = buckets.alias("r")
    cands = (
        left.join(
            right,
            (F.col("l._table") == F.col("r._table"))
            & (F.col("l._sig") == F.col("r._sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    vecs = emb.select(F.col(id_col), F.col(vec_col))
    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_against_index(
    new: DataFrame,
    spark,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    nprobe: int = 4,
) -> DataFrame:
    """Incremental embedding-cosine near-dup: each NEW vector vs an
    EXISTING corpus through the persisted IVF index
    (:func:`~connect_server_spark.operators.similarity.write_ivf_index`) —
    the embedding twin of :func:`minhash_neardup_against_index`, closing
    the daily-ingest shape for the third dedup modality. Per batch the
    plan assigns the BATCH vectors to their ``nprobe`` nearest cells (one
    Arrow matmul), joins the cell-partitioned store (directory-pruned to
    the probed cells), and scores candidates exactly; the corpus is never
    re-assigned or scanned outside those cells.

    Recall follows IVF semantics: a true near-dup is found iff its
    corpus twin lives in one of the batch vector's ``nprobe`` cells —
    near-identical vectors assign to the same top cell, so recall at
    high thresholds is excellent and ``nprobe = nlist`` degrades to the
    exact all-pairs check (pinned in ``tests/test_dedup.py``). After the
    gate, append survivors with ``write_ivf_index(mode="append")`` so
    tomorrow's batch dedups against today's survivors.

    **Batch-size contract**: the batch side is EXPLICITLY broadcast —
    that is what keeps the O(corpus) cell store from ever shuffling or
    sorting (plan-pinned in ``tests/test_dedup.py``: the store scan
    feeds a BroadcastHashJoin, never an Exchange). One call must
    therefore fit ``batch × nprobe`` (id, vector, cell) rows in the
    broadcast budget — ~1 GiB ≈ 250k rows of 1024-dim float32 at the
    default threshold. A larger daily batch is sliced upstream and
    gated slice-by-slice (each slice appends its survivors before the
    next probes — exactly the streaming ``foreachBatch`` loop in
    :mod:`~connect_server_spark.streaming.ingest_dedup`); total cost
    stays O(batch) and the store still never moves.

    Returns ``(new_id, corpus_id, cosine)`` with ``cosine >= threshold``.
    """
    from connect_server_spark.operators.similarity import (
        _ivf_cell_probe,
        cosine_similarity,
    )

    batch = new.select(F.col(id_col).alias("new_id"), F.col(vec_col).alias("_va"))
    return (
        _ivf_cell_probe(
            batch, spark, index_path, nprobe, "new_id", "_va", id_col, vec_col
        )
        .select(
            "new_id",
            F.col(id_col).alias("corpus_id"),
            cosine_similarity(F.col("_va"), F.col(vec_col)).alias("cosine"),
        )
        .distinct()
        .filter(F.col("cosine") >= threshold)
    )


def duplicated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_occurrences: int = 2,
    cross_doc_only: bool = False,
) -> DataFrame:
    """Substring-level duplicate detection: the maximal TOKEN SPANS of
    each document covered by k-token windows that occur at least
    ``min_occurrences`` times in the corpus — the exact-substring dedup
    signal of Lee et al., ACL 2022, "Deduplicating Training Data Makes
    Language Models Better", at k-gram granularity (their suffix-array
    pass finds length-≥k repeats; every such repeat is a run of
    duplicated k-windows, which is precisely what the span merge below
    reconstructs). Document-level dedup misses boilerplate shared by
    otherwise-distinct pages (licenses, navigation chrome, templated
    intros); this finds the spans so a pipeline can CUT them instead of
    dropping whole documents.

    Relational shape, scale-first (no suffix array — a distributed
    suffix array shuffles the corpus several times; the k-gram
    formulation needs only narrow rows):

    1. per document, one scan-stage pass emits (id, pos, md5(window))
       for every k-token window — rows are ~40 bytes regardless of
       document size;
    2. window keys that repeat are found with ONE map-side-combined
       count (plus a min≠max check instead of count-distinct's Expand
       when ``cross_doc_only``);
    3. repeated positions semi-join back (key equi-join) and merge into
       maximal spans with the gaps-and-islands idiom: a new span starts
       where the gap between consecutive flagged positions exceeds k —
       a lag window + running sum + group-by, all partitioned by id, so
       the last two steps share one Exchange.

    Returns (id, span_start, span_end, n_windows): token range
    [span_start, span_end) is duplicated; ``n_windows`` counts the
    flagged windows merged into the span. Deterministic; md5 keys make
    the whole pipeline oracle-ready in DuckDB (pinned in
    ``tests/test_dedup.py``)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    exploded = _window_keys(df, id_col, text_col, k)
    counted = exploded.groupBy("key").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("id").alias("_min_id"),
        F.max("id").alias("_max_id"),
    )
    dup = counted.filter(
        (F.col("_min_id") != F.col("_max_id"))
        if cross_doc_only
        else (F.col("_n") >= min_occurrences)
    ).select("key")
    return _merge_spans(exploded.join(dup, "key", "leftsemi"), k)


def _merge_spans(flagged: DataFrame, k: int) -> DataFrame:
    """Maximal (id, span_start, span_end, n_windows) spans from flagged
    k-window starts (id, pos) — the gaps-and-islands merge: a new span
    starts where the gap to the previous flagged position exceeds k (a
    lag window + running sum + group-by, all partitioned by id, so they
    share one Exchange)."""
    w = Window.partitionBy("id").orderBy("pos")
    grouped = flagged.withColumn(
        "_new_span",
        F.when(
            F.col("pos") - F.lag("pos", 1).over(w) > k, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("_grp", F.sum("_new_span").over(w))
    return (
        grouped.groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("id", "span_start", "span_end", "n_windows")
    )


def cut_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Apply :func:`duplicated_ngram_spans` output: remove each
    document's duplicated token ranges and return the cut text — the
    "cut, don't drop" arm of exact-substring dedup (Lee et al. remove
    one copy of each duplicate; removing every flagged span is the
    conservative boilerplate-stripping variant a curation pipeline wants
    for licenses/navigation chrome).

    Plan shape: spans aggregate to ONE row per affected document
    (``collect_list`` of (start, end) structs — bounded by the
    document's own span count), broadcast-or-hash join back on id (only
    affected ids carry spans; unaffected documents pass through via the
    left join), and the cut itself is a scan-stage filter over the
    token array with positional lambdas — no Python, no extra shuffle
    beyond the span aggregation's.

    Output: (id, text, n_tokens_cut) with ``text`` re-joined on single
    spaces (the span positions were computed on normalized tokens, so
    the cut text is normalized — document it downstream)."""
    from connect_server_spark.operators.text import tokens as _tokens

    per_doc = spans.groupBy(F.col("id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("_toks")
    ).join(per_doc, "id", "left")

    def keep(i: Column) -> Column:
        # token index i survives iff NO span covers it
        return ~F.exists(
            F.col("_spans"),
            lambda s: (s["span_start"] <= i) & (i < s["span_end"]),
        )

    # normalized tokens of any text have size >= 1 (split of "" is [""]),
    # so the index sequence is always well-formed
    idx = F.sequence(F.lit(0), F.size("_toks") - 1)
    cut_tokens = F.transform(
        F.filter(idx, keep),
        lambda i: F.element_at(F.col("_toks"), (i + 1).cast("int")),
    )
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        cut_tokens
    )
    return joined.select(
        "id",
        F.array_join(kept, " ").alias("text"),
        (F.size("_toks") - F.size(kept)).alias("n_tokens_cut"),
    )


def _window_keys(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, pos, key) rows: md5 of every k-token window of the
    normalized token stream (the scan-stage pass shared by
    :func:`duplicated_ngram_spans` and the incremental window index)."""
    from connect_server_spark.operators.text import tokens as _tokens

    toks = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= k)
    idx = F.sequence(F.lit(0), F.size("_toks") - k)
    keys = F.transform(
        idx,
        lambda i: F.md5(
            F.concat_ws(
                " ",
                *[F.element_at("_toks", (i + j + 1).cast("int")) for j in range(k)],
            )
        ),
    )
    return toks.select("id", F.posexplode(keys).alias("pos", "key"))


def write_window_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    k: int = 20,
    store_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's distinct k-token window keys as a
    path-addressed BUCKETED store (bucketed by ``key``) — the corpus
    side of incremental substring-duplicate detection. The O(corpus)
    windowing pass is paid once; a daily batch probes the store with
    only batch-sized rows moving
    (:func:`duplicated_spans_against_index`). ``mode="append"`` grows
    the store by a gated batch's keys — appended duplicates are
    harmless (the probe is an existence join) and reclaimed by
    ``compact_bucketed``, which also restores ~one file per bucket."""
    from connect_server_spark.storage import write_bucketed_path

    keys = _window_keys(corpus, id_col, text_col, k).select("key")
    if mode != "append":
        keys = keys.distinct()
    write_bucketed_path(keys, index_path, "key", store_buckets, mode=mode)


def duplicated_spans_against_index(
    new: DataFrame,
    spark,
    index_path: str,
    id_col: str,
    text_col: str,
    k: int = 20,
    store_buckets: int = 32,
) -> DataFrame:
    """Incremental substring-duplicate spans: the NEW batch's token
    spans that duplicate the PERSISTED corpus window store
    (:func:`write_window_index`) or repeat inside the batch itself —
    exactly :func:`duplicated_ngram_spans` over corpus ∪ batch
    restricted to batch documents (pinned in ``tests/test_dedup.py``),
    at O(batch) cost: the batch windows once, the store is probed
    through its bucketed layout (Exchange-free, streamed through a
    batch-built hash table when past the broadcast threshold — the
    minhash-index discipline), and corpus text is never scanned.

    Returns the same (id, span_start, span_end, n_windows) contract."""
    from connect_server_spark.storage import probe_side, read_bucketed

    wins = _window_keys(new, id_col, text_col, k).transform(stage_boundary)
    store = read_bucketed(spark, index_path, "key", store_buckets)
    probe = probe_side(spark, index_path, wins.select("id", "pos", "key"))
    vs_corpus = store.join(probe, "key").select("id", "pos")
    intra = (
        wins.groupBy("key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("key")
    )
    vs_batch = wins.join(intra, "key", "leftsemi").select("id", "pos")
    return _merge_spans(vs_corpus.unionByName(vs_batch).distinct(), k)


# ---- Winnowing document fingerprints (Schleimer et al., SIGMOD 2003) ----
#
# The MOSS fingerprinting scheme: hash every POSITIONAL token k-gram,
# slide a window of `window` consecutive hashes over the document, and
# keep the minimum of each window. The selection is position-robust —
# inserting or deleting text far from a passage never changes which of
# the passage's hashes are picked — and carries the winnowing GUARANTEE:
# any shared token run of at least ``window + k - 1`` tokens contributes
# at least one common fingerprint, so sufficiently long verbatim overlap
# can never be missed (unlike MinHash, which is probabilistic). Density
# is ~2/(window+1) of all k-grams, so the fingerprint set is a bounded
# fraction of the document regardless of its length.
#
# Scale shape: fingerprint computation is pure scan-stage Catalyst
# (split → transform → md5 → sliding array_min), ZERO Exchange; the
# pair stage is a posting-list self-join on 16-byte fingerprint keys —
# the same bounded equi-join shape as the LSH band join — with a
# document-frequency cap on fingerprints so a boilerplate k-gram shared
# by a million documents can never trigger a quadratic bucket.


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """(id, fps): the distinct winnowing fingerprint set per document.

    Hashes are md5 hex of the normalized positional token k-grams (the
    32-char string IS the key: lexicographic min == min over a uniform
    hash, and the same value is recomputable from hashlib in the pytest
    mirror). Documents shorter than ``k`` tokens fingerprint their whole
    text; documents with fewer than ``window`` k-grams yield the single
    min over what exists — every non-empty document gets >= 1
    fingerprint. Pure expressions; evaluated in the scan stage."""
    if k < 1 or window < 1:
        raise ValueError("k and window must be positive")

    def build(toks: Column) -> Column:
        g_idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
        # try_element_at: documents shorter than k tokens have one gram
        # made of every token they do have (concat_ws skips the nulls) —
        # ANSI element_at would fail the task instead.
        grams = F.transform(
            g_idx,
            lambda i: F.concat_ws(
                " ",
                *[
                    F.try_element_at(toks, (i + j + 1).cast("int"))
                    for j in range(k)
                ],
            ),
        )

        def select_mins(hashes: Column) -> Column:
            w_idx = F.sequence(
                F.lit(0), F.greatest(F.size(hashes) - window, F.lit(0))
            )
            return F.array_distinct(
                F.transform(
                    w_idx,
                    lambda i: F.array_min(F.slice(hashes, i + 1, window)),
                )
            )

        return let_col(F.transform(grams, F.md5), select_mins)

    return df.select(
        F.col(id_col).alias("id"),
        let_col(F.split(normalize_text(F.col(text_col)), " "), build).alias(
            "fps"
        ),
    ).filter(F.size("fps") > 0)


def winnow_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    window: int = 4,
    threshold: float = 0.5,
    max_df: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint Jaccard.

    Candidates come from the fingerprint posting lists (an equi-join on
    the 16-byte fingerprint key — never all-pairs); the score is the
    EXACT Jaccard over the two documents' full fingerprint sets, so a
    hot fingerprint can inflate candidates but never the score.

    ``max_df`` drops fingerprints appearing in more than that many
    documents from the POSTING side only (scores still count them): a
    boilerplate k-gram shared by the whole corpus would otherwise build
    a quadratic candidate bucket — the same bound as the BM25 index's
    posting-length cap, and standard practice for MOSS-style matching
    at scale. A pair is missed only if EVERY shared fingerprint is
    corpus-hot, which at the default (64 docs) means the overlap is
    boilerplate, not duplication.

    Returns (id_a, id_b, shared, n_a, n_b, jaccard) at
    ``jaccard >= threshold``, id_a < id_b.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k=k, window=window)
    # one fingerprint job feeds the postings and both verify-side array
    # lookups: checkpoint the (id, fps) frame so the text split/hash
    # pass runs once, not three times (same stage-boundary rule as the
    # curation composites)
    fps = fps.transform(stage_boundary)
    posts = fps.select("id", F.explode("fps").alias("fp"))
    # r12 (guide §2.4, same device as the ngram prefix filter): the
    # document frequency is a COUNT WINDOW over `fp`, not a groupBy +
    # semi-join back — one Exchange of the posting rows instead of two
    # plus a join. Values are identical (rows per fingerprint), and a
    # corpus-hot fingerprint already co-located all its rows under the
    # old semi-join's `fp` shuffle, so the skew shape is unchanged —
    # and the hot rows are DROPPED by the filter right after the
    # window, before any pairing.
    from pyspark.sql import Window

    posts = (
        posts.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    a = posts.select(F.col("id").alias("id_a"), "fp")
    b = posts.select(F.col("id").alias("id_b"), "fp")
    cands = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact score over the FULL sets (the candidates only share rare
    # fingerprints, a candidate signal, not the score)
    return _set_jaccard(
        cands,
        fps.select(F.col("id").alias("id_a"), F.col("fps").alias("_sa")),
        fps.select(F.col("id").alias("id_b"), F.col("fps").alias("_sb")),
        threshold,
    )


def write_winnow_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    k: int = 4,
    window: int = 4,
    mode: str = "overwrite",
    store_buckets: int = 32,
) -> None:
    """Persist the winnowing fingerprints of a corpus so a daily batch
    dedups against it in O(batch) — the fifth incremental-index modality
    (after the exact-digest, minhash, embedding-IVF, and window stores).

    Two path-addressed bucketed artifacts under ``index_path``:

    * ``posts/`` — the (id, fp) posting rows, bucketed by ``fp``: the
      candidate join and the probe-time document-frequency count are
      Exchange-free on the store side by layout.
    * ``fps/``   — the (id, fps) full fingerprint sets, bucketed by the
      id: the exact-Jaccard verify shuffles only batch-sized candidate
      rows; the O(corpus) arrays never move.

    ``mode="append"`` is the daily-ingest leg: survivors append their
    fingerprint rows bucket-correctly; a replayed append re-writes
    IDENTICAL rows, which the probe drops layout-free (the same
    at-least-once discipline as the minhash and IVF stores). Compact
    with :func:`~connect_server_spark.storage.compact_bucketed`."""
    from connect_server_spark.storage import write_bucketed_path

    fps = winnow_fingerprints(
        corpus, id_col, text_col, k=k, window=window
    ).transform(stage_boundary)
    write_bucketed_path(fps, f"{index_path}/fps", "id", store_buckets, mode=mode)
    posts = fps.select("id", F.explode("fps").alias("fp"))
    write_bucketed_path(
        posts, f"{index_path}/posts", "fp", store_buckets, mode=mode
    )


def winnow_neardup_against_index(
    new: DataFrame,
    spark,
    index_path: str,
    id_col: str,
    text_col: str,
    k: int = 4,
    window: int = 4,
    threshold: float = 0.5,
    max_df: int = 64,
    store_buckets: int = 32,
) -> DataFrame:
    """Incremental winnowing near-dup: NEW documents against the
    persisted corpus fingerprint index (written by
    :func:`write_winnow_index`), never rescanning corpus text.

    The hot-fingerprint cap is computed AT PROBE TIME against the live
    store: the store postings restricted to the batch's fingerprints
    (a semi-join that is Exchange-free on the store side by bucket
    layout) are counted per fingerprint — a narrow, map-side-combined
    (fp, df) aggregate whose output is batch-fingerprint-sized — and
    fingerprints past ``max_df`` are excluded from CANDIDACY (the exact
    verify still scores them: the cap gates which pairs surface, never
    a surfaced pair's Jaccard, exactly :func:`winnow_neardup_pairs`'s
    contract). So a boilerplate fingerprint shared by a million corpus
    documents costs one counted scan of its bucket, not a million
    candidate rows.

    Every store join follows the size-adaptive store-join rule
    (:func:`~connect_server_spark.storage.probe_side`), like the
    minhash probe. Returns ``(new_id, corpus_id, shared, jaccard)``
    with ``jaccard >= threshold``."""
    from connect_server_spark.storage import probe_side, read_bucketed

    posts_path = f"{index_path}/posts"
    fps_path = f"{index_path}/fps"
    nf = winnow_fingerprints(
        new, id_col, text_col, k=k, window=window
    ).transform(stage_boundary)
    n_posts = nf.select(
        F.col("id").alias("new_id"), F.explode("fps").alias("fp")
    )
    store_posts = read_bucketed(spark, posts_path, "fp", store_buckets)
    # at-least-once appends: identical replayed rows must not double-
    # count df or duplicate candidates
    store_posts = store_posts.dropDuplicates(["id", "fp"])
    probed = store_posts.join(
        probe_side(spark, posts_path, n_posts.select("fp").distinct()),
        "fp",
        "leftsemi",
    )
    ok_fps = (
        probed.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    cands = _posting_candidates(
        store_posts.withColumnRenamed("id", "corpus_id"),
        posts_path,
        n_posts.join(ok_fps, "fp", "leftsemi"),
        "fp",
    )
    a = nf.select(F.col("id").alias("new_id"), F.col("fps").alias("_sa"))
    b = (
        read_bucketed(spark, fps_path, "id", store_buckets)
        .select(F.col("id").alias("corpus_id"), F.col("fps").alias("_sb"))
        .dropDuplicates(["corpus_id"])
    )
    return _set_jaccard(cands, a, b, threshold, store=fps_path).select(
        "new_id", "corpus_id", "shared", "jaccard"
    )
