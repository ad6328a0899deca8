"""The daily-ingest job: one ``foreachBatch`` that runs every store's
maintenance for a micro-batch — minhash, embedding and winnow
ingest-dedup, BM25 search ingest and the rollup refresh
(:func:`~connect_server_spark.streaming.rollup_refresh.rollup_refresh_sink`)
as ONE job with one batch materialization and the package's one ingest
write discipline.

Per micro-batch, in order:

1. **gate** — optional ingest-time curation (deterministic, so replays
   gate identically); dropped rows touch nothing downstream. The gated
   batch materializes ONCE (pinned eager boundary) before anything else
   runs; every group below reads that one materialization.
2. **group (a), concurrent: rollup + dedup probes** — four chains on
   the materialized batch: the rollup partial append (ingest-volume
   metrics over the GATED batch, ledger-gated by batch id, exactly-once;
   computed pre-dedup so a replay whose dedup outcome shifts — see
   below — still records the identical partial), and the three probes —
   minhash bands against the text index, IVF cells against the
   embedding index, winnow fingerprints against the fingerprint store —
   each self-pair filtered (a replayed batch collides with its own prior
   index entries) and ending in its own pinned eager boundary.
3. **group (b), concurrent: pairs logs** — the three pairs-log appends
   (at-least-once, keyed by (new_id, corpus_id)), one chain each.
4. **fresh set** — the S8 anti-join of the non-duplicate rows against
   the survivors table (``fresh_rows``), after EVERY probe and pairs log.
5. **group (c), concurrent: index growth** — one chain per store, each
   appending the materialized fresh set: the minhash index+shingle
   store, the IVF cell store, the BM25 term/doclens/meta stores, the
   winnow posts/fps store, the z-ordered event log, and (opt-in) the
   sketch-ledger partial and the serve pair (ONE chain: PQ, then
   refine). The group fully joins — every chain finished, failed or
   not — before anything after it runs.
6. **survivors append** — last, after group (c) joined; the
   exactly-once table, and committing it is what marks the batch done.
7. **maintenance** (opt-in cadence) — post-commit and sequential.

Chains inside a group share no store, so the stores' crash states are
the same as a sequential run's, store by store: a chain that crashes
leaves its own store as a sequential crash at that step would, and its
sibling chains commit (a failure re-raises only after the whole group
joined — :func:`~connect_server_spark.execution.run_concurrently`).

Crash/replay analysis, store by store (pinned in
``tests/test_streaming.py``'s kill-mid-batch convergence test): a crash
anywhere before step 6 leaves the survivors table without the batch, so
the replay's ``fresh_rows`` re-selects the rows and every append
retries. Each store absorbs the retry on its own terms — rollup:
batch-id ledger skips; pairs logs: duplicate keyed rows; minhash/IVF:
duplicate index rows neutralized at read (candidate ``distinct`` +
self-pair filter / serving ``distinct``); BM25: identical term/doclens
rows dropped by serving, meta partial overwrites its own
``batch=<id>`` directory; winnow: identical posting/fps rows dropped
layout-free at probe time. A crash AFTER step 6 replays into "nothing
fresh" and writes nothing. The one divergence window: if a replayed
batch contains intra-batch near-duplicates, the first (crashed)
attempt's index growth makes the replay catch them — the survivor set
can only SHRINK toward the correct dedup answer, never double-insert.

Store bootstrap: the minhash/IVF/BM25/winnow stores must exist (base
build via :func:`build_base_stores`, or their ``write_*_index``
functions); the rollup store and survivors table start empty.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.execution import run_concurrently, stage_boundary

from connect_server_spark.operators.dedup import (
    embedding_neardup_against_index,
    minhash_neardup_against_index,
    winnow_neardup_against_index,
    write_minhash_index,
    write_winnow_index,
)
from connect_server_spark.operators.layout import append_zordered_store
from connect_server_spark.operators.retrieval import write_bm25_index
from connect_server_spark.operators.similarity import write_ivf_index
from connect_server_spark.sinks import fresh_rows
from connect_server_spark.streaming.rollup_refresh import rollup_refresh_sink

__all__ = [
    "build_base_stores",
    "composed_ingest_sink",
    "composed_crawl_ingest_sink",
    "hash_embedder",
    "ingest_store_paths",
    "warc_batch_head",
]


# Offset of the composed ingest's BM25 ledger batch ids, so a stream's
# batch ids never collide with the base build's batch 0.
_META_NAMESPACE = 1_000_000

# The stand-in embedder's vector width and the column every embedder
# attaches for warc_batch_head.
_EMBED_DIM = 8
_EMBED_COL = "embedding"


def ingest_store_paths(root: str) -> dict[str, str]:
    """The composed job's store layout under one root."""
    return {
        "minhash_index": f"{root}/minhash/index",
        "shingles": f"{root}/minhash/shingles",
        "ivf_index": f"{root}/ivf",
        "bm25_index": f"{root}/bm25",
        "winnow_index": f"{root}/winnow",
        "rollup": f"{root}/rollup",
        "survivors": f"{root}/survivors",
        "pairs_text": f"{root}/pairs_text",
        "pairs_vec": f"{root}/pairs_vec",
        "pairs_winnow": f"{root}/pairs_winnow",
        "sketch_ledger": f"{root}/telemetry/sketches",
        "events_z": f"{root}/events_z",
        # the IVFPQ+refine SERVING pair (opt-in, ``serve_pair=True``):
        # the ingest-operated deployment tier `pq_refine_topk` reads
        "pq_index": f"{root}/serve/pq",
        "refine_index": f"{root}/serve/refine",
    }


def build_base_stores(
    corpus: DataFrame, paths: dict[str, str], nlist: int = 8
) -> None:
    """Bootstrap the four searchable stores from a base corpus —
    the one place the minhash/IVF/BM25/winnow base build lives (the
    composed drills and the crawl drill share it; the module docstring's
    "store bootstrap" contract). ``corpus`` needs (doc_id, text,
    embedding) columns. The four overwrites share no store and run
    concurrently (:func:`~connect_server_spark.execution.run_concurrently`)."""
    run_concurrently(
        lambda: write_minhash_index(
            corpus.select("doc_id", "text"),
            "doc_id",
            "text",
            paths["minhash_index"],
            paths["shingles"],
        ),
        lambda: write_ivf_index(
            corpus.select("doc_id", "embedding"),
            paths["ivf_index"],
            nlist=nlist,
            corpus_id="doc_id",
            corpus_vec="embedding",
        ),
        lambda: write_bm25_index(
            corpus.select("doc_id", "text"), "doc_id", "text",
            paths["bm25_index"],
        ),
        lambda: write_winnow_index(
            corpus.select("doc_id", "text"), "doc_id", "text",
            paths["winnow_index"],
        ),
    )


def build_serve_pair(
    corpus: DataFrame,
    paths: dict[str, str],
    nlist: int = 8,
) -> None:
    """Bootstrap the IVFPQ+refine SERVING pair from a base corpus with
    (``doc_id``, ``embedding``) columns under the shared-quantizer
    contract ``pq_refine_topk`` enforces: train the refine (SQ8) store's
    coarse quantizer once, then build the PQ candidate store UNDER those
    exact centroids (the same carry ``maintain_refine_pair`` uses). The
    composed ingest appends into both and pair-maintains them on the
    cadence (``serve_pair=True``)."""
    spark = corpus.sparkSession
    vecs = corpus.select("doc_id", "embedding")
    write_ivf_index(
        vecs,
        paths["refine_index"],
        nlist=nlist,
        corpus_id="doc_id",
        corpus_vec="embedding",
        quantize=True,
    )
    from connect_server_spark.operators.similarity import read_ivf_centroids

    cents = read_ivf_centroids(spark, paths["refine_index"])
    write_ivf_index(
        vecs,
        paths["pq_index"],
        nlist=nlist,
        centroids=cents,
        corpus_id="doc_id",
        corpus_vec="embedding",
        quantize="pq",
    )


def composed_ingest_sink(
    spark: SparkSession,
    root: str,
    id_col: str,
    text_col: str,
    vec_col: str,
    ts_col: str,
    value_col: str,
    gate: Callable[[DataFrame], DataFrame] | None = None,
    maintain_every: int | None = None,
    maintain_skew_threshold: float = 4.0,
    maintain_cell_size: int = 256,
    maintain_keep: int = 2,
    sketch_telemetry: bool = False,
    log_compact_files: int = 64,
    serve_pair: bool = False,
    _failpoint: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the composed ``foreachBatch`` function (module docstring
    for the discipline). ``_failpoint`` is a TEST hook: raise
    RuntimeError immediately after the named step ("rollup", "pairs",
    "minhash_index", "ivf_index", "bm25_index", "winnow_index",
    "sketch_ledger", "events_z", "serve_pq", "serve_refine") to
    exercise the crash-replay contract — production callers leave it
    None. A step that is one chain of a concurrent group raises inside
    that chain, so its sibling chains commit before the sink re-raises;
    "pairs" fires after its whole group.

    ``serve_pair=True`` makes the ingest OPERATE the IVFPQ+refine
    serving deployment (r11 verdict ask #2): fresh survivors append
    into both ``paths["pq_index"]`` and ``paths["refine_index"]``
    (bootstrap via :func:`build_serve_pair`), and the maintenance
    cadence runs
    :func:`~connect_server_spark.operators.similarity.maintain_refine_pair`
    instead of leaving the pair to be solo-rebalanced into divergence —
    a crash anywhere in the window (between the two appends, between
    the two rebalance flips) either replays into identical at-least-once
    rows (the distinct-id digest guard dedups) or is repaired by the
    next cadence's always-on pair-drift check; in the meantime
    ``pq_refine_topk`` fails loudly on its store contracts rather than
    serving wrong cells.

    ``maintain_every=N`` opts the IVF store into the automated
    stats→threshold→rebalance loop
    (:func:`~connect_server_spark.operators.similarity.maintain_ivf_index`):
    every N batches, AFTER the batch commits, the cell-balance
    telemetry is read (one narrow count pass) and a rebalance fires
    only past ``maintain_skew_threshold``. It runs post-commit so a
    crashed maintenance pass replays into "nothing fresh" + a
    re-measure, and the rebalance swap itself is the generation-pointer
    flip — the batch convergence contract is untouched either way. The
    same cadence compacts the BM25 stores and the four bucketed dedup
    stores (minhash band index and shingles, winnow postings and
    fingerprint sets) past the files-per-bucket rule of
    :func:`~connect_server_spark.storage.maintain_bucketed`.

    ``sketch_telemetry=True`` records each batch's COMMITTED corpus
    contribution in the HLL sketch ledger
    (:mod:`~connect_server_spark.operators.sketches`): one KB-sized
    partial per batch of fresh survivors, written BEFORE the survivors
    append so any crash window replays into an identical overwrite
    (same batch=<id> discipline as the BM25 partials); "distinct docs
    ingested so far" then reads the ledger in O(batches), never the
    corpus. The maintenance cadence also compacts the ledger.

    ``maintain_keep`` is the GENERATION retention every maintenance
    publish uses (SCALE.md's reader-vs-retention contract:
    ``keep >= ceil(max reader duration / publish interval) + 1``).
    The default 2 satisfies the job's OWN cadence with margin — a
    serving reader that resolved a store just before one maintenance
    firing keeps a readable snapshot through the NEXT full firing,
    i.e. queries up to one whole maintenance interval long are safe,
    not just queries shorter than the gap to the next publish. Raise
    it when external readers run longer than the maintenance
    interval."""
    paths = ingest_store_paths(root)
    rollup = rollup_refresh_sink(
        spark,
        paths["rollup"],
        ts_col,
        value_col,
        keys=[],
        widths_seconds=[3600, 86400],
    )

    def _maybe_fail(step: str) -> None:
        if _failpoint == step:
            raise RuntimeError(f"injected crash after {step}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, text_col, vec_col, ts_col, value_col)
        if gate is not None:
            batch = gate(batch)
        # one materialization: feeds the rollup, both probes, the
        # anti-joins, and every append; severs streaming lineage
        batch = batch.transform(stage_boundary, eager=True, pin=True)

        # group (a): each chain reads the materialized batch and ends in
        # its own pinned eager boundary; only the rollup writes a store
        def _rollup() -> None:
            rollup(batch.select(ts_col, value_col), batch_id)
            _maybe_fail("rollup")

        def _probe(pairs: DataFrame) -> DataFrame:
            return pairs.filter(
                F.col("new_id") != F.col("corpus_id")
            ).transform(stage_boundary, eager=True, pin=True)

        _, pairs_t, pairs_v, pairs_w = run_concurrently(
            _rollup,
            lambda: _probe(
                minhash_neardup_against_index(
                    batch.select(id_col, text_col),
                    spark,
                    paths["minhash_index"],
                    paths["shingles"],
                    id_col,
                    text_col,
                )
            ),
            lambda: _probe(
                embedding_neardup_against_index(
                    batch.select(id_col, vec_col),
                    spark,
                    paths["ivf_index"],
                    id_col=id_col,
                    vec_col=vec_col,
                )
            ),
            lambda: _probe(
                winnow_neardup_against_index(
                    batch.select(id_col, text_col),
                    spark,
                    paths["winnow_index"],
                    id_col,
                    text_col,
                )
            ),
        )
        # group (b): appends resolve the pointer (fsutil.append_resolved,
        # no-op while the logs are flat): once the maintenance cadence
        # compacts a log generationally, a flat append beside the
        # generations would be invisible to resolving readers and GC'd
        # as legacy at the next publish
        from connect_server_spark.fsutil import append_resolved

        run_concurrently(
            lambda: append_resolved(pairs_t, paths["pairs_text"]),
            lambda: append_resolved(pairs_v, paths["pairs_vec"]),
            lambda: append_resolved(pairs_w, paths["pairs_winnow"]),
        )
        _maybe_fail("pairs")

        dup_ids = (
            pairs_t.select(F.col("new_id").alias(id_col))
            .unionByName(pairs_v.select(F.col("new_id").alias(id_col)))
            .unionByName(pairs_w.select(F.col("new_id").alias(id_col)))
            .distinct()
        )
        survivors = batch.join(dup_ids, id_col, "left_anti")
        fresh = fresh_rows(spark, survivors, paths["survivors"], [id_col])
        if fresh.count():
            # group (c): every chain reads the materialized fresh set and
            # appends to its own store(s); a failpoint fires inside its
            # chain, so the siblings commit before the sink re-raises
            def _step(step: str, write: Callable[[], None]):
                def chain() -> None:
                    write()
                    _maybe_fail(step)

                return chain

            chains = [
                _step("minhash_index", lambda: write_minhash_index(
                    fresh.select(id_col, text_col),
                    id_col,
                    text_col,
                    paths["minhash_index"],
                    paths["shingles"],
                    mode="append",
                )),
                _step("ivf_index", lambda: write_ivf_index(
                    fresh.select(id_col, vec_col),
                    paths["ivf_index"],
                    corpus_id=id_col,
                    corpus_vec=vec_col,
                    mode="append",
                )),
                _step("bm25_index", lambda: write_bm25_index(
                    fresh.select(id_col, text_col),
                    id_col,
                    text_col,
                    paths["bm25_index"],
                    mode="append",
                    batch_id=_META_NAMESPACE + int(batch_id),
                )),
                # winnow store: a replayed append re-writes IDENTICAL
                # (id, fp)/(id, fps) rows, dropped layout-free at probe
                # time
                _step("winnow_index", lambda: write_winnow_index(
                    fresh.select(id_col, text_col),
                    id_col,
                    text_col,
                    paths["winnow_index"],
                    mode="append",
                )),
                # z-ordered event log of ATTEMPTED survivors: appended
                # BEFORE the survivors commit so a crash can never lose
                # a batch's rows — at the cost of superset semantics on
                # replay. Usually the replay re-appends IDENTICAL rows
                # (deduped by id at read, the pairs-log contract), but a
                # batch whose members near-dup EACH OTHER can leave rows
                # here that never reach the survivors log: attempt 1's
                # index appends make the replay's probes see the batch's
                # own rows, shrinking the replayed fresh set. Readers
                # that need exactly-the-survivors semantics must
                # semi-join the survivors store; the z log's contract is
                # at-least-once over attempted survivors, like the pairs
                # logs (which share the same replay window). Appends
                # decay the layout by design; maintain_zorder below
                # restores it.
                _step("events_z", lambda: append_zordered_store(
                    fresh.select(id_col, ts_col, value_col),
                    paths["events_z"],
                )),
            ]
            if sketch_telemetry:
                from connect_server_spark.operators.sketches import (
                    write_sketch_partial,
                )

                # BEFORE the survivors append: a crash between the two
                # replays with the SAME fresh set (survivors not yet
                # committed) and overwrites an identical partial; once
                # survivors commit, the partial is already on disk — no
                # ordering leaves the telemetry short a committed batch
                chains.append(_step(
                    "sketch_ledger",
                    lambda: write_sketch_partial(
                        fresh, paths["sketch_ledger"], int(batch_id), id_col
                    ),
                ))
            if serve_pair:
                # ONE chain, PQ then refine, both BEFORE the survivors
                # commit like every other index: a crash replays with
                # the same fresh set and re-appends identical rows
                # (at-least-once; the serving guard's distinct-id digest
                # dedups), and a crash BETWEEN the two appends leaves
                # the stores' id sets unequal — pq_refine_topk refuses
                # loudly until the replay completes the second append
                def _serve_pair() -> None:
                    for step, key in (
                        ("serve_pq", "pq_index"),
                        ("serve_refine", "refine_index"),
                    ):
                        write_ivf_index(
                            fresh.select(id_col, vec_col),
                            paths[key],
                            corpus_id=id_col,
                            corpus_vec=vec_col,
                            mode="append",
                        )
                        _maybe_fail(step)

                chains.append(_serve_pair)
            run_concurrently(*chains)
            append_resolved(fresh, paths["survivors"])

        if maintain_every and int(batch_id) % maintain_every == (
            maintain_every - 1
        ):
            from connect_server_spark.operators.retrieval import (
                maintain_bm25_index,
            )
            from connect_server_spark.operators.similarity import (
                maintain_ivf_index,
            )

            maintain_ivf_index(
                spark,
                paths["ivf_index"],
                skew_threshold=maintain_skew_threshold,
                corpus_id=id_col,
                corpus_vec=vec_col,
                target_cell_size=maintain_cell_size,
                keep=maintain_keep,
            )
            maintain_bm25_index(
                spark, paths["bm25_index"], keep=maintain_keep
            )
            # the dedup sketch stores accrete files per append like
            # BM25's terms/doclens, under the same files-per-bucket rule
            from connect_server_spark.storage import maintain_bucketed

            for store, key in (
                (paths["minhash_index"], "band_hash"),
                (paths["shingles"], id_col),
                (f"{paths['winnow_index']}/posts", "fp"),
                (f"{paths['winnow_index']}/fps", "id"),
            ):
                maintain_bucketed(spark, store, key, keep=maintain_keep)
            if serve_pair:
                # the PAIR loop, never two solo loops: the refine
                # store's telemetry triggers, and the PQ store is
                # rebalanced UNDER the refine store's new centroids;
                # the always-on drift check also repairs a pair a
                # crashed prior cadence left half-rebalanced
                from connect_server_spark.operators.similarity import (
                    maintain_refine_pair,
                )

                maintain_refine_pair(
                    spark,
                    paths["pq_index"],
                    paths["refine_index"],
                    skew_threshold=maintain_skew_threshold,
                    corpus_id=id_col,
                    corpus_vec=vec_col,
                    target_cell_size=maintain_cell_size,
                    keep=maintain_keep,
                )
            # layout twin of the IVF loop (r10 verdict ask #6): footer
            # decay check every cadence — appends land wherever the
            # writer put them, so the event log's file ranges drift
            # toward full overlap; past the threshold the table
            # re-clusters behind its generation pointer (readers keep
            # their snapshot, crash leaves the live table untouched).
            # Healthy layout = footer reads only, no rewrite.
            from connect_server_spark.fsutil import fs_exists
            from connect_server_spark.operators.layout import (
                maintain_zorder,
            )

            if fs_exists(spark, paths["events_z"]):
                maintain_zorder(
                    spark,
                    paths["events_z"],
                    [id_col, ts_col],
                    keep=maintain_keep,
                )
            if sketch_telemetry:
                from connect_server_spark.operators.sketches import (
                    compact_sketch_ledger,
                )

                compact_sketch_ledger(
                    spark, paths["sketch_ledger"], keep=maintain_keep
                )
            # append-only logs (survivors + pairs) accrete one file set
            # per batch FOREVER without this: past log_compact_files the
            # log rewrites behind its generation pointer (post-commit,
            # so a crashed compaction replays into "nothing fresh" + a
            # retry, and the appends above resolve the pointer)
            from connect_server_spark.fsutil import fs_list, resolve_store
            from connect_server_spark.storage import compact

            for store in (
                "survivors", "pairs_text", "pairs_vec", "pairs_winnow"
            ):
                live = resolve_store(spark, paths[store])
                n_files = sum(
                    1
                    for f in fs_list(spark, live)
                    if f.endswith(".parquet")
                )
                if n_files > log_compact_files:
                    compact(spark, paths[store], keep=maintain_keep)

    return sink


def hash_embedder():
    """Deterministic STAND-IN for the model-serving embedding stage of a
    crawl ingest (the multimodal-stub convention: the Spark-side
    plumbing — schema, scan-stage expressions, replay determinism — is
    real; the model is not in this container). Each component is an
    independent xxhash64 of the text, mapped to [-1, 1]; identical text
    ⇒ identical vector on every engine, task retry, and replay, which is
    exactly the property the exactly-once convergence pin needs."""

    def embed(df: DataFrame, text_col: str) -> DataFrame:
        comps = [
            (
                F.xxhash64(F.col(text_col), F.lit(i)).cast("double")
                / F.lit(float(2**63))
            )
            for i in range(_EMBED_DIM)
        ]
        return df.withColumn(_EMBED_COL, F.array(*comps))

    return embed


def warc_batch_head(
    spark: SparkSession,
    text_col: str = "text",
    block_domains: list[str] | None = None,
    domain_cap: int | None = None,
    embedder=None,
) -> Callable[[DataFrame], DataFrame]:
    """The crawl HEAD as a batch adapter (r7 verdict ask #7): turn a
    micro-batch of WARC shard payloads ``(shard, payload)`` into the
    curated document rows :func:`composed_ingest_sink` ingests —
    ``corpus_from_crawl``'s funnel, run incrementally per batch. Rows
    come out as (``doc_id``, ``text_col``, ``embedding``, ``ts``,
    ``v``).

    Stages (all deterministic, so a replayed batch funnels identically):
    record parse (real WARC walk, error rows dropped here — they carry
    no document) → HTML text extraction → URL curation (blocklist,
    canonical dedup WITHIN the batch, per-domain cap) → C4 document
    gate → id from the record URI, event time from the WARC date,
    unit ingest-volume value. ``embedder`` attaches ``embedding``
    (default :func:`hash_embedder` — swap in the model-serving UDF in
    production). Everything is batch-sized; the persisted-store dedup
    (cross-batch) stays where it was, in the composed sink's probes."""
    from connect_server_spark.operators.quality import c4_doc_flags
    from connect_server_spark.operators.weburl import (
        cap_per_domain,
        filter_blocked_domains,
        url_dedup,
    )
    from connect_server_spark.sources.warc import html_to_text, parse_warc_records

    embed = embedder or hash_embedder()
    block = (
        spark.createDataFrame([(d,) for d in block_domains], ["domain"])
        if block_domains
        else None
    )

    def head(batch_df: DataFrame) -> DataFrame:
        recs = parse_warc_records(batch_df.select("shard", "payload"))
        # id: the fixture URI pattern when present, else the URI hash —
        # a real crawl record's target_uri is an arbitrary URL, and a
        # NULL id here would be SILENTLY swallowed downstream
        # (url_dedup's min-id filter compares NULL == NULL → row
        # dropped). xxhash64 of the URI is deterministic across
        # replays; the text hash is the last resort for uri-less
        # records so distinct documents never share one id.
        # The numeric-id scheme is scoped to ``.example`` HOSTS (RFC 2606
        # reserves the TLD, so no real crawl serves from it): a real URL
        # that merely ends in /doc/<n> must hash-derive, or (a) two
        # hosts sharing the path would collide to one id and the sink's
        # id-keyed probes would silently drop a real document, and
        # (b) a 19+-digit run would overflow the long cast and kill the
        # whole batch under Spark's default ANSI mode. The digit run is
        # additionally bounded at 18 so the cast can never overflow even
        # on a fixture host.
        fixture_id = F.regexp_extract(
            "target_uri",
            r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*\.example(?::\d+)?/doc/(\d{1,18})$",
            1,
        )
        doc_id = F.coalesce(
            F.when(fixture_id != "", fixture_id.cast("long")),
            F.when(
                F.col("target_uri").isNotNull(), F.xxhash64("target_uri")
            ),
            F.xxhash64(F.col(text_col)),
        )
        docs = html_to_text(
            recs.filter(
                F.col("error").isNull() & (F.col("http_status") == 200)
            ),
            "body",
            out_col=text_col,
        ).select(
            F.col("target_uri").alias("url"),
            doc_id.alias("doc_id"),
            F.col(text_col),
            F.to_timestamp(F.col("warc_date")).alias("ts"),
        )
        if block is not None:
            docs = filter_blocked_domains(docs, "url", block)
        docs = url_dedup(docs, "url", "doc_id")
        if domain_cap is not None:
            docs = cap_per_domain(
                docs, "url", "doc_id", domain_cap, seed="dih:"
            )
        flags = c4_doc_flags(F.col(text_col))
        gated = docs.filter(
            ~flags["has_lorem_ipsum"] & ~flags["has_brace"]
        )
        return embed(gated, text_col).select(
            "doc_id", text_col, _EMBED_COL, "ts", F.lit(1.0).alias("v")
        )

    return head


def composed_crawl_ingest_sink(
    spark: SparkSession,
    root: str,
    block_domains: list[str] | None = None,
    domain_cap: int | None = None,
    embedder=None,
    **sink_kwargs,
) -> Callable[[DataFrame, int], None]:
    """The crawl-fed composed daily-ingest job: one ``foreachBatch``
    that runs :func:`warc_batch_head` (WARC parse → HTML extract → URL
    funnel → gate → embed) and hands the curated documents to
    :func:`composed_ingest_sink`'s store discipline unchanged.

    Crash/replay: the head is a pure deterministic function of the
    batch payloads, so a replayed batch reaches the inner sink with
    byte-identical rows and the per-store convergence analysis in the
    module docstring applies verbatim — pinned by extending the
    kill-mid-batch matrix to this leg in ``tests/test_streaming.py``."""
    head = warc_batch_head(
        spark,
        block_domains=block_domains,
        domain_cap=domain_cap,
        embedder=embedder,
    )
    inner = composed_ingest_sink(
        spark, root, "doc_id", "text", "embedding", "ts", "v", **sink_kwargs
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        inner(head(batch_df), batch_id)

    return sink
