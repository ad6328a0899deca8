"""The benchmark's workloads. Each is a closed loop with one client.

A workload has ``setup()`` (untimed except as ``setup_s``; returns its
phases in seconds), ``step()`` (one unit of timed work, every operation
through ``ctx.op``), and ``verify()`` (checks that need the whole
run, outside the timed interval). The seed orders the requests and slices
the inputs; the data is the dataset under ``ctx.sf_dir``.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from perfbench.digest import digest_frame, read_digest

MDF_QUERIES = (
    "submit_pipeline", "submit_constraints", "submission_parse",
    "org_resolve", "status_insert_guard", "latest_version_probes",
    "version_existence_probe", "latest_status_join",
    "submissions_read_path", "status_poll", "scan_status_read_path",
    "scan_key_probes", "flow_execute", "validator_feedstock",
    "transfer_manifest", "extract_crystal", "extract_tdb",
    "extract_doc_props",
)


def _digest_action(df):
    agg = digest_frame(df)
    return read_digest(agg.collect()), agg


def _check_digest(expected: dict):
    def check(got):
        if got != {"rows": expected["rows"], "hash": expected["hash"]}:
            return f"digest {got} != expected {expected}"
        return None

    return check


class MdfRequests:
    """The MDF Connect surface: one registered query per request, cycling
    through all 18 in a fresh seeded order each cycle. A unit is one
    cycle."""

    latency_kind = "request"
    report_kinds = (("request", "mdf_latency"),)
    throughput_name = "mdf_requests_per_s"
    WARMUP_SF = "sf0.01"

    def __init__(self, ctx):
        from connect_server_spark import registry

        self.ctx = ctx
        self.kept_ratio = 0.0  # nothing is ingested
        self.queries = registry.all_queries()
        self.expected = ctx.expected["mdf_requests"]

    def _request(self, name, warmup=False, sf_dir=None):
        ctx = self.ctx
        sf_dir = sf_dir or ctx.sf_dir
        return ctx.op(
            "request", name,
            build=lambda: self.queries[name](ctx.spark, sf_dir),
            action=_digest_action,
            check=(_check_digest(self.expected[name])
                   if sf_dir == ctx.sf_dir else None),
            warmup=warmup,
        )

    def setup(self) -> dict[str, float]:
        """Warm-up: every query twice, on ``cores`` client threads (set-up
        only; the timed loop has one client). The first pass runs on the
        ``WARMUP_SF`` sibling dataset when there is one — the same plans on
        a tenth of the rows, at about half the cost — the second on the
        measured data, checked. After one full-scale pass the next cycle
        still ran ~15% faster; after these two, consecutive cycles agree
        within a few percent."""
        import os
        from concurrent.futures import ThreadPoolExecutor

        ctx = self.ctx
        small = os.path.join(os.path.dirname(ctx.sf_dir.rstrip("/")),
                             self.WARMUP_SF)
        if not os.path.isdir(small):
            small = ctx.sf_dir
        t0 = time.perf_counter()
        with ThreadPoolExecutor(ctx.cores) as pool:
            for sf_dir in (small, ctx.sf_dir):
                for fut in [pool.submit(self._request, n, True, sf_dir)
                            for n in MDF_QUERIES]:
                    fut.result()
        return {"warmup_s": time.perf_counter() - t0}

    def step(self) -> None:
        order = list(MDF_QUERIES)
        self.ctx.rng.shuffle(order)
        for name in order:
            self._request(name)

    def verify(self) -> None:
        pass  # every request is checked as it completes

    def throughput(self, ops) -> float:
        reqs = [o for o in ops if o.kind == "request" and o.ok]
        return len(reqs) / sum(o.seconds for o in reqs)

    def extras(self) -> dict:
        return {}


class IngestSearch:
    """Micro-batches through ``composed_ingest_sink`` beside search
    requests on the stores they write. Set-up builds the base minhash, IVF,
    BM25 and winnow stores from the ``doc_id % 3 == 0`` third of
    documents joined with embeddings; the other docs are cut into seeded
    slices, one per micro-batch. A unit is a round: one micro-batch, then
    the ``SEARCHES`` requests (BM25 via ``bm25_topk_indexed``, IVF via
    ``ivf_topk_indexed``). Search results are checked after each round, on
    the same store snapshot."""

    latency_kind = "search"
    report_kinds = (("batch", "ingest_batch"), ("search", "search"))
    throughput_name = "ingest_docs_per_s"
    SLICES = 8
    SEARCHES = ("bm25",) + ("ivf",) * 4
    K = 10
    NPROBE = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.expected = ctx.expected["ingest_search"]
        self.round_searches: list[tuple] = []
        self.batches: list[list[int]] = []
        self.recalls: list[float] = []  # IVF recall@K per checked search

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        from connect_server_spark.operators import curation
        from connect_server_spark.streaming import daily_ingest
        from connect_server_spark.tables import load_table

        ctx, spark = self.ctx, self.ctx.spark
        t0 = time.perf_counter()
        docs = load_table(spark, "documents", ctx.sf_dir).select(
            "doc_id", "text")
        emb = load_table(spark, "embeddings", ctx.sf_dir).select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        self.corpus = (
            docs.join(emb, "doc_id")
            .withColumn("ts", F.timestamp_seconds(
                F.lit(1704067200) + F.col("doc_id") % 86400))
            .withColumn("value", (F.col("doc_id") % 100).cast("double"))
        )
        self.root = f"{ctx.run_dir}/ingest"
        self.paths = daily_ingest.ingest_store_paths(self.root)
        base = self.corpus.filter(F.col("doc_id") % 3 == 0)
        daily_ingest.build_base_stores(base, self.paths)
        stores_s = time.perf_counter() - t0

        rows = self.corpus.select("doc_id", "embedding").collect()
        self.vectors = {r["doc_id"]: r["embedding"] for r in rows}
        self.base_ids = sorted(d for d in self.vectors if d % 3 == 0)
        rest = sorted(d for d in self.vectors if d % 3 != 0)
        ctx.rng.shuffle(rest)
        self.slices = [rest[i::self.SLICES] for i in range(self.SLICES)]
        self.vocab = self._vocab(base)
        self.gate = curation.make_curation_gate("doc_id", "text", c4_doc=True)
        self.sink = daily_ingest.composed_ingest_sink(
            spark, self.root, "doc_id", "text", "embedding", "ts", "value",
            gate=self.gate,
        )
        # the base build is the warm-up: it runs the write path, and the
        # timed round is always the first after it
        return {"stores_s": stores_s,
                "inputs_s": time.perf_counter() - t0 - stores_s}

    def _vocab(self, base) -> list[str]:
        """Distinct terms of the base documents, sorted: the query pool."""
        from connect_server_spark.operators.text import tokens

        terms = (
            base.select(F.explode(tokens(F.col("text"))).alias("t"))
            .filter(F.col("t") != "").distinct().collect()
        )
        return sorted(r["t"] for r in terms)

    # -- operations -----------------------------------------------------------
    def _batch(self):
        ctx = self.ctx
        t0 = time.perf_counter()
        self._check_round()  # before the stores change
        ctx.check_s += time.perf_counter() - t0
        b = len(self.batches)
        ids = self.slices[b]
        self.batches.append(ids)
        batch = self.corpus.filter(F.col("doc_id").isin(ids))
        ctx.op("batch", "batch", build=lambda: self.sink(batch, b),
               items=len(ids), repeatable=False)

    def _search(self, kind):
        ctx, spark = self.ctx, self.ctx.spark
        if kind == "bm25":
            from connect_server_spark.operators import retrieval

            q = " ".join(ctx.rng.sample(self.vocab, 3))
            result, op = ctx.op(
                "search", "bm25",
                build=lambda: retrieval.bm25_topk_indexed(
                    spark, self.paths["bm25_index"], q, k=self.K),
                action=lambda df: (df.collect(), df),
            )
        else:
            from connect_server_spark.operators import similarity

            q = self.vectors[ctx.rng.choice(sorted(self.vectors))]
            probes = spark.createDataFrame(
                [(0, q)], "probe_id int, probe_vec array<double>")
            result, op = ctx.op(
                "search", "ivf",
                build=lambda: similarity.ivf_topk_indexed(
                    probes, spark, self.paths["ivf_index"], k=self.K,
                    nprobe=self.NPROBE, corpus_id="doc_id",
                    corpus_vec="embedding"),
                action=lambda df: (df.collect(), df),
            )
        if result is not None:
            self.round_searches.append((kind, q, result, op))

    def step(self) -> None:
        self._batch()
        for kind in self.SEARCHES:
            self._search(kind)

    # -- checks (outside the timed interval) --------------------------------
    def _snapshot_ids(self) -> list[int]:
        surv = self._survivors()
        return sorted(set(self.base_ids) | set(surv))

    def _survivors(self) -> list[int]:
        from connect_server_spark.fsutil import fs_exists

        if not fs_exists(self.ctx.spark, self.paths["survivors"]):
            return []
        return [r["doc_id"] for r in self.ctx.spark.read.parquet(
            self.paths["survivors"]).select("doc_id").collect()]

    def _check_round(self) -> None:
        """BM25 results must equal the non-indexed ``bm25_topk`` over the
        same documents. IVF results must be K documents of the snapshot
        with their exact cosine, in rank order; their recall against an
        exact cosine top-k is checked over the run in :meth:`verify`."""
        if not self.round_searches:
            return
        import numpy as np

        from connect_server_spark.operators import retrieval, similarity

        ctx, spark = self.ctx, self.ctx.spark
        ids = self._snapshot_ids()
        snap = self.corpus.join(
            spark.createDataFrame([(i,) for i in ids], "doc_id long"),
            "doc_id")
        mat = np.array([self.vectors[i] for i in ids], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        tol = 10.0 ** -similarity._ROUND
        for kind, q, rows, op in self.round_searches:
            if kind == "bm25":
                ref = retrieval.bm25_topk(
                    snap.select("doc_id", "text"), "doc_id", "text", q,
                    k=self.K).collect()
                got = [(r["doc_id"], r["bm25"]) for r in rows]
                want = [(r["doc_id"], r["bm25"]) for r in ref]
                if got != want:
                    ctx.fail(op, f"bm25 {q!r}: {got} != {want}")
            else:
                v = np.asarray(q, dtype=np.float64)
                sims = mat @ (v / np.linalg.norm(v))
                pos = {d: j for j, d in enumerate(ids)}
                order = sorted(range(len(ids)),
                               key=lambda j: (-sims[j], ids[j]))
                exact = {ids[j] for j in order[: self.K]}
                got = [(r["doc_id"], r["cosine"]) for r in
                       sorted(rows, key=lambda r: r["rank"])]
                # the operator rounds cosines to similarity._ROUND digits
                wrong = [d for d, c in got
                         if d not in pos or abs(sims[pos[d]] - c) > tol]
                ranked = all(a[1] >= b[1] for a, b in zip(got, got[1:]))
                if len(got) != self.K or wrong or not ranked:
                    ctx.fail(op, f"ivf rows wrong: {len(got)} rows,"
                                 f" bad scores {wrong}, ranked={ranked}")
                self.recalls.append(len({d for d, _ in got} & exact) / self.K)
        self.round_searches = []

    def verify(self) -> None:
        """Survivors are distinct and a subset of the input; every input
        doc the gate kept is either a survivor or a logged near-duplicate;
        the kept ratio is in the expected band."""
        from connect_server_spark.fsutil import fs_exists

        self._check_round()
        ctx, spark = self.ctx, self.ctx.spark
        surv = self._survivors()
        inputs = [d for b in self.batches for d in b]
        kept = {r["doc_id"] for r in self.gate(
            self.corpus.filter(F.col("doc_id").isin(inputs))
        ).select("doc_id").collect()}
        dups = set()
        for log in ("pairs_text", "pairs_vec", "pairs_winnow"):
            if fs_exists(spark, self.paths[log]):
                dups |= {r["new_id"] for r in spark.read.parquet(
                    self.paths[log]).select("new_id").collect()}
        problems = []
        if len(surv) != len(set(surv)):
            problems.append("survivors not distinct")
        if not set(surv) <= set(inputs):
            problems.append("survivors outside the input")
        if set(surv) & dups:
            problems.append("a survivor is a logged near-duplicate")
        if not (kept - set(surv)) <= dups:
            problems.append("a gate-kept doc neither survived nor matched")
        lo = self.expected["ivf_min_mean_recall"]
        if self.recalls and statistics.mean(self.recalls) < lo:
            problems.append(f"IVF mean recall {statistics.mean(self.recalls)}"
                            f" < {lo}")
        self.kept_ratio = len(surv) / len(inputs)
        lo, hi = self.expected["kept_ratio_band"]
        if not lo <= self.kept_ratio <= hi:
            problems.append(f"kept ratio {self.kept_ratio:.4f} not in"
                            f" [{lo}, {hi}]")
        for p in problems:
            ctx.fail(None, f"verify: ingest {p}")

    # -- metrics --------------------------------------------------------------
    def throughput(self, ops) -> float:
        batches = [o for o in ops if o.kind == "batch" and o.ok]
        return sum(o.items for o in batches) / sum(o.seconds for o in batches)

    def extras(self) -> dict:
        return {"ingest.kept_ratio": (self.kept_ratio, "ratio"),
                "search.ivf_recall": (statistics.mean(self.recalls), "ratio")}


class CorpusRelease:
    """One offline release per unit: ``training_release`` (curation, BPE
    tokenization, packing, shard write and verify), then
    ``dedup_clusters``. Runnable by name; not in BENCHMARK.json (README.md
    says why). Set-up removes the dataset's cached BPE model, which the
    program keeps under a fixed path (``text_queries._bpe_model_for``), so
    the warm-up trains it as a cold run does."""

    latency_kind = "release"
    report_kinds = (("release", "release_wall"),)
    throughput_name = "release_docs_per_s"
    BPE_CACHE = "/tmp/connect_server_spark_bpe_merges_v2"

    def __init__(self, ctx):
        self.ctx = ctx
        self.kept_ratio = 0.0  # nothing is ingested
        self.expected = ctx.expected["corpus_release"]
        self.releases = 0

    def setup(self) -> dict[str, float]:
        import os

        from connect_server_spark.tables import dataset_cache_key, load_table

        ctx = self.ctx
        key = dataset_cache_key(ctx.sf_dir, "documents")
        cached = f"{self.BPE_CACHE}/{key}.json"
        if os.path.exists(cached):
            os.remove(cached)
        self.n_docs = load_table(ctx.spark, "documents", ctx.sf_dir).count()
        t0 = time.perf_counter()
        self._release(warmup=True)
        return {"warmup_s": time.perf_counter() - t0}

    def _release(self, warmup=False):
        from connect_server_spark import registry
        from connect_server_spark.queries import release_queries

        ctx = self.ctx
        out = f"{ctx.run_dir}/release-{self.releases}"
        self.releases += 1

        def build():
            return (
                release_queries.training_release(
                    ctx.spark, ctx.sf_dir, out_path=out),
                registry.all_queries()["dedup_clusters"](
                    ctx.spark, ctx.sf_dir),
            )

        def action(dfs):
            aggs = [digest_frame(df) for df in dfs]
            return [read_digest(a.collect()) for a in aggs], aggs[-1]

        def check(got):
            want = [self.expected[n] for n in ("training_release",
                                               "dedup_clusters")]
            bad = [msg for g, w in zip(got, want)
                   if (msg := _check_digest(w)(g))]
            return "; ".join(bad) or None

        ctx.op("release", "release", build=build, action=action,
               items=self.n_docs, check=check, warmup=warmup,
               repeatable=False)

    def step(self) -> None:
        self._release()

    def verify(self) -> None:
        pass  # every release is checked as it completes

    def throughput(self, ops) -> float:
        done = [o for o in ops if o.kind == "release" and o.ok]
        return sum(o.items for o in done) / sum(o.seconds for o in done)

    def extras(self) -> dict:
        return {}


WORKLOADS = {
    "mdf_requests": MdfRequests,
    "ingest_search": IngestSearch,
    "corpus_release": CorpusRelease,
}
