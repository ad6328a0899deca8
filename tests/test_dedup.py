"""Unit tests for the dedup operator family on seeded fixtures."""

from pyspark.sql import functions as F

from connect_server_spark.operators.dedup import (
    exact_dedup,
    minhash_neardup_pairs,
    simhash,
    simhash_fingerprints,
    simhash_neardup_pairs,
    word_shingles,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill near the garden gate"
)
NEAR = (
    "quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill near the garden gate"
)  # first word dropped -> high jaccard
OTHER = (
    "completely different content about spark partitions shuffles and "
    "broadcast joins at terabyte scale with adaptive execution enabled"
)


def _df(spark):
    return spark.createDataFrame(
        [(1, DOC), (2, NEAR), (3, OTHER), (4, DOC.upper() + "  ")],
        ["doc_id", "text"],
    )


def test_exact_dedup_groups_normalized(spark):
    out = {r.canonical_id: (r.n_copies, r.member_ids_csv)
           for r in exact_dedup(_df(spark), "doc_id", "text").collect()}
    assert out[1] == (2, "1,4")
    assert out[2] == (1, "2")
    assert out[3] == (1, "3")


def test_word_shingles_short_doc(spark):
    [r] = spark.createDataFrame([("one two",)], ["t"]).select(
        word_shingles(F.col("t"), 3).alias("sh")
    ).collect()
    assert r.sh == ["one two"]


def test_minhash_finds_planted_pair(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in minhash_neardup_pairs(_df(spark), "doc_id", "text",
                                            threshold=0.5, num_hashes=32,
                                            bands=16).collect()}
    keys = set(pairs)
    assert (1, 2) in keys       # near-dup found
    assert (1, 4) in keys       # exact dup (jaccard 1.0)
    assert pairs[(1, 4)] == 1.0
    assert not any(3 in k for k in keys)  # unrelated doc untouched


def test_minhash_plan_no_cartesian(spark):
    plan = minhash_neardup_pairs(
        _df(spark), "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_buckets_match_expression_spec(spark):
    """The aggregated band-bucket hot path must produce the identical
    (id, band, band_hash) set as the per-row signature expression."""
    from connect_server_spark.operators.dedup import (
        _band_hashes,
        minhash_band_buckets,
        minhash_signature,
    )

    docs = _df(spark).select(
        "doc_id", word_shingles(F.col("text"), 3).alias("sh")
    )
    spec = {
        (r.doc_id, r.band, r.band_hash)
        for r in docs.select(
            "doc_id",
            F.posexplode(
                _band_hashes(minhash_signature(F.col("sh"), 32), 8, 4)
            ).alias("band", "band_hash"),
        ).collect()
    }
    fast = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_band_buckets(docs, "doc_id", "sh", 32, 8).collect()
    }
    assert spec == fast


def test_simhash_finds_planted_pair(spark):
    pairs = {(r.id_a, r.id_b)
             for r in simhash_neardup_pairs(_df(spark), "doc_id", "text",
                                            max_hamming=10).collect()}
    assert (1, 4) in pairs      # identical after normalization: hamming 0
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_fingerprints_match_expression_spec(spark):
    """The aggregated hot path must produce bit-identical fingerprints to
    the per-row expression spec."""
    spec = {
        r.doc_id: r.fp
        for r in _df(spark)
        .select("doc_id", simhash(word_shingles(F.col("text"), 2)).alias("fp"))
        .collect()
    }
    fast = {
        r.doc_id: r._fp
        for r in simhash_fingerprints(_df(spark), "doc_id", "text", 2).collect()
    }
    assert spec == fast


def test_simhash_fingerprints_narrow_widths_match_spec(spark):
    """The packed-counter layout must not hard-code the 64-bit shape:
    narrower fingerprints (32-bit, and an odd width) must still match the
    per-row expression spec bit-for-bit."""
    for bits in (32, 17):
        spec = {
            r.doc_id: r.fp
            for r in _df(spark)
            .select(
                "doc_id",
                simhash(word_shingles(F.col("text"), 2), bits=bits).alias("fp"),
            )
            .collect()
        }
        fast = {
            r.doc_id: r._fp
            for r in simhash_fingerprints(
                _df(spark), "doc_id", "text", 2, bits=bits
            ).collect()
        }
        assert spec == fast, f"bits={bits}"


def test_simhash_plan_no_cartesian(spark):
    plan = simhash_neardup_pairs(
        _df(spark), "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_neardup_exact_and_lsh_find_planted_twin(spark):
    from connect_server_spark.operators.dedup import (
        embedding_neardup_exact,
        embedding_neardup_lsh,
    )

    base = [1.0, 0.0, 0.5, -0.5] * 16  # 64-dim
    twin = [x + 0.01 for x in base]
    other = ([0.0, 1.0, -0.5, 0.5] * 16)
    emb = spark.createDataFrame(
        [(1, base), (2, twin), (3, other)], ["vec_id", "embedding"]
    )
    exact = {(r.id_a, r.id_b) for r in
             embedding_neardup_exact(emb, threshold=0.9).collect()}
    assert exact == {(1, 2)}
    lsh = {(r.id_a, r.id_b) for r in
           embedding_neardup_lsh(emb, threshold=0.9, tables=8, bits=4).collect()}
    assert (1, 2) in lsh and not any(3 in p for p in lsh)


def test_embedding_lsh_plan_is_equijoin(spark):
    from connect_server_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    plan = embedding_neardup_lsh(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_blocked_finds_planted_pairs(spark):
    from connect_server_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _df(spark), "doc_id", "text", threshold=0.5
        ).collect()
    }
    keys = set(pairs)
    assert (1, 2) in keys            # near-dup: lengths 1 word apart
    assert (1, 4) in keys            # exact dup after normalization
    assert pairs[(1, 4)] == 1.0
    assert not any(3 in k for k in keys)


def test_ngram_jaccard_plan_no_cartesian(spark):
    from connect_server_spark.operators.dedup import ngram_jaccard_pairs

    plan = ngram_jaccard_pairs(
        _df(spark), "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_blocking_is_lossless_vs_brute_force(spark):
    """The size-ratio blocking guarantee: blocked output == brute-force
    Jaccard over ALL pairs, including pairs of very different absolute
    lengths. Random word-soup corpus with planted long-doc near-dups."""
    import itertools
    import random

    from connect_server_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(30):
        n = rng.choice([5, 8, 40, 200, 210])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted long-doc near-dup: 200 words, 10 dropped — J ≈ 0.9
    base = " ".join(rng.choice(vocab) for _ in range(200))
    docs.append((100, base))
    docs.append((101, " ".join(base.split()[10:])))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }

    sets_ = {
        r.doc_id: set(r.sh)
        for r in df.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    want = set()
    for a, b in itertools.combinations(sorted(sets_), 2):
        inter = len(sets_[a] & sets_[b])
        union = len(sets_[a] | sets_[b])
        if union and inter / union >= 0.5:
            want.add((a, b))
    assert (100, 101) in want  # the planted pair really qualifies
    assert got == want


def test_ngram_jaccard_exact_copy_farm_collapses_to_groups(spark):
    """The exact-copy-farm corner (dedup.py documents it; r4 review asked
    for it to be composed in, not left to the caller): a farm of hundreds
    of byte-identical copies must flow through the prefix filter as ONE
    representative — candidate generation O(groups) — while the output
    still equals brute force: all intra-farm pairs at Jaccard 1.0 plus
    every cross pair expanded through group membership."""
    from connect_server_spark.operators.dedup import (
        ngram_jaccard_candidates,
        ngram_jaccard_pairs,
    )

    farm_text = "identical boilerplate page repeated across the whole mirror set"
    near_text = " ".join(farm_text.split()[2:])  # J vs farm ≈ 0.6
    n_farm = 500
    rows = [(i, farm_text) for i in range(n_farm)]
    rows += [(9000, near_text)]
    rows += [(9100, "some entirely unrelated document about spark plans"),
             (9101, "different vocabulary again nothing shared with others")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    n_intra = n_farm * (n_farm - 1) // 2
    counts = pairs.groupBy((F.col("jaccard") == 1.0).alias("is_exact")).count()
    got = {r.is_exact: r["count"] for r in counts.collect()}
    assert got.get(True) == n_intra          # every intra-farm pair, J = 1.0
    assert got.get(False) == n_farm          # near-dup × every farm member
    # candidate generation really ran on representatives: the distinct
    # texts produce ≤ C(4,2) candidate pairs, not C(503,2)
    reps = spark.createDataFrame(
        [(0, farm_text), (9000, near_text),
         (9100, "some entirely unrelated document about spark plans"),
         (9101, "different vocabulary again nothing shared with others")],
        ["doc_id", "text"],
    )
    assert ngram_jaccard_candidates(reps, "doc_id", "text", threshold=0.5).count() <= 6


def test_ngram_jaccard_collapse_matches_uncollapsed_with_blocks(spark):
    """collapse_exact must be invisible in the result, including under
    co-blocking: same digest in different blocks stays unpaired, and the
    jaccard values match the uncollapsed plan exactly."""
    from connect_server_spark.operators.dedup import ngram_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "s1", base), (2, "s1", base), (3, "s1", base),      # farm in s1
        (4, "s2", base),                                         # same text, other block
        (5, "s1", " ".join(base.split()[2:])),                   # near-dup in s1
        (6, "s2", "unrelated words entirely different content here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    kw = dict(block_col="source", threshold=0.5)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, "doc_id", "text", **kw).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", collapse_exact=False, **kw
        ).collect()
    }
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert not any(4 in p for p in got)  # cross-block identical text: no pair


def test_embedding_lsh_bucket_join_carries_no_vectors(spark):
    """The SRP bucket self-join must shuffle NARROW (id, table, sig) rows;
    embeddings join back in only for the verify, moving once per side.
    Asserted on the formatted plan: every exchange partitioned on the
    signature key is vector-free."""
    from connect_server_spark.operators.dedup import embedding_neardup_lsh

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    jqe = embedding_neardup_lsh(emb)._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    sections = jqe.explainString(mode).split("\n\n")
    sig_exchanges = [
        s
        for s in sections
        if s.strip()
        and s.strip().splitlines()[0].endswith("Exchange")
        and "hashpartitioning(_table" in s
    ]
    assert sig_exchanges, "expected bucket-join exchanges keyed on (_table,_sig)"
    for s in sig_exchanges:
        assert "embedding" not in s, f"vector column in bucket shuffle:\n{s}"


def test_ngram_jaccard_prefix_filter_prunes_random_corpus(spark):
    """Uniform document lengths over disjoint random text — the old
    size-bucket blocking would put all 121 docs in one bucket (~7k
    candidates); the prefix filter generates candidates only for pairs
    actually sharing a shingle."""
    import random

    from connect_server_spark.operators.dedup import ngram_jaccard_candidates

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(800)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(20))) for i in range(120)
    ]
    base = docs[0][1].split()
    docs.append((500, " ".join(base[:19] + ["zzz"])))  # near-dup of doc 0
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cands = ngram_jaccard_candidates(df, "doc_id", "text").count()
    assert cands < 100  # ~n²/2 under size-bucket blocking


def test_ngram_jaccard_rare_first_starves_boilerplate_buckets(spark):
    """A shared header whose shingles are hot sorts to the END of the
    rarest-first canonical order, so moderate boilerplate never enters a
    prefix and candidates stay linear without any cap."""
    import random

    from connect_server_spark.operators.dedup import ngram_jaccard_candidates

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(2000)]
    header = " ".join(f"h{i}" for i in range(10))  # shared boilerplate
    docs = [
        (i, header + " " + " ".join(rng.choice(vocab) for _ in range(30)))
        for i in range(120)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    assert ngram_jaccard_candidates(df, "doc_id", "text").count() < 200


def test_ngram_jaccard_skew_guard_caps_candidates(spark):
    """Adversarial skew the canonical order cannot dodge: documents that
    are MOSTLY boilerplate (below the near-dup threshold, but more hot
    shingles than the prefix can exclude) force a hot hash into every
    prefix — candidates go quadratic. With ``max_block_rows`` the hot
    bucket reroutes through banded MinHash: candidate count collapses,
    the plan stays equi-join, and a planted high-Jaccard pair is still
    found."""
    import random

    from connect_server_spark.operators.dedup import (
        ngram_jaccard_candidates,
        ngram_jaccard_pairs,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(2000)]
    header = " ".join(f"h{i}" for i in range(25))  # heavy boilerplate
    docs = [
        (i, header + " " + " ".join(rng.choice(vocab) for _ in range(20)))
        for i in range(120)
    ]
    base = docs[0][1].split()
    docs.append((500, " ".join(base[:-1] + ["zzz"])))  # near-dup of doc 0
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    uncapped = ngram_jaccard_candidates(df, "doc_id", "text").count()
    capped = ngram_jaccard_candidates(
        df, "doc_id", "text", max_block_rows=30
    ).count()
    assert uncapped > 3000  # the hot-bucket blow-up is real
    assert capped < uncapped / 4  # the guard collapses it

    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, max_block_rows=30
        ).collect()
    }
    assert got == {(0, 500)}  # exact verify still prunes the boilerplate

    plan = (
        ngram_jaccard_pairs(df, "doc_id", "text", max_block_rows=30)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, max_block_rows=30
        ).collect()
    }
    assert (0, 500) in got
    assert all(a == 0 and b == 500 for a, b in got)

    plan = (
        ngram_jaccard_pairs(df, "doc_id", "text", max_block_rows=30)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_rejects_nonpositive_threshold(spark):
    import pytest as _pytest

    from connect_server_spark.operators.dedup import ngram_jaccard_pairs

    with _pytest.raises(ValueError):
        ngram_jaccard_pairs(_df(spark), "doc_id", "text", threshold=0.0)


def test_exact_dedup_against_drops_known_digests(spark):
    """Ingest gate: new docs whose normalized text already exists in the
    corpus are dropped; whitespace/case variants count as the same text;
    intra-batch copies pass through (exact_dedup's job)."""
    from connect_server_spark.operators.dedup import exact_dedup_against

    corpus = spark.createDataFrame(
        [(1, "Known   Document one"), (2, "another known text")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (101, "known document ONE"),   # dup of 1 after normalization
            (102, "genuinely new content"),
            (103, "genuinely new content"),  # intra-batch copy: kept here
        ],
        ["doc_id", "text"],
    )
    kept = {r.doc_id for r in
            exact_dedup_against(new, corpus, "doc_id", "text").collect()}
    assert kept == {102, 103}


def test_minhash_incremental_matches_cross_pairs_of_union(spark):
    """Daily-ingest dedup: new-batch-vs-corpus must surface exactly the
    cross-batch pairs the full union-self-pairing would (same hashes,
    same bands, same verify) — without ever self-pairing the corpus."""
    from connect_server_spark.operators.dedup import (
        minhash_neardup_against,
        minhash_neardup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    corpus_rows = [
        (1, base),
        (2, base.replace("dog", "cat")),
        (3, "completely unrelated text about spark physical plans and joins"),
        (4, "another document with its own distinct vocabulary entirely here"),
    ]
    new_rows = [
        (101, base),  # near-dup of 1 (and 2)
        (102, "fresh content that matches nothing in the existing corpus"),
        (103, base.replace("dog", "cat").replace("fast", "quickly")),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])

    inc = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in minhash_neardup_against(
            new, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    # reference: full pairing of the union, restricted to cross pairs
    union = corpus.unionByName(new)
    full = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.jaccard
        for r in minhash_neardup_pairs(
            union, "doc_id", "text", threshold=0.5
        ).collect()
        if (r.id_a >= 100) != (r.id_b >= 100)  # exactly one side is new
    }
    assert inc == full and len(inc) > 0
    assert (101, 1) in inc  # the planted near-dup surfaced


def test_minhash_index_path_matches_recompute_and_never_rescans_corpus(spark, tmp_path):
    """The persisted-index daily-ingest path must (a) return exactly what
    the recompute-everything variant returns on the same split, and (b)
    plan the batch WITHOUT touching corpus text: the executed plan reads
    the index + shingle store and never the corpus parquet — no
    corpus-side shingling/signature work survives into the batch."""
    from connect_server_spark.operators.dedup import (
        minhash_neardup_against,
        minhash_neardup_against_index,
        write_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog and runs away fast"
    corpus_rows = [
        (1, base),
        (2, base.replace("dog", "cat")),
        (3, "completely unrelated text about spark physical plans and joins"),
        (4, "another document with its own distinct vocabulary entirely here"),
    ]
    new_rows = [
        (101, base),
        (102, "fresh content that matches nothing in the existing corpus"),
        (103, base.replace("dog", "cat").replace("fast", "quickly")),
    ]
    corpus_path = str(tmp_path / "corpus_text")
    spark.createDataFrame(corpus_rows, ["doc_id", "text"]).write.parquet(
        corpus_path
    )
    corpus = spark.read.parquet(corpus_path)
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])

    index_path = str(tmp_path / "band_index")
    shingle_path = str(tmp_path / "shingle_store")
    write_minhash_index(
        corpus, "doc_id", "text", index_path, shingle_path
    )

    batch = minhash_neardup_against_index(
        new, spark, index_path, shingle_path, "doc_id", "text", threshold=0.5
    )
    got = {(r.new_id, r.corpus_id): r.jaccard for r in batch.collect()}
    want = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in minhash_neardup_against(
            new, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got == want and (101, 1) in got

    # The batch reads ONLY the persisted index + shingle store — the
    # corpus text parquet never appears among the scanned files, so no
    # corpus-side shingling/signature computation can exist in the plan
    # (the stores carry no text column to shingle). inputFiles() is the
    # untruncated source of truth (plan toString elides long paths).
    read_files = set(batch.inputFiles())
    assert any("band_index" in f for f in read_files), read_files
    assert any("shingle_store" in f for f in read_files), read_files
    assert not any("corpus_text" in f for f in read_files), read_files
    plan = batch._jdf.queryExecution().executedPlan().toString()
    # belt-and-braces: every parquet scan in the plan reads the store
    # schemas, never a text column
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scan_lines and not any("text" in l for l in scan_lines), plan

    # r6 layout guarantee (VERDICT r5 "what's wrong #1"): the store-side
    # scans must never feed an Exchange — both stores are bucketed on
    # their join key, so only batch-sized rows shuffle at ANY batch size.
    # Pinned via (a) both store scans planned as bucketed scans, (b) both
    # store joins planned shuffled-hash with the batch as build side
    # (sort-merge would put an O(corpus) Sort above the store scan), and
    # (c) the total Exchange count: signature agg + band-row shuffle +
    # candidate distinct + the two batch-side verify shuffles + the
    # verify-probe shuffle — all batch-sized; a store-side Exchange would
    # break the pin. Counted on a FRESH (unexecuted) plan: after a
    # collect, AQE's toString prints Final + Initial sections and every
    # count doubles. Broadcast is disabled here to expose the AT-SCALE
    # shape — with it on, the size-adaptive strategy rightly broadcasts
    # a test-sized store instead (also zero store-side Exchange, but it
    # wouldn't exercise the layout).
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh = minhash_neardup_against_index(
            new, spark, index_path, shingle_path, "doc_id", "text", threshold=0.5
        )
        pplan = fresh._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert pplan.count("Bucketed: true") == 2, pplan
    assert pplan.count("ShuffledHashJoin") == 2, pplan
    n_exchange = sum(
        1
        for line in pplan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )
    assert n_exchange <= 6, pplan


def test_minhash_index_append_closes_ingest_loop(spark, tmp_path):
    """The daily-ingest loop: day-1 corpus indexed, day-2 batch deduped
    against it, day-2 survivors APPENDED (O(batch) index growth — no
    corpus rewrite), and a day-3 copy of a day-2 survivor is then caught
    by the grown index."""
    from connect_server_spark.operators.dedup import (
        minhash_neardup_against_index,
        write_minhash_index,
    )

    day1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog and runs away")],
        ["doc_id", "text"],
    )
    day2 = spark.createDataFrame(
        [(201, "a wholly new document about adaptive query execution plans")],
        ["doc_id", "text"],
    )
    day3 = spark.createDataFrame(
        [(301, "a wholly new document about adaptive query execution plans")],
        ["doc_id", "text"],
    )
    ip, sp = str(tmp_path / "idx"), str(tmp_path / "sh")
    write_minhash_index(day1, "doc_id", "text", ip, sp)

    hits2 = minhash_neardup_against_index(
        day2, spark, ip, sp, "doc_id", "text", threshold=0.5
    )
    assert hits2.count() == 0  # day-2 doc is novel → survives
    write_minhash_index(day2, "doc_id", "text", ip, sp, mode="append")

    hits3 = minhash_neardup_against_index(
        day3, spark, ip, sp, "doc_id", "text", threshold=0.5
    ).collect()
    assert {(r.new_id, r.corpus_id, r.jaccard) for r in hits3} == {(301, 201, 1.0)}


def test_connected_components_chain_and_star(spark):
    """A 4-chain, a 3-star, and an isolated pair: labels = min reachable
    id regardless of edge direction or shape."""
    from connect_server_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_connected_components_raises_instead_of_wrong_labels(spark):
    from connect_server_spark.operators.clustering import (
        ConvergenceError,
        connected_components,
    )
    import pytest as _pytest

    # a 6-chain needs ~5 propagation rounds; cap at 2 must raise
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["id_a", "id_b"]
    )
    with _pytest.raises(ConvergenceError):
        connected_components(pairs, max_iterations=2)


def test_connected_components_long_chain_converges_logarithmically(spark):
    """A 200-node chain is the adversarial case for plain min-label
    propagation (needs ~199 rounds). Pointer jumping must converge it
    well inside the default max_iterations=25 (O(log k) rounds), with
    labels equal to the brute-force closure (all = min id)."""
    from connect_server_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(201)}


def test_connected_components_random_graphs_match_union_find(spark):
    """Pointer-jumped propagation vs an in-process union-find on seeded
    random graphs of varying density — every node's label must equal the
    min id of its component, for shapes no fixture anticipates."""
    import random

    from connect_server_spark.operators.clustering import connected_components

    rng = random.Random(23)
    for n_nodes, n_edges in [(30, 10), (40, 40), (25, 80)]:
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        in_graph = {v for e in edges for v in e}
        expected = {v: find(v) for v in in_graph}

        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r.id: r.component for r in connected_components(pairs).collect()}
        assert got == expected, (n_nodes, n_edges)


def test_assign_clusters_covers_singletons(spark):
    from connect_server_spark.operators.clustering import assign_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    rows = {r.doc_id: r for r in assign_clusters(docs, pairs, "doc_id").collect()}
    assert [rows[i].component for i in range(1, 6)] == [1, 1, 1, 4, 5]
    assert [rows[i].cluster_size for i in range(1, 6)] == [3, 3, 3, 1, 1]
    assert [rows[i].is_canonical for i in range(1, 6)] == [
        True, False, False, True, True,
    ]


def test_assign_clusters_mega_component_no_corpus_partition_by_component(spark):
    """The 100×-scale hot-key guard: one component holding half the corpus
    must not serialize onto one task. The plan must contain no Window (the
    old per-component window) and the only shuffle keyed on `component`
    is the one-row-per-component sizes aggregation over GRAPH NODES —
    the full corpus joins sizes back via broadcast, never an Exchange on
    component."""
    from connect_server_spark.operators.clustering import assign_clusters

    n = 2000
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], ["doc_id", "text"]
    )
    # star: doc 0 paired with every even doc — one component of size n/2
    pairs = spark.createDataFrame(
        [(0, i) for i in range(2, n, 2)], ["id_a", "id_b"]
    )
    out = assign_clusters(docs, pairs, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    component_exchanges = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning(component" in line
        and "ReusedExchange" not in line
    ]
    assert len(component_exchanges) <= 1, plan  # the sizes agg only
    assert "BroadcastHashJoin" in plan, plan

    rows = {r.doc_id: r for r in out.collect()}
    mega = [r for r in rows.values() if r.component == 0]
    assert len(mega) == n // 2 and all(r.cluster_size == n // 2 for r in mega)
    assert rows[0].is_canonical and not rows[2].is_canonical
    assert rows[1].cluster_size == 1 and rows[1].is_canonical


def test_embedding_incremental_against_index(spark, tmp_path):
    """The embedding daily-ingest gate: (a) at nprobe = nlist the indexed
    path equals the brute-force batch-vs-corpus check exactly; (b) at
    nprobe < nlist the planted near-twin is still found (near-identical
    vectors assign to the same top cell); (c) the batch plan scans only
    the index store, and its single Python boundary assigns the batch."""
    import numpy as np

    from connect_server_spark.operators.dedup import (
        embedding_neardup_against_index,
    )
    from connect_server_spark.operators.similarity import (
        cosine_similarity as _cos,
        write_ivf_index,
    )

    rng = np.random.RandomState(13)
    centers = rng.randn(4, 16)
    corpus_rows = [
        (i, (centers[i % 4] + 0.1 * rng.randn(16)).tolist()) for i in range(80)
    ]
    corpus = spark.createDataFrame(corpus_rows, ["vec_id", "embedding"])
    ix = str(tmp_path / "ivf")
    write_ivf_index(corpus, ix, nlist=8)

    twin = (np.array(corpus_rows[5][1]) + 0.01 * rng.randn(16)).tolist()
    novel = (10 * rng.randn(16)).tolist()
    batch = spark.createDataFrame(
        [(9001, twin), (9002, novel)], ["vec_id", "embedding"]
    )

    # (a) nprobe = nlist ≡ exact brute force
    got = {
        (r.new_id, r.corpus_id, r.cosine)
        for r in embedding_neardup_against_index(
            batch, spark, ix, threshold=0.9, nprobe=8
        ).collect()
    }
    a = batch.select(
        F.col("vec_id").alias("new_id"), F.col("embedding").alias("_va")
    )
    b = corpus.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("_vb")
    )
    want = {
        (r.new_id, r.corpus_id, r.cosine)
        for r in a.crossJoin(b)
        .select("new_id", "corpus_id",
                _cos(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= 0.9)
        .collect()
    }
    assert got == want and any(n == 9001 and c == 5 for n, c, _ in got)

    # (b) nprobe = 2 still catches the twin; the novel vector stays clean
    part = embedding_neardup_against_index(
        batch, spark, ix, threshold=0.9, nprobe=2
    )
    pairs = {(r.new_id, r.corpus_id) for r in part.collect()}
    assert (9001, 5) in pairs
    assert not any(n == 9002 for n, _ in pairs)

    # (c) plan hygiene
    assert all("/cells" in f for f in part.inputFiles()), part.inputFiles()
    # executed AQE plans print the final AND initial plan — count the final
    plan = part._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in plan
    # r6 layout pin (VERDICT r5 "what's wrong #1"): the cell-store scan
    # never feeds an Exchange — the batch side is explicitly broadcast
    # (contract: one gated batch slice ≤ the broadcast threshold; slice
    # and loop above that), so the O(corpus) store vectors stream through
    # a BroadcastHashJoin and never sort or shuffle.
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final, final


def _spans_reference(rows, k, min_occ=2, cross_doc=False):
    """Brute-force python reference for duplicated_ngram_spans."""
    import re
    from collections import Counter, defaultdict

    def norm_tokens(t):
        return re.sub(r"\s+", " ", t.lower()).strip().split(" ")

    wins = []  # (id, pos, key)
    for doc_id, text in rows:
        toks = norm_tokens(text)
        if len(toks) < k:
            continue
        for p in range(len(toks) - k + 1):
            wins.append((doc_id, p, " ".join(toks[p : p + k])))
    cnt = Counter(key for _, _, key in wins)
    docs_of = defaultdict(set)
    for d, _, key in wins:
        docs_of[key].add(d)
    if cross_doc:
        dup = {key for key in cnt if len(docs_of[key]) >= 2}
    else:
        dup = {key for key, c in cnt.items() if c >= min_occ}
    flagged = defaultdict(list)
    for d, p, key in wins:
        if key in dup:
            flagged[d].append(p)
    out = set()
    for d, ps in flagged.items():
        ps.sort()
        start, last, n = ps[0], ps[0], 1
        for p in ps[1:]:
            if p - last > k:
                out.add((d, start, last + k, n))
                start, n = p, 0
            last = p
            n += 1
        out.add((d, start, last + k, n))
    return out


def test_duplicated_ngram_spans_matches_reference(spark):
    """Hand corpus: shared boilerplate between two docs, an internal
    repeat inside one doc, overlapping windows merging into one maximal
    span — output equals the brute-force reference exactly, in both
    any-repeat and cross-doc-only modes."""
    from connect_server_spark.operators.dedup import duplicated_ngram_spans

    boiler = "all rights reserved contact us terms of service apply here"
    rows = [
        (1, f"alpha beta gamma {boiler} delta epsilon zeta"),
        (2, f"one two three four {boiler} five six seven"),
        (3, "self repeat block self repeat block self repeat block tail"),
        (4, "wholly unique content with no duplication at all present"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for cross in (False, True):
        got = {
            (r.id, r.span_start, r.span_end, r.n_windows)
            for r in duplicated_ngram_spans(
                df, "doc_id", "text", k=4, cross_doc_only=cross
            ).collect()
        }
        want = _spans_reference(rows, k=4, cross_doc=cross)
        assert got == want, (cross, got ^ want)
        assert any(d == 1 for d, *_ in got)  # boilerplate found
        assert not any(d == 4 for d, *_ in got)  # unique doc untouched


def test_duplicated_ngram_spans_duckdb_mirror(spark, sf_dir):
    """Exact DuckDB mirror at test scale (md5 keys are engine-portable):
    the rows-only registry query would be oracle-gated but for the
    driver's 50-slot window — the oracle runs HERE instead, verbatim
    from the promotion-ready constant (r13 pool; driver-grade compare
    incl. column names)."""
    from connect_server_spark.queries.dedup_queries import (
        DEDUP_SUBSTRING_SPANS_ORACLE_SQL,
        dedup_substring_spans,
    )
    from tests.oracle import assert_matches_oracle

    df = dedup_substring_spans(spark, sf_dir)
    assert_matches_oracle(df, DEDUP_SUBSTRING_SPANS_ORACLE_SQL, sf_dir)
    assert df.count() > 0


def test_cut_duplicate_spans_strips_boilerplate_everywhere(spark):
    """detect → cut composition: the shared boilerplate disappears from
    every document, unaffected documents pass through untouched, and
    n_tokens_cut accounts exactly for the removed ranges. Re-detecting
    on the cut corpus finds no cross-document repeats."""
    from connect_server_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicated_ngram_spans,
    )

    boiler = "all rights reserved contact us terms of service apply here"
    rows = [
        (1, f"alpha beta gamma {boiler} delta epsilon zeta"),
        (2, f"one two three four {boiler} five six seven"),
        (3, "wholly unique content with no duplication at all present"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicated_ngram_spans(df, "doc_id", "text", k=4)
    cut = {
        r.id: (r.text, r.n_tokens_cut)
        for r in cut_duplicate_spans(df, spans, "doc_id", "text").collect()
    }
    n_boiler = len(boiler.split())
    assert cut[1] == ("alpha beta gamma delta epsilon zeta", n_boiler)
    assert cut[2] == ("one two three four five six seven", n_boiler)
    assert cut[3] == (rows[2][1], 0)  # untouched, zero cut

    cut_df = spark.createDataFrame(
        [(i, t) for i, (t, _) in cut.items()], ["doc_id", "text"]
    )
    again = duplicated_ngram_spans(
        cut_df, "doc_id", "text", k=4, cross_doc_only=True
    )
    assert again.count() == 0


def test_semantic_dedup_clusters_match_union_find(spark):
    """SemDeDup composition on planted geometry: three twin groups plus
    isolated vectors — the LSH pair set equals the exact all-pairs set
    at the query's (16 tables × 8 bits) sizing, and the cluster
    assignment matches a union-find reference (canonical = min id,
    sizes exact, isolated vectors are their own canonical)."""
    import numpy as np

    from connect_server_spark.operators.clustering import assign_clusters
    from connect_server_spark.operators.dedup import (
        embedding_neardup_exact,
        embedding_neardup_lsh,
    )

    rng = np.random.RandomState(11)
    groups = {0: [1, 2, 3], 1: [10, 11], 2: [20, 21]}
    centers = {g: rng.randn(32) for g in groups}
    rows = []
    for g, ids in groups.items():
        for i in ids:
            rows.append((i, (centers[g] + 0.005 * rng.randn(32)).tolist()))
    rows += [(90 + j, (10 * rng.randn(32)).tolist()) for j in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_exact(emb, threshold=0.95).collect()
    }
    lsh_pairs = embedding_neardup_lsh(emb, threshold=0.95, tables=16, bits=8)
    lsh = {(r.id_a, r.id_b) for r in lsh_pairs.collect()}
    assert lsh == exact and len(exact) > 0

    got = {
        r.vec_id: (r.component, r.cluster_size, r.is_canonical)
        for r in assign_clusters(
            emb.select("vec_id"), lsh_pairs, "vec_id"
        ).collect()
    }
    for g, ids in groups.items():
        comp = min(ids)
        for i in ids:
            assert got[i] == (comp, len(ids), i == comp), (i, got[i])
    for j in range(4):
        assert got[90 + j] == (90 + j, 1, True)


def test_window_index_incremental_spans_match_union_reference(spark, tmp_path):
    """The incremental substring leg: batch spans against the persisted
    window store equal duplicated_ngram_spans over corpus ∪ batch
    restricted to batch documents — covering batch-vs-corpus overlap,
    batch-internal repeats, and clean batch docs — and the append leg
    grows the store so a later copy of a batch passage is caught. The
    probe plan reads the store bucketed with no store-side Exchange."""
    from connect_server_spark.operators.dedup import (
        duplicated_ngram_spans,
        duplicated_spans_against_index,
        write_window_index,
    )

    boiler = "all rights reserved contact us terms of service apply here"
    corpus_rows = [
        (1, f"intro words before {boiler} and after them tail"),
        (2, "corpus content with nothing shared across any batch row"),
    ]
    batch_rows = [
        (101, f"fresh opening {boiler} fresh closing words here"),  # vs corpus
        (102, "self block repeat self block repeat self block repeat end"),
        (103, "entirely novel passage with unique vocabulary throughout"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    ix = str(tmp_path / "winix")
    write_window_index(corpus, "doc_id", "text", ix, k=4)

    got = {
        (r.id, r.span_start, r.span_end, r.n_windows)
        for r in duplicated_spans_against_index(
            batch, spark, ix, "doc_id", "text", k=4
        ).collect()
    }
    union = spark.createDataFrame(
        corpus_rows + batch_rows, ["doc_id", "text"]
    )
    want = {
        (r.id, r.span_start, r.span_end, r.n_windows)
        for r in duplicated_ngram_spans(union, "doc_id", "text", k=4)
        .filter(F.col("id") >= 100)
        .collect()
    }
    assert got == want
    assert any(d == 101 for d, *_ in got)  # corpus overlap found
    assert any(d == 102 for d, *_ in got)  # batch-internal repeat found
    assert not any(d == 103 for d, *_ in got)

    # store-side layout pin (broadcast disabled → the at-scale shape)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh = duplicated_spans_against_index(
            batch, spark, ix, "doc_id", "text", k=4
        )
        plan = fresh._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("Bucketed: true") == 1, plan
    assert "ShuffledHashJoin" in plan, plan

    # append leg: a later batch repeating a passage from THIS batch is
    # caught only because the store grew
    write_window_index(batch, "doc_id", "text", ix, k=4, mode="append")
    later = spark.createDataFrame(
        [(201, "entirely novel passage with unique vocabulary throughout")],
        ["doc_id", "text"],
    )
    hits = duplicated_spans_against_index(
        later, spark, ix, "doc_id", "text", k=4
    ).collect()
    assert {(r.id, r.span_start) for r in hits} == {(201, 0)}


# ------------------------------------------------- winnowing (r7)


from conftest import py_winnow as _py_winnow


def test_winnow_fingerprints_match_hashlib_mirror(spark, sf_dir):
    from connect_server_spark.operators.dedup import winnow_fingerprints

    # deterministic subset (limit-without-order may pick different rows
    # in the two independent jobs below)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    got = {
        r.id: set(r.fps)
        for r in winnow_fingerprints(docs, "doc_id", "text").collect()
    }
    want = {r.doc_id: _py_winnow(r.text) for r in docs.collect()}
    want = {i: f for i, f in want.items() if f}
    assert got == want


def test_winnow_pairs_match_python_mirror(spark):
    """Full-pipeline mirror on a small planted corpus, max_df wide open
    so the candidate cap can't hide pairs from the comparison."""
    from connect_server_spark.operators.dedup import winnow_neardup_pairs

    rows = [
        (1, DOC),
        (2, NEAR),
        (3, OTHER),
        (4, DOC.upper() + "  "),
        (5, "tiny doc"),
        (6, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): (r.shared, r.n_a, r.n_b, round(r.jaccard, 9))
        for r in winnow_neardup_pairs(
            df, "doc_id", "text", threshold=0.3, max_df=100
        ).collect()
    }
    fps = {i: _py_winnow(t) for i, t in rows}
    want = {}
    for ia in sorted(fps):
        for ib in sorted(fps):
            if ia >= ib:
                continue
            inter = len(fps[ia] & fps[ib])
            if not inter:
                continue
            jac = inter / len(fps[ia] | fps[ib])
            if jac >= 0.3:
                want[(ia, ib)] = (
                    inter, len(fps[ia]), len(fps[ib]), round(jac, 9)
                )
    assert got == want
    assert (1, 4) in got and got[(1, 4)][3] == 1.0  # exact dup after norm
    assert (5, 6) in got  # sub-window docs still fingerprint


def test_winnow_guarantee_shared_run_always_detected(spark):
    """The winnowing theorem (Schleimer et al. §3): any shared token run
    of length >= window + k - 1 yields >= 1 common fingerprint — checked
    over seeded random docs with a planted common passage at the minimum
    guaranteed length, embedded at different positions."""
    import random

    from connect_server_spark.operators.dedup import winnow_fingerprints

    k, window = 4, 4
    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for case in range(40):
        passage = [rng.choice(vocab) for _ in range(window + k - 1)]
        a = [rng.choice(vocab) for _ in range(rng.randint(0, 60))]
        b = [rng.choice(vocab) for _ in range(rng.randint(0, 60))]
        rows.append((2 * case, " ".join(a + passage)))
        rows.append((2 * case + 1, " ".join(passage + b)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r.id: set(r.fps)
        for r in winnow_fingerprints(
            df, "doc_id", "text", k=k, window=window
        ).collect()
    }
    for case in range(40):
        assert fps[2 * case] & fps[2 * case + 1], f"case {case}: no common fp"


def test_winnow_hot_fingerprint_cap_bounds_postings(spark):
    """A k-gram shared by every document (boilerplate) must not build a
    quadratic candidate bucket: with max_df below the corpus size the
    boilerplate-only pair disappears, while a pair that also shares RARE
    fingerprints keeps its exact (uncapped) score."""
    from connect_server_spark.operators.dedup import winnow_neardup_pairs

    boiler = "subscribe to our newsletter for updates today"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c {boiler}") for i in range(30)]
    rows.append((100, f"shared passage alpha beta gamma delta {boiler}"))
    rows.append((101, f"shared passage alpha beta gamma delta {boiler} extra"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = winnow_neardup_pairs(
        df, "doc_id", "text", threshold=0.15, max_df=5
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    # boilerplate-only overlaps (every i<j pair among 0..29) are gone
    assert all(a == 100 and b == 101 for a, b in got)
    # the rare-fingerprint pair survives with its exact full-set score
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in winnow_neardup_pairs(
            df, "doc_id", "text", threshold=0.15, max_df=10_000
        ).collect()
        if (r.id_a, r.id_b) == (100, 101)
    }
    assert got == uncapped


def test_winnow_fingerprints_are_scan_stage(spark, sf_dir):
    """Zero Exchange for the fingerprint computation — the selection is
    pure expressions, so at 100 TB it rides the corpus scan."""
    from connect_server_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        winnow_fingerprints(docs, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_winnow_index_matches_direct_and_stays_store_side_exchange_free(
    spark, tmp_path
):
    """The incremental winnow probe ≡ the python full-set mirror over
    batch × corpus pairs (max_df wide open), reads only the store (never
    corpus text), and — with broadcast disabled to expose the at-scale
    shape — both store scans are bucketed and feed no Exchange."""
    from connect_server_spark.operators.dedup import (
        winnow_neardup_against_index,
        write_winnow_index,
    )

    corpus_rows = [(1, DOC), (2, OTHER), (3, "short text here")]
    new_rows = [(101, NEAR), (102, "unrelated brand new content entirely")]
    corpus_path = str(tmp_path / "corpus_text")
    spark.createDataFrame(corpus_rows, ["doc_id", "text"]).write.parquet(
        corpus_path
    )
    corpus = spark.read.parquet(corpus_path)
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    index_path = str(tmp_path / "winnow_index")
    write_winnow_index(corpus, "doc_id", "text", index_path)

    batch = winnow_neardup_against_index(
        new, spark, index_path, "doc_id", "text",
        threshold=0.3, max_df=10_000,
    )
    got = {
        (r.new_id, r.corpus_id): (r.shared, round(r.jaccard, 9))
        for r in batch.collect()
    }
    cf = {i: _py_winnow(t) for i, t in corpus_rows}
    nf = {i: _py_winnow(t) for i, t in new_rows}
    want = {}
    for ni, nfp in nf.items():
        for ci, cfp in cf.items():
            inter = len(nfp & cfp)
            if inter and inter / len(nfp | cfp) >= 0.3:
                want[(ni, ci)] = (inter, round(inter / len(nfp | cfp), 9))
    assert got == want and (101, 1) in got

    read_files = set(batch.inputFiles())
    assert any("winnow_index" in f for f in read_files), read_files
    assert not any("corpus_text" in f for f in read_files), read_files
    scan_lines = [
        l
        for l in batch._jdf.queryExecution().executedPlan().toString().splitlines()
        if "FileScan parquet" in l
    ]
    assert scan_lines and not any("text" in l for l in scan_lines)

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh = winnow_neardup_against_index(
            new, spark, index_path, "doc_id", "text",
            threshold=0.3, max_df=10_000,
        )
        pplan = fresh._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    # posts is scanned twice (df count + candidates) plus the fps verify
    # scan — every store scan planned bucketed, every store join
    # shuffled-hash with the batch as build side (sort-merge would put
    # an O(corpus) Sort above the store scan; the SMJs that remain are
    # batch-only joins). Exchange total stays batch-sized: explode/
    # distinct/agg shuffles of batch rows only.
    assert pplan.count("Bucketed: true") >= 3, pplan
    assert pplan.count("ShuffledHashJoin") >= 3, pplan
    for line in pplan.splitlines():
        if "FileScan" in line and "Bucketed: false" in line:
            raise AssertionError(f"unbucketed store scan: {line}")
    n_exchange = sum(
        1
        for line in pplan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )
    assert n_exchange <= 10, pplan


def test_winnow_index_append_and_hot_fp_cap(spark, tmp_path):
    """Day-2 survivors append in O(batch); a day-3 copy of a day-2
    survivor is caught by the grown index. And the probe-time df cap:
    a fingerprint hot in the STORE stops generating candidates without
    touching surfaced pairs' exact scores."""
    from connect_server_spark.operators.dedup import (
        winnow_neardup_against_index,
        write_winnow_index,
    )

    index_path = str(tmp_path / "widx")
    day1 = spark.createDataFrame([(1, DOC), (2, OTHER)], ["doc_id", "text"])
    write_winnow_index(day1, "doc_id", "text", index_path)
    day2 = spark.createDataFrame([(10, NEAR)], ["doc_id", "text"])
    hits2 = winnow_neardup_against_index(
        day2, spark, index_path, "doc_id", "text", threshold=0.3
    )
    assert {(r.new_id, r.corpus_id) for r in hits2.collect()} == {(10, 1)}
    write_winnow_index(day2, "doc_id", "text", index_path, mode="append")
    day3 = spark.createDataFrame([(20, NEAR)], ["doc_id", "text"])
    got3 = {(r.new_id, r.corpus_id) for r in winnow_neardup_against_index(
        day3, spark, index_path, "doc_id", "text", threshold=0.3
    ).collect()}
    assert (20, 10) in got3 and (20, 1) in got3

    # hot-fp cap: boilerplate shared by every store doc exceeds max_df
    # and generates no candidates; a rare overlap still surfaces with
    # its exact full-set score.
    boiler = "subscribe to our newsletter for updates today please"
    store = spark.createDataFrame(
        [(i, f"u{i}x u{i}y u{i}z {boiler}") for i in range(12)]
        + [(50, f"rare passage alpha beta gamma delta {boiler}")],
        ["doc_id", "text"],
    )
    hot_path = str(tmp_path / "hotidx")
    write_winnow_index(store, "doc_id", "text", hot_path)
    probe = spark.createDataFrame(
        [(200, f"rare passage alpha beta gamma delta {boiler} tail")],
        ["doc_id", "text"],
    )
    capped = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in winnow_neardup_against_index(
            probe, spark, hot_path, "doc_id", "text",
            threshold=0.1, max_df=5,
        ).collect()
    }
    assert set(capped) == {(200, 50)}
    uncapped = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in winnow_neardup_against_index(
            probe, spark, hot_path, "doc_id", "text",
            threshold=0.1, max_df=10_000,
        ).collect()
        if (r.new_id, r.corpus_id) == (200, 50)
    }
    assert capped == uncapped  # the cap never changed a surfaced score


def test_winnow_guarantee_property_on_mirror():
    """Hypothesis sweep of the winnowing theorem on the python mirror
    (mirror ≡ Spark is pinned separately): any two token sequences
    sharing a contiguous run of >= window + k - 1 tokens share >= 1
    fingerprint, for every (k, window) in a small grid and arbitrary
    surrounding tokens."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from conftest import py_winnow

    token = st.text(alphabet="abcdefgh", min_size=1, max_size=3)

    @settings(max_examples=120, deadline=None)
    @given(
        k=st.integers(2, 5),
        window=st.integers(2, 5),
        run_extra=st.integers(0, 4),
        prefix_a=st.lists(token, max_size=12),
        suffix_a=st.lists(token, max_size=12),
        prefix_b=st.lists(token, max_size=12),
        suffix_b=st.lists(token, max_size=12),
        run_seed=st.lists(token, min_size=1, max_size=20),
    )
    def check(k, window, run_extra, prefix_a, suffix_a, prefix_b, suffix_b, run_seed):
        need = window + k - 1 + run_extra
        run = (run_seed * ((need // len(run_seed)) + 1))[:need]
        a = " ".join(prefix_a + run + suffix_a)
        b = " ".join(prefix_b + run + suffix_b)
        fa = py_winnow(a, k=k, window=window)
        fb = py_winnow(b, k=k, window=window)
        assert fa & fb, (k, window, a, b)

    check()


def test_embedding_incremental_reads_one_ivf_generation(spark, tmp_path, monkeypatch):
    """The embedding probe resolves the IVF store ONCE: when a rebalance
    publishes between two resolves (simulated by a ``resolve_store``
    that serves generation A first and B afterwards), centroids and
    cells still come from one generation and the twin is found. The two
    generations number the same cells in opposite orders, so new
    centroids paired with old cell ids would probe the wrong cell."""
    import numpy as np

    from connect_server_spark import fsutil
    from connect_server_spark.operators.dedup import (
        embedding_neardup_against_index,
    )
    from connect_server_spark.operators.similarity import (
        read_ivf_centroids,
        write_ivf_index,
    )

    rng = np.random.RandomState(13)
    centers = rng.randn(4, 16)
    rows = [(i, (centers[i % 4] + 0.1 * rng.randn(16)).tolist()) for i in range(80)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    gen_a, gen_b = str(tmp_path / "gen_a"), str(tmp_path / "gen_b")
    write_ivf_index(corpus, gen_a, nlist=8)
    write_ivf_index(corpus, gen_b, centroids=read_ivf_centroids(spark, gen_a)[::-1])
    twin = (np.array(rows[5][1]) + 0.01 * rng.randn(16)).tolist()
    batch = spark.createDataFrame([(9001, twin)], ["vec_id", "embedding"])

    root = str(tmp_path / "ivf")
    real = fsutil.resolve_store
    served = []

    def flipping(spark_, path, generation=None):
        if path.rstrip("/") == root:
            live = gen_b if any(p == root for p, _ in served) else gen_a
        else:
            live = real(spark_, path, generation)
        served.append((path.rstrip("/"), live))
        return live

    monkeypatch.setattr(fsutil, "resolve_store", flipping)
    pairs = {
        (r.new_id, r.corpus_id)
        for r in embedding_neardup_against_index(
            batch, spark, root, threshold=0.9, nprobe=1
        ).collect()
    }
    assert {live for _, live in served} == {gen_a}
    assert (9001, 5) in pairs
