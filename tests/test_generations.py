"""Object-store-safe store swaps (r8 verdict ask #3): every store
rewrite — ``storage.compact``, ``storage.compact_bucketed``,
``rebalance_ivf_index``, the ledger and rollup compactions — builds a
generation directory and flips a ``_CURRENT`` pointer. The pointer flip
is one small-file atomic replace, so a concurrent reader sees the old
generation or the new one — never a half-copied mix (a directory rename
is a per-object copy on S3A); superseded payloads survive exactly one
publish as reader grace, then are GC'd."""

from __future__ import annotations

import ast
import glob
import os
import pathlib

import pytest
from pyspark.sql import functions as F

import connect_server_spark
from connect_server_spark.fsutil import (
    CURRENT_POINTER,
    GENERATION_PREFIX,
    HISTORY_FILE,
    begin_generation,
    publish_generation,
    read_text,
    resolve_store,
    write_text_atomic,
)


def _gen_dirs(root):
    return sorted(
        d for d in os.listdir(root) if d.startswith(GENERATION_PREFIX)
    )


def test_resolve_flat_store_is_identity_and_pointer_resolves(spark, tmp_path):
    root = str(tmp_path / "store")
    os.makedirs(root)
    assert resolve_store(spark, root) == root  # flat at birth
    gen = begin_generation(spark, root)
    assert gen == f"{root}/{GENERATION_PREFIX}00000001"
    os.makedirs(gen, exist_ok=True)
    publish_generation(spark, root, gen)
    assert resolve_store(spark, root) == gen
    assert resolve_store(spark, gen) == gen  # idempotent on payload dirs


def test_corrupt_pointer_refuses_instead_of_misreading(spark, tmp_path):
    root = str(tmp_path / "store")
    os.makedirs(root)
    write_text_atomic(spark, f"{root}/{CURRENT_POINTER}", "../evil")
    with pytest.raises(ValueError, match="corrupt generation pointer"):
        resolve_store(spark, root)


def test_begin_generation_skips_orphans_and_publish_gcs_them(spark, tmp_path):
    """A crash between build and publish leaves an unpublished orphan:
    the pointer (and therefore the store) is untouched, the next build
    gets a FRESH number (never reuses the orphan), and the next
    successful publish GCs it."""
    root = str(tmp_path / "store")
    g1 = begin_generation(spark, root)
    os.makedirs(g1, exist_ok=True)
    publish_generation(spark, root, g1)
    orphan = begin_generation(spark, root)
    os.makedirs(orphan, exist_ok=True)  # "crash": built, never published
    assert resolve_store(spark, root) == g1  # reader unaffected
    g3 = begin_generation(spark, root)
    assert g3 not in (g1, orphan)
    os.makedirs(g3, exist_ok=True)
    publish_generation(spark, root, g3)
    assert resolve_store(spark, root) == g3
    assert not os.path.exists(orphan)  # orphan GC'd
    assert os.path.isdir(g1)  # previous live kept as grace
    g4 = begin_generation(spark, root)
    os.makedirs(g4, exist_ok=True)
    publish_generation(spark, root, g4)
    assert not os.path.exists(g1)  # grace expired at the NEXT publish
    assert os.path.isdir(g3)


def test_compact_swap_keeps_concurrent_reader_on_one_generation(
    spark, tmp_path
):
    """The verdict's done-criterion: a reader that resolved before the
    swap keeps collecting the OLD generation's exact rows after the
    flip (its files are grace-protected), a reader resolving after sees
    the new generation — and at no point does either observe a mix."""
    from connect_server_spark.storage import compact

    root = str(tmp_path / "store")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 3).alias("grp")
    )
    df.repartition(16).write.parquet(root)

    pre_live = resolve_store(spark, root)
    reader = spark.read.parquet(pre_live)  # in-flight reader, pre-swap
    want = sorted(tuple(r) for r in reader.collect())

    compact(spark, root)

    # in-flight reader: identical rows, still served from its snapshot
    assert sorted(tuple(r) for r in reader.collect()) == want
    post_live = resolve_store(spark, root)
    assert post_live != pre_live
    # fresh reader: the one compacted file, same rows
    fresh = spark.read.parquet(post_live)
    assert sorted(tuple(r) for r in fresh.collect()) == want
    assert len(glob.glob(f"{post_live}/part-*.parquet")) == 1
    # never a mix: the pointer names exactly one generation
    assert read_text(
        spark, f"{root}/{CURRENT_POINTER}"
    ).strip() == post_live.rsplit("/", 1)[1]


def test_compact_twice_gcs_flat_legacy_and_bounds_generations(
    spark, tmp_path
):
    from connect_server_spark.storage import compact

    root = str(tmp_path / "store")
    spark.range(0, 100).write.parquet(root)
    flat_files = glob.glob(f"{root}/part-*.parquet")
    assert flat_files

    compact(spark, root)
    # first publish: flat payload IS the previous generation — kept
    assert all(os.path.exists(f) for f in flat_files)
    compact(spark, root)
    # second publish: flat legacy GC'd, exactly live + grace remain
    assert not any(os.path.exists(f) for f in flat_files)
    assert len(_gen_dirs(root)) == 2
    live = resolve_store(spark, root)
    assert spark.read.parquet(live).count() == 100


def test_bucketed_append_after_compact_lands_in_live_generation(
    spark, tmp_path
):
    """write_bucketed_path(mode='append') must resolve the pointer: an
    append into the superseded flat payload would be invisible to every
    resolving reader and silently GC'd by the next publish."""
    from connect_server_spark.storage import (
        compact_bucketed,
        read_bucketed,
        write_bucketed_path,
    )

    root = str(tmp_path / "bkt")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    )
    write_bucketed_path(df, root, "k")
    compact_bucketed(spark, root, "k")
    live = resolve_store(spark, root)
    assert live != root

    batch = spark.createDataFrame([(1000, "late")], "k long, v string")
    write_bucketed_path(batch, root, "k", mode="append")
    got = read_bucketed(spark, root, "k")
    assert got.count() == 51
    assert got.filter(F.col("k") == 1000).count() == 1
    # the append physically landed inside the live generation
    assert any(
        os.path.getsize(p) > 0 for p in glob.glob(f"{live}/*.parquet")
    )
    after = spark.read.parquet(live)
    assert after.filter(F.col("k") == 1000).count() == 1

    # and a second compaction folds the append in and GCs the legacy
    compact_bucketed(spark, root, "k")
    assert read_bucketed(spark, root, "k").count() == 51
    assert not glob.glob(f"{root}/*.parquet")  # flat legacy gone


def test_bucketed_respec_after_overwrite_never_serves_stale_layout(
    spark, tmp_path
):
    """Review pin: table names are content-hashed from the PATH, and an
    overwrite resets generation numbering — so a recreated
    _gen-00000001 under a re-keyed store must never be served with the
    old CLUSTERED BY (wrong bucket assignments → silently wrong joins).
    ensure_bucketed_table re-validates the spec; write_bucketed_path
    overwrite also drops the per-generation registrations."""
    from connect_server_spark.storage import (
        compact_bucketed,
        read_bucketed,
        write_bucketed_path,
    )

    root = str(tmp_path / "bkt")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    )
    write_bucketed_path(df, root, "k")
    compact_bucketed(spark, root, "k")
    # reads registered a table for _gen-00000001 under the OLD spec
    assert read_bucketed(spark, root, "k").count() == 40

    df2 = spark.createDataFrame(
        [(i, i * 2) for i in range(40)], "j long, payload long"
    )
    write_bucketed_path(df2, root, "j", mode="overwrite")
    compact_bucketed(spark, root, "j")  # recreates _gen-00000001
    got = read_bucketed(spark, root, "j")
    assert got.count() == 40
    assert got.columns == ["j", "payload"]
    # the catalog spec serving this read is the NEW one, not the stale
    # by-k registration the reused generation path once had
    from connect_server_spark.fsutil import resolve_store
    from connect_server_spark.storage import (
        STORE_BUCKETS,
        ensure_bucketed_table,
    )

    name = ensure_bucketed_table(spark, resolve_store(spark, root), "j")
    spec = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    }
    assert spec.get("Num Buckets") == str(STORE_BUCKETS)
    assert spec.get("Bucket Columns") == "[`j`]"


def test_compact_partitioned_publish_root_preserves_pruning(
    spark, tmp_path
):
    """Compacting a partitioned table: the whole table rewrites into a
    generation, the hive layout survives — point reads still prune to
    one bucket directory via PartitionFilters — and values are
    identical."""
    from pyspark.sql import functions as F

    from connect_server_spark.storage import (
        compact,
        status_point_read,
        write_status_layout,
    )

    root = str(tmp_path / "status")
    df = spark.range(0, 3000).select(
        F.concat(F.lit("src_"), (F.col("id") % 97).cast("string")).alias(
            "source_id"
        ),
        (F.col("id") % 5 + 1).cast("int").alias("version"),
        F.col("id").alias("payload"),
    )
    write_status_layout(df, root, "source_id", "version", n_buckets=16)
    want = sorted(
        map(tuple, status_point_read(
            spark, root, "source_id", "src_7", n_buckets=16
        ).collect())
    )
    assert want

    compact(spark, root)
    assert resolve_store(spark, root) == f"{root}/{GENERATION_PREFIX}00000001"

    probe = status_point_read(spark, root, "source_id", "src_7", n_buckets=16)
    assert sorted(map(tuple, probe.collect())) == want
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "key_bucket" in plan.split(
        "PartitionFilters"
    )[1][:160]

    # and a second publish keeps exactly live + grace
    compact(spark, root)
    assert len(_gen_dirs(root)) == 2
    assert sorted(
        map(tuple, status_point_read(
            spark, root, "source_id", "src_7", n_buckets=16
        ).collect())
    ) == want


def test_bucketed_layout_survives_generation_swap(spark, tmp_path):
    """The whole point of compact_bucketed: the layout guarantee (zero
    Exchange on the store side) must hold when the store is served from
    a generation directory."""
    from connect_server_spark.storage import (
        compact_bucketed,
        read_bucketed,
        write_bucketed_path,
    )

    root = str(tmp_path / "bkt")
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "k long, payload long"
    )
    write_bucketed_path(df, root, "k")
    compact_bucketed(spark, root, "k")

    store = read_bucketed(spark, root, "k")
    probe = spark.createDataFrame([(5,), (7,)], "k long")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = store.join(probe.hint("shuffle_hash"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # store side reads bucketed → only the probe side exchanges
        n_ex = sum(
            1
            for line in plan.splitlines()
            if "Exchange" in line and "ReusedExchange" not in line
        )
        assert n_ex == 1, plan
        assert joined.count() == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_publish_keep_retains_time_travel_snapshots(spark, tmp_path):
    """keep=N holds the N most recent superseded generations readable:
    three keep=2 compactions of an evolving store leave live + two
    snapshots, the oldest is GC'd, and a pinned read of a retained
    generation returns that snapshot's rows — not the live ones."""
    from connect_server_spark.fsutil import list_generations
    from connect_server_spark.storage import compact, read_snapshot

    root = str(tmp_path / "tt")
    spark.range(0, 10).write.parquet(root)
    compact(spark, root, keep=2)  # gen 1 live = rows 0..9
    spark.range(10, 15).write.mode("append").parquet(
        resolve_store(spark, root)  # appends land in the LIVE generation
    )
    compact(spark, root, keep=2)  # gen 2 live; gen 1 freezes at 0..14
    spark.range(15, 18).write.mode("append").parquet(
        resolve_store(spark, root)
    )
    compact(spark, root, keep=2)  # gen 3 live; gen 2 freezes at 0..17

    gens = list_generations(spark, root)
    assert [g["number"] for g in gens] == [3, 2, 1]
    assert [g["live"] for g in gens] == [True, False, False]

    assert read_snapshot(spark, root).count() == 18  # live
    # a superseded generation is frozen at its supersede-time contents
    assert read_snapshot(spark, root, generation=1).count() == 15
    assert read_snapshot(spark, root, generation=2).count() == 18
    # the pinned snapshot re-reads identically after ANOTHER compaction
    # moved the live pointer — and the oldest falls past retention
    pinned = read_snapshot(spark, root, generation=2)
    compact(spark, root, keep=2)  # gen 4: retained = {4, 3, 2}; 1 GC'd
    assert pinned.count() == 18
    assert {r.id for r in pinned.collect()} == set(range(18))
    gens = list_generations(spark, root)
    assert [g["number"] for g in gens] == [4, 3, 2]
    with pytest.raises(ValueError, match="retention"):
        read_snapshot(spark, root, generation=1)


def test_snapshot_pins_refuse_gc_flat_and_unpublished(spark, tmp_path):
    """Every wrong pin refuses loudly instead of serving garbage: a
    GC'd generation, a flat store, a not-yet-published build, a
    malformed name, and a generation a missing ``_HISTORY`` manifest
    does not list."""
    from connect_server_spark.storage import compact, read_snapshot

    flat = str(tmp_path / "flat")
    spark.range(3).write.parquet(flat)
    with pytest.raises(ValueError, match="flat store"):
        read_snapshot(spark, flat, generation=1)

    root = str(tmp_path / "store")
    spark.range(5).write.parquet(root)
    compact(spark, root)  # gen 1 (keep=1 default)
    compact(spark, root)  # gen 2
    compact(spark, root)  # gen 3 — gen 1 GC'd under keep=1
    with pytest.raises(ValueError, match="retention"):
        read_snapshot(spark, root, generation=1)
    with pytest.raises(ValueError, match="never published"):
        resolve_store(spark, root, generation=99)
    with pytest.raises(ValueError, match="bad generation"):
        resolve_store(spark, root, generation="evil/../path")
    # default keep=1 retention is unchanged: live + grace only
    assert len(_gen_dirs(root)) == 2
    # without the manifest only the live generation is known published
    os.remove(f"{root}/{HISTORY_FILE}")
    with pytest.raises(ValueError, match="never published"):
        read_snapshot(spark, root, generation=2)


def test_list_generations_flat_store_and_inflight_builds(spark, tmp_path):
    from connect_server_spark.fsutil import list_generations
    from connect_server_spark.storage import compact

    flat = str(tmp_path / "flat")
    spark.range(2).write.parquet(flat)
    assert list_generations(spark, flat) == []

    root = str(tmp_path / "store")
    spark.range(4).write.parquet(root)
    compact(spark, root)
    # simulate an in-flight build: begin_generation names gen 2 but no
    # publish — listed (operator visibility) yet refused by the pin
    gen = begin_generation(spark, root)
    spark.range(1).write.mode("overwrite").parquet(gen)
    gens = list_generations(spark, root)
    assert [g["number"] for g in gens] == [2, 1]
    assert [g["live"] for g in gens] == [False, True]
    with pytest.raises(ValueError, match="never published"):
        resolve_store(spark, root, generation=2)


def test_keep_retention_never_retains_or_pins_crashed_builds(
    spark, tmp_path
):
    """Review pin: a crash-orphaned build BELOW the live number is on
    disk but half-written — it must be GC'd (not retained in place of a
    real snapshot under keep>1) and must never pin, and hand-built
    unpadded names normalize instead of misreporting as GC'd."""
    from connect_server_spark.fsutil import list_generations
    from connect_server_spark.storage import compact, read_snapshot

    root = str(tmp_path / "store")
    spark.range(10).write.parquet(root)
    compact(spark, root, keep=2)  # gen 1 live
    orphan = begin_generation(spark, root)  # _gen-00000002
    os.makedirs(orphan, exist_ok=True)
    with open(f"{orphan}/halfwritten.parquet", "wb") as f:
        f.write(b"\x00garbage")  # "crashed mid-build"
    compact(spark, root, keep=2)  # gen 3: retained = {3, grace 1}

    assert not os.path.exists(orphan)  # orphan GC'd, NOT kept as a snapshot
    assert read_snapshot(spark, root, generation=1).count() == 10
    with pytest.raises(ValueError, match="never published"):
        read_snapshot(spark, root, generation=2)
    pub = {g["number"]: g["published"] for g in list_generations(spark, root)}
    assert pub == {3: True, 1: True}

    # unpadded name pin normalizes to the on-disk padded dir
    got = resolve_store(spark, root, generation="_gen-1")
    assert got.endswith("_gen-00000001")
    with pytest.raises(ValueError, match="bad generation"):
        resolve_store(spark, root, generation="_gen-x")


def test_racing_publishers_loser_refuses_and_loses_no_rows(spark, tmp_path):
    """r9 verdict ask #2: two publishers racing one store. The loser's
    publish must raise (not silently supersede the winner), the winner's
    rows must stay live, and the loser's orphan payload is GC'd by the
    next successful publish — never the winner's data."""
    from connect_server_spark.fsutil import ConcurrentPublishError

    root = str(tmp_path / "store")
    spark.range(5).write.parquet(root)

    # both builders observe the same epoch (flat store) but claim
    # DIFFERENT generation numbers — no payload interleaving
    g_a = begin_generation(spark, root)
    g_b = begin_generation(spark, root)
    assert g_a != g_b

    spark.range(100, 110).write.mode("overwrite").parquet(g_a)
    spark.range(200, 220).write.mode("overwrite").parquet(g_b)

    publish_generation(spark, root, g_a)  # A wins
    assert spark.read.parquet(resolve_store(spark, root)).count() == 10

    with pytest.raises(ConcurrentPublishError, match="another publisher"):
        publish_generation(spark, root, g_b)  # B must refuse
    # winner untouched; loser stays on disk, unpublished
    assert resolve_store(spark, root) == str(g_a)
    assert spark.read.parquet(resolve_store(spark, root)).count() == 10
    assert os.path.isdir(g_b)

    # B retries the correct way: rebuild from the NEW live epoch
    g_c = begin_generation(spark, root)
    spark.read.parquet(resolve_store(spark, root)).union(
        spark.range(200, 220)
    ).write.mode("overwrite").parquet(g_c)
    publish_generation(spark, root, g_c)
    assert spark.read.parquet(resolve_store(spark, root)).count() == 30
    assert not os.path.exists(g_b)  # loser orphan GC'd


def test_racing_publishers_on_published_store_epoch_mismatch(
    spark, tmp_path
):
    """Same race on an already-pointered store: epoch = the live
    generation name, so the check also fires when the base moved from
    one generation to another (not just flat→gen)."""
    from connect_server_spark.fsutil import ConcurrentPublishError

    root = str(tmp_path / "store")
    g1 = begin_generation(spark, root)
    spark.range(3).write.mode("overwrite").parquet(g1)
    publish_generation(spark, root, g1)

    g_a = begin_generation(spark, root)  # both observe g1 live
    g_b = begin_generation(spark, root)
    spark.range(10).write.mode("overwrite").parquet(g_a)
    spark.range(20).write.mode("overwrite").parquet(g_b)
    publish_generation(spark, root, g_a)
    with pytest.raises(ConcurrentPublishError):
        publish_generation(spark, root, g_b)
    assert spark.read.parquet(resolve_store(spark, root)).count() == 10


def test_begin_generation_claims_unique_numbers(spark, tmp_path):
    """Concurrent builders can never interleave one payload: the _CLAIM
    exclusive-create hands each begin_generation a fresh number even
    before any payload file exists."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    paths = {str(begin_generation(spark, root)) for _ in range(4)}
    assert len(paths) == 4
    # claim dirs are underscore-invisible to a flat reader
    spark.range(4).write.mode("append").parquet(root)
    assert spark.read.parquet(root).count() == 4


def test_plain_str_gen_path_keeps_legacy_unguarded_publish(spark, tmp_path):
    """A hand-built plain-str path carries no epoch for the publish to
    check, so the publish refuses it and the store stays flat."""
    root = str(tmp_path / "store")
    os.makedirs(f"{root}/{GENERATION_PREFIX}00000007")
    with pytest.raises(TypeError, match="GenerationHandle"):
        publish_generation(
            spark, root, f"{root}/{GENERATION_PREFIX}00000007"
        )
    assert resolve_store(spark, root) == root


def test_racing_publishers_reversed_order_lower_claim_still_refuses(
    spark, tmp_path
):
    """The other interleaving: A claims the LOWER number but B (higher
    claim) publishes first. B's GC may collect A's in-flight directory
    early (it is below the published number and unpublished — an
    orphan either way); the epoch check still makes A refuse, so the
    winner's rows survive both orders."""
    from connect_server_spark.fsutil import ConcurrentPublishError

    root = str(tmp_path / "store")
    g1 = begin_generation(spark, root)
    spark.range(3).write.mode("overwrite").parquet(g1)
    publish_generation(spark, root, g1)

    g_a = begin_generation(spark, root)  # lower number
    g_b = begin_generation(spark, root)  # higher number
    spark.range(20).write.mode("overwrite").parquet(g_b)
    publish_generation(spark, root, g_b)  # B wins first
    with pytest.raises(ConcurrentPublishError):
        spark.range(10).write.mode("overwrite").parquet(g_a)
        publish_generation(spark, root, g_a)
    assert resolve_store(spark, root) == str(g_b)
    assert spark.read.parquet(resolve_store(spark, root)).count() == 20


def test_append_racing_publish_raises_instead_of_silent_loss(
    spark, tmp_path
):
    """append_resolved's post-append pointer re-check: a publish that
    flips the store while an append is mid-write strands the rows in a
    superseded generation — that must raise (re-append is safe:
    at-least-once contract), never silently narrow the live view. The
    stranded copy stays readable in the superseded generation through
    its grace window."""
    from connect_server_spark.fsutil import (
        ConcurrentPublishError,
        append_resolved,
    )
    from connect_server_spark.storage import compact

    root = str(tmp_path / "store")
    spark.range(10).write.parquet(root)
    compact(spark, root)  # gen 1 live
    old_live = resolve_store(spark, root)

    def racing_publish():
        compact(spark, root)  # flips to gen 2 mid-append

    with pytest.raises(ConcurrentPublishError, match="republished"):
        append_resolved(
            spark.range(100, 105), root, _pre_write_hook=racing_publish
        )
    # stranded rows ARE in the superseded generation (grace-readable)
    assert spark.read.parquet(old_live).count() == 15
    # live view is the republished payload without the stranded rows
    assert spark.read.parquet(resolve_store(spark, root)).count() == 10
    # the documented recovery: re-append lands in the new live gen
    append_resolved(spark.range(100, 105), root)
    assert spark.read.parquet(resolve_store(spark, root)).count() == 15


def test_append_resolved_normal_path_still_appends(spark, tmp_path):
    from connect_server_spark.fsutil import append_resolved
    from connect_server_spark.storage import compact

    root = str(tmp_path / "store")
    spark.range(5).write.parquet(root)
    append_resolved(spark.range(5, 8), root)  # flat store: no-op resolve
    assert spark.read.parquet(resolve_store(spark, root)).count() == 8
    compact(spark, root)
    append_resolved(spark.range(8, 10), root)  # pointered store
    assert spark.read.parquet(resolve_store(spark, root)).count() == 10


def test_every_store_rewrite_is_a_generation_publish():
    """No package module swaps a store by directory rename: outside
    ``fsutil.py`` (whose atomic small-file write renames one file)
    nothing calls a ``rename``, and no module names the rename-swap
    work directories."""
    pkg = pathlib.Path(connect_server_spark.__file__).parent
    swap_dirs = ("_compact_old", "_compact_tmp", "_rollup_old", "_rollup_tmp")
    for path in pkg.rglob("*.py"):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        assert not [d for d in swap_dirs if d in src], rel
        if rel == "fsutil.py":
            continue
        renames = [
            node.lineno
            for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "rename"
        ]
        assert not renames, (rel, renames)
