"""Each probe step of the incremental dedup and similarity families has
one definition: the store-join rule, the set-Jaccard verify, the
span merge, the IVF cell probe and the per-probe top-k window. Each
persisted index store has one format, fixed by module constants."""

import ast
import inspect
import pathlib

import connect_server_spark
from connect_server_spark import storage
from connect_server_spark.operators import dedup, retrieval
from connect_server_spark.streaming import daily_ingest

PKG = pathlib.Path(connect_server_spark.__file__).parent
OPS = PKG / "operators"


def _calls(tree: ast.AST, name: str) -> int:
    return sum(
        1
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == name
    )


def test_each_probe_step_is_defined_once():
    outside = {
        path.relative_to(PKG).as_posix()
        for path in PKG.rglob("*.py")
        if _calls(ast.parse(path.read_text()), "broadcastable")
    }
    assert outside <= {"storage.py"}
    dedup = (OPS / "dedup.py").read_text()
    similarity = (OPS / "similarity.py").read_text()
    assert dedup.count("array_intersect") == 1
    assert similarity.count("row_number()") == 1
    assert (dedup + similarity).count("ivf_assign_udf(cents, nprobe)") == 1
    assert dedup.count('Window.partitionBy("id").orderBy("pos")') == 1


_MINHASH = {"num_hashes", "bands", "shingle_n", "store_buckets"}
_WINNOW = {"k", "window", "store_buckets"}
# parameters that once carried an index store's format (or a knob no
# caller set) and now live as constants
FORMAT_PARAMS = {
    storage.write_bucketed_path: {"buckets", "sort_key"},
    storage.read_bucketed: {"buckets", "sort_key"},
    storage.ensure_bucketed_table: {"buckets", "sort_key"},
    storage.compact_bucketed: {"buckets", "sort_key"},
    storage.maintain_bucketed: {"buckets"},
    dedup.write_minhash_index: _MINHASH,
    dedup.minhash_neardup_against_index: _MINHASH,
    dedup.minhash_neardup_against: _MINHASH - {"store_buckets"},
    dedup.write_winnow_index: _WINNOW,
    dedup.winnow_neardup_against_index: _WINNOW,
    dedup.write_window_index: {"store_buckets"},
    dedup.duplicated_spans_against_index: {"store_buckets"},
    retrieval.write_bm25_index: {"buckets"},
    retrieval.bm25_topk_indexed: {"buckets", "k1", "b"},
    retrieval.maintain_bm25_index: {"buckets", "keep_recent"},
    retrieval.bm25_topk: {"k1", "b"},
    daily_ingest.composed_ingest_sink: {
        "threshold", "num_hashes", "bands", "shingle_n", "vec_threshold",
        "winnow_threshold", "nprobe", "rollup_widths", "meta_namespace",
        "zorder_decay_threshold",
    },
    daily_ingest.warc_batch_head: {
        "id_col", "vec_col", "ts_col", "value_col", "cap_seed", "cap_salt",
    },
    daily_ingest.build_serve_pair: {"id_col", "vec_col"},
    daily_ingest.hash_embedder: {"dim", "vec_col"},
}


def test_index_store_formats_are_constants():
    assert sum(map(len, FORMAT_PARAMS.values())) == 56
    back = {
        fn.__name__: sorted(names & set(inspect.signature(fn).parameters))
        for fn, names in FORMAT_PARAMS.items()
    }
    assert not {name: ps for name, ps in back.items() if ps}
    # the minhash index's writer, its probe and their batch twin read
    # one signature format; the winnow writer and probe read one too
    for fn in (
        dedup.write_minhash_index,
        dedup.minhash_neardup_against_index,
        dedup.minhash_neardup_against,
    ):
        assert {"MINHASH_HASHES", "MINHASH_BANDS", "MINHASH_SHINGLE_N"} <= set(
            fn.__code__.co_names
        ), fn.__name__
    for fn in (dedup.write_winnow_index, dedup.winnow_neardup_against_index):
        assert {"WINNOW_K", "WINNOW_WINDOW"} <= set(fn.__code__.co_names)
