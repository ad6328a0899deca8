"""Each probe step of the incremental dedup and similarity families has
one definition: the store-join rule, the set-Jaccard verify, the
span merge, the IVF cell probe and the per-probe top-k window."""

import ast
import pathlib

import connect_server_spark

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
