"""functions.rows.map_rows: the one adapter for per-row Python kernels."""

import ast
import pathlib

import numpy as np
import pytest

from shared_etl_pipelines_spark.functions.rows import map_rows


def _ids(spark, n, parts):
    return spark.range(n).repartition(parts).selectExpr(
        "id AS doc_id", "CAST(id * 2 AS STRING) AS s"
    )


def test_zero_one_or_many_rows_per_input(spark):
    def fan(doc_id, s):
        for k in range(doc_id % 3):  # 0, 1 or 2 rows
            yield doc_id, k, s

    out = map_rows(_ids(spark, 9, 2), fan, "doc_id long, k int, s string")
    got = sorted(map(tuple, out.collect()))
    assert got == [(d, k, str(2 * d)) for d in range(9) for k in range(d % 3)]


def test_empty_partition_and_batch_without_rows(spark):
    df = _ids(spark, 2, 6)  # at least four of six partitions are empty
    none = map_rows(df, lambda doc_id, s: (), "doc_id long")
    assert none.collect() == []
    some = map_rows(df, lambda doc_id, s: [(doc_id,)] if doc_id else [], "doc_id long")
    assert [r.doc_id for r in some.collect()] == [1]


def test_output_columns_are_assigned_by_position(spark):
    # output names overlap the input names in a different order
    out = map_rows(
        _ids(spark, 4, 1), lambda doc_id, s: [(s, doc_id + 100)], "s string, doc_id long"
    )
    assert sorted((r.s, r.doc_id) for r in out.collect()) == [
        (str(2 * d), d + 100) for d in range(4)
    ]


def test_numpy_scalars_in_and_out(spark):
    def kernel(doc_id, s):
        assert isinstance(doc_id, (int, np.integer))
        yield (
            np.int64(doc_id) * 3, np.float32(0.5), np.bool_(doc_id % 2 == 1), np.arange(doc_id)
        )

    out = map_rows(_ids(spark, 5, 2), kernel, "x long, f float, odd boolean, a array<long>")
    got = sorted((r.x, r.f, r.odd, list(r.a)) for r in out.collect())
    assert got == [(3 * d, 0.5, d % 2 == 1, list(range(d))) for d in range(5)]


def test_a_raising_kernel_fails_the_task_with_its_own_error(spark):
    def kernel(doc_id, s):
        if doc_id == 3:
            raise KeyError("planted-kernel-failure")
        yield (doc_id,)

    with pytest.raises(Exception, match="planted-kernel-failure"):
        map_rows(_ids(spark, 5, 1), kernel, "doc_id long").collect()


def _yields_pandas_frame(fn):
    for node in ast.walk(fn):
        if isinstance(node, ast.Yield) and isinstance(node.value, ast.Call):
            f = node.value.func
            if isinstance(f, ast.Attribute) and f.attr == "DataFrame":
                return True
    return False


def _column_buffer_lines(fn):
    def empty_list(n):
        return isinstance(n, ast.List) and not n.elts

    for node in ast.walk(fn):
        value = getattr(node, "value", None)
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and (
            # rows = {"doc_id": [], ...} / {k: [] for k in cols}
            (isinstance(value, ast.DictComp) and empty_list(value.value))
            or (
                isinstance(value, ast.Dict)
                and value.values
                and all(map(empty_list, value.values))
            )
            # ids, blobs = [], []
            or (
                isinstance(value, ast.Tuple)
                and len(value.elts) > 1
                and all(map(empty_list, value.elts))
            )
        ):
            yield node.lineno
        elif (  # rows["doc_id"].append(...)
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "append"
            and isinstance(node.func.value, ast.Subscript)
            and isinstance(node.func.value.slice, ast.Constant)
            and isinstance(node.func.value.slice.value, str)
        ):
            yield node.lineno


def test_package_batch_kernels_hold_no_column_buffers():
    """A kernel that builds its pandas batch from per-column lists names
    every output column twice and lets the columns fall out of step on a
    mid-row exception. Per-row kernels go through map_rows; the others
    build their batch from row tuples."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "shared_etl_pipelines_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and _yields_pandas_frame(fn):
                rel = path.relative_to(pkg.parent)
                offenders += [f"{rel}:{line}" for line in _column_buffer_lines(fn)]
    assert not offenders, sorted(set(offenders))
