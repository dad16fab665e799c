"""engine.read_parquet / parquet_schema: the schema Spark would infer,
read from one footer on the driver, with no Spark job.

Parity is checked against ``spark.read.parquet`` itself, under the
session settings that change what the footer converts to, and on the
inputs where the helper must hand back to the plain reader.
"""

import ast
import contextlib
import os
import pathlib

import pytest

from shared_etl_pipelines_spark.engine import parquet_schema, read_parquet
from shared_etl_pipelines_spark.sources.tables import TABLES, load_table


def _next_job(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@contextlib.contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _assert_same(spark, *paths, schema_only=False):
    """``read_parquet`` (or ``parquet_schema``) gives Spark's inferred
    schema, or raises the same exception class."""
    read = parquet_schema if schema_only else (lambda s, *p: read_parquet(s, *p).schema)
    try:
        ref = spark.read.parquet(*paths).schema
    except Exception as e:  # noqa: BLE001 - the class itself is compared
        with pytest.raises(type(e)):
            read(spark, *paths)
        return None
    assert read(spark, *paths) == ref
    return ref


def test_load_table_starts_no_job(spark, sf_dir):
    before = _next_job(spark)
    frames = [load_table(spark, sf_dir, n) for n in TABLES]
    assert _next_job(spark) == before
    assert all(len(df.columns) > 0 for df in frames)


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
@pytest.mark.parametrize("infer_ntz", ["true", "false"])
def test_schema_parity_on_corpus_tables(spark, sf_dir, nanos_as_long, infer_ntz):
    with _conf(spark, "spark.sql.legacy.parquet.nanosAsLong", nanos_as_long), _conf(
        spark, "spark.sql.parquet.inferTimestampNTZ.enabled", infer_ntz
    ):
        for name in TABLES:
            p = os.path.join(sf_dir, f"{name}.parquet")
            before = _next_job(spark)
            schema = parquet_schema(spark, p)
            assert _next_job(spark) == before, name
            assert schema == _assert_same(spark, p), name
            _assert_same(spark, p, schema_only=True)


def test_events_ts_reads_as_ntz(spark, sf_dir):
    p = os.path.join(sf_dir, "events.parquet")
    with _conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "true"):
        assert dict(read_parquet(spark, p).dtypes)["ts"] == "timestamp_ntz"
    with _conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false"):
        assert dict(read_parquet(spark, p).dtypes)["ts"] == "timestamp"


def test_partitioned_and_multi_path_parity(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    part = str(tmp_path / "part")
    src.write.partitionBy("o_orderstatus", "o_orderpriority").parquet(part)
    ref = _assert_same(spark, part)
    assert ref.fieldNames()[-2:] == ["o_orderstatus", "o_orderpriority"]
    before = _next_job(spark)
    df = read_parquet(spark, part)
    assert _next_job(spark) == before
    assert sorted(df.collect()) == sorted(spark.read.parquet(part).collect())

    again = str(tmp_path / "again")
    src.filter("o_orderkey % 2 = 0").write.partitionBy(
        "o_orderstatus", "o_orderpriority"
    ).parquet(again)
    _assert_same(spark, part, again)
    _assert_same(spark, os.path.join(sf_dir, "region.parquet"), os.path.join(sf_dir, "nation.parquet"))
    _assert_same(spark, os.path.join(part, "o_orderstatus=*"))


def test_first_file_matches_spark_choice(spark, tmp_path):
    """Without mergeSchema, Spark reads the lexicographically first data
    file; files of differing schemas show which one each side picked."""
    for first, second in (("a", "b"), ("b", "a")):
        d = tmp_path / f"mixed_{first}"
        spark.range(2).selectExpr("id AS x").write.parquet(str(d / f"k={first}"))
        spark.range(2).selectExpr("id AS x", "id AS y").write.parquet(str(d / f"k={second}"))
        _assert_same(spark, str(d))
        # plain subdirectories are not read: Spark finds no files there
        plain = tmp_path / f"plain_{first}"
        spark.range(2).selectExpr("id AS x").write.parquet(str(plain / first))
        assert _assert_same(spark, str(plain)) is None


def test_fallbacks_raise_or_merge_like_spark(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for p in (tmp_path / "missing", empty, tmp_path / "missing_*"):
        for schema_only in (False, True):
            assert _assert_same(spark, str(p), schema_only=schema_only) is None

    d = tmp_path / "evolving"
    spark.range(3).selectExpr("id AS x").write.parquet(str(d / "k=1"))
    spark.range(3).selectExpr("id AS x", "id * 2 AS y").write.parquet(str(d / "k=2"))
    with _conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        merged = _assert_same(spark, str(d))
    assert merged.fieldNames() == ["x", "y", "k"]


def test_summary_file_defers_to_spark(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "with_summary"
    spark.range(3).selectExpr("id AS x").write.parquet(str(d))
    pq.write_metadata(pa.schema([("x", pa.int64()), ("z", pa.string())]), d / "_common_metadata")
    assert _assert_same(spark, str(d)).fieldNames() == ["x", "z"]


def _is_batch_parquet_read(call: ast.Call) -> bool:
    """``<x>.read[.option(...)...].parquet(...)``: a batch reader chain.
    Writers and ``readStream`` chains are not reads of this kind."""
    node = call.func.value
    while True:
        if isinstance(node, ast.Attribute):
            if node.attr == "read":
                return True
            if node.attr in ("write", "writeStream", "readStream"):
                return False
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            return False


def _sets_merge_schema(call: ast.Call) -> bool:
    node = call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            if (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "option"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "mergeSchema"
            ):
                return True
            node = node.func
        else:
            node = node.value
    return False


def test_package_reads_parquet_only_through_the_helper():
    """Every batch parquet read in the package goes through
    engine.read_parquet / parquet_schema, so none starts a
    schema-inference job. Reads that ask Spark to merge schemas
    explicitly are Spark's to infer."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "shared_etl_pipelines_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "engine.py":
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and fn.name in (
                    "parquet_schema",
                    "read_parquet",
                ):
                    allowed.update(id(n) for n in ast.walk(fn))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and _is_batch_parquet_read(node)
                and not _sets_merge_schema(node)
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(pkg.parent)}:{node.lineno}")
    assert not offenders, offenders
