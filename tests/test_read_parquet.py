"""The parquet-open seam ``io.inputs.read_parquet``: schemas come from
one footer read on the driver (or from the caller), never from a Spark
inference job, and match what ``spark.read.parquet`` infers."""

import ast
import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kiji_mapreduce_spark.io import inputs
from kiji_mapreduce_spark.io.inputs import read_parquet
from kiji_mapreduce_spark.layout import TableLayout
from kiji_mapreduce_spark.table import EntityTable

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kiji_mapreduce_spark")


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted under a job group."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _pyarrow_nanos(spark, d):
    path = os.path.join(d, "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), path)
    return path


def _pyarrow_nested(spark, d):
    path = os.path.join(d, "nested.parquet")
    pq.write_table(pa.table({
        "tags": pa.array([["a", "b"], []], pa.list_(pa.string())),
        "props": pa.array([[("k", 1)], None],
                          pa.map_(pa.string(), pa.int64())),
        "point": pa.array([{"x": 1.0, "y": [2]}, None], pa.struct(
            [("x", pa.float64()), ("y", pa.list_(pa.int32()))])),
    }), path)
    return path


def _spark_dir(spark, d):
    path = os.path.join(d, "spark_dir")
    (spark.range(20).repartition(3)
     .select("id", F.col("id").cast("string").alias("s"),
             F.array(F.col("id")).alias("arr"))
     .write.mode("overwrite").parquet(path))
    return path


def _hive_partitioned(spark, d):
    path = os.path.join(d, "delta")
    (spark.range(12)
     .select(F.col("id").alias("v"), (F.col("id") % 2).alias("_batch"),
             (F.col("id") % 3).cast("int").alias("_bucket"))
     .write.mode("overwrite").partitionBy("_batch", "_bucket")
     .parquet(path))
    return path


def _summary_first(spark, d):
    """A ``_common_metadata`` whose schema differs from the data file's:
    Spark's inference takes the summary file's, so must the seam."""
    path = os.path.join(d, "summary")
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1]}),
                   os.path.join(path, "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("b", pa.string())]),
                      os.path.join(path, "_common_metadata"))
    return path


@pytest.mark.parametrize("make", [
    _pyarrow_nanos, _pyarrow_nested, _spark_dir, _hive_partitioned,
    _summary_first,
], ids=lambda f: f.__name__.lstrip("_"))
def test_seam_schema_matches_inference_without_a_job(spark, tmp_path, make):
    path = make(spark, str(tmp_path))
    df, n_jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert df.schema == spark.read.parquet(path).schema
    assert n_jobs == 0
    assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


@pytest.mark.parametrize("make", [_spark_dir, _hive_partitioned,
                                  _summary_first],
                         ids=lambda f: f.__name__.lstrip("_"))
def test_hadoop_listing_picks_the_same_footer(spark, tmp_path, monkeypatch,
                                              make):
    """The listing through the Hadoop FileSystem (hdfs://, s3a://, ...)
    agrees with the local one, driven here over a local directory."""
    from kiji_mapreduce_spark.io import outputs

    path = make(spark, str(tmp_path))
    local = inputs._footer_file(spark, path)
    monkeypatch.setattr(outputs, "_is_local_path", lambda p: False)
    hadoop = inputs._footer_file(spark, "file://" + path)
    assert outputs._strip_file_scheme(hadoop) == \
        outputs._strip_file_scheme(local)
    assert read_parquet(spark, "file://" + path).schema == \
        spark.read.parquet(path).schema


def test_nanos_read_as_long(spark, tmp_path):
    """nanosAsLong (set by make_session) applies on the footer route."""
    path = _pyarrow_nanos(spark, str(tmp_path))
    df = read_parquet(spark, path)
    assert df.schema["ts"].dataType == LongType()
    assert df.orderBy("id").first()["ts"] == 1_700_000_000_123_456_789


def test_inference_job_is_what_the_seam_avoids(spark, tmp_path):
    """A bare ``spark.read.parquet`` runs an inference job, and the job
    counter sees it: the zero counts in the other tests are real."""
    path = _spark_dir(spark, str(tmp_path))
    _, n_jobs = _jobs(spark, lambda: spark.read.parquet(path).schema)
    assert n_jobs >= 1


def test_empty_dir_raises_unable_to_infer_schema(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(empty))


def test_missing_path_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing"))


def test_given_schema_reads_no_footer(spark, tmp_path, monkeypatch):
    """With ``schema=`` the seam never touches a footer: the only file
    is not parquet at all, and the footer route is disabled."""
    d = tmp_path / "garbage"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"not a parquet file")

    def no_footers(*a, **k):
        raise AssertionError("footer read with an explicit schema")

    monkeypatch.setattr(inputs, "_footer_schema", no_footers)
    schema = StructType([StructField("k", StringType())])
    df, n_jobs = _jobs(spark, lambda: read_parquet(spark, str(d), schema))
    assert df.schema == schema
    assert n_jobs == 0


def test_options_and_several_paths_keep_spark_inference(spark, tmp_path):
    a = _spark_dir(spark, str(tmp_path))
    df = read_parquet(spark, [a, a])
    assert df.count() == 40
    merged = read_parquet(spark, _hive_partitioned(spark, str(tmp_path)),
                          options={"mergeSchema": "true"})
    assert set(merged.columns) == {"v", "_batch", "_bucket"}


_LAYOUT = {
    "name": "users",
    "row_key": {"format": "HASH_PREFIX",
                "components": [{"name": "key", "type": "string"}]},
    "families": [
        {"name": "info", "kind": "group", "max_versions": 3,
         "columns": [{"name": "email", "schema": "string"}]},
        {"name": "tags", "kind": "map", "map_schema": "string"}],
}


def _puts(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id struct<key:string>, family string, "
        "qualifier string, ts long, value_str string")


def _users(spark, tmp_path):
    t = EntityTable.create(spark, str(tmp_path / "users"),
                           TableLayout.from_json(_LAYOUT), n_buckets=4)
    t.merge_put(_puts(spark, [
        ((f"u{i}",), "info", "email", 1, f"u{i}@x") for i in range(8)]))
    return t


def test_entity_table_opens_with_its_layout(spark, tmp_path):
    t = _users(spark, tmp_path)
    data = t._data_path()
    opened, n_jobs = _jobs(spark, t._read_data)
    assert n_jobs == 0
    assert opened.schema == spark.read.parquet(data).schema
    assert t.read().count() == 8


def test_created_table_reads_empty_with_layout_schema(spark, tmp_path):
    t = EntityTable.create(spark, str(tmp_path / "fresh"),
                           TableLayout.from_json(_LAYOUT))
    df = t.read()
    assert df.columns == ["entity_id", "info", "tags"]
    assert df.count() == 0


def test_get_folds_bucket_into_partition_filter(spark, tmp_path):
    t = _users(spark, tmp_path)
    rows, n_jobs = _jobs(spark, lambda: t.get("u3").collect())
    assert n_jobs == 1
    assert [r["entity_id"]["key"] for r in rows] == ["u3"]
    plan = t.get("u3")._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*\(_bucket#\d+ = \d+\)", plan)


def test_get_with_deltas_prunes_fragments(spark, tmp_path):
    t = _users(spark, tmp_path)
    t.put_delta(_puts(spark, [(("u3",), "info", "email", 2, "new@x"),
                              (("u5",), "info", "email", 2, "other@x")]))
    row = t.get("u3").first()
    assert row["info"]["email"][0]["value"] == "new@x"
    assert t.get("u5").first()["info"]["email"][0]["value"] == "other@x"


def _reader_chain_has_read(node) -> bool:
    """True when a ``.parquet(...)`` call's receiver chain goes through
    a ``.read`` attribute (``x.read.parquet``, ``x.read.schema(s)
    .parquet``, ...); ``readStream`` and writers do not count."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def test_no_direct_parquet_reads_outside_the_seam():
    """``io.inputs.read_parquet`` is the package's only way to open a
    parquet path, so no open pays an inference job by accident."""
    offenders = []
    for root, _, files in os.walk(PKG_DIR):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            tree = ast.parse(open(path).read(), path)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "parquet"
                        and _reader_chain_has_read(node.func.value)):
                    offenders.append(
                        f"{os.path.relpath(path, PKG_DIR)}:{node.lineno}")
    assert not offenders, (
        f"open parquet through io.inputs.read_parquet: {offenders}")
