"""Distributed inference tests: reference-exact path vs native path
(SURVEY §5d differential test), end-to-end DDL on the provenance fixture."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql.types import ArrayType, StringType, StructType

from nifi_hive_schema_generator_bundle_spark import catalog
from nifi_hive_schema_generator_bundle_spark.catalog import infer_and_register, infer_ddl
from nifi_hive_schema_generator_bundle_spark.operators.infer import (
    infer_schema_df,
    infer_schema_exact,
    infer_schema_native,
)
from nifi_hive_schema_generator_bundle_spark.operators.routing import split_valid
from nifi_hive_schema_generator_bundle_spark.plans.lattice import (
    finalize_type,
    schema_from_json_lines,
    type_to_dict,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "provenance.ndjson")


def canon(dt):
    """Order-insensitive structural form (reference field order is
    unspecified — SURVEY §1.4 rule 6)."""
    if isinstance(dt, StructType):
        return {
            "struct": {f.name: canon(f.dataType) for f in sorted(dt.fields, key=lambda f: f.name)}
        }
    if isinstance(dt, ArrayType):
        return {"array": canon(dt.elementType)}
    return type(finalize_type(dt)).__name__


def test_exact_matches_single_thread_fold(spark):
    with open(FIXTURE) as fh:
        expected = schema_from_json_lines(line.strip() for line in fh)
    got = infer_schema_exact(spark, FIXTURE)
    assert canon(got) == canon(expected)


def test_exact_is_partition_count_invariant(spark):
    df1 = spark.read.text(FIXTURE).repartition(1)
    df7 = spark.read.text(FIXTURE).repartition(7)
    assert canon(infer_schema_df(df1, "value")) == canon(infer_schema_df(df7, "value"))


def test_native_agrees_with_exact_on_fixture(spark):
    exact = infer_schema_exact(spark, FIXTURE)
    native = infer_schema_native(spark, FIXTURE)
    assert canon(native) == canon(exact)


def test_fixture_key_types(spark):
    t = finalize_type(infer_schema_exact(spark, FIXTURE))
    by_name = {f.name: f.dataType for f in t.fields}
    # conflict demotion: [100,104] on row 1 vs scalar on later rows
    assert by_name["eventOrdinal"] == StringType()
    # empty arrays merged with populated string arrays
    assert by_name["parentIds"] == ArrayType(StringType(), True)
    assert by_name["childIds"] == ArrayType(StringType(), True)
    # struct key-union across rows, null absorbed
    assert isinstance(by_name["allAttributes"], StructType)
    assert "parent.hdfs.location" in by_name["allAttributes"].fieldNames()
    assert by_name["processGroupId"] == StringType()
    # field present on some rows only
    assert by_name["transitUri"] == StringType()


def test_infer_ddl_end_to_end(spark):
    ddl = infer_ddl(spark, FIXTURE, "prov", "/warehouse/prov")
    assert ddl.startswith("DROP TABLE prov;\nCREATE EXTERNAL TABLE prov (")
    assert ddl.endswith(
        ") ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n"
        "location '/warehouse/prov';"
    )
    # sanitization hit the dotted/dashed attribute keys
    assert "`server_timezone`: STRING" in ddl
    assert "`User_Agent`: STRING" in ddl
    assert "`parent_hdfs_location`: STRING" in ddl
    assert "." not in ddl.split("CREATE EXTERNAL TABLE prov (")[1].split(") ROW FORMAT")[0]
    # conflict-demoted column renders scalar
    assert "`eventOrdinal` STRING" in ddl


def test_infer_and_register_executes(spark, tmp_path):
    res = infer_and_register(spark, FIXTURE, "prov_reg", str(tmp_path / "loc"))
    assert res["good_count"] == 5
    assert res["bad_count"] == 0
    assert "prov_reg" in [t.name for t in spark.catalog.listTables()]
    cols = spark.table("prov_reg").columns
    assert "eventOrdinal" in cols
    spark.sql("DROP TABLE prov_reg")


# good and bad lines for routing: two truncated objects, a bare scalar
# (org.json rejects it as an object or array) and a blank line are bad
MIXED_LINES = [
    '{"a": 1, "b": {"c": "x"}}',
    '{"a": 2, "b": {"c": "y"',
    '{"a":',
    "5",
    "",
    '{"a": 4, "d": [1, 2]}',
]


@pytest.mark.parametrize("with_array", [False, True], ids=["objects", "top_level_array"])
def test_infer_and_register_counts_match_routing(spark, tmp_path, monkeypatch, with_array):
    """Both counts are observed metrics of the inference pass; they must
    equal split_valid's own filter counts, and the schema must be the
    fold over exactly the lines routing let through."""
    lines = MIXED_LINES + (['[{"a": 3}]'] if with_array else [])
    p = tmp_path / "mixed.ndjson"
    p.write_text("\n".join(lines) + "\n")
    good, bad = split_valid(spark.read.text(str(p)), "value")
    good_lines = [r["value"] for r in good.collect()]
    schemas = []

    def capture(df, column="value"):
        schemas.append(infer_schema_df(df, column))
        return schemas[-1]

    monkeypatch.setattr(catalog, "infer_schema_df", capture)
    if with_array:
        # a top-level array joins the objects to STRING, which names no
        # table (render_spark_ddl rejects it); the counts are under test
        monkeypatch.setattr(catalog, "register_table", lambda *a, **k: None)
    res = infer_and_register(spark, str(p), "mixed_reg", str(tmp_path / "loc"))
    assert (res["good_count"], res["bad_count"]) == (len(good_lines), bad.count())
    assert (res["good_count"], res["bad_count"]) == (2 + with_array, 4)
    assert type_to_dict(schemas[0]) == type_to_dict(schema_from_json_lines(good_lines))
    if not with_array:
        assert set(spark.table("mixed_reg").columns) == {"a", "b", "d"}
        spark.sql("DROP TABLE mixed_reg")


def test_infer_and_register_is_one_job_without_cache(spark, tmp_path, monkeypatch):
    """Routing, both counts and the fold run as the inference collect:
    one job, and nothing enters Spark's cache on the way."""
    sc = spark.sparkContext
    src = tmp_path / "split"
    src.mkdir()
    # one file per core: the scan is split enough that
    # ensure_min_partitions adds no repartition stage
    for i in range(sc.defaultParallelism):
        (src / f"part{i}.json").write_text('{"a": %d}\n{"a":\n' % i)
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    cached_at_inference = []

    def probe(df, column="value"):
        cached_at_inference.append(not cache_mgr.isEmpty())
        return infer_schema_df(df, column)

    monkeypatch.setattr(catalog, "infer_schema_df", probe)
    group = f"one-job-{uuid.uuid4()}"
    sc.setJobGroup(group, "infer_and_register")
    try:
        res = infer_and_register(spark, str(src), "one_job", str(tmp_path / "loc"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert cached_at_inference == [False]
    assert cache_mgr.isEmpty()
    n = sc.defaultParallelism
    assert (res["good_count"], res["bad_count"]) == (n, n)
    spark.sql("DROP TABLE one_job")


def test_infer_and_register_empty_file_returns_zero_counts(spark, tmp_path):
    """The observed counts must resolve even when the scan has no rows
    (Observation.get blocks until the action reports its metrics), and
    a no-column schema registers nothing."""
    p = tmp_path / "empty.ndjson"
    p.write_text("")
    res = infer_and_register(spark, str(p), "empty_reg", str(tmp_path / "loc"))
    assert (res["good_count"], res["bad_count"]) == (0, 0)
    assert res["spark_ddl"] is None
    assert "empty_reg" not in [t.name for t in spark.catalog.listTables()]


def test_top_level_array_file_yields_error_definition(spark, tmp_path):
    p = tmp_path / "arr.json"
    p.write_text('[{"a": 1}, {"a": 2}]\n')
    ddl = infer_ddl(spark, str(p), "t", "/x")
    assert "ERROR" in ddl  # reference quirk preserved (CreateHQL.scala:91)


def test_infer_schema_by_key_single_pass(spark):
    from pyspark.sql.types import ArrayType, StringType, StructType

    from nifi_hive_schema_generator_bundle_spark.operators.infer import (
        infer_schema_by_key,
    )

    rows = [
        ("t_a", '{"x": 1}'),
        ("t_a", '{"x": [2], "y": "s"}'),   # x conflicts within t_a -> STRING
        ("t_b", '{"x": [1, 2]}'),          # x stays ARRAY in t_b
        ("t_b", 'garbage not json'),       # malformed line skipped
    ]
    df = spark.createDataFrame(rows, "tbl string, payload string").repartition(4)
    schemas = infer_schema_by_key(df, "payload", "tbl")
    assert set(schemas) == {"t_a", "t_b"}
    a, b = schemas["t_a"], schemas["t_b"]
    assert isinstance(a, StructType) and isinstance(b, StructType)
    assert isinstance(a["x"].dataType, StringType)       # demoted by conflict
    assert isinstance(b["x"].dataType, ArrayType)        # isolated per key
    assert "y" in a.fieldNames() and "y" not in b.fieldNames()


def test_ddl_per_group_one_ddl_per_table(spark):
    from nifi_hive_schema_generator_bundle_spark.catalog import ddl_per_group

    df = spark.createDataFrame(
        [("orders_t", '{"oid": 1}'), ("users_t", '{"uid": "u1", "tags": []}')],
        "tbl string, payload string",
    )
    ddls = ddl_per_group(df, "payload", "tbl", location_fmt="/wh/{table}")
    assert set(ddls) == {"orders_t", "users_t"}
    assert "CREATE EXTERNAL TABLE orders_t" in ddls["orders_t"]
    assert "location '/wh/users_t';" in ddls["users_t"]
    assert "`tags` ARRAY<" in ddls["users_t"]


def test_empty_input_yields_no_column_ddl(spark, tmp_path):
    """Reference parity: empty content folds to the empty object, whose
    definition is an empty column list (CreateHQL.scala:12,85-92) — no
    crash, no columns (SURVEY O16 guard)."""
    p = tmp_path / "empty.ndjson"
    p.write_text("")
    ddl = infer_ddl(spark, str(p), "t_empty", "/x")
    assert "CREATE EXTERNAL TABLE t_empty (" in ddl
    body = ddl.split("t_empty (")[1].split(") ROW FORMAT")[0]
    assert body.strip() == ""
