"""P1-P11 curation transform tests, mirroring tests/test_s3_to_json.py
(object->array normalize :100-230, custom-fields fallback :182-208,
filename metadata :546-601)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from recover_spark.functions import transforms as X


def test_map_to_offset_array_golden(spark):
    # reference golden (tests/test_s3_to_json.py:209-230):
    # {"0": 62, "1": 63, "2": 62} -> ordered array of structs
    df = spark.createDataFrame(
        [({"0": "62", "1": "63", "2": "62"},)], "m map<string,string>"
    )
    out = df.select(
        X.map_to_offset_array(
            F.col("m"), value_name="HeartRate", value_type="int"
        ).alias("a")
    ).collect()[0]
    assert [(e.OffsetInSeconds, e.HeartRate) for e in out.a] == [
        (0, 62),
        (1, 63),
        (2, 62),
    ]


def test_map_to_offset_array_uncastable_to_null(spark):
    df = spark.createDataFrame([({"0": "62", "x": "9"},)], "m map<string,string>")
    out = df.select(
        X.map_to_offset_array(F.col("m"), value_type="int").alias("a")
    ).collect()[0]
    pairs = [(e.OffsetInSeconds, e.Metric) for e in out.a]
    assert (0, 62) in pairs
    assert any(k is None for k, _ in pairs)


def test_map_to_offset_array_2level(spark):
    df = spark.createDataFrame(
        [({"0": {"hr": "60", "steps": "5"}},)],
        "m map<string,map<string,string>>",
    )
    out = df.select(
        X.map_to_offset_array_2level(
            F.col("m"), inner_fields={"hr": "int", "steps": "int"}
        ).alias("a")
    ).collect()[0]
    assert [(e.OffsetInSeconds, e.hr, e.steps) for e in out.a] == [(0, 60, 5)]


def test_defensive_json_array(spark):
    # reference golden (tests/test_s3_to_json.py:182-208): valid parses,
    # empty and malformed -> []
    arr_t = T.ArrayType(
        T.StructType([T.StructField("id", T.StringType()), T.StructField("name", T.StringType())])
    )
    df = spark.createDataFrame(
        [('[{"id":"1","name":"a"}]',), ("",), ("not json",), (None,)],
        "s string",
    )
    out = df.select(X.defensive_json_array(F.col("s"), arr_t).alias("a")).collect()
    assert [len(r.a) for r in out] == [1, 0, 0, 0]
    assert out[0].a[0].id == "1"


def test_json_string_to_struct(spark):
    schema = "symptoms array<struct<id:string,severity:int>>, notes string"
    df = spark.createDataFrame(
        [('{"symptoms":[{"id":"s1","severity":3}],"notes":"ok"}',)], "v string"
    )
    out = df.select(X.json_string_to_struct(F.col("v"), schema).alias("p")).collect()[0]
    assert out.p.notes == "ok"
    assert out.p.symptoms[0].severity == 3


def test_filename_metadata_patterns(spark):
    # FIXTURES.md §10 patterns
    cases = [
        ("FitbitDevices_20230114.json", "FitbitDevices", None, None, "2023-01-14"),
        (
            "HealthKitV2Samples_BloodGlucose_20220401-20230112.json",
            "HealthKitV2Samples",
            "BloodGlucose",
            "2022-04-01",
            "2023-01-12",
        ),
        (
            "HealthKitV2Samples_AppleExerciseTime_Deleted_20230112.json",
            "HealthKitV2Samples_Deleted",
            "AppleExerciseTime",
            None,
            "2023-01-12",
        ),
        ("EnrolledParticipants_20230112.json", "EnrolledParticipants", None, None, "2023-01-12"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "f string")
    out = df.select("f", X.filename_metadata(F.col("f")).alias("m")).collect()
    got = {r.f: r.m for r in out}
    for fname, typ, subtype, start, end in cases:
        m = got[fname]
        assert m.type == typ, fname
        assert m.subtype == subtype, fname
        assert (str(m.start_date) if m.start_date else None) == start, fname
        assert str(m.end_date) == end, fname


def test_add_universal_properties(spark):
    df = spark.createDataFrame([("a",)], "x string")
    out = X.add_universal_properties(
        df, cohort="adults_v1", export_end_date="2023-01-14"
    ).collect()[0]
    assert out.cohort == "adults_v1"
    assert out.export_end_date == "2023-01-14"
    assert out.export_start_date is None


def test_cast_to_schema_missing_and_coerce(spark):
    target = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
            T.StructField("missing", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([("12", 34), ("x", 56)], "a string, b int")
    out = X.cast_to_schema(df, target).collect()
    assert [r.a for r in out] == [12, None]  # "x" -> null (try_cast)
    assert [r.b for r in out] == ["34", "56"]
    assert all(r.missing is None for r in out)


def test_derive_cohort(spark):
    df = spark.createDataFrame(
        [("x/adults_v1/y",), ("x/pediatric_v1/y",), ("other",)], "k string"
    )
    out = [r.c for r in df.select(X.derive_cohort(F.col("k")).alias("c")).collect()]
    assert out == ["adults_v1", "pediatric_v1", None]


def test_normalize_dataset_name(spark):
    df = spark.createDataFrame([("HealthKitV2Samples.Deleted",)], "n string")
    out = df.select(X.normalize_dataset_name(F.col("n")).alias("n")).first()
    assert out.n == "healthkitv2samples_deleted"

def test_drop_synthetic_partitions(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, partition_0 int, partition_1 int")
    assert X.drop_synthetic_partitions(df).columns == ["a"]
