"""Schema-registry catalog + relationalize golden parity.

The shipped catalog (recover_spark/schemas/table_schemas.yaml) mirrors
the reference's full table inventory (src/glue/resources/
table_columns.yaml:1-1397 + INDEX_FIELD_MAP json_to_parquet.py:39-88);
the golden test reproduces the reference's relationalize child naming
and values exactly (tests/test_json_to_parquet.py:836-906).
"""

from __future__ import annotations

import json

from pyspark.sql import types as T

from recover_spark.operators.relationalize import relationalize
from recover_spark.schemas import load_default_registry
from recover_spark.sources.readers import read_ndjson


def test_default_registry_covers_reference_catalog(spark):
    reg = load_default_registry()
    assert len(reg.names()) == 38
    # every declared type string parses into a Spark StructType
    for name in reg.names():
        assert len(reg[name].struct_type().fields) > 0
    # reference INDEX_FIELD_MAP parity on the dedup keys (W1 inputs)
    assert reg["GarminSleepSummary"].index_fields == [
        "ParticipantIdentifier",
        "StartTimeInSeconds",
        "DurationInSeconds",
        "Validation",
    ]
    assert reg["EnrolledParticipants"].index_fields == ["ParticipantIdentifier"]
    assert reg["HealthKitV2Electrocardiogram"].index_fields == [
        "ParticipantIdentifier",
        "HealthKitECGSampleKey",
    ]
    # partition keys declared per table
    assert reg["EnrolledParticipants"].partition_keys == ["cohort"]


def test_struct_type_equals_per_column_parse(spark):
    """One parse per table gives the StructType a parse per column gives,
    for every shipped table, with and without partition columns; each
    call returns a fresh StructType."""
    from recover_spark.schemas.registry import parse_type

    reg = load_default_registry()
    for name in reg.names():
        spec = reg[name]
        want = T.StructType(
            [T.StructField(c, parse_type(ts), True) for c, ts in spec.columns.items()]
        )
        assert spec.struct_type(include_partitions=False) == want, name
        for pk in spec.partition_keys:
            if pk not in spec.columns:
                want = want.add(pk, T.StringType(), True)
        got = spec.struct_type()
        assert got == want, name
        assert got is not spec.struct_type()


def test_struct_type_quotes_column_names(spark):
    from recover_spark.schemas.registry import SchemaRegistry

    spec = SchemaRegistry().register(
        "odd", {"a b": "int", "x`y": "array<struct<v:double>>", "c.d": "string"}
    )
    assert spec.struct_type().fieldNames() == ["a b", "x`y", "c.d", "cohort"]
    assert spec.struct_type()["x`y"].dataType == T.ArrayType(
        T.StructType([T.StructField("v", T.DoubleType())])
    )


def test_relationalize_reference_golden(spark, tmp_path):
    """Reproduce the reference's nested-data golden case exactly
    (tests/test_json_to_parquet.py:836-906): the child table is named
    ``<table>_ArrayOfObjectsField``, its ``Field.val.x`` columns are
    renamed to bare ``x``, and it carries the parent's index fields
    (GlobalKey) + cohort; the parent flattens ObjectField into
    ``ObjectField_filename``/``ObjectField_timestamp``."""
    reg = load_default_registry()
    reg.register(
        "dataset_testnesteddatatype",
        columns={
            "GlobalKey": "string",
            "ArrayOfObjectsField": "array<struct<filename:string,timestamp:string>>",
            "ObjectField": "struct<filename:string,timestamp:string>",
            "export_end_date": "string",
        },
        index_fields=["GlobalKey"],
        partition_keys=["cohort"],
    )
    spec = reg["dataset_testnesteddatatype"]

    # the reference fixture records (TestNestedDataType_2023*.ndjson)
    records = [
        {
            "GlobalKey": "123456789",
            "ArrayOfObjectsField": [{"filename": "test.json", "timestamp": "999"}],
            "ObjectField": {"filename": "test.json", "timestamp": "999"},
            "export_end_date": "2023-05-12T00:00:00",
            "cohort": "adults_v1",
        },
        {
            "GlobalKey": "123456789",
            "ArrayOfObjectsField": [{"filename": "test.json", "timestamp": "999"}],
            "ObjectField": {"filename": "test.json", "timestamp": "999"},
            "export_end_date": "2023-06-12T00:00:00",
            "cohort": "adults_v1",
        },
    ]
    path = tmp_path / "nested.ndjson"
    path.write_text("\n".join(json.dumps(r) for r in records))
    df = read_ndjson(spark, str(path), spec.struct_type())

    out = relationalize(
        df,
        "dataset_testnesteddatatype",
        carry_cols=[*spec.index_fields, *spec.partition_keys],
    )
    parent = out["dataset_testnesteddatatype"]
    # reference parent fieldnames minus the synthetic fk id
    assert set(parent.columns) == {
        "GlobalKey",
        "ObjectField_filename",
        "ObjectField_timestamp",
        "export_end_date",
        "cohort",
    }

    child_key = "dataset_testnesteddatatype_arrayofobjectsfield"
    assert child_key in out
    child = out[child_key]
    # reference child fieldnames (id/index synthetic pair -> index only:
    # carry-cols replace the id re-join, J2 covers the id path)
    assert set(child.columns) == {
        "GlobalKey",
        "cohort",
        "index",
        "filename",
        "timestamp",
    }
    got = {
        (r["filename"], r["timestamp"], r["GlobalKey"], r["cohort"])
        for r in child.collect()
    }
    # the reference's correct_df values, exactly
    assert got == {("test.json", "999", "123456789", "adults_v1")}


def test_end_to_end_nastiest_real_schemas(spark, tmp_path):
    """Declared-schema ingest + relationalize over the three deepest
    real schemas in the catalog: struct-of-arrays (GarminSleepSummary
    SleepLevelsMap), array-of-structs (HealthKitV2Electrocardiogram
    SubSamples), and deep flat structs (EnrolledParticipants
    CustomFields, incl. its nested Symptoms array)."""
    reg = load_default_registry()

    garmin = {
        "ParticipantIdentifier": "P1",
        "StartTimeInSeconds": 1000,
        "DurationInSeconds": 7200,
        "Validation": "DEVICE",
        "SleepLevelsMap": {
            "deep": [{"StartTimeInSeconds": 1000, "EndTimeInSeconds": 1600}],
            "light": [{"StartTimeInSeconds": 1600, "EndTimeInSeconds": 2000}],
        },
        "TimeOffsetSleepSpo2": [{"OffsetInSeconds": 0, "Spo2Value": 95}],
        "cohort": "adults_v1",
    }
    ecg = {
        "ParticipantIdentifier": "P1",
        "HealthKitECGSampleKey": "K1",
        "SubSamples": [
            {"MicroVolts": 12.5, "TimeSinceSampleStart": 0.0},
            {"MicroVolts": 13.5, "TimeSinceSampleStart": 0.5},
        ],
        "Source": {"Identifier": "watch", "Name": "Watch"},
        "cohort": "adults_v1",
    }
    enrolled = {
        "ParticipantIdentifier": "P1",
        "CustomFields": {
            "EhrConnected": "true",
            "Symptoms": [
                {"id": "s1", "name": "cough", "color": "red",
                 "severityTracking": "yes", "inactive": False}
            ],
        },
        "cohort": "adults_v1",
    }
    cases = [
        ("GarminSleepSummary", garmin),
        ("HealthKitV2Electrocardiogram", ecg),
        ("EnrolledParticipants", enrolled),
    ]
    for table, rec in cases:
        spec = reg[table]
        path = tmp_path / f"{table}.ndjson"
        path.write_text(json.dumps(rec))
        df = read_ndjson(spark, str(path), spec.struct_type())
        out = relationalize(
            df, table.lower(), carry_cols=[*spec.index_fields, "cohort"]
        )
        # no array columns survive in any output table
        for name, flat in out.items():
            assert not any(
                isinstance(f.dataType, (T.ArrayType, T.StructType))
                for f in flat.schema.fields
            ), name

    # struct-of-arrays: SleepLevelsMap flattens, then each phase array
    # becomes its own child table carrying the 4-field Garmin index
    g_out = relationalize(
        read_ndjson(
            spark,
            str(tmp_path / "GarminSleepSummary.ndjson"),
            reg["GarminSleepSummary"].struct_type(),
        ),
        "garminsleepsummary",
        carry_cols=[*reg["GarminSleepSummary"].index_fields, "cohort"],
    )
    deep = g_out["garminsleepsummary_sleeplevelsmap_deep"]
    row = deep.collect()[0]
    assert row["StartTimeInSeconds"] == 1000 and row["EndTimeInSeconds"] == 1600
    assert row["ParticipantIdentifier"] == "P1" and row["cohort"] == "adults_v1"

    e_out = relationalize(
        read_ndjson(
            spark,
            str(tmp_path / "HealthKitV2Electrocardiogram.ndjson"),
            reg["HealthKitV2Electrocardiogram"].struct_type(),
        ),
        "healthkitv2electrocardiogram",
        carry_cols=[*reg["HealthKitV2Electrocardiogram"].index_fields, "cohort"],
    )
    subs = e_out["healthkitv2electrocardiogram_subsamples"]
    vals = sorted(
        (r["index"], r["MicroVolts"], r["HealthKitECGSampleKey"])
        for r in subs.collect()
    )
    assert vals == [(0, 12.5, "K1"), (1, 13.5, "K1")]
