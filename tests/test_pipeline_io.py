"""End-to-end pipeline, sources/sinks, schema registry, streaming,
multimodal plumbing."""

import json
import os

import pyspark.sql.functions as F
import pytest

from recover_spark.plans import DatasetPipeline
from recover_spark.schemas import SchemaRegistry, parse_type
from recover_spark.sources.readers import read_ndjson
from recover_spark.sources.writers import write_partitioned_parquet


def test_parse_type_grammar(spark):  # type parsing needs a live JVM
    t = parse_type("array<struct<MicroVolts:double,TimeSinceSampleStart:double>>")
    assert t.simpleString() == "array<struct<MicroVolts:double,TimeSinceSampleStart:double>>"
    assert parse_type("map<string,int>").simpleString() == "map<string,int>"


def test_registry_struct_type(spark):  # type parsing needs a live JVM
    reg = SchemaRegistry()
    spec = reg.register(
        "HealthKitV2Electrocardiogram",
        {
            "HealthKitECGSampleKey": "string",
            "AverageHeartRate": "int",
            "SubSamples": "array<struct<MicroVolts:double,TimeSinceSampleStart:double>>",
        },
        index_fields=["ParticipantIdentifier", "HealthKitECGSampleKey"],
    )
    st = spec.struct_type()
    assert [f.name for f in st.fields] == [
        "HealthKitECGSampleKey",
        "AverageHeartRate",
        "SubSamples",
        "cohort",
    ]
    assert "healthkitv2electrocardiogram" in reg


def test_ndjson_roundtrip_with_declared_schema(spark, tmp_path):
    path = str(tmp_path / "in")
    os.makedirs(path)
    with open(f"{path}/TestFlat_20230114.json", "w") as f:
        f.write(json.dumps({"GlobalKey": "1", "v": 5}) + "\n")
        f.write(json.dumps({"GlobalKey": "2", "v": "oops"}) + "\n")  # type clash
    schema = parse_type("struct<GlobalKey:string,v:int>")
    df = read_ndjson(spark, path, schema, with_filename_meta=True)
    rows = {r.GlobalKey: r.v for r in df.collect()}
    assert rows["1"] == 5
    assert rows["2"] is None  # PERMISSIVE: bad value -> null
    assert all("_source_file" in r.asDict() for r in df.collect())


def test_ndjson_parts_rotate_and_gzip_round_trip(spark, tmp_path):
    """K3/K4: the raw sink rotates part files per partition value at
    ``records_per_file`` and gzips them; every record reads back."""
    import glob
    import gzip

    from recover_spark.sources.writers import write_ndjson_parts

    path = str(tmp_path / "raw")
    df = spark.range(0, 25).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("p"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    write_ndjson_parts(df.coalesce(1), path, ["p"], records_per_file=5)
    parts = sorted(glob.glob(f"{path}/p=*/part-*.json.gz"))
    assert len(parts) == 6  # 13 even ids -> 5+5+3, 12 odd ids -> 5+5+2
    back = {}
    for part in parts:
        with gzip.open(part, "rt") as fh:
            recs = [json.loads(line) for line in fh]
        assert 1 <= len(recs) <= 5
        parity = part.split("/p=")[1].split("/")[0]
        assert {str(r["id"] % 2) for r in recs} == {parity}
        back.update((r["id"], r["v"]) for r in recs)
    assert back == {i: f"v{i}" for i in range(25)}

def test_partitioned_write_and_archive(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [("a", "adults_v1"), ("b", "pediatric_v1")], "k string, cohort string"
    )
    write_partitioned_parquet(df, out)
    parts = {p for p in os.listdir(out) if p.startswith("cohort=")}
    assert parts == {"cohort=adults_v1", "cohort=pediatric_v1"}
    back = spark.read.parquet(out)
    assert back.count() == 2


def test_dataset_pipeline_end_to_end(spark, tmp_path):
    reg = SchemaRegistry()
    spec = reg.register(
        "testtype",
        {"GlobalKey": "string", "export_end_date": "string", "v": "int"},
        index_fields=["GlobalKey"],
    )
    df = spark.createDataFrame(
        [
            ("k1", "2023-01-01", 1, "adults_v1"),
            ("k1", "2023-02-01", 2, "adults_v1"),
            ("k2", "2023-01-01", 3, "adults_v1"),
            ("gone", "2023-01-01", 4, "adults_v1"),
        ],
        "GlobalKey string, export_end_date string, v int, cohort string",
    )
    deleted = spark.createDataFrame(
        [("gone", "2023-03-01")], "GlobalKey string, export_end_date string"
    )
    pipe = DatasetPipeline(spec)
    res = pipe.run(df, str(tmp_path / "out"), deleted=deleted)
    back = spark.read.parquet(str(tmp_path / "out" / "dataset=testtype"))
    vals = {r.GlobalKey: r.v for r in back.collect()}
    assert vals == {"k1": 2, "k2": 3}
    assert res.counts.get("READ") == 4


@pytest.mark.parametrize("observe_counts", [True, False])
def test_dataset_pipeline_empty_input_leaves_output_untouched(
    spark, tmp_path, observe_counts
):
    reg = SchemaRegistry()
    spec = reg.register(
        "testtype",
        {"GlobalKey": "string", "export_end_date": "string", "v": "int"},
        index_fields=["GlobalKey"],
    )
    existing = tmp_path / "out" / "dataset=testtype" / "cohort=adults_v1"
    existing.mkdir(parents=True)
    (existing / "part-0.parquet").write_bytes(b"previous run")
    empty = spark.createDataFrame(
        [], "GlobalKey string, export_end_date string, v int, cohort string"
    )
    res = DatasetPipeline(spec, observe_counts=observe_counts).run(
        empty, str(tmp_path / "out")
    )
    assert res.tables == {} and res.counts == {}
    assert os.listdir(existing) == ["part-0.parquet"]
    assert (existing / "part-0.parquet").read_bytes() == b"previous run"


def _nested_export(spark, out):
    """Run a nested spec over two cohorts whose source rows pass through
    an accumulator; returns (result, rows read from the source)."""
    reg = SchemaRegistry()
    spec = reg.register(
        "nestedtype",
        {
            "GlobalKey": "string",
            "export_end_date": "string",
            "SubSamples": "array<struct<x:double>>",
        },
        index_fields=["GlobalKey"],
    )
    rows = [
        ("k1", "2023-01-01", [(1.0,)], "adults_v1"),
        ("k1", "2023-02-01", [(2.0,), (3.0,)], "adults_v1"),
        ("k2", "2023-01-01", [(4.0,)], "adults_v1"),
        ("k3", "2023-01-01", [(5.0,), (6.0,), (7.0,)], "pediatric_v1"),
        ("gone", "2023-01-01", [(8.0,)], "pediatric_v1"),
    ]
    reads = spark.sparkContext.accumulator(0)

    def counted(row):
        reads.add(1)
        return row

    schema = (
        "GlobalKey string, export_end_date string, "
        "SubSamples array<struct<x:double>>, cohort string"
    )
    source = spark.sparkContext.parallelize(rows, 3).map(counted)
    df = spark.createDataFrame(source, schema)
    deleted = spark.createDataFrame([("gone",)], "GlobalKey string")
    res = DatasetPipeline(spec).run(df, out, deleted=deleted)
    return res, reads.value


def test_dataset_pipeline_reads_input_once(spark, tmp_path):
    out = str(tmp_path / "out")
    res, reads = _nested_export(spark, out)
    assert res.counts == {"READ": 5, "DROP_DUPLICATES": 4, "DROP_DELETED_SAMPLES": 3}
    assert reads == res.counts["READ"]
    parent = spark.read.parquet(f"{out}/dataset=nestedtype")
    child = spark.read.parquet(f"{out}/dataset=nestedtype_subsamples")
    assert parent.count() == res.counts["DROP_DELETED_SAMPLES"]
    assert sorted((r.GlobalKey, r.x) for r in child.collect()) == [
        ("k1", 2.0), ("k1", 3.0), ("k2", 4.0), ("k3", 5.0), ("k3", 6.0), ("k3", 7.0)
    ]


def test_dataset_pipeline_small_input_writes_one_zstd_file_per_cohort(spark, tmp_path):
    import pyarrow.parquet as pq

    out = tmp_path / "out"
    _nested_export(spark, str(out))
    tables = sorted(p.name for p in out.iterdir())
    assert tables == ["dataset=nestedtype", "dataset=nestedtype_subsamples"]
    for table in tables:
        cohorts = sorted(p.name for p in (out / table).iterdir() if p.is_dir())
        assert cohorts == ["cohort=adults_v1", "cohort=pediatric_v1"]
        for cohort in cohorts:
            files = list((out / table / cohort).glob("*.parquet"))
            assert len(files) == 1, (table, cohort, files)
            md = pq.ParquetFile(str(files[0])).metadata
            codecs = {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            }
            assert codecs == {"ZSTD"}


def test_streaming_available_now(spark, tmp_path):
    from recover_spark.streaming.incremental import incremental_ingest

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        f.write('{"k": "1", "cohort": "adults_v1"}\n')
    schema = parse_type("struct<k:string,cohort:string>")
    q = incremental_ingest(
        spark,
        str(src),
        schema,
        checkpoint_path=str(tmp_path / "ckpt"),
        output_path=str(tmp_path / "out"),
    )
    q.awaitTermination(60)
    first = spark.read.parquet(str(tmp_path / "out")).count()
    assert first == 1

    # second batch: only the new file is processed (checkpointed offsets)
    with open(src / "b.json", "w") as f:
        f.write('{"k": "2", "cohort": "adults_v1"}\n')
    q2 = incremental_ingest(
        spark,
        str(src),
        schema,
        checkpoint_path=str(tmp_path / "ckpt"),
        output_path=str(tmp_path / "out"),
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2


def test_reconcile_manifests(spark):
    from recover_spark.streaming.incremental import reconcile_manifests

    src = spark.createDataFrame([("a",), ("b",), ("c",)], "file_name string")
    sink = spark.createDataFrame([("a",), ("c",)], "file_name string")
    missing = reconcile_manifests(src, sink).collect()
    assert [r.file_name for r in missing] == ["b"]


def test_multimodal_feature_plumbing(spark):
    from recover_spark.ops.multimodal import extract_image_features, sample_video_frames

    df = spark.createDataFrame(
        [
            (1, bytearray(b"fakejpegbytes"), ("image/jpeg", 10, 10, None)),
            (2, bytearray(b"otherbytes"), ("image/jpeg", 5, 5, None)),
        ],
        "media_id long, content binary, "
        "meta struct<mime_type:string,width:int,height:int,duration_ms:long>",
    )
    feats = extract_image_features(df, feature_dim=8).collect()
    by_id = {r.media_id: r for r in feats}
    assert by_id[1].n_bytes == len(b"fakejpegbytes")
    assert len(by_id[1].feature) == 8
    assert by_id[1].sha1 != by_id[2].sha1

    vid = spark.createDataFrame(
        [(3, bytearray(b"v"), ("video/mp4", None, None, 2500))],
        "media_id long, content binary, "
        "meta struct<mime_type:string,width:int,height:int,duration_ms:long>",
    )
    frames = sample_video_frames(vid, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000]


def test_real_decode_raises(spark):
    from recover_spark.ops.multimodal import extract_image_features

    df = spark.createDataFrame(
        [(1, bytearray(b"x"), None)],
        "media_id long, content binary, meta struct<mime_type:string,width:int,height:int,duration_ms:long>",
    )
    with pytest.raises(Exception):
        extract_image_features(df, decode_stub=False).collect()


def test_multimodal_digest_algo(spark):
    import hashlib

    from recover_spark.ops.multimodal import extract_image_features

    df = spark.createDataFrame(
        [(1, b"hello"), (2, None)], "media_id long, content binary"
    )
    out = {
        r.media_id: r
        for r in extract_image_features(df, feature_dim=2, digest_algo="md5").collect()
    }
    assert out[1].sha1 == hashlib.md5(b"hello").hexdigest()
    assert out[1].n_bytes == 5
    assert out[2].sha1 == hashlib.md5(b"").hexdigest()
    assert out[2].n_bytes == 0


def test_sql_interface_views(spark):
    from recover_spark.sql import register_views, run_sql

    register_views(spark, "/root/testdata/sf0.001", tables=["nation", "region"])
    assert spark.sql("SELECT count(*) AS n FROM nation").collect()[0]["n"] == 25
    out = run_sql(
        spark,
        "/root/testdata/sf0.001",
        """SELECT r.r_name, count(*) AS n
           FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
           GROUP BY r.r_name""",
    )
    assert sum(r["n"] for r in out.collect()) == 25


def test_audio_chunking_byte_ranges(spark):
    from recover_spark.ops.multimodal import chunk_audio

    media = spark.createDataFrame(
        [(1, b"x" * 1000, ("audio/wav", None, None, 5000))],
        "media_id long, content binary, "
        "meta struct<mime_type string, width int, height int, duration_ms long>",
    )
    rows = sorted(
        (r["chunk_idx"], r["chunk_start_ms"], r["chunk_end_ms"],
         r["byte_start"], r["byte_end"])
        for r in chunk_audio(media, chunk_ms=2000).collect()
    )
    # 5000 ms / 2000 ms chunks -> [0,2000) [2000,4000) [4000,5000)
    assert rows == [
        (0, 0, 2000, 0, 400),
        (1, 2000, 4000, 400, 800),
        (2, 4000, 5000, 800, 1000),
    ]
    # chunks tile the blob exactly: last byte_end == n_bytes
    assert rows[-1][4] == 1000


def test_range_clustered_layout_has_disjoint_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq
    from pathlib import Path

    from recover_spark.sources.writers import write_range_clustered_parquet

    df = spark.range(0, 50_000).select(
        F.col("id"), (F.col("id") % 977).alias("k")
    )
    clustered = str(tmp_path / "clustered")
    plain = str(tmp_path / "plain")
    write_range_clustered_parquet(df, clustered, ["k"], num_files=8)
    df.repartition(8).write.parquet(plain)

    def file_ranges(root):
        out = []
        for f in Path(root).glob("*.parquet"):
            md = pq.ParquetFile(str(f)).metadata
            ks = [
                md.row_group(i).column(1).statistics
                for i in range(md.num_row_groups)
            ]
            out.append(
                (min(s.min for s in ks), max(s.max for s in ks))
            )
        return sorted(out)

    ranges = file_ranges(clustered)
    # disjoint: every file's max < next file's min (no overlap)
    assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))
    # the unsorted layout overlaps (each file spans ~the full domain)
    plain_ranges = file_ranges(plain)
    assert any(a[1] > b[0] for a, b in zip(plain_ranges, plain_ranges[1:]))
