"""Avro container codec (a16): wire-format conformance the SQL oracle
can't see — nullable unions, logical timestamps, arrays, deflate blocks,
sync-marker integrity, empty-input header-only files."""

import datetime as dt
import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_pipes_spark.operators import avro_io
from dask_pipes_spark.session import load, scratch_path
from tests.conftest import SF_SMOKE

MIXED_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
    ]
)

MIXED_ROWS = [
    Row(
        k=1,
        i=-7,
        x=3.5,
        s="héllo",
        flag=True,
        ts=dt.datetime(2020, 1, 2, 3, 4, 5, 123456),
        arr=[1, 2, 3],
    ),
    Row(k=-(2**40), i=0, x=-0.0, s="", flag=False, ts=None, arr=[]),
    Row(
        k=2**62,
        i=2**31 - 1,
        x=1e300,
        s=None,
        flag=None,
        ts=dt.datetime(1969, 12, 31, 23, 59, 59),
        arr=None,
    ),
]


def test_mixed_types_roundtrip_exact(spark):
    out = scratch_path("test_avro_mixed")
    df = spark.createDataFrame(MIXED_ROWS, MIXED_SCHEMA)
    avro_io.write_avro(df, out)
    back = avro_io.read_avro(spark, out)
    assert back.schema == MIXED_SCHEMA or [
        (f.name, f.dataType) for f in back.schema.fields
    ] == [(f.name, f.dataType) for f in MIXED_SCHEMA.fields]
    got = sorted(back.collect(), key=lambda r: r.k)
    want = sorted(df.collect(), key=lambda r: r.k)
    assert got == want


def test_customer_roundtrip_equals_source(spark):
    out = scratch_path("test_avro_cust")
    cust = load(spark, SF_SMOKE, "customer")
    n_files = avro_io.write_avro(cust, out)
    assert n_files >= 1
    back = avro_io.read_avro(spark, out)
    assert back.count() == cust.count()
    # exact content equality via anti-joins both ways
    assert back.exceptAll(cust).count() == 0
    assert cust.exceptAll(back).count() == 0


def test_files_are_spec_conformant_deflate_containers(spark):
    out = scratch_path("test_avro_cust")  # written by previous test or now
    if not any(f.endswith(".avro") for f in os.listdir(out)):
        avro_io.write_avro(load(spark, SF_SMOKE, "customer"), out)
    fname = sorted(f for f in os.listdir(out) if f.endswith(".avro"))[0]
    with open(os.path.join(out, fname), "rb") as fh:
        content = fh.read()
    assert content[:4] == b"Obj\x01"
    schema_json, blocks = avro_io._read_container(content)
    assert '"type": "record"' in schema_json
    assert sum(n for n, _ in blocks) > 0


def test_corrupt_sync_marker_detected(spark):
    out = scratch_path("test_avro_corrupt")
    avro_io.write_avro(
        spark.createDataFrame(MIXED_ROWS, MIXED_SCHEMA), out, codec="null"
    )
    fname = sorted(f for f in os.listdir(out) if f.endswith(".avro"))[0]
    path = os.path.join(out, fname)
    blob = bytearray(open(path, "rb").read())
    blob[-1] ^= 0xFF  # flip last sync byte
    with pytest.raises(ValueError, match="sync marker"):
        avro_io._read_container(bytes(blob))


def test_empty_input_writes_header_only_file(spark):
    out = scratch_path("test_avro_empty")
    df = spark.createDataFrame([], MIXED_SCHEMA)
    avro_io.write_avro(df, out)
    back = avro_io.read_avro(spark, out)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == [
        f.name for f in MIXED_SCHEMA.fields
    ]


def test_schema_resolution_across_writer_generations(spark):
    out = scratch_path("test_avro_evo")
    v1_schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]
    )
    v2_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("i", T.IntegerType()),
        ]
    )
    avro_io.write_avro(
        spark.createDataFrame([Row(k=1, s="a"), Row(k=2, s="b")], v1_schema),
        out,
        prefix="v1",
        clean=True,
    )
    avro_io.write_avro(
        spark.createDataFrame([Row(k=3, s="c", i=7)], v2_schema),
        out,
        prefix="v2",
        clean=False,
    )
    reader = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("i", T.LongType()),  # int -> long promotion
        ]
    )
    got = sorted(
        avro_io.read_avro(spark, out, spark_schema=reader).collect(),
        key=lambda r: r.k,
    )
    assert [(r.k, r.s, r.i) for r in got] == [
        (1, "a", None),
        (2, "b", None),
        (3, "c", 7),
    ]


def test_nullable_bigint_beyond_2pow53_lossless(spark):
    """Round-5 advice (medium): a nullable long column crossing a pandas
    boundary becomes float64 and silently rounds |v| > 2^53. The writer
    now goes through mapInArrow/to_pylist, so null + 2^62+1 in ONE column
    must roundtrip bit-exact."""
    out = scratch_path("test_avro_bignull")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    big = 2**62 + 1  # NOT float64-representable (2^62 is, 2^62+1 is not)
    df = spark.createDataFrame(
        [Row(k=1, v=big), Row(k=2, v=None), Row(k=3, v=-(2**53) - 1)], schema
    )
    avro_io.write_avro(df, out)
    got = sorted(avro_io.read_avro(spark, out).collect(), key=lambda r: r.k)
    assert [(r.k, r.v) for r in got] == [(1, big), (2, None), (3, -(2**53) - 1)]


def test_split_reader_fans_one_file_to_many_tasks(spark):
    """a18 contract: ONE multi-block container file decodes across >1
    partition, with every block accounted for exactly once."""
    out = scratch_path("test_avro_split")
    cust = load(spark, SF_SMOKE, "customer")
    n_files = avro_io.write_avro(cust.repartition(1), out, block_rows=64)
    assert n_files == 1
    assert len([f for f in os.listdir(out) if f.endswith(".avro")]) == 1
    back = avro_io.read_avro_split(spark, out, target_splits=8)
    assert back.rdd.getNumPartitions() == 8
    per_part = back.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert sum(1 for n in per_part if n > 0) > 1  # genuinely fanned out
    assert back.count() == cust.count()
    assert back.exceptAll(cust).count() == 0
    assert cust.exceptAll(back).count() == 0


def test_split_block_index_matches_container_walk(spark):
    out = scratch_path("test_avro_split")
    if not any(f.endswith(".avro") for f in os.listdir(out)):
        avro_io.write_avro(
            load(spark, SF_SMOKE, "customer").repartition(1), out, block_rows=64
        )
    fname = sorted(f for f in os.listdir(out) if f.endswith(".avro"))[0]
    path = os.path.join(out, fname)
    schema_json, codec, blocks = avro_io._index_container_blocks(path)
    assert len(blocks) > 1  # block_rows forced a multi-block file
    _, full_blocks = avro_io._read_container(open(path, "rb").read())
    assert [c for _, _, c in blocks] == [n for n, _ in full_blocks]
    # seek-ranged payload reads reproduce the full-file decode exactly
    with open(path, "rb") as fh:
        for (offset, size, _), (_, inflated) in zip(blocks, full_blocks):
            fh.seek(offset)
            raw = fh.read(size)
            if codec == "deflate":
                import zlib

                raw = zlib.decompress(raw, -15)
            assert raw == inflated


def test_split_reader_handles_header_only_file(spark):
    """Empty input writes a header-only container; the split reader must
    infer the schema from its sentinel index row and return 0 rows."""
    out = scratch_path("test_avro_split_empty")
    avro_io.write_avro(spark.createDataFrame([], MIXED_SCHEMA), out)
    back = avro_io.read_avro_split(spark, out)
    assert back.count() == 0
    assert [f.name for f in back.schema.fields] == [
        f.name for f in MIXED_SCHEMA.fields
    ]


def test_read_avro_empty_dir_raises_descriptive(spark):
    out = scratch_path("test_avro_nofiles")
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(out):
        os.remove(os.path.join(out, f))
    with pytest.raises(FileNotFoundError, match="no .avro files"):
        avro_io.read_avro(spark, out)
    with pytest.raises(FileNotFoundError, match="no .avro files"):
        avro_io.read_avro_split(spark, out)


def test_null_codec_roundtrip(spark):
    out = scratch_path("test_avro_nullcodec")
    df = spark.createDataFrame(MIXED_ROWS, MIXED_SCHEMA)
    avro_io.write_avro(df, out, codec="null")
    back = avro_io.read_avro(spark, out)
    assert sorted(back.collect(), key=lambda r: r.k) == sorted(
        df.collect(), key=lambda r: r.k
    )


def test_compiled_decoder_matches_interpreter(spark):
    """The schema-specialized generated decoder (round 6) must agree with
    the recursive interpreter — the semantics reference — value-for-value
    on every primitive type, nulls included, and fall back cleanly on
    complex (array) schemas."""
    import io
    import json as _json

    fields = [
        {"name": "k", "type": ["null", "long"]},
        {"name": "i", "type": ["null", "int"]},
        {"name": "x", "type": ["null", "double"]},
        {"name": "f", "type": ["null", "float"]},
        {"name": "s", "type": ["null", "string"]},
        {"name": "b", "type": ["null", "boolean"]},
        {"name": "y", "type": ["null", "bytes"]},
    ]
    sj = _json.dumps({"type": "record", "name": "row", "fields": fields})
    rows = [
        (2**62 + 1, -7, 3.5, 1.25, "héllo", True, b"\x00\xff"),
        (None, None, None, None, None, None, None),
        (-(2**40), 2**31 - 1, -0.0, -2.5, "", False, b""),
    ]
    out = bytearray()
    for tup in rows:
        for f, v in zip(fields, tup):
            avro_io._encode_value(out, f["type"], v)
    comp = avro_io._decode_block_columns(bytes(out), len(rows), fields, sj)
    buf = io.BytesIO(bytes(out))
    interp = {f["name"]: [] for f in fields}
    for _ in range(len(rows)):
        for f in fields:
            interp[f["name"]].append(avro_io._decode_value(buf, f["type"]))
    assert comp == interp
    arr_sj = _json.dumps(
        {
            "type": "record",
            "name": "row",
            "fields": [
                {"name": "a", "type": ["null", {"type": "array", "items": ["null", "long"]}]}
            ],
        }
    )
    assert avro_io._compiled_decoder(arr_sj) is None  # interpreter fallback


def test_compaction_collapses_generations_into_multiblock_file(spark):
    """k17 contract: four generation files compact into ONE container that
    (a) holds >1 data block, (b) carries the exact same rowset, and
    (c) still fans out across tasks through the a18 split reader."""
    from dask_pipes_spark.operators.avro_io import (
        compact_avro,
        k17_compact_generations,
    )

    # run the key once: it stages the landing dir + compacted dir
    rows = {
        r.event_type: (r.n_events, r.sum_id)
        for r in k17_compact_generations(spark, SF_SMOKE).collect()
    }
    ev = load(spark, SF_SMOKE, "events")
    want = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    assert rows == want

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    land = scratch_path(f"dps_k17_land_{tag}")
    compacted = scratch_path(f"dps_k17_compacted_{tag}")
    land_files = [f for f in os.listdir(land) if f.endswith(".avro")]
    out_files = [f for f in os.listdir(compacted) if f.endswith(".avro")]
    assert len(land_files) == 4, land_files
    assert len(out_files) == 1, out_files  # fewer files...
    _, _, blocks = avro_io._index_container_blocks(
        os.path.join(compacted, out_files[0])
    )
    assert len(blocks) > 1  # ...more blocks per file

    # rowset equality landing vs compacted, and a18 fan-out over the result
    before = avro_io.read_avro_split(spark, land)
    after = avro_io.read_avro_split(spark, compacted, target_splits=8)
    assert after.rdd.getNumPartitions() == 8
    per_part = after.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
    assert sum(1 for n in per_part if n > 0) > 1
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0

    # idempotence: re-compacting the compacted dir is a no-op rowset-wise
    recompacted = scratch_path(f"dps_k17_recompact_{tag}")
    compact_avro(spark, compacted, recompacted, block_rows=250)
    again = avro_io.read_avro_split(spark, recompacted)
    assert again.exceptAll(after).count() == 0
    assert after.exceptAll(again).count() == 0


def test_vacuum_swaps_atomically_and_preserves_rows(spark):
    """k18 contract: after compact → rename-in → manifest → vacuum, the
    landing zone holds ONLY the compacted container plus the manifest, the
    manifest names every superseded generation, and the rowset equals the
    source events slice exactly."""
    import json

    from dask_pipes_spark.operators.avro_io import k18_vacuum_generations

    rows = {
        r.event_type: (r.n_events, r.sum_id)
        for r in k18_vacuum_generations(spark, SF_SMOKE).collect()
    }
    ev = load(spark, SF_SMOKE, "events")
    want = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    assert rows == want

    tag = SF_SMOKE.rstrip("/").rsplit("/", 1)[-1]
    land = scratch_path(f"dps_k18_land_{tag}")
    files = sorted(f for f in os.listdir(land) if f.endswith(".avro"))
    assert files and all(f.startswith("compacted-") for f in files), files
    manifest = json.load(open(os.path.join(land, "VACUUM.json")))
    assert len(manifest["superseded"]) == 4
    assert manifest["by"] == files
    # superseded generations are really gone
    assert not any(f in files for f in manifest["superseded"])


def test_compaction_both_collapse_regimes_preserve_rows(spark):
    """Round-12 pivot in compact_avro: target_files below the cluster
    parallelism collapses via repartition (block-parallel decode), at or
    above it via coalesce (zero-shuffle rewrite). Both regimes must
    preserve the exact rowset and stay spec-readable."""
    import os

    from dask_pipes_spark.operators.avro_io import (
        compact_avro,
        read_avro_split,
        write_avro,
    )
    from dask_pipes_spark.session import load, scratch_path

    src = load(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    want = sorted(tuple(r) for r in src.collect())
    land = scratch_path("t_compact_regimes")
    os.makedirs(land, exist_ok=True)
    for g in range(3):
        write_avro(
            src.filter(F.col("c_custkey") % 3 == g).coalesce(1),
            land, prefix=f"g{g}", clean=False,
        )
    par = spark.sparkContext.defaultParallelism
    # on a single-core runner target 1 == par would exercise coalesce
    # twice and silently skip the repartition regime (r12 advice item)
    assert par > 1, "both-regimes test needs defaultParallelism > 1"
    for target in (1, par):  # repartition regime, coalesce regime
        dst = scratch_path(f"t_compact_out_{target}")
        compact_avro(spark, land, dst, block_rows=40, target_files=target)
        back = read_avro_split(spark, dst)
        got = sorted(tuple(r) for r in back.collect())
        assert got == want, f"rowset diverged at target_files={target}"
    # round-13 volume gate: an oversized-per-file request (source bytes
    # above target_files x 512 MB) must take the zero-shuffle coalesce
    # shape even when target_files < cores — pin via monkeypatched
    # threshold semantics by asking for 1 file from a "too big" source:
    # the gate keys on real file sizes, so emulate by checking the
    # branch predicate directly
    src_bytes = sum(
        e.stat().st_size for e in os.scandir(land)
        if e.is_file() and e.name.endswith(".avro")
    )
    assert src_bytes <= 1 * 512 * 1024 * 1024  # fixture source fits: gate open


def test_compaction_volume_gate_closed_coalesces(spark, monkeypatch):
    """compact_avro's volume gate on its closed branch: a source above
    ``target_files x COMPACT_FILE_BYTES`` on disk takes the zero-shuffle
    coalesce (the written plan adds no exchange to the split reader's
    own block-index exchange), and the open gate takes the repartition;
    both keep the rowset."""
    from dask_pipes_spark.operators.avro_io import (
        compact_avro,
        read_avro_split,
        write_avro,
    )

    src = load(spark, SF_SMOKE, "customer").select("c_custkey", "c_name")
    want = sorted(tuple(r) for r in src.collect())
    land = scratch_path("t_compact_gate")
    os.makedirs(land, exist_ok=True)
    for g in range(3):
        write_avro(
            src.filter(F.col("c_custkey") % 3 == g).coalesce(1),
            land, prefix=f"g{g}", clean=False,
        )
    assert spark.sparkContext.defaultParallelism > 1  # target 1 is decode-bound
    written = []

    def exchanges(df) -> int:
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange ")

    def spy(df, *args, **kwargs):
        written.append(exchanges(df))
        return write_avro(df, *args, **kwargs)

    read_exchanges = exchanges(read_avro_split(spark, land))

    monkeypatch.setattr(avro_io, "write_avro", spy)
    for file_bytes, exchange in ((avro_io.COMPACT_FILE_BYTES, True), (1, False)):
        monkeypatch.setattr(avro_io, "COMPACT_FILE_BYTES", file_bytes)
        dst = scratch_path(f"t_compact_gate_out_{file_bytes}")
        compact_avro(spark, land, dst, block_rows=40, target_files=1)
        assert written[-1] == read_exchanges + exchange
        got = sorted(tuple(r) for r in read_avro_split(spark, dst).collect())
        assert got == want, f"rowset diverged at COMPACT_FILE_BYTES={file_bytes}"
