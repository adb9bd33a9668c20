"""Golden DDL tests — port of the reference's test strategy (SURVEY.md §5.1).

A1/A3 goldens are byte-for-byte from /root/reference/src/parquetutils.rs:399-414
and /root/reference/README.md; A2/A4/A5 goldens are hand-derived from the
reference's emission rules (FIXTURES.md §A).
"""

import pyspark.sql.types as T
import pytest

from parquet_to_clickhouse_schema_spark.ddl import (
    UnsupportedTypeError,
    infer_parquet_schema,
    schema_to_clickhouse,
    struct_to_clickhouse_ddl,
    struct_to_spark_ddl,
)

REF_NESTED = T.StructType(
    [
        T.StructField("a", T.IntegerType(), True),
        T.StructField("b", T.StringType(), True),
        T.StructField(
            "c",
            T.StructType(
                [
                    T.StructField("a", T.StringType(), True),
                    T.StructField("b", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "d",
            T.ArrayType(T.StructType([T.StructField("a", T.StringType(), True)])),
            True,
        ),
    ]
)

GOLDEN_REF_NESTED = (
    "drop table if exists T;\n"
    "create table T (\n"
    "    a Nullable(Int32)\n"
    "    , b Nullable(String)\n"
    "    , c Tuple(\n"
    "        a Nullable(String)\n"
    "        , b Nullable(String)\n"
    "    )\n"
    "    , d Nested (\n"
    "        a Nullable(String)\n"
    "    )\n"
    ") engine = MergeTree() primary key (foo);\n"
)


def test_golden_ref_nested():
    """A1: the reference's own golden (src/parquetutils.rs:399-414)."""
    assert struct_to_clickhouse_ddl(REF_NESTED, "T", "foo") == GOLDEN_REF_NESTED


def test_golden_ref_nested_roundtrip_parquet(spark, tmp_path):
    """A1 via an actual Parquet file written the way the reference's test
    writes its fixture (src/parquetutils.rs:319-343)."""
    df = spark.createDataFrame([(42, None, ("foo", "bar"), [("foo",)])], REF_NESTED)
    p = str(tmp_path / "p.parquet")
    df.write.parquet(p)
    out = str(tmp_path / "clickhouse_schema.sql")
    ddl = schema_to_clickhouse(p, "T", "foo", out_path=out)
    assert ddl == GOLDEN_REF_NESTED
    # everything after primary_key is keyword-only, so a stray positional
    # argument is refused rather than taken as out_path
    with pytest.raises(TypeError):
        schema_to_clickhouse(p, "T", "foo", spark)
    with open(out) as fh:
        assert fh.read() == GOLDEN_REF_NESTED


def test_golden_map_fixture(spark, tmp_path):
    """A2: the pyarrow fixture with map<string, struct> (resources/arrow.py:7-32);
    map emission rules from src/parquetutils.rs:223-261,189-192."""
    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), True),
            T.StructField(
                "c",
                T.StructType(
                    [
                        T.StructField("a", T.StringType(), True),
                        T.StructField("b", T.StringType(), True),
                    ]
                ),
                True,
            ),
            T.StructField(
                "d",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("a", T.StringType(), True),
                            T.StructField("b", T.StringType(), True),
                        ]
                    )
                ),
                True,
            ),
            T.StructField(
                "e",
                T.MapType(
                    T.StringType(),
                    T.StructType(
                        [
                            T.StructField("a", T.StringType(), True),
                            T.StructField("b", T.StringType(), True),
                        ]
                    ),
                ),
                True,
            ),
        ]
    )
    expected = (
        "drop table if exists T;\n"
        "create table T (\n"
        "    a Nullable(Int64)\n"
        "    , b Nullable(String)\n"
        "    , c Tuple(\n"
        "        a Nullable(String)\n"
        "        , b Nullable(String)\n"
        "    )\n"
        "    , d Nested (\n"
        "        a Nullable(String)\n"
        "        , b Nullable(String)\n"
        "    )\n"
        "    , e Map (\n"
        "        String\n"
        "        , Tuple(\n"
        "            a Nullable(String)\n"
        "            , b Nullable(String)\n"
        "        )\n"
        "    )\n"
        ") engine = MergeTree() primary key (foo);\n"
    )
    assert struct_to_clickhouse_ddl(schema, "T", "foo") == expected


def test_map_with_array_value_keeps_wrapper_name():
    """Regression: map<string, array<long>> value emits `value Nested (...)`
    (the parquet wrapper group name), not an empty name."""
    schema = T.StructType(
        [T.StructField("m", T.MapType(T.StringType(), T.ArrayType(T.LongType())), True)]
    )
    ddl = struct_to_clickhouse_ddl(schema, "t", "pk")
    assert (
        "    m Map (\n"
        "        String\n"
        "        , value Nested (\n"
        "            element Nullable(Int64)\n"
        "        )\n"
        "    )\n"
    ) in ddl


def test_spark_ddl_preserves_nested_field_case():
    """Regression: uppercasing the whole type string corrupted nested
    struct field names; identifier case must survive."""
    schema = T.StructType(
        [
            T.StructField(
                "meta",
                T.StructType([T.StructField("userId", T.LongType())]),
                True,
            )
        ]
    )
    ddl = struct_to_spark_ddl(schema, "t")
    assert "userId" in ddl
    assert "USERID" not in ddl


def test_primary_key_emitted_bare():
    """A3: PK matching a column → bare type (src/parquetutils.rs:160-162)."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    ddl = struct_to_clickhouse_ddl(schema, "t1", "id")
    assert "    id Int32\n" in ddl
    assert "    , name Nullable(String)\n" in ddl
    assert ddl.endswith(") engine = MergeTree() primary key (id);\n")


def test_primitive_list():
    """A4: list-of-primitive → Nested with synthetic `element`
    (src/parquetutils.rs:163-168)."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
        ]
    )
    ddl = struct_to_clickhouse_ddl(schema, "t2", "id")
    assert (
        "    , tags Nested (\n"
        "        element Nullable(String)\n"
        "    )\n"
    ) in ddl


def test_scalar_matrix_strict():
    """A5: the reference's full scalar map (src/parquetutils.rs:76-99)."""
    cases = [
        (T.BooleanType(), "Bool"),
        (T.IntegerType(), "Int32"),
        (T.LongType(), "Int64"),
        (T.FloatType(), "Float32"),
        (T.DoubleType(), "Float64"),
        (T.StringType(), "String"),
        (T.BinaryType(), "String"),
        (T.DateType(), "Int32"),
        (T.TimestampType(), "Int64"),
    ]
    schema = T.StructType(
        [T.StructField(f"c{i}", dt, True) for i, (dt, _) in enumerate(cases)]
    )
    ddl = struct_to_clickhouse_ddl(schema, "m", "none")
    for i, (_, ch) in enumerate(cases):
        assert f"c{i} Nullable({ch})\n" in ddl


def test_strict_panics_like_reference_lenient_maps():
    schema = T.StructType([T.StructField("d", T.DecimalType(12, 2), True)])
    with pytest.raises(UnsupportedTypeError):
        struct_to_clickhouse_ddl(schema, "t", "x")
    ddl = struct_to_clickhouse_ddl(schema, "t", "x", strict=False)
    assert "d Nullable(Decimal(12, 2))\n" in ddl


def test_lenient_honors_nullability_and_dates():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("day", T.DateType(), True),
            T.StructField("at", T.TimestampType(), True),
        ]
    )
    ddl = struct_to_clickhouse_ddl(schema, "t", "other", strict=False, always_nullable=False)
    assert "    id Int64\n" in ddl
    assert ", day Nullable(Date)\n" in ddl
    assert ", at Nullable(DateTime64(6))\n" in ddl


def test_infer_schema_footer_only_handles_nanos():
    """pyarrow fast path reads the TIMESTAMP(NANOS) events table that
    spark.read.parquet rejects — footer-only, no JVM involved."""
    schema = infer_parquet_schema("/root/testdata/sf0.001/events.parquet")
    names = [f.name for f in schema.fields]
    assert names == ["event_id", "ts", "user_id", "event_type", "value", "props"]


def test_legacy_two_level_list_encoding(spark, tmp_path):
    """Fidelity: 2-level legacy LIST encodings (reference unwraps `array` /
    `<name>_tuple` inner names by hand, src/parquetvisitor.rs:60-63). Spark's
    writeLegacyFormat reproduces old parquet-mr layout: nullable-element
    lists as 3-level with `bag/array` naming, non-nullable-element lists as
    true 2-level `repeated T`. Both must infer to the same DDL as the
    standard compliant encoding."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("tags", T.ArrayType(T.StringType(), True), True),
            T.StructField("nums", T.ArrayType(T.IntegerType(), False), True),
            T.StructField(
                "recs",
                T.ArrayType(
                    T.StructType([T.StructField("a", T.StringType(), True)]), True
                ),
                True,
            ),
        ]
    )
    df = spark.createDataFrame([(1, ["x", "y"], [1, 2], [("foo",)])], schema)
    legacy_dir = str(tmp_path / "legacy")
    std_dir = str(tmp_path / "std")
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try:
        df.coalesce(1).write.parquet(legacy_dir)
    finally:
        spark.conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    df.coalesce(1).write.parquet(std_dir)

    ddl_legacy = schema_to_clickhouse(legacy_dir, "t", "id")
    ddl_std = schema_to_clickhouse(std_dir, "t", "id")
    assert ddl_legacy == ddl_std
    assert (
        "    , tags Nested (\n"
        "        element Nullable(String)\n"
        "    )\n"
    ) in ddl_legacy
    assert (
        "    , recs Nested (\n"
        "        a Nullable(String)\n"
        "    )\n"
    ) in ddl_legacy


def test_noncompliant_item_named_list(tmp_path):
    """Fidelity: pyarrow's non-compliant 3-level form names the inner field
    `item` instead of `element`; inference must still produce the standard
    Nested DDL (the reference's visitor skips the wrapper name entirely,
    src/parquetvisitor.rs:56-63)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "id": pa.array([1, 2], type=pa.int32()),
            "tags": pa.array([["a"], ["b", "c"]], type=pa.list_(pa.string())),
        }
    )
    p = str(tmp_path / "item.parquet")
    pq.write_table(tbl, p, use_compliant_nested_type=False)
    ddl = schema_to_clickhouse(p, "t", "id")
    assert (
        "    , tags Nested (\n"
        "        element Nullable(String)\n"
        "    )\n"
    ) in ddl


def test_int96_strict_panics_lenient_maps(tmp_path):
    """Fidelity: INT96 timestamps (legacy Hive/Impala). The reference panics
    (src/parquetutils.rs:85) — strict mode must too, even though the
    arrow-converted schema erases the physical type. Lenient mode maps it
    like any timestamp."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "id": pa.array([1], type=pa.int64()),
            "ts": pa.array([datetime(2024, 1, 2, 3, 4, 5)], type=pa.timestamp("us")),
        }
    )
    p = str(tmp_path / "int96.parquet")
    pq.write_table(tbl, p, use_deprecated_int96_timestamps=True)
    assert pq.ParquetFile(p).schema.column(1).physical_type == "INT96"

    with pytest.raises(UnsupportedTypeError, match="INT96"):
        schema_to_clickhouse(p, "t", "id", strict=True)
    ddl = schema_to_clickhouse(p, "t", "id", strict=False)
    assert ", ts Nullable(DateTime64(6))\n" in ddl


def test_flba_strict_panics_lenient_maps(tmp_path):
    """Fidelity: physical FIXED_LEN_BYTE_ARRAY without a decimal annotation
    (e.g. UUID-as-binary(16)). The reference's type match has no FLBA arm
    (src/parquetutils.rs:76-88) and panics — strict mode must too, even
    though arrow converts it to fixed_size_binary (BinaryType), which would
    otherwise silently map to String. Lenient mode keeps the String
    mapping."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "id": pa.array([1], type=pa.int64()),
            "uuid": pa.array([b"0123456789abcdef"], type=pa.binary(16)),
        }
    )
    p = str(tmp_path / "flba.parquet")
    pq.write_table(tbl, p)
    assert pq.ParquetFile(p).schema.column(1).physical_type == "FIXED_LEN_BYTE_ARRAY"

    with pytest.raises(UnsupportedTypeError, match="FIXED_LEN_BYTE_ARRAY"):
        schema_to_clickhouse(p, "t", "id", strict=True)
    ddl = schema_to_clickhouse(p, "t", "id", strict=False)
    assert ", uuid Nullable(String)\n" in ddl


def test_decimal_flba_reports_decimal_not_flba(tmp_path):
    """Decimal-annotated FLBA is the DECIMAL panic (src/parquetutils.rs:96),
    not the physical-type one — the footer check must not shadow the more
    precise DecimalType error."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "id": pa.array([1], type=pa.int64()),
            "amt": pa.array([decimal.Decimal("1.23")], type=pa.decimal128(30, 2)),
        }
    )
    p = str(tmp_path / "dec.parquet")
    pq.write_table(tbl, p)
    assert pq.ParquetFile(p).schema.column(1).physical_type == "FIXED_LEN_BYTE_ARRAY"

    with pytest.raises(UnsupportedTypeError, match="DECIMAL"):
        schema_to_clickhouse(p, "t", "id", strict=True)
    ddl = schema_to_clickhouse(p, "t", "id", strict=False)
    assert ", amt Nullable(Decimal(30, 2))\n" in ddl


def test_int96_detected_in_any_file_of_directory_dataset(tmp_path):
    """ADVICE r2: the footer check must scan every part-file (recursively),
    not just the lexically-first top-level one — an INT96 column hiding in
    a later part-file or a partition subdirectory must still panic."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    clean = pa.table({"id": pa.array([1], type=pa.int64())})
    dirty = pa.table(
        {
            "id": pa.array([2], type=pa.int64()),
            "ts": pa.array([datetime(2024, 1, 2)], type=pa.timestamp("us")),
        }
    )
    ds = tmp_path / "ds.parquet"
    (ds / "part=a").mkdir(parents=True)
    pq.write_table(clean, str(ds / "aaa-first.parquet"))
    pq.write_table(
        dirty, str(ds / "part=a" / "zzz-last.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    with pytest.raises(UnsupportedTypeError, match="INT96"):
        schema_to_clickhouse(str(ds), "t", "id", strict=True)


def test_spark_ddl():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.ArrayType(T.FloatType()), True),
        ]
    )
    ddl = struct_to_spark_ddl(schema, "t", location="/data/t")
    assert "id bigint NOT NULL" in ddl
    assert "v array<float>" in ddl
    assert "USING parquet" in ddl
    assert "LOCATION '/data/t'" in ddl


def test_real_testdata_ddl():
    ddl = schema_to_clickhouse(
        "/root/testdata/sf0.001/lineitem.parquet", "lineitem", "l_orderkey"
    )
    assert ddl.startswith("drop table if exists lineitem;\n")
    assert "    l_orderkey Int64\n" in ddl
    assert ", l_quantity Nullable(Float64)\n" in ddl
    assert ", l_shipdate Nullable(Int64)\n" in ddl  # strict: TIMESTAMP→Int64


def test_schema_diff_identical_and_drifted(tmp_path, spark):
    from parquet_to_clickhouse_schema_spark.ddl import schema_diff

    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    spark.createDataFrame(
        [(1, "a", 1.5)], "id bigint, name string, score double"
    ).write.parquet(old)
    # drop `score`, add `tags`, retype `name`
    spark.createDataFrame(
        [(1, 2, ["x"])], "id bigint, name int, tags array<string>"
    ).write.parquet(new)
    assert schema_diff(old, old) == []
    changes = {c["column"]: c["change"] for c in schema_diff(old, new)}
    assert changes == {
        "score": "removed",
        "tags": "added",
        "name": "type_changed",
    }


def test_schema_diff_recurses_into_structs(tmp_path, spark):
    from parquet_to_clickhouse_schema_spark.ddl import schema_diff

    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    spark.createDataFrame(
        [((1, "x"),)], "meta struct<a: bigint, b: string>"
    ).write.parquet(old)
    spark.createDataFrame(
        [((1, 1.0),)], "meta struct<a: bigint, b: double>"
    ).write.parquet(new)
    changes = schema_diff(old, new)
    assert [(c["column"], c["change"]) for c in changes] == [
        ("meta.b", "type_changed")
    ]


def test_schema_alter_ddl_covers_add_drop_modify(tmp_path, spark):
    """schema_diff_to_clickhouse_alter emits executable day-2 DDL: drop for
    removed columns, modify for retyped ones (rendered ClickHouse type, so
    the always-Nullable rule keeps pure nullability flips silent), add with
    a position anchor that always exists at execution time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1], pa.int64()),
                "a": pa.array([1.0], pa.float64()),
                "gone": pa.array(["x"]),
            }
        ),
        old,
    )
    pq.write_table(
        pa.table(
            {
                "lead": pa.array([0], pa.int64()),
                "id": pa.array([1], pa.int64()),
                "a": pa.array([1], pa.int32()),
                "fresh": pa.array([2], pa.int64()),
            }
        ),
        new,
    )
    ddl = schema_diff_to_clickhouse_alter(old, new, "t")
    lines = ddl.strip().splitlines()
    assert lines == [
        "alter table t drop column gone;",
        "alter table t modify column a Nullable(Int32);",
        "alter table t add column lead Nullable(Int64) first;",
        "alter table t add column fresh Nullable(Int64) after a;",
    ]
    # identical footers -> no statements, just the comment
    same = schema_diff_to_clickhouse_alter(old, old, "t")
    assert same.startswith("-- t: footers match")
    # out_path side effect mirrors schema_to_clickhouse
    out = tmp_path / "alter.sql"
    schema_diff_to_clickhouse_alter(old, new, "t", out_path=str(out))
    assert out.read_text() == ddl


def test_schema_alter_ddl_consecutive_adds_anchor_each_other(tmp_path, spark):
    """Two adjacent new columns: the second's AFTER anchor is the first —
    which the emission order has already created."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    old = str(tmp_path / "o.parquet")
    new = str(tmp_path / "n.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), old)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1], pa.int64()),
                "x": pa.array([1], pa.int64()),
                "y": pa.array([1], pa.int64()),
            }
        ),
        new,
    )
    ddl = schema_diff_to_clickhouse_alter(old, new, "t")
    lines = ddl.strip().splitlines()
    assert lines == [
        "alter table t add column x Nullable(Int64) after id;",
        "alter table t add column y Nullable(Int64) after x;",
    ]


def test_schema_alter_ddl_one_positioning_statement_per_column(tmp_path, spark):
    """ADVICE r11 regression: old [a,b,c,d] -> new [d,x,b,a] used to emit
    'add x after d' at a temporary slot and then immediately re-move x in
    the reorder pass. With survivors reordered BEFORE adds, every column is
    positioned by exactly one statement and the script still replays to the
    exact target layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    i64 = pa.int64()
    old = str(tmp_path / "o.parquet")
    new = str(tmp_path / "n.parquet")
    pq.write_table(
        pa.table({n: pa.array([1], i64) for n in ["a", "b", "c", "d"]}), old
    )
    pq.write_table(
        pa.table({n: pa.array([1], i64) for n in ["d", "x", "b", "a"]}), new
    )
    ddl = schema_diff_to_clickhouse_alter(old, new, "t")
    lines = [l for l in ddl.strip().splitlines() if not l.startswith("--")]
    assert lines == [
        "alter table t drop column c;",
        "alter table t modify column d Nullable(Int64) first;",
        "alter table t modify column b Nullable(Int64) after d;",
        "alter table t add column x Nullable(Int64) after d;",
    ]
    # replay the script against the old layout and check it lands on target
    layout = ["a", "b", "c", "d"]
    for line in lines:
        toks = line.rstrip(";").split()
        col = toks[5]
        if toks[3] == "drop":
            layout.remove(col)
            continue
        if col in layout:
            layout.remove(col)
        if toks[-1] == "first":
            layout.insert(0, col)
        else:
            assert toks[-2] == "after" and toks[-1] in layout
            layout.insert(layout.index(toks[-1]) + 1, col)
    assert layout == ["d", "x", "b", "a"]
    # exactly one positioning statement (first/after) per column
    positioned = [l.split()[5] for l in lines if l.split()[3] != "drop"]
    assert len(positioned) == len(set(positioned))


def test_cli_diff_against_writes_alter_file(tmp_path):
    """The --diff-against CLI mode writes the ALTER file and prints it,
    reusing the schemagen entry point (footer-only, no Spark session)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.cli import main

    old = str(tmp_path / "o.parquet")
    new = str(tmp_path / "n.parquet")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), old)
    pq.write_table(
        pa.table(
            {"id": pa.array([1], pa.int64()), "x": pa.array([1.5], pa.float64())}
        ),
        new,
    )
    out = tmp_path / "alter.sql"
    rc = main(
        [
            "--parquet-path", new,
            "--clickhouse-schema-path", str(out),
            "--table-name", "t",
            "--primary-key", "id",
            "--diff-against", old,
        ]
    )
    assert rc == 0
    assert out.read_text() == "alter table t add column x Nullable(Float64) after id;\n"


def test_cli_diff_against_refuses_unify_and_drift_cache(tmp_path, capsys):
    """The ALTER path neither unifies nor reads a scan cache, so
    --diff-against with --unify or --drift-cache is a usage error (exit 2)
    instead of an ALTER that silently ignores the flag."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.cli import main

    old, new = str(tmp_path / "o.parquet"), str(tmp_path / "n.parquet")
    pq.write_table(pa.table({"id": [1]}), old)
    pq.write_table(pa.table({"id": [1], "x": [1.5]}), new)
    out, cache = tmp_path / "alter.sql", tmp_path / "cache.json"
    argv = ["--parquet-path", new, "--clickhouse-schema-path", str(out),
            "--table-name", "t", "--primary-key", "id", "--diff-against", old]
    for extra, flag in (
        (["--unify"], "--unify"),
        (["--drift-cache", str(cache)], "--drift-cache"),
        (["--unify", "--drift-cache", str(cache)], "--unify"),
    ):
        with pytest.raises(SystemExit) as exc:
            main(argv + extra)
        assert exc.value.code == 2
        assert f"--diff-against and {flag} are mutually exclusive" in capsys.readouterr().err
    assert not out.exists() and not cache.exists()
    assert main(argv) == 0
    assert out.read_text() == "alter table t add column x Nullable(Float64) after id;\n"
    assert not cache.exists()


def _write_fragment(dirpath, name, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(dirpath / name))


def test_fragment_drift_report_and_fragment_schemas(tmp_path):
    """pyarrow dataset discovery reports the FIRST fragment's schema, so a
    retyped/extended later part-file is invisible to dataset-level
    inference; schema_drift_report reads every footer and surfaces it, and
    fragment_schemas lists each fragment's own footer schema in sorted
    order."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        fragment_schemas,
        schema_drift_report,
    )

    d = tmp_path / "t.parquet"
    d.mkdir()
    i64, f64 = pa.int64(), pa.float64()
    _write_fragment(d, "part-000.parquet", {"id": pa.array([1], i64), "x": pa.array([1.0], f64)})
    _write_fragment(d, "part-001.parquet", {"id": pa.array([2], i64), "x": pa.array([2.0], f64)})
    _write_fragment(
        d,
        "part-002.parquet",
        {"id": pa.array([3], pa.int32()), "x": pa.array([3.0], f64), "y": pa.array(["s"])},
    )

    report = schema_drift_report(str(d))
    assert [(r["file"].rsplit("/", 1)[-1], r["column"], r["change"]) for r in report] == [
        ("part-002.parquet", "id", "type_changed"),
        ("part-002.parquet", "y", "added"),
    ]
    assert report[0]["old_type"] == "bigint" and report[0]["new_type"] == "int"
    assert all(r["reference_file"].endswith("part-000.parquet") for r in report)

    frags = fragment_schemas(str(d))
    assert [f for f, _ in frags] == [str(d / f"part-00{i}.parquet") for i in range(3)]
    assert frags[0][1] == frags[1][1]
    assert frags[2][1].simpleString() == "struct<id:int,x:double,y:string>"

    # a uniform dataset reports no drift
    u = tmp_path / "u.parquet"
    u.mkdir()
    for i in range(3):
        _write_fragment(u, f"part-{i:03d}.parquet", {"id": pa.array([i], i64)})
    assert schema_drift_report(str(u)) == []
    # single plain file: trivially one fragment, no drift
    assert schema_drift_report(str(u / "part-000.parquet")) == []


def test_schema_to_clickhouse_refuses_drifted_dataset(tmp_path):
    """Strict mode must not emit DDL that misdescribes later part-files;
    lenient keeps the documented first-fragment behavior."""
    import pyarrow as pa
    import pytest

    from parquet_to_clickhouse_schema_spark.ddl import (
        SchemaDriftError,
        schema_to_clickhouse,
    )

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write_fragment(d, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    _write_fragment(d, "part-001.parquet", {"id": pa.array([2], pa.int32())})

    with pytest.raises(SchemaDriftError) as exc:
        schema_to_clickhouse(str(d), "t", "id")
    assert "part-001.parquet" in str(exc.value)

    ddl = schema_to_clickhouse(str(d), "t", "id", strict=False)
    assert "id Int64" in ddl  # first fragment's footer, documented


def test_unified_schema_promotes_and_rejects(tmp_path):
    """unify=True emits DDL for the promoted union schema (int32+int64 →
    Int64, new columns unioned in) so every existing part-file loads under
    it; a truly incompatible pair (int vs string) still raises
    SchemaDriftError naming the column. The CLI --unify flag drives the
    same path."""
    import contextlib
    import io

    import pyarrow as pa
    import pytest

    from parquet_to_clickhouse_schema_spark.cli import main
    from parquet_to_clickhouse_schema_spark.ddl import (
        SchemaDriftError,
        schema_to_clickhouse,
        unified_parquet_schema,
    )

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write_fragment(
        d, "part-000.parquet",
        {"id": pa.array([1], pa.int32()), "x": pa.array([1.0], pa.float32())},
    )
    _write_fragment(
        d, "part-001.parquet",
        {"id": pa.array([2], pa.int64()), "x": pa.array([2.0], pa.float64()),
         "y": pa.array(["s"])},
    )
    schema = unified_parquet_schema(str(d))
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("id", "bigint"), ("x", "double"), ("y", "string"),
    ]
    ddl = schema_to_clickhouse(str(d), "t", "id", unify=True)
    assert "id Int64" in ddl and "x Nullable(Float64)" in ddl
    assert "y Nullable(String)" in ddl

    out = tmp_path / "ddl.sql"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([
            "--parquet-path", str(d),
            "--clickhouse-schema-path", str(out),
            "--table-name", "t",
            "--primary-key", "id",
            "--unify",
        ])
    assert rc == 0 and out.read_text() == ddl

    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    _write_fragment(bad, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    _write_fragment(bad, "part-001.parquet", {"id": pa.array(["s"])})
    with pytest.raises(SchemaDriftError) as exc:
        unified_parquet_schema(str(bad))
    assert "id" in str(exc.value)


def test_drift_clean_on_spark_written_directory(tmp_path, spark):
    """Real-world dataset shape: a multi-part directory written by Spark
    itself (with _SUCCESS marker files, which the fragment walk must skip).
    Uniform by construction → no drift, strict DDL emits, and the unified
    schema equals the dataset schema."""
    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_drift_report,
        schema_to_clickhouse,
        unified_parquet_schema,
    )

    d = str(tmp_path / "ev.parquet")
    spark.range(0, 1000).selectExpr(
        "id", "cast(id % 7 as double) as v"
    ).repartition(4).write.parquet(d)

    assert schema_drift_report(d) == []
    ddl = schema_to_clickhouse(d, "ev", "id")  # strict: walks all footers
    assert "id Int64" in ddl and "v Nullable(Float64)" in ddl
    uni = unified_parquet_schema(d)
    assert [(f.name, f.dataType.simpleString()) for f in uni.fields] == [
        ("id", "bigint"), ("v", "double"),
    ]


def test_cli_drift_report_exit_codes(tmp_path):
    """--drift-report is a standalone CLI mode: 0 when every footer agrees,
    3 when drift is found (CI-gateable), lines naming file+column+change."""
    import contextlib
    import io

    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.cli import main

    clean = tmp_path / "clean.parquet"
    clean.mkdir()
    for i in range(2):
        _write_fragment(clean, f"part-{i:03d}.parquet", {"id": pa.array([i], pa.int64())})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--drift-report", str(clean)])
    assert rc == 0 and "agree" in buf.getvalue()

    drifted = tmp_path / "drifted.parquet"
    drifted.mkdir()
    _write_fragment(drifted, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    _write_fragment(drifted, "part-001.parquet", {"id": pa.array([2], pa.int32())})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main([f"--drift-report={drifted}"])
    out = buf.getvalue()
    assert rc == 3
    assert "part-001.parquet" in out and "type_changed" in out and "1 disagreement" in out


def test_cli_diff_against_real_bench_footers_golden(tmp_path):
    """VERDICT r11 stretch: drive --diff-against over a REAL bench-SF
    footer (sf0.1 nation) against an evolved copy — one column retyped
    (n_regionkey int32->int64) and one added (n_comment_len) — and
    golden-test the emitted ALTER script and its order end-to-end through
    the CLI entry point. Pins the day-2 feature on production-shaped
    footers, not just synthetic two-column fixtures."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.cli import main

    old = "/root/testdata/sf0.1/nation.parquet"
    t = pq.read_table(old)
    evolved = pa.table(
        {
            "n_nationkey": t["n_nationkey"],
            "n_name": t["n_name"],
            "n_regionkey": t["n_regionkey"].cast(pa.int64()),
            "n_comment_len": pa.array([7] * t.num_rows, pa.int64()),
        }
    )
    new = str(tmp_path / "nation_v2.parquet")
    pq.write_table(evolved, new)

    out = tmp_path / "alter.sql"
    rc = main(
        [
            "--parquet-path", new,
            "--clickhouse-schema-path", str(out),
            "--table-name", "nation",
            "--primary-key", "n_nationkey",
            "--diff-against", old,
        ]
    )
    assert rc == 0
    assert out.read_text() == (
        "alter table nation modify column n_regionkey Nullable(Int64);\n"
        "alter table nation add column n_comment_len Nullable(Int64) "
        "after n_regionkey;\n"
    )

    # the reverse migration drops the add and retypes back — same entry point
    out2 = tmp_path / "alter_back.sql"
    rc = main(
        [
            "--parquet-path", old,
            "--clickhouse-schema-path", str(out2),
            "--table-name", "nation",
            "--primary-key", "n_nationkey",
            "--diff-against", new,
        ]
    )
    assert rc == 0
    assert out2.read_text() == (
        "alter table nation drop column n_comment_len;\n"
        "alter table nation modify column n_regionkey Nullable(Int32);\n"
    )


def test_schema_alter_ddl_primary_key_and_reorder(tmp_path, spark):
    """r11 review fixes: PK columns render BARE in MODIFY (never an invalid
    Nullable sorting key) with an explicit warning comment, and a
    column-order-only footer change emits reorder MOVES instead of the
    false 'footers match' claim."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    old = str(tmp_path / "o.parquet")
    new = str(tmp_path / "n.parquet")
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "a": pa.array([1.0])}), old
    )
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int32()), "a": pa.array([1.0])}), new
    )
    ddl = schema_diff_to_clickhouse_alter(old, new, "t", primary_key="id")
    lines = ddl.strip().splitlines()
    assert lines[0].startswith("-- WARNING: id is a sorting-key column")
    assert lines[1] == "alter table t modify column id Int32;"  # bare, not Nullable

    ro_old = str(tmp_path / "ro_o.parquet")
    ro_new = str(tmp_path / "ro_n.parquet")
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "b": pa.array([1], pa.int64())}),
        ro_old,
    )
    pq.write_table(
        pa.table({"b": pa.array([1], pa.int64()), "a": pa.array([1], pa.int64())}),
        ro_new,
    )
    ddl = schema_diff_to_clickhouse_alter(ro_old, ro_new, "t")
    assert ddl.strip() == "alter table t modify column b Nullable(Int64) first;"


def test_hive_partitioned_ddl_golden(tmp_path, spark):
    """A Spark partitionBy() write encodes the partition columns as
    key=value directory names — they appear in NO part-file footer, so a
    footer-only DDL would silently drop them (the reference never had
    directories at all, src/bin/schemagen.rs:19-21). infer/unify must
    append the discovered partition columns (typed like Spark's own
    reader: int32/string) and the DDL must emit them bare inside a
    ``partition by (...)`` clause (ClickHouse rejects Nullable partition
    keys)."""
    from parquet_to_clickhouse_schema_spark.ddl import (
        hive_partition_fields,
        schema_drift_report,
        unified_parquet_schema,
    )

    src = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    from pyspark.sql import functions as F

    d = str(tmp_path / "orders_part.parquet")
    (
        src.withColumn("o_year", F.year("o_orderdate"))
        .limit(200)
        .repartition(2)
        .write.partitionBy("o_year", "o_orderpriority")
        .parquet(d)
    )

    parts = hive_partition_fields(d)
    assert [(f.name, f.dataType.simpleString()) for f in parts] == [
        ("o_year", "int"),
        ("o_orderpriority", "string"),
    ]
    # discovery agrees with what Spark's reader reports for the directory
    # (names + partition types; o_orderdate differs only by the documented
    # pyarrow timestamp-vs-ntz convention, unrelated to partitioning)
    spark_schema = spark.read.parquet(d).schema
    inferred = infer_parquet_schema(d)
    assert inferred.names == spark_schema.names
    assert [inferred[n].dataType for n in ("o_year", "o_orderpriority")] == [
        spark_schema[n].dataType for n in ("o_year", "o_orderpriority")
    ]

    ddl = schema_to_clickhouse(d, "orders", "o_orderkey")
    assert "o_year Int32\n" in ddl  # bare, not Nullable
    assert "o_orderpriority String\n" in ddl
    assert (
        ") engine = MergeTree() partition by (o_year, o_orderpriority) "
        "primary key (o_orderkey);" in ddl
    )
    # partition columns are directory metadata, not footer drift
    assert schema_drift_report(d) == []
    # --unify path appends them identically
    assert unified_parquet_schema(d).simpleString() == (
        infer_parquet_schema(d).simpleString()
    )
    # flat datasets keep the reference's clause-free golden layout
    flat = schema_to_clickhouse(
        "/root/testdata/sf0.001/region.parquet", "region", "r_regionkey"
    )
    assert "partition by" not in flat
    assert ") engine = MergeTree() primary key (r_regionkey);" in flat


def test_hive_partition_added_column_drift(tmp_path):
    """A new DATA column appearing only under one partition directory is
    footer drift and must be reported; --unify must emit a DDL carrying
    both the unioned data column and the partition columns."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        SchemaDriftError,
        schema_drift_report,
    )

    d = tmp_path / "t.parquet"
    for part, cols in (
        ("year=2024", {"id": pa.array([1], pa.int64())}),
        ("year=2025", {"id": pa.array([2], pa.int64()), "score": pa.array([0.5])}),
    ):
        sub = d / part
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", cols)

    report = schema_drift_report(str(d))
    assert [(r["column"], r["change"], r["new_type"]) for r in report] == [
        ("score", "added", "double")
    ]
    import pytest

    with pytest.raises(SchemaDriftError):
        schema_to_clickhouse(str(d), "t", "id")
    ddl = schema_to_clickhouse(str(d), "t", "id", unify=True)
    assert "score Nullable(Float64)" in ddl
    assert "year Int32" in ddl
    assert "partition by (year)" in ddl


def test_unified_schema_nested_promotion(tmp_path):
    """Drift INSIDE nested types: a field added inside a struct, a struct
    field widened int32→int64, and a list element widened must all promote
    through --unify; a truly incompatible nested pair must raise
    SchemaDriftError naming the field path."""
    import pyarrow as pa
    import pytest

    from parquet_to_clickhouse_schema_spark.ddl import (
        SchemaDriftError,
        unified_parquet_schema,
    )

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write_fragment(
        d,
        "part-000.parquet",
        {
            "id": pa.array([1], pa.int64()),
            "meta": pa.array([{"a": 1}], pa.struct([("a", pa.int32())])),
            "tags": pa.array([[1]], pa.list_(pa.int32())),
        },
    )
    _write_fragment(
        d,
        "part-001.parquet",
        {
            "id": pa.array([2], pa.int64()),
            "meta": pa.array(
                [{"a": 2, "b": "x"}],
                pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
            "tags": pa.array([[2]], pa.list_(pa.int64())),
        },
    )
    unified = unified_parquet_schema(str(d))
    assert unified.simpleString() == (
        "struct<id:bigint,meta:struct<a:bigint,b:string>,tags:array<bigint>>"
    )
    # and the DDL renders the promoted nested shape
    ddl = schema_to_clickhouse(str(d), "t", "id", unify=True)
    assert "a Nullable(Int64)" in ddl and "b Nullable(String)" in ddl

    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    _write_fragment(
        bad,
        "part-000.parquet",
        {"meta": pa.array([{"a": 1}], pa.struct([("a", pa.int32())]))},
    )
    _write_fragment(
        bad,
        "part-001.parquet",
        {"meta": pa.array([{"a": "s"}], pa.struct([("a", pa.string())]))},
    )
    with pytest.raises(SchemaDriftError) as exc:
        unified_parquet_schema(str(bad))
    assert "meta" in str(exc.value) and "a" in str(exc.value)


def test_fragment_schemas_on_drifted_hive_layout(tmp_path):
    """fragment_schemas over a drifted hive layout: every fragment in
    sorted path order, each with its own footer's schema (no partition
    column), the fragments of one footer schema sharing it."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import fragment_schemas

    d = tmp_path / "t.parquet"
    for part, n, cols in (
        ("year=2024", 3, lambda i: {"id": pa.array([i], pa.int64())}),
        ("year=2025", 3, lambda i: {"id": pa.array([i], pa.int32()),
                                    "y": pa.array(["s"])}),
    ):
        sub = d / part
        sub.mkdir(parents=True)
        for i in range(n):
            _write_fragment(sub, f"part-{i:03d}.parquet", cols(i))

    frags = fragment_schemas(str(d))
    assert [f for f, _ in frags] == [
        str(d / part / f"part-{i:03d}.parquet")
        for part in ("year=2024", "year=2025")
        for i in range(3)
    ]
    # exactly two distinct schemas across six files
    assert [s.simpleString() for _, s in frags] == (
        ["struct<id:bigint>"] * 3 + ["struct<id:int,y:string>"] * 3
    )


def test_cli_drift_report_added_removed_lines_and_flag_conflict(tmp_path):
    """added/removed drift rows print their one-sided type ('added as T' /
    'removed, was T'), not 'reference None'; and the two standalone modes
    refuse to be combined instead of one silently winning."""
    import contextlib
    import io

    import pyarrow as pa
    import pytest

    from parquet_to_clickhouse_schema_spark.cli import main

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write_fragment(
        d, "part-000.parquet",
        {"id": pa.array([1], pa.int64()), "gone": pa.array([0.5])},
    )
    _write_fragment(
        d, "part-001.parquet",
        {"id": pa.array([2], pa.int64()), "fresh": pa.array(["s"])},
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--drift-report", str(d)])
    out = buf.getvalue()
    assert rc == 3
    assert "fresh added (added as string)" in out
    assert "gone removed (removed, was double)" in out
    assert "None" not in out

    with pytest.raises(SystemExit) as exc:
        main(["--drift-report", str(d), "--list-queries"])
    assert exc.value.code == 2  # argparse error, not silent preference


def test_schema_diff_sees_partition_columns(tmp_path):
    """Day-2 migration across hive layouts: a partition column added
    between yesterday's and today's dataset is a real schema change and
    must surface in schema_diff (both sides are inferred hive-aware)."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import schema_diff

    old = tmp_path / "old.parquet"
    (old / "year=2024").mkdir(parents=True)
    _write_fragment(old / "year=2024", "part-000.parquet",
                    {"id": pa.array([1], pa.int64())})

    new = tmp_path / "new.parquet"
    (new / "year=2024" / "region=eu").mkdir(parents=True)
    _write_fragment(new / "year=2024" / "region=eu", "part-000.parquet",
                    {"id": pa.array([1], pa.int64())})

    changes = schema_diff(str(old), str(new))
    assert [(c["column"], c["change"], c["new_type"]) for c in changes] == [
        ("region", "added", "string")
    ]


def test_cli_drift_report_names_hive_partition_columns(tmp_path):
    """--drift-report on a hive layout announces the directory-derived
    partition columns so their absence from the footer report doesn't
    read as a miss; exit code semantics are unchanged."""
    import contextlib
    import io

    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.cli import main

    d = tmp_path / "t.parquet"
    (d / "year=2024").mkdir(parents=True)
    _write_fragment(d / "year=2024", "part-000.parquet",
                    {"id": pa.array([1], pa.int64())})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--drift-report", str(d)])
    out = buf.getvalue()
    assert rc == 0
    assert "hive partition columns" in out and "year int" in out
    assert "agree" in out


def test_alter_refuses_new_hive_partition_key_add(tmp_path):
    """r16 (VERDICT r15 task #7): a NEW partition key appearing on the new
    side (key added mid-tree) is REFUSED like a retype/drop — MergeTree
    cannot ADD a partition key either; an ALTER ADD would create only a
    plain data column with no pruning. No executable statement touches the
    column, and the REBUILD banner leads the script. Non-partition day-2
    changes stay warning-free and banner-free."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    old = tmp_path / "old.parquet"
    (old / "year=2024").mkdir(parents=True)
    _write_fragment(old / "year=2024", "part-000.parquet",
                    {"id": pa.array([1], pa.int64())})
    new = tmp_path / "new.parquet"
    (new / "year=2024" / "region=eu").mkdir(parents=True)
    _write_fragment(new / "year=2024" / "region=eu", "part-000.parquet",
                    {"id": pa.array([1], pa.int64())})

    ddl = schema_diff_to_clickhouse_alter(str(old), str(new), "t",
                                          primary_key="id")
    assert "-- REFUSED: add column region" in ddl
    assert "cannot add a column into MergeTree's immutable partition key" in ddl
    assert ddl.startswith("-- REBUILD REQUIRED")
    live = [s for s in ddl.splitlines() if not s.startswith("--")]
    assert not any("region" in s for s in live), live

    # unpartitioned -> partitioned: same refusal shape
    flat = tmp_path / "flat.parquet"
    flat.mkdir()
    _write_fragment(flat, "part-000.parquet",
                    {"id": pa.array([1], pa.int64())})
    ddl_up = schema_diff_to_clickhouse_alter(str(flat), str(old), "t",
                                             primary_key="id")
    assert "-- REFUSED: add column year" in ddl_up
    assert ddl_up.startswith("-- REBUILD REQUIRED")
    live_up = [s for s in ddl_up.splitlines() if not s.startswith("--")]
    assert not any("year" in s for s in live_up), live_up

    # a plain data-column add on the same layouts carries no warning and
    # no banner
    newer = tmp_path / "newer.parquet"
    (newer / "year=2024").mkdir(parents=True)
    _write_fragment(newer / "year=2024", "part-000.parquet",
                    {"id": pa.array([1], pa.int64()),
                     "score": pa.array([0.5])})
    ddl2 = schema_diff_to_clickhouse_alter(str(old), str(newer), "t",
                                           primary_key="id")
    assert "add column score Nullable(Float64)" in ddl2
    assert "WARNING" not in ddl2 and "REFUSED" not in ddl2
    assert not ddl2.startswith("-- REBUILD")


def test_alter_refuses_partition_key_membership_change(tmp_path):
    """r16: a surviving column whose partition-key MEMBERSHIP flips between
    the datasets (footer data column -> directory key, or directory key ->
    footer data column) is refused even when its inferred type is stable —
    `partition by` cannot be edited by ALTER in either direction. Before
    r16 the promoted case emitted NOTHING (silent corruption risk)."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    # promoted: region is a footer data column on the old side, the
    # directory key on the new side (same inferred string type)
    old = tmp_path / "old.parquet"
    old.mkdir()
    _write_fragment(old, "part-000.parquet",
                    {"id": pa.array([1], pa.int64()),
                     "region": pa.array(["eu"])})
    new = tmp_path / "new.parquet"
    (new / "region=eu").mkdir(parents=True)
    _write_fragment(new / "region=eu", "part-000.parquet",
                    {"id": pa.array([1], pa.int64())})

    ddl = schema_diff_to_clickhouse_alter(str(old), str(new), "t",
                                          primary_key="id")
    assert "-- REFUSED: column region became the `partition by` key" in ddl
    assert ddl.startswith("-- REBUILD REQUIRED")

    # demoted: directory key on the old side, footer data column on the new
    ddl2 = schema_diff_to_clickhouse_alter(str(new), str(old), "t",
                                           primary_key="id")
    assert ("-- REFUSED: column region stopped being the `partition by` "
            "key") in ddl2
    assert ddl2.startswith("-- REBUILD REQUIRED")


def test_alter_refuses_hive_partition_key_retype(tmp_path):
    """r15 (VERDICT r14 task #4): --diff-against between two PARTITIONED
    datasets where the partition key's inferred TYPE changes (dt=2024-01-01
    → dt=20240101, Date → Int32 under the hive typing lattice). MergeTree
    partition keys are immutable, so the tool REFUSES: a commented REFUSED
    line pointing at a table rebuild, and no executable statement touching
    dt — while ordinary data-column changes in the same diff still emit."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    old = tmp_path / "old.parquet"
    (old / "dt=2024-01-01").mkdir(parents=True)
    _write_fragment(old / "dt=2024-01-01", "part-000.parquet",
                    {"id": pa.array([1], pa.int64()),
                     "v": pa.array([1], pa.int32())})
    new = tmp_path / "new.parquet"
    (new / "dt=20240101").mkdir(parents=True)
    _write_fragment(new / "dt=20240101", "part-000.parquet",
                    {"id": pa.array([1], pa.int64()),
                     "v": pa.array([1], pa.int64())})

    ddl = schema_diff_to_clickhouse_alter(str(old), str(new), "t",
                                          primary_key="id")
    # the SPARK-level inferred types drive the refusal — Date and Int32
    # both RENDER as Int32 (reference date mapping), so a rendered-type
    # comparison would silently mix days-since-epoch with raw literals
    assert "-- REFUSED: partition key dt inferred type changed (date -> int)" in ddl
    assert "partition keys are immutable" in ddl
    # no EXECUTABLE statement may touch dt; the accompanying data-column
    # retype still migrates normally
    live = [s for s in ddl.splitlines() if not s.startswith("--")]
    # r18 (ADVICE r17): with ANY refusal present the ENTIRE script is
    # commented out — no executable statement exists to cherry-pick, not
    # even the ordinary data-column retype, which survives as a comment
    # describing the post-rebuild target.
    assert not live, live
    assert "alter table t modify column v Nullable(Int64);" in ddl
    assert "-- alter table t modify column v Nullable(Int64);" in ddl

    # DROPPING the partition key (new side unpartitioned) is refused the
    # same way — ClickHouse rejects ALTER DROP on a partition-key column
    flat = tmp_path / "flat.parquet"
    flat.mkdir()
    _write_fragment(flat, "part-000.parquet",
                    {"id": pa.array([1], pa.int64()),
                     "v": pa.array([1], pa.int32())})
    ddl2 = schema_diff_to_clickhouse_alter(str(old), str(flat), "t",
                                           primary_key="id")
    assert "-- REFUSED: drop column dt" in ddl2
    assert "cannot DROP a partition-key column" in ddl2
    live2 = [s for s in ddl2.splitlines() if not s.startswith("--")]
    assert not any(" dt " in s for s in live2), live2


def test_alter_refused_column_gets_no_move(tmp_path):
    """r17 (ADVICE r16): a surviving column refused for a partition-key
    membership change must not receive an executable step-3 MOVE either —
    before r17, refused_types only swapped the rendered type, so a refused
    column that changed relative position still got a live `modify column
    ... first/after` statement, unlike the add/drop refusal paths which
    emit nothing executable. Layout simulation still advances (the REBUILD
    banner declares the post-rebuild framing); a comment records the slot."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    # old: partitioned by region (schema order id, v, region — partition
    # key appended last); new: flat footer with region in the MIDDLE
    # (id, region, v) → region is demoted (refused) AND needs a reorder
    old = tmp_path / "old.parquet"
    (old / "region=eu").mkdir(parents=True)
    _write_fragment(old / "region=eu", "part-000.parquet",
                    {"id": pa.array([1], pa.int64()),
                     "v": pa.array([1], pa.int32())})
    new = tmp_path / "new.parquet"
    new.mkdir()
    _write_fragment(new, "part-000.parquet",
                    {"id": pa.array([1], pa.int64()),
                     "region": pa.array(["eu"]),
                     "v": pa.array([1], pa.int32())})

    ddl = schema_diff_to_clickhouse_alter(str(old), str(new), "t",
                                          primary_key="id")
    assert ("-- REFUSED: column region stopped being the `partition by` "
            "key") in ddl
    # NO executable statement may touch region — the step-3 reposition is
    # a comment, not a live MOVE
    live = [s for s in ddl.splitlines() if not s.startswith("--")]
    assert not any("region" in s for s in live), live
    assert "-- (refused column region sits at `after id`" in ddl


def test_alter_scans_each_side_once(tmp_path, monkeypatch):
    """The ALTER takes each side's schema and its hive partition keys from
    one dataset scan: one directory walk and one footer read per side."""
    import os

    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark import ddl as ddl_mod
    from parquet_to_clickhouse_schema_spark.ddl import (
        schema_diff_to_clickhouse_alter,
    )

    sides = {}
    for side, cols in (("old", {"id": pa.array([1], pa.int64())}),
                       ("new", {"id": pa.array([1], pa.int64()),
                                "v": pa.array([1.0])})):
        d = tmp_path / f"{side}.parquet"
        for year in (2024, 2025):
            (d / f"year={year}").mkdir(parents=True)
            _write_fragment(d / f"year={year}", "part-000.parquet", cols)
        sides[side] = str(d)

    walks, reads = [], []
    real_walk, real_read = os.walk, ddl_mod._read_footer_metadata
    monkeypatch.setattr(
        os, "walk", lambda p, *a, **kw: (walks.append(p), real_walk(p, *a, **kw))[1]
    )
    monkeypatch.setattr(
        ddl_mod, "_read_footer_metadata",
        lambda f: (reads.append(str(f)), real_read(f))[1],
    )
    ddl = schema_diff_to_clickhouse_alter(sides["old"], sides["new"], "t",
                                          primary_key="id")
    assert "add column v Nullable(Float64) after id" in ddl
    assert sorted(walks) == [sides["new"], sides["old"]]
    assert len(reads) == 2


@pytest.mark.parametrize("cached", [False, True])
def test_cli_drift_report_scans_once(tmp_path, monkeypatch, cached):
    """--drift-report takes the hive partition columns, the report and the
    cache telemetry from one dataset scan: one directory walk and one
    footer read per fragment."""
    import contextlib
    import io
    import os

    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark import ddl as ddl_mod
    from parquet_to_clickhouse_schema_spark.cli import main

    d = tmp_path / "t.parquet"
    for year, typ in ((2024, pa.int64()), (2025, pa.int32())):
        (d / f"year={year}").mkdir(parents=True)
        _write_fragment(d / f"year={year}", "part-000.parquet",
                        {"id": pa.array([1], typ)})

    walks, reads = [], []
    real_walk, real_read = os.walk, ddl_mod._read_footer_metadata
    monkeypatch.setattr(
        os, "walk", lambda p, *a, **kw: (walks.append(p), real_walk(p, *a, **kw))[1]
    )
    monkeypatch.setattr(
        ddl_mod, "_read_footer_metadata",
        lambda f: (reads.append(str(f)), real_read(f))[1],
    )
    argv = ["--drift-report", str(d)]
    if cached:
        argv += ["--drift-cache", str(tmp_path / "cache.json")]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    assert rc == 3
    assert buf.getvalue() == "".join(
        [
            f"{d}: hive partition columns (from directory layout, not "
            "footers): year int\n",
            f"{d}: 2 footer(s) read, 2 partition(s) rescanned, 0 served "
            "from cache\n" if cached else "",
            f"{d}/year=2025/part-000.parquet: id type_changed "
            "(reference bigint, found int)\n",
            "1 disagreement(s)\n",
        ]
    )
    assert walks == [str(d)]
    assert len(reads) == 2


def test_unified_schema_promotes_map_values(tmp_path):
    """Map value types widen through --unify too (int32+int64 value →
    Map(String, Int64)) — the container family test_unified_schema_nested
    _promotion doesn't cover."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import unified_parquet_schema

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write_fragment(
        d, "part-000.parquet",
        {"m": pa.array([[("a", 1)]], pa.map_(pa.string(), pa.int32()))},
    )
    _write_fragment(
        d, "part-001.parquet",
        {"m": pa.array([[("b", 2)]], pa.map_(pa.string(), pa.int64()))},
    )
    assert unified_parquet_schema(str(d)).simpleString() == (
        "struct<m:map<string,bigint>>"
    )
    ddl = schema_to_clickhouse(str(d), "t", "pk", unify=True)
    assert "m Map (\n        String\n        , Int64\n    )" in ddl


def test_null_partition_values_warned(tmp_path):
    """A __HIVE_DEFAULT_PARTITION__ directory means the partition key is
    NULL for those rows — the bare partition-key column the DDL emits
    would reject them at load, so the CREATE carries a loud leading
    warning; clean hive layouts stay warning-free."""
    import pyarrow as pa

    d = tmp_path / "t.parquet"
    for part in ("year=2024", "year=__HIVE_DEFAULT_PARTITION__"):
        (d / part).mkdir(parents=True)
        _write_fragment(d / part, "p.parquet", {"id": pa.array([1], pa.int64())})
    ddl = schema_to_clickhouse(str(d), "t", "id")
    assert ddl.startswith("-- WARNING: partition column(s) year contain NULL")
    assert "partition by (year)" in ddl

    clean = tmp_path / "c.parquet"
    (clean / "year=2024").mkdir(parents=True)
    _write_fragment(clean / "year=2024", "p.parquet",
                    {"id": pa.array([1], pa.int64())})
    assert "WARNING" not in schema_to_clickhouse(str(clean), "t", "id")


def test_hive_date_partition_typing_matches_spark(tmp_path, spark):
    """r14 (VERDICT r13 task #3): ``dt=2024-01-01`` directory values must
    type as DATE — what Spark's reader infers with
    partitionColumnTypeInference (on by default) — not pyarrow-discovery's
    string. Golden-pinned against a real Spark partitionBy(date_col) write
    and cross-checked against spark.read's own reported schema."""
    from pyspark.sql import functions as F

    from parquet_to_clickhouse_schema_spark.ddl import hive_partition_fields

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    d = str(tmp_path / "orders_by_date.parquet")
    (
        src.withColumn("o_month", F.trunc("o_orderdate", "month"))
        .limit(120)
        .coalesce(1)
        .write.partitionBy("o_month")
        .parquet(d)
    )
    parts = hive_partition_fields(d)
    assert [(f.name, f.dataType) for f in parts] == [("o_month", T.DateType())]
    # parity with what Spark itself reports for the same directory
    assert spark.read.parquet(d).schema["o_month"].dataType == T.DateType()
    # strict DDL keeps the reference's lossy Date→Int32 scalar map and the
    # partition clause names the key
    ddl = schema_to_clickhouse(d, "orders", "o_orderkey")
    assert "o_month Int32\n" in ddl  # bare (partition key), strict map
    assert "partition by (o_month)" in ddl


def test_hive_timestamp_partition_typing_matches_spark(tmp_path, spark):
    """Timestamp partition values arrive %-escaped (``00%3A00%3A00``) —
    discovery must unescape before typing, matching Spark's reader."""
    from pyspark.sql import functions as F

    from parquet_to_clickhouse_schema_spark.ddl import hive_partition_fields

    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    d = str(tmp_path / "orders_by_ts.parquet")
    (
        src.withColumn(
            "o_ts", F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
        )
        .limit(120)
        .coalesce(1)
        .write.partitionBy("o_ts")
        .parquet(d)
    )
    parts = hive_partition_fields(d)
    assert [(f.name, f.dataType) for f in parts] == [("o_ts", T.TimestampType())]
    assert spark.read.parquet(d).schema["o_ts"].dataType == T.TimestampType()


def test_hive_partition_value_type_inference_unit():
    """Spark PartitioningUtils parity table: int32 → int64 → decimal(p,0)
    → double → date → timestamp → string, with the round-trip rule (a
    non-zero-padded '2024-1-1' formats back differently, so it stays a
    string) and SPARK-26188 widening (double x long/decimal → string;
    double x int is lossless and widens to double — probed vs Spark)."""
    from parquet_to_clickhouse_schema_spark.ddl import (
        _partition_value_type as vt,
        _widen_partition_types as widen,
    )

    assert vt("2024") == T.IntegerType()
    assert vt("-7") == T.IntegerType()
    assert vt(str(2**40)) == T.LongType()
    assert vt(str(10**25)) == T.DecimalType(26, 0)
    assert vt("1.5") == T.DoubleType()
    assert vt("1e5") == T.DoubleType()
    assert vt("NaN") == T.DoubleType()
    assert vt("2024-01-01") == T.DateType()
    assert vt("2024-13-01") == T.StringType()  # invalid calendar date
    assert vt("2024-1-1") == T.StringType()  # fails Spark's round-trip rule
    assert vt("2024-01-01 00:00:00") == T.TimestampType()
    assert vt("2024-01-01T00:00:00.123456") == T.TimestampType()
    assert vt("eu-west") == T.StringType()
    assert vt("") == T.StringType()

    assert widen(T.IntegerType(), T.LongType()) == T.LongType()
    assert widen(T.IntegerType(), T.DecimalType(26, 0)) == T.DecimalType(26, 0)
    assert widen(T.DoubleType(), T.IntegerType()) == T.DoubleType()  # lossless
    assert widen(T.DoubleType(), T.LongType()) == T.StringType()  # SPARK-26188
    assert widen(T.DoubleType(), T.DecimalType(26, 0)) == T.StringType()
    # DecimalType.forType(Long) is Dec(20,0): long x Dec(19,0) → Dec(20,0)
    assert widen(T.LongType(), T.DecimalType(19, 0)) == T.DecimalType(20, 0)
    assert widen(T.DateType(), T.TimestampType()) == T.TimestampType()
    assert widen(T.DateType(), T.IntegerType()) == T.StringType()


def test_hive_footer_duplicated_partition_key(tmp_path):
    """Some writers duplicate the partition column into the part-file
    footers. r13 silently dropped the PARTITION BY clause for such
    datasets; the clause must survive (ADVICE r13), with the column keeping
    its footer typing and emitted bare like any partition key."""
    import pyarrow as pa

    d = tmp_path / "t.parquet"
    for year in (2024, 2025):
        sub = d / f"year={year}"
        sub.mkdir(parents=True)
        _write_fragment(
            sub,
            "part-000.parquet",
            {
                "id": pa.array([1], pa.int64()),
                "year": pa.array([year], pa.int64()),  # footer-duplicated
            },
        )
    from parquet_to_clickhouse_schema_spark.ddl import hive_partition_fields

    # the footer typing wins: no EXTRA field is appended ...
    assert hive_partition_fields(str(d)) == []
    ddl = schema_to_clickhouse(str(d), "t", "id")
    # ... but the partition clause still names the key, bare, footer-typed
    assert "year Int64\n" in ddl
    assert "Nullable(Int64)" not in ddl.split("year")[1].split("\n")[0]
    assert "partition by (year)" in ddl


def test_hive_ragged_layout_warns(tmp_path):
    """A partition key present under some branches but absent from others:
    Spark's reader rejects such trees ('conflicting directory structures');
    the DDL is still emitted but carries a loud WARNING naming the key."""
    import pyarrow as pa

    d = tmp_path / "t.parquet"
    good = d / "year=2024" / "region=eu"
    good.mkdir(parents=True)
    _write_fragment(good, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    bare = d / "year=2025"  # no region= level — files sit directly here
    bare.mkdir(parents=True)
    _write_fragment(bare, "part-000.parquet", {"id": pa.array([2], pa.int64())})

    ddl = schema_to_clickhouse(str(d), "t", "id")
    assert "WARNING: partition column(s) region are missing" in ddl
    assert "partition by (year, region)" in ddl


def test_hive_drift_compound_unify(tmp_path):
    """r14 (VERDICT r13 task #6): footers that DISAGREE under different
    partition branches — drift-report must name the widened column,
    strict CREATE must refuse, and --unify must emit the promoted union
    schema WITH the partition columns and clause intact."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        SchemaDriftError,
        schema_drift_report,
        unified_parquet_schema,
    )

    d = tmp_path / "t.parquet"
    for year, id_type in (("2024", pa.int32()), ("2025", pa.int64())):
        sub = d / f"year={year}"
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], id_type)})

    report = schema_drift_report(str(d))
    assert [(r["column"], r["change"], r["new_type"]) for r in report] == [
        ("id", "type_changed", "bigint")
    ]

    with pytest.raises(SchemaDriftError):
        schema_to_clickhouse(str(d), "t", "id")

    unified = unified_parquet_schema(str(d))
    assert unified["id"].dataType == T.LongType()
    assert unified["year"].dataType == T.IntegerType()

    ddl = schema_to_clickhouse(str(d), "t", "id", unify=True)
    assert "id Int64\n" in ddl
    assert "year Int32\n" in ddl
    assert "partition by (year)" in ddl


def test_hive_null_partition_dirs_excluded_from_typing(tmp_path):
    """__HIVE_DEFAULT_PARTITION__ directories mean NULL — they must not
    drag the key's inferred type to string, and the NULL warning must
    still lead the CREATE."""
    import pyarrow as pa

    d = tmp_path / "t.parquet"
    for seg in ("year=2024", "year=__HIVE_DEFAULT_PARTITION__"):
        sub = d / seg
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], pa.int64())})

    from parquet_to_clickhouse_schema_spark.ddl import hive_partition_fields

    assert [f.dataType for f in hive_partition_fields(str(d))] == [T.IntegerType()]
    ddl = schema_to_clickhouse(str(d), "t", "id")
    assert ddl.startswith("-- WARNING: partition column(s) year contain NULL")
    assert "partition by (year)" in ddl


def test_incremental_drift_scan_touches_only_mutated_partition(tmp_path):
    """r14 (VERDICT r13 task #8): the incremental footer cache — run 1
    reads every footer; run 2 with nothing changed reads ZERO; appending
    one partition reads only its footer; adding a file inside an existing
    partition reads only the new file's footer (cache version 3 checks
    freshness per fragment) and reports that partition rescanned. Report
    parity with schema_drift_report throughout."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        incremental_drift_scan,
        schema_drift_report,
    )

    d = tmp_path / "t.parquet"
    for year in (2024, 2025):
        sub = d / f"year={year}"
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    cache = str(tmp_path / "drift_cache.json")

    # run 1: cold cache — every footer read
    s1 = incremental_drift_scan(str(d), cache)
    assert s1["footers_read"] == 2
    assert sorted(s1["partitions_rescanned"]) == ["year=2024", "year=2025"]
    assert s1["report"] == schema_drift_report(str(d))

    # run 2: steady state — zero footer reads, everything from cache
    s2 = incremental_drift_scan(str(d), cache)
    assert s2["footers_read"] == 0
    assert sorted(s2["partitions_reused"]) == ["year=2024", "year=2025"]
    assert s2["report"] == schema_drift_report(str(d))

    # run 3: one NEW partition with a drifted footer — only it is read
    sub = d / "year=2026"
    sub.mkdir()
    _write_fragment(
        sub,
        "part-000.parquet",
        {"id": pa.array([1], pa.int64()), "score": pa.array([0.5])},
    )
    s3 = incremental_drift_scan(str(d), cache)
    assert s3["footers_read"] == 1
    assert s3["partitions_rescanned"] == ["year=2026"]
    assert sorted(s3["partitions_reused"]) == ["year=2024", "year=2025"]
    assert s3["report"] == schema_drift_report(str(d))
    assert [(r["column"], r["change"]) for r in s3["report"]] == [
        ("score", "added")
    ]

    # run 4: mutate an existing partition (append a second fragment) —
    # only the new fragment's footer is read; its partition is rescanned
    _write_fragment(
        d / "year=2024",
        "part-001.parquet",
        {"id": pa.array([2], pa.int32())},
    )
    s4 = incremental_drift_scan(str(d), cache)
    assert s4["footers_read"] == 1
    assert s4["partitions_rescanned"] == ["year=2024"]
    assert s4["report"] == schema_drift_report(str(d))

    # corrupt cache degrades to a full scan with identical results
    import pathlib

    pathlib.Path(cache).write_text("{not json")
    s5 = incremental_drift_scan(str(d), cache)
    assert s5["footers_read"] == 4
    assert s5["report"] == schema_drift_report(str(d))


def _multi_file_lake(root):
    """Two hive partitions of three one-row fragments each, one schema."""
    import pyarrow as pa

    for year in (2024, 2025):
        sub = root / f"year={year}"
        sub.mkdir(parents=True)
        for i in range(3):
            _write_fragment(sub, f"part-{i:03d}.parquet", {"id": pa.array([i], pa.int64())})


def _bump_mtime(path):
    import os

    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_incremental_drift_scan_checks_each_fragment(tmp_path):
    """Cache version 3 checks freshness per fragment: inside a multi-file
    partition, a rewrite in place reads that one footer, a deletion reads
    none, and a same-name replacement with a drifted schema is read and
    reported. A partition with a changed file set or a read footer is
    rescanned; the others are reused."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        incremental_drift_scan,
        schema_drift_report,
    )

    d = tmp_path / "t.parquet"
    _multi_file_lake(d)
    cache = str(tmp_path / "cache.json")
    s0 = incremental_drift_scan(str(d), cache)
    assert s0["footers_read"] == 6
    assert s0["report"] == schema_drift_report(str(d)) == []

    # one fragment rewritten in place: same bytes, new mtime
    victim = d / "year=2025" / "part-001.parquet"
    victim.write_bytes(victim.read_bytes())
    _bump_mtime(victim)
    s1 = incremental_drift_scan(str(d), cache)
    assert s1["footers_read"] == 1
    assert s1["partitions_rescanned"] == ["year=2025"]
    assert s1["partitions_reused"] == ["year=2024"]
    assert s1["report"] == schema_drift_report(str(d))

    # one fragment deleted: nothing to read, its partition still rescanned
    (d / "year=2024" / "part-002.parquet").unlink()
    s2 = incremental_drift_scan(str(d), cache)
    assert s2["footers_read"] == 0
    assert s2["partitions_rescanned"] == ["year=2024"]
    assert s2["partitions_reused"] == ["year=2025"]
    assert s2["report"] == schema_drift_report(str(d))
    s3 = incremental_drift_scan(str(d), cache)
    assert s3["footers_read"] == 0
    assert s3["partitions_rescanned"] == []
    assert s3["report"] == schema_drift_report(str(d))

    # a fragment replaced under its name by a drifted one: read, reported
    victim = d / "year=2025" / "part-002.parquet"
    _write_fragment(victim.parent, victim.name, {"id": pa.array(["x"])})
    _bump_mtime(victim)
    s4 = incremental_drift_scan(str(d), cache)
    assert s4["footers_read"] == 1
    assert s4["partitions_rescanned"] == ["year=2025"]
    assert s4["report"] == schema_drift_report(str(d))
    assert [(r["file"], r["column"], r["change"]) for r in s4["report"]] == [
        (str(victim), "id", "type_changed")
    ]


def test_version_2_scan_cache_is_discarded(tmp_path):
    """A cache file of the per-partition layout (version 2) is not read:
    the scan reads every footer and gives the uncached result."""
    import json
    import os

    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        incremental_drift_scan,
        schema_drift_report,
    )

    d = tmp_path / "t.parquet"
    _multi_file_lake(d)
    _write_fragment(d / "year=2025", "part-009.parquet", {"id": pa.array([1], pa.int32())})
    cache = tmp_path / "cache.json"
    warm = incremental_drift_scan(str(d), str(cache))
    v3 = json.loads(cache.read_text())
    v2 = {
        "version": 2,
        "root": v3["root"],
        "partitions": {
            part: {
                "listing_fp": "0" * 32,
                "files": {os.path.join(part, name): e[2] for name, e in files.items()},
            }
            for part, files in v3["partitions"].items()
        },
        "exemplars": v3["exemplars"],
    }
    cache.write_text(json.dumps(v2))
    s = incremental_drift_scan(str(d), str(cache))
    assert s["footers_read"] == 7
    assert sorted(s["partitions_rescanned"]) == ["year=2024", "year=2025"]
    assert s["report"] == warm["report"] == schema_drift_report(str(d))
    assert s["report"]
    assert json.loads(cache.read_text()) == v3


def test_incremental_drift_scan_relative_path_parity(tmp_path, monkeypatch):
    """ADVICE r15: on a RELATIVE input path the cached scan's report paths
    must match schema_drift_report's (which returns paths as listed) —
    the report is built by joining the caller's path, not the absolutized
    root, and the parity must hold on the cold AND the warm run."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        incremental_drift_scan,
        schema_drift_report,
    )

    d = tmp_path / "t.parquet"
    for year, typ in (("2024", pa.int64()), ("2025", pa.int32())):
        sub = d / f"year={year}"
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], typ)})
    monkeypatch.chdir(tmp_path)
    cache = "drift_cache.json"

    expected = schema_drift_report("t.parquet")
    assert expected, "fixture must drift"
    assert all(f["file"].startswith("t.parquet/") for f in expected)
    s1 = incremental_drift_scan("t.parquet", cache)  # cold
    assert s1["report"] == expected
    s2 = incremental_drift_scan("t.parquet", cache)  # warm, 0 footers
    assert s2["footers_read"] == 0
    assert s2["report"] == expected


def test_incremental_drift_scan_root_mismatch_forces_rescan(tmp_path):
    """ADVICE r15: a cache file written for dataset A must not serve
    dataset B even when B's partition rel-paths, file names, sizes and
    mtimes all coincide — the cache stores the dataset's absolute root
    and a mismatch degrades to a full (correct) rescan."""
    import os

    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import (
        incremental_drift_scan,
        schema_drift_report,
    )

    # two datasets with IDENTICAL rel-paths and file bytes, different roots
    # and different schemas (B drifts, A does not)
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    for root, types in ((a, (pa.int64(), pa.int64())), (b, (pa.int64(), pa.int32()))):
        for year, typ in zip(("2024", "2025"), types):
            sub = root / f"year={year}"
            sub.mkdir(parents=True)
            _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], typ)})
    # force stat collisions: same size is likely (tiny footers), same mtime
    # is the adversarial case — pin both mtimes to the same instant
    for root in (a, b):
        for dirpath, _, files in os.walk(root):
            for f in files:
                os.utime(os.path.join(dirpath, f), ns=(10**18, 10**18))

    cache = str(tmp_path / "cache.json")
    s_a = incremental_drift_scan(str(a), cache)
    assert s_a["report"] == []
    # same cache file, different dataset: must NOT reuse A's exemplars
    s_b = incremental_drift_scan(str(b), cache)
    assert s_b["footers_read"] == 2  # full rescan, nothing served from A
    assert s_b["report"] == schema_drift_report(str(b))
    assert [(r["column"], r["change"]) for r in s_b["report"]] == [
        ("id", "type_changed")
    ]
    # r16 (ADVICE r15): the reset is VISIBLE in telemetry — alternating
    # two datasets through one cache file thrashes on every run, and the
    # telemetry key names the clobbered root so that's diagnosable
    assert s_b["cache_reset_root_mismatch"] == os.path.abspath(str(a))
    assert s_a["cache_reset_root_mismatch"] is None
    # the marker is telemetry-only: it must not leak into the cache file
    import json as _json

    with open(cache) as fh:
        persisted = _json.load(fh)
    assert "_reset_from_root" not in persisted
    # alternating back: reset again, visible again
    s_a2 = incremental_drift_scan(str(a), cache)
    assert s_a2["cache_reset_root_mismatch"] == os.path.abspath(str(b))
    assert s_a2["footers_read"] == 2


def test_cli_drift_report_with_cache(tmp_path, capsys):
    """--drift-report --drift-cache: same verdict/exit codes as the full
    scan, with the cache telemetry line announcing the reuse."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.cli import main

    d = tmp_path / "t.parquet"
    for year, typ in (("2024", pa.int64()), ("2025", pa.int32())):
        sub = d / f"year={year}"
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], typ)})
    cache = str(tmp_path / "cache.json")

    rc = main(["--drift-report", str(d), "--drift-cache", cache])
    out1 = capsys.readouterr().out
    assert rc == 3  # drift found
    assert "2 footer(s) read" in out1
    assert "type_changed" in out1

    rc = main(["--drift-report", str(d), "--drift-cache", cache])
    out2 = capsys.readouterr().out
    assert rc == 3
    assert "0 footer(s) read" in out2
    assert "2 served from cache" in out2


def test_schema_to_clickhouse_drift_cache(tmp_path, monkeypatch):
    """r14: the strict CREATE path accepts the incremental cache — the
    second DDL generation on an unchanged dataset reads ZERO footers in
    total (physical-type check, drift gate and schema alike), and a drifted
    partition added later still raises SchemaDriftError through the cached
    path."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark import ddl as ddl_mod
    from parquet_to_clickhouse_schema_spark.ddl import SchemaDriftError

    d = tmp_path / "t.parquet"
    for year in (2024, 2025):
        sub = d / f"year={year}"
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    cache = str(tmp_path / "cache.json")

    out1 = schema_to_clickhouse(str(d), "t", "id", drift_cache=cache)
    assert "partition by (year)" in out1

    # second run: no footer is read at all — the cached exemplars carry
    # the physical-type evidence as well as the schemas
    reads = []
    real = ddl_mod._read_footer_metadata
    monkeypatch.setattr(
        ddl_mod, "_read_footer_metadata", lambda f: (reads.append(str(f)), real(f))[1]
    )
    out2 = schema_to_clickhouse(str(d), "t", "id", drift_cache=cache)
    assert out2 == out1
    assert reads == []  # every partition served from the cache

    # drift in a NEW partition is still caught through the cache
    sub = d / "year=2026"
    sub.mkdir()
    _write_fragment(sub, "part-000.parquet", {"id": pa.array(["x"])})
    with pytest.raises(SchemaDriftError):
        schema_to_clickhouse(str(d), "t", "id", drift_cache=cache)
    # and only the new partition's footer was read
    assert [f for f in reads if "year=2026" in f] and all(
        "year=2026" in f for f in reads
    )


def test_schema_to_clickhouse_drift_cache_reads_one_rewritten_fragment(
    tmp_path, monkeypatch
):
    """The strict DDL gate through a warm cache reads only the footer of
    the one fragment rewritten since, and emits the uncached DDL."""
    from parquet_to_clickhouse_schema_spark import ddl as ddl_mod
    from parquet_to_clickhouse_schema_spark.ddl import (
        incremental_drift_scan,
        schema_drift_report,
    )

    d = tmp_path / "t.parquet"
    _multi_file_lake(d)
    cache = str(tmp_path / "cache.json")
    expected = schema_to_clickhouse(str(d), "t", "id")
    assert schema_to_clickhouse(str(d), "t", "id", drift_cache=cache) == expected

    victim = d / "year=2024" / "part-001.parquet"
    victim.write_bytes(victim.read_bytes())
    _bump_mtime(victim)
    reads = []
    real = ddl_mod._read_footer_metadata
    monkeypatch.setattr(
        ddl_mod, "_read_footer_metadata", lambda f: (reads.append(str(f)), real(f))[1]
    )
    assert schema_to_clickhouse(str(d), "t", "id", drift_cache=cache) == expected
    assert reads == [str(victim)]
    s = incremental_drift_scan(str(d), cache)
    assert s["footers_read"] == 0
    monkeypatch.undo()
    assert s["report"] == schema_drift_report(str(d)) == []


def test_cli_main_mode_accepts_drift_cache(tmp_path, capsys):
    """schemagen main mode: --drift-cache threads into the strict gate."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.cli import main

    d = tmp_path / "t.parquet"
    sub = d / "year=2024"
    sub.mkdir(parents=True)
    _write_fragment(sub, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    out_sql = str(tmp_path / "ddl.sql")
    cache = str(tmp_path / "cache.json")
    rc = main(
        [
            "--parquet-path", str(d),
            "--clickhouse-schema-path", out_sql,
            "--table-name", "t",
            "--primary-key", "id",
            "--drift-cache", cache,
        ]
    )
    assert rc == 0
    import os

    assert os.path.exists(cache)
    assert "partition by (year)" in capsys.readouterr().out


def test_unified_schema_drift_cache(tmp_path, monkeypatch):
    """r14: the --unify promotion scan accepts the shared drift cache —
    the second unify on an unchanged tree reads ZERO footers, a mutated
    partition re-reads only itself, the promoted schema is identical to
    the uncached path, and drift, unify and strict calls interleaved on
    ONE cache file all stay at zero footer reads."""
    import json as _json

    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark import ddl as ddl_mod
    from parquet_to_clickhouse_schema_spark.ddl import (
        SchemaDriftError,
        incremental_drift_scan,
        unified_parquet_schema,
    )

    d = tmp_path / "t.parquet"
    for year, cols in (
        ("2024", {"id": pa.array([1], pa.int32())}),
        ("2025", {"id": pa.array([2], pa.int64())}),
    ):
        sub = d / f"year={year}"
        sub.mkdir(parents=True)
        _write_fragment(sub, "part-000.parquet", cols)
    cache = str(tmp_path / "cache.json")

    expected = unified_parquet_schema(str(d))  # uncached reference
    got1 = unified_parquet_schema(str(d), drift_cache=cache)
    assert got1.simpleString() == expected.simpleString()

    reads = []
    real = ddl_mod._read_footer_metadata
    monkeypatch.setattr(
        ddl_mod, "_read_footer_metadata", lambda f: (reads.append(str(f)), real(f))[1]
    )
    # drift, strict and unify calls interleaved on the one cache file are
    # each served from it entirely (the strict gate refuses the drifted
    # tree from the cached exemplars alone)
    for _ in range(2):
        assert incremental_drift_scan(str(d), cache)["footers_read"] == 0
        with pytest.raises(SchemaDriftError):
            schema_to_clickhouse(str(d), "t", "id", drift_cache=cache)
        got2 = unified_parquet_schema(str(d), drift_cache=cache)
        assert got2.simpleString() == expected.simpleString()
        ddl2 = schema_to_clickhouse(str(d), "t", "id", unify=True, drift_cache=cache)
        assert "id Int64\n" in ddl2
    assert reads == []  # steady state: zero footer reads

    # mutate one partition: only it re-reads; result still matches uncached
    _write_fragment(
        d / "year=2025", "part-001.parquet", {"id": pa.array([3], pa.int64()),
                                              "score": pa.array([0.5])}
    )
    got3 = unified_parquet_schema(str(d), drift_cache=cache)
    assert all("year=2025" in f for f in reads) and reads
    monkeypatch.undo()
    assert got3.simpleString() == unified_parquet_schema(str(d)).simpleString()
    assert "score" in got3.fieldNames()

    # end-to-end: --unify + cache through schema_to_clickhouse
    ddl = schema_to_clickhouse(
        str(d), "t", "id", unify=True, drift_cache=cache
    )
    assert "id Int64\n" in ddl and "partition by (year)" in ddl

    # r16 (ADVICE r15): pointing the same cache file at a DIFFERENT
    # dataset warns about the reset (thrash made visible) and the marker
    # never persists into the cache file
    import warnings as _warnings

    other = tmp_path / "other.parquet"
    other.mkdir()
    _write_fragment(other, "part-000.parquet", {"id": pa.array([1], pa.int64())})
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        unified_parquet_schema(str(other), drift_cache=cache)
    assert any("different dataset root" in str(w.message) for w in caught)
    blob2 = _json.loads((tmp_path / "cache.json").read_text())
    assert "_reset_from_root" not in blob2


def test_hidden_paths_are_not_fragments(tmp_path):
    """Spark's hidden-path rule: a `_temporary/` attempt directory (no `=`)
    and dot-files are not part of the dataset, so a conflicting footer
    left there by an unfinished write neither trips the strict drift gate
    nor counts as a ragged hive branch."""
    import pyarrow as pa

    d = tmp_path / "t.parquet"
    (d / "dt=1").mkdir(parents=True)
    _write_fragment(d / "dt=1", "part-0.parquet", {"id": pa.array([1], pa.int64())})
    clean = schema_to_clickhouse(str(d), "t", "id")

    (d / "_temporary" / "0").mkdir(parents=True)
    _write_fragment(d / "_temporary" / "0", "part-0.parquet", {"id": pa.array(["x"])})
    _write_fragment(d / "dt=1", ".part-1.parquet", {"id": pa.array(["x"])})
    (d / "_SUCCESS").write_bytes(b"")
    ddl = schema_to_clickhouse(str(d), "t", "id")
    assert ddl == clean
    assert "WARNING" not in ddl


def test_unreadable_footer_fails_strict_naming_the_file(tmp_path):
    """A part-file whose footer cannot be read fails strict DDL with an
    error that names the file and chains pyarrow's error — cold, and with
    a warm drift cache that the broken file was added behind."""
    import pyarrow as pa

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write_fragment(d, "a.parquet", {"id": pa.array([1], pa.int64())})
    cache = str(tmp_path / "cache.json")
    schema_to_clickhouse(str(d), "t", "id", drift_cache=cache)  # warm it
    (d / "b.parquet").write_bytes(b"not a parquet file")
    for drift_cache in (None, cache):
        with pytest.raises(pa.ArrowInvalid) as exc:
            schema_to_clickhouse(str(d), "t", "id", drift_cache=drift_cache)
        assert str(d / "b.parquet") in str(exc.value)
        assert isinstance(exc.value.__cause__, pa.ArrowInvalid)


def test_lenient_ddl_describes_the_drift_reference_fragment(tmp_path):
    """One fragment order for everything: `k=a-b/` sorts before `k=a/` by
    full relative path, and the lenient DDL's columns come from the very
    fragment the drift report names as its reference."""
    import pyarrow as pa

    from parquet_to_clickhouse_schema_spark.ddl import schema_drift_report

    d = tmp_path / "t.parquet"
    for part, typ in (("k=a", pa.int32()), ("k=a-b", pa.int64())):
        (d / part).mkdir(parents=True)
        _write_fragment(d / part, "part-0.parquet", {"id": pa.array([1], typ)})

    report = schema_drift_report(str(d))
    assert len(report) == 1
    ref = report[0]["reference_file"]
    ref_id_line = schema_to_clickhouse(ref, "t", "x", strict=False).splitlines()[2]
    ddl = schema_to_clickhouse(str(d), "t", "x", strict=False)
    assert ref_id_line in ddl.splitlines()
    assert ref_id_line == "    id Nullable(Int64)"


def test_pandas_metadata_does_not_split_cached_exemplars(tmp_path):
    """Footers that differ only in schema-level writer metadata (pandas
    records each file's row count) share ONE exemplar in the scan cache,
    whichever scan writes it."""
    import json as _json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_to_clickhouse_schema_spark.ddl import (
        incremental_drift_scan,
        unified_parquet_schema,
    )

    d = tmp_path / "t.parquet"
    d.mkdir()
    for i, n in enumerate((2, 5)):
        table = pa.Table.from_pandas(pd.DataFrame({"id": range(n)}))
        pq.write_table(table, str(d / f"part-{i}.parquet"))
    assert pq.read_schema(str(d / "part-0.parquet")).metadata != pq.read_schema(
        str(d / "part-1.parquet")
    ).metadata
    cache = tmp_path / "cache.json"

    unified_parquet_schema(str(d), drift_cache=str(cache))
    assert len(_json.loads(cache.read_text())["exemplars"]) == 1
    assert incremental_drift_scan(str(d), str(cache))["report"] == []
    assert len(_json.loads(cache.read_text())["exemplars"]) == 1


_NO_JVM_PROBE = """
import contextlib, io, json, sys
sys.path.insert(0, {repo!r})
import pyarrow as pa, pyarrow.parquet as pq
import pyspark
import parquet_to_clickhouse_schema_spark as pcs
from parquet_to_clickhouse_schema_spark.cli import main

for year in (2024, 2025):
    pq.write_table(pa.table({{"id": [1], "v": [1.0]}}), f"lake/year={{year}}/part-0.parquet")
pq.write_table(pa.table({{"id": [1]}}), "old.parquet")
pq.write_table(pa.table({{"id": [1], "v": [1.0]}}), "new.parquet")
out = {{
    "strict": pcs.schema_to_clickhouse("lake", "t", "id"),
    "unify": pcs.schema_to_clickhouse("lake", "t", "id", unify=True),
    "drift": pcs.schema_drift_report("lake"),
    "incremental": pcs.incremental_drift_scan("lake", "cache.json")["footers_read"],
    "fragments": len(pcs.fragment_schemas("lake")),
    "alter": pcs.schema_diff_to_clickhouse_alter("old.parquet", "new.parquet", "t", "id"),
    "infer": pcs.infer_parquet_schema("lake").simpleString(),
}}
common = ["--clickhouse-schema-path", "t.sql", "--table-name", "t", "--primary-key", "id"]
with contextlib.redirect_stdout(io.StringIO()):
    out["cli"] = [
        main(["--parquet-path", "lake"] + common),
        main(["--drift-report", "lake"]),
        main(["--parquet-path", "new.parquet", "--diff-against", "old.parquet"] + common),
    ]
out["active_context"] = pyspark.SparkContext._active_spark_context is None
out["gateway"] = pyspark.SparkContext._gateway is None
print(json.dumps(out))
"""


def test_ddl_core_starts_no_jvm(tmp_path):
    """Every DDL entry point and the three CLI modes read footers in this
    process with no Spark job: run in a fresh interpreter, they leave
    pyspark with neither an active SparkContext nor a JVM gateway."""
    import json as _json
    import os
    import subprocess
    import sys

    for year in (2024, 2025):
        (tmp_path / "lake" / f"year={year}").mkdir(parents=True)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _NO_JVM_PROBE.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert out.pop("active_context") is True and out.pop("gateway") is True
    assert "partition by (year)" in out["strict"] and out["unify"] == out["strict"]
    assert out["drift"] == [] and out["incremental"] == 2 and out["fragments"] == 2
    assert out["alter"] == "alter table t add column v Nullable(Float64) after id;\n"
    assert out["infer"] == "struct<id:bigint,v:double,year:int>"
    assert out["cli"] == [0, 0, 0]
