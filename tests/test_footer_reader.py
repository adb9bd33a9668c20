"""The DDL core's one footer reader (ddl._read_footer_metadata): parity with
pyarrow's own ``pq.read_metadata``, its error contract, and a guard that no
DDL entry point reaches ``pq.read_metadata`` or ``pq.ParquetFile``."""

import contextlib
import datetime
import decimal
import hashlib
import io
import os
import re
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_to_clickhouse_schema_spark import ddl
from parquet_to_clickhouse_schema_spark.cli import main
from parquet_to_clickhouse_schema_spark.ddl import (
    _read_footer,
    _read_footer_metadata,
    incremental_drift_scan,
    infer_parquet_schema,
    schema_diff_to_clickhouse_alter,
    schema_to_clickhouse,
)
from tests.conftest import SF_SMOKE

TESTDATA = os.path.dirname(SF_SMOKE)


def _reference_footer(path):
    """(fingerprint, exemplar) as the DDL core computed them from
    ``pq.read_metadata``: the metadata-stripped Arrow schema's IPC bytes
    plus the INT96 / non-decimal FLBA columns, md5 over both."""
    footer = pq.read_metadata(path).schema
    ipc = footer.to_arrow_schema().remove_metadata().serialize().to_pybytes()
    violations = []
    for i in range(len(footer)):
        col = footer.column(i)
        kind = col.physical_type
        if kind == "INT96" or (
            kind == "FIXED_LEN_BYTE_ARRAY" and str(col.converted_type) != "DECIMAL"
        ):
            if f"{col.name} ({kind})" not in violations:
                violations.append(f"{col.name} ({kind})")
    fp = hashlib.md5(ipc + "\n".join(violations).encode("utf-8")).hexdigest()
    return fp, (ipc, violations)


def _fixtures(root):
    """One file per footer shape the DDL core distinguishes."""
    root.mkdir(exist_ok=True)
    ts = [datetime.datetime(2024, 1, 2, 3, 4, 5)]
    tables = {
        "nested": pa.table(
            {
                "id": pa.array([1], pa.int64()),
                "tags": pa.array([["a", "b"]], pa.list_(pa.string())),
                "dev": pa.array(
                    [{"os": "ios", "v": 3}],
                    pa.struct([("os", pa.string()), ("v", pa.int32())]),
                ),
                "attrs": pa.array([[("k", 1.5)]], pa.map_(pa.string(), pa.float64())),
                "items": pa.array(
                    [[{"sku": "x", "qty": 2}]],
                    pa.list_(pa.struct([("sku", pa.string()), ("qty", pa.int32())])),
                ),
            }
        ),
        "nanos": pa.table({"id": [1], "ts": pa.array(ts, pa.timestamp("ns"))}),
        "flba": pa.table({"id": [1], "uuid": pa.array([b"0123456789abcdef"], pa.binary(16))}),
        "decimal_flba": pa.table(
            {"id": [1], "amt": pa.array([decimal.Decimal("1.23")], pa.decimal128(30, 2))}
        ),
        "pandas": pa.Table.from_pandas(pd.DataFrame({"id": range(3), "s": list("abc")})),
        # a footer past the reader's first 64 KiB read
        "wide": pa.table({f"c{i}": [i] for i in range(1500)}),
    }
    paths = []
    for name, table in tables.items():
        paths.append(str(root / f"{name}.parquet"))
        pq.write_table(table, paths[-1])
    paths.append(str(root / "int96.parquet"))
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array(ts, pa.timestamp("us"))}),
        paths[-1],
        use_deprecated_int96_timestamps=True,
    )
    hive = root / "hive.parquet"
    for year, typ in ((2024, pa.int64()), (2025, pa.int32())):
        (hive / f"year={year}").mkdir(parents=True)
        paths.append(str(hive / f"year={year}" / "part-000.parquet"))
        pq.write_table(pa.table({"id": pa.array([1], typ)}), paths[-1])
    return paths


def _testdata_files():
    return sorted(
        os.path.join(TESTDATA, sf, name)
        for sf in ("sf0.001", "sf0.01", "sf0.1")
        if os.path.isdir(os.path.join(TESTDATA, sf))
        for name in os.listdir(os.path.join(TESTDATA, sf))
        if name.endswith(".parquet")
    )


def test_reader_matches_read_metadata_on_testdata_and_fixtures(tmp_path):
    files = _testdata_files() + _fixtures(tmp_path)
    assert len(files) >= 30 + 8
    for path in files:
        md = _read_footer_metadata(path)
        assert md.equals(pq.read_metadata(path)), path
        assert _read_footer(path) == _reference_footer(path), path
    # the fixtures exercise both violation kinds and the decimal exclusion
    by_name = {os.path.basename(p): _read_footer(p)[1][1] for p in files}
    assert by_name["int96.parquet"] == ["ts (INT96)"]
    assert by_name["flba.parquet"] == ["uuid (FIXED_LEN_BYTE_ARRAY)"]
    assert by_name["decimal_flba.parquet"] == []
    wide = next(p for p in files if p.endswith("wide.parquet"))
    assert pq.read_metadata(wide).serialized_size > ddl._FOOTER_READ_BYTES


def _expect_invalid(path):
    with pytest.raises(pa.ArrowInvalid) as exc:
        _read_footer_metadata(path)
    assert str(path) in str(exc.value)
    assert isinstance(exc.value.__cause__, pa.ArrowInvalid)
    # the fingerprinting reader raises the same error
    with pytest.raises(pa.ArrowInvalid, match=re.escape(str(path))):
        _read_footer(path)
    return str(exc.value)


def test_reader_error_contract(tmp_path):
    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"id": [1, 2]}), str(good))
    data = good.read_bytes()

    empty = tmp_path / "empty.parquet"
    empty.write_bytes(b"")
    assert "0 bytes" in _expect_invalid(empty)

    short = tmp_path / "short.parquet"
    short.write_bytes(b"PAR1\x00")
    assert "5 bytes" in _expect_invalid(short)

    encrypted = tmp_path / "encrypted.parquet"
    encrypted.write_bytes(data[:-4] + b"PARE")
    assert "encrypted" in _expect_invalid(encrypted)

    past = tmp_path / "past.parquet"
    past.write_bytes(data[:-8] + (len(data)).to_bytes(4, "little") + b"PAR1")
    assert "runs past" in _expect_invalid(past)

    missing = tmp_path / "missing.parquet"
    with pytest.raises(FileNotFoundError, match=re.escape(str(missing))) as exc:
        _read_footer_metadata(str(missing))
    assert isinstance(exc.value.__cause__, FileNotFoundError)


_MALFORMED_PROBE = """
import random, sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from parquet_to_clickhouse_schema_spark.ddl import _read_footer, _read_footer_metadata

def outcome(reader, path):
    try:
        reader(path)
    except (OSError, pa.ArrowException) as e:
        assert path in str(e) and e.__cause__ is not None, e
        return type(e).__name__
    return "parsed"

*corrupt, good, mutant = sys.argv[1:]
for path in corrupt:
    print(outcome(_read_footer_metadata, path), outcome(_read_footer, path))
# seeded byte flips in a real footer: each parses or raises naming the file
data = open(good, "rb").read()
n = int.from_bytes(data[-8:-4], "little")
rng = random.Random(0)
seen = set()
for _ in range(300):
    footer = bytearray(data[-8 - n:-8])
    for _ in range(rng.randint(1, 4)):
        footer[rng.randrange(n)] = rng.randrange(256)
    with open(mutant, "wb") as fh:
        fh.write(data[:-8 - n] + footer + data[-8:])
    seen.add(outcome(_read_footer, mutant))
print(" ".join(sorted(seen)))
"""


def test_malformed_thrift_raises_naming_the_file(tmp_path):
    """Thrift that is no FileMetaData, behind an intact PAR1 tail and a
    footer length inside the file, raises pyarrow's OSError naming the
    file. Runs in a subprocess: a parse that escaped pyarrow's C++
    exception translation would abort the interpreter, not raise."""
    good = tmp_path / "good.parquet"
    pq.write_table(
        pa.table({"id": [1, 2], "s": ["a", "b"], "l": pa.array([[1], [2]])}), str(good)
    )
    data = good.read_bytes()
    n = int.from_bytes(data[-8:-4], "little")
    body, footer = data[: -8 - n], data[-8 - n : -8]
    paths = []
    for name, bad in (
        ("garbage", (b"\x00garbage" * n)[:n]),
        ("zeros", bytes(n)),
        ("truncated", footer[: n // 2]),
    ):
        path = tmp_path / f"{name}.parquet"
        path.write_bytes(body + bad + len(bad).to_bytes(4, "little") + b"PAR1")
        paths.append(str(path))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _MALFORMED_PROBE.format(repo=repo), *paths,
         str(good), str(tmp_path / "mutant.parquet")],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert lines[:3] == ["OSError OSError"] * 3
    outcomes = set(lines[3].split())
    assert {"OSError", "parsed"} <= outcomes <= {"ArrowInvalid", "OSError", "parsed"}


def _read_all(root):
    """(file → fingerprint, fingerprint → exemplar) from one read_all over
    the directory ``root``."""
    scan = ddl._scan_dataset(str(root))
    scan.read_all()
    return {scan.file(rel): fp for rel, fp in scan.fp_by_rel.items()}, scan.exemplars


def test_batch_memo_keeps_subtly_different_schemas_apart(tmp_path):
    """One read_all converts each distinct (parquet schema,
    ARROW:schema) once; footers that differ only in the ARROW:schema blob
    (string vs large_string, one timestamp's zone) or in a field id keep
    their own fingerprints, and repeats share theirs."""
    zoned = pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us", "UTC"))
    tables = [
        pa.table({"a": pa.array(["x"], pa.string())}),
        pa.table({"a": pa.array(["x"], pa.large_string())}),
        pa.table(
            {"a": pa.array(["x"])},
            schema=pa.schema([pa.field("a", pa.string(), metadata={b"PARQUET:field_id": b"7"})]),
        ),
        pa.table({"t": zoned}),
        pa.table({"t": zoned.cast(pa.timestamp("us", "Europe/Paris"))}),
        pa.table({"a": pa.array(["y", "z"], pa.string())}),
    ]
    files = []
    for i, table in enumerate(tables):
        files.append(str(tmp_path / f"part-{i}.parquet"))
        pq.write_table(table, files[-1])
    files.append(str(tmp_path / "no-arrow-schema.parquet"))
    pq.write_table(tables[0], files[-1], store_schema=False)
    fp_by_file, exemplars = _read_all(tmp_path)
    refs = [_reference_footer(f) for f in files]
    assert [fp_by_file[f] for f in files] == [fp for fp, _ in refs]
    assert exemplars == dict(refs)
    assert fp_by_file[files[5]] == fp_by_file[files[0]]
    assert len(set(fp_by_file.values())) == 5


def test_batch_memo_keeps_apart_footers_sharing_an_arrow_schema_blob(tmp_path):
    """The batch memo is bucketed on the ARROW:schema blob, which a writer
    keeps while the Parquet schema changes under it (a coerced timestamp
    unit, INT96 storage, a Parquet 1.0 unsigned int): each such footer gets
    its own fingerprint in one read_all."""
    ts = pa.table({"t": pa.array([datetime.datetime(2024, 1, 2)], pa.timestamp("us"))})
    u32 = pa.table({"u": pa.array([1], pa.uint32())})
    writes = [
        ("us", ts, {}),
        ("ms", ts, {"coerce_timestamps": "ms"}),
        ("int96", ts, {"use_deprecated_int96_timestamps": True}),
        ("us-again", ts, {}),
        ("u32", u32, {}),
        ("u32-v1", u32, {"version": "1.0"}),
    ]
    files = []
    for name, table, options in writes:
        files.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(table, files[-1], **options)
    mds = [pq.read_metadata(f) for f in files]
    for i, j in ((0, 1), (0, 2), (4, 5)):
        assert mds[i].metadata[b"ARROW:schema"] == mds[j].metadata[b"ARROW:schema"]
        assert not mds[i].schema.equals(mds[j].schema)
    fp_by_file, exemplars = _read_all(tmp_path)
    refs = [_reference_footer(f) for f in files]
    assert [fp_by_file[f] for f in files] == [fp for fp, _ in refs]
    assert exemplars == dict(refs)
    fps = [fp_by_file[f] for f in files]
    assert fps[3] == fps[0]
    assert len({fps[0], fps[1], fps[2]}) == 3 and fps[4] != fps[5]


def _refuse(*args, **kwargs):
    raise AssertionError("the DDL core called pyarrow's own footer API")


def _guarded_outputs(tmp_path, tag):
    """Every DDL entry point over one drifted hive dataset plus a clean
    pair for ALTER; each cache file is fresh, so every footer is read."""
    data = tmp_path / "data"
    d, old, new = data / "t.parquet", data / "old.parquet", data / "new.parquet"
    if not data.exists():
        for year, typ in ((2024, pa.int64()), (2025, pa.int32())):
            (d / f"year={year}").mkdir(parents=True)
            pq.write_table(pa.table({"id": pa.array([1], typ)}),
                           str(d / f"year={year}" / "part-000.parquet"))
        pq.write_table(pa.table({"id": [1]}), str(old))
        pq.write_table(pa.table({"id": [1], "v": [1.0]}), str(new))
    out = {}
    with pytest.raises(ddl.SchemaDriftError) as exc:
        schema_to_clickhouse(str(d), "t", "id", drift_cache=str(tmp_path / f"{tag}1.json"))
    out["strict"] = str(exc.value)
    out["strict_clean"] = schema_to_clickhouse(str(new), "t", "id")
    out["unify"] = schema_to_clickhouse(str(d), "t", "id", unify=True)
    out["drift"] = incremental_drift_scan(str(d), str(tmp_path / f"{tag}2.json"))
    out["alter"] = schema_diff_to_clickhouse_alter(str(old), str(new), "t", "id")
    out["infer"] = infer_parquet_schema(str(d)).simpleString()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out["cli_rc"] = main(["--drift-report", str(d)])
    out["cli"] = buf.getvalue()
    return out


def test_no_entry_point_reaches_pyarrows_footer_api(tmp_path, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(pq, "read_metadata", _refuse)
        m.setattr(pq, "ParquetFile", _refuse)
        guarded = _guarded_outputs(tmp_path, "guarded")
    assert guarded == _guarded_outputs(tmp_path, "free")
    assert guarded["cli_rc"] == 3 and guarded["drift"]["footers_read"] == 2


def test_cli_timings_go_to_stderr_only(tmp_path):
    paths = _fixtures(tmp_path)
    d = os.path.dirname(os.path.dirname(paths[-1]))
    argv = ["--parquet-path", d, "--clickhouse-schema-path", str(tmp_path / "t.sql"),
            "--table-name", "t", "--primary-key", "id", "--unify"]
    runs = []
    for extra in ([], ["--timings"]):
        out, err = io.StringIO(), io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
            assert main(argv + extra) == 0
        runs.append((out.getvalue(), err.getvalue()))
    (plain, plain_err), (timed, timed_err) = runs
    assert timed == plain and plain_err == ""
    line, = timed_err.splitlines()
    assert line.startswith(f"{d}: 2 fragment(s), listing ")
    assert "2 footer(s) read in " in line
    for phase in ("convert", "render"):
        assert f", {phase} " in line

    # ALTER: one line per side; --drift-report: one line for its scan
    for argv, lines in (
        (["--parquet-path", paths[-1], "--clickhouse-schema-path", str(tmp_path / "a.sql"),
          "--table-name", "t", "--primary-key", "id", "--diff-against", paths[-2],
          "--timings"], [paths[-2], paths[-1]]),
        (["--drift-report", d, "--timings"], [d]),
    ):
        err = io.StringIO()
        with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(err):
            main(argv)
        assert [x.split(": ")[0] for x in err.getvalue().splitlines()] == lines
