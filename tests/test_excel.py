"""SRC-01 end-to-end: the Excel parse path actually executes.

openpyxl is absent in this image, so these tests exercise the built-in
minimal .xlsx reader on a hand-rolled workbook (xlsx is just zipped
XML) — covering sheet enumeration, typed cells (shared strings, inline
strings, numbers, booleans, blanks), the parallel binaryFile +
mapInPandas path, and the source-agnostic mapping/cast pipeline on top
(tool:555-577 parity).
"""

import zipfile

import pytest

from sparketl.sources.excel import list_sheets, read_excel, read_excel_many

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
 <sheets>
  <sheet name="People" sheetId="1" r:id="rId1"/>
  <sheet name="Empty" sheetId="2" r:id="rId2"/>
 </sheets>
</workbook>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
 <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
 <Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
</Relationships>"""

_SHARED = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
 <si><t>id</t></si><si><t>name</t></si><si><t>bal</t></si><si><t>alice</t></si>
</sst>"""

# header row from shared strings; data rows mix shared strings, an
# inline string, ints, floats, a boolean, and a missing (sparse) cell
_SHEET1 = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1">
   <c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c>
  </row>
  <row r="2">
   <c r="A2"><v>1</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>10.5</v></c>
  </row>
  <row r="3">
   <c r="A3"><v>2</v></c><c r="B3" t="inlineStr"><is><t>bob</t></is></c><c r="C3"><v>20</v></c>
  </row>
  <row r="4">
   <c r="A4"><v>3</v></c><c r="C4"><v>30</v></c>
  </row>
 </sheetData>
</worksheet>"""

_SHEET2 = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData/>
</worksheet>"""


def _write_xlsx(path):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _RELS)
        zf.writestr("xl/sharedStrings.xml", _SHARED)
        zf.writestr("xl/worksheets/sheet1.xml", _SHEET1)
        zf.writestr("xl/worksheets/sheet2.xml", _SHEET2)
    return str(path)


@pytest.fixture()
def xlsx(tmp_path):
    return _write_xlsx(tmp_path / "book.xlsx")


def test_list_sheets(xlsx):
    assert list_sheets(xlsx) == ["People", "Empty"]


def test_read_excel_typed_cells(spark, xlsx):
    df = read_excel(spark, xlsx, sheet="People")
    assert df.columns == ["id", "name", "bal"]
    rows = {r["id"]: (r["name"], r["bal"]) for r in df.collect()}
    assert rows[1] == ("alice", 10.5)
    assert rows[2] == ("bob", 20.0)
    assert rows[3] == (None, 30.0)  # sparse cell → null


def test_read_excel_by_index(spark, xlsx):
    assert read_excel(spark, xlsx, sheet=0).count() == 3


def test_read_excel_many_parallel(spark, tmp_path):
    for i in range(3):
        _write_xlsx(tmp_path / f"book{i}.xlsx")
    df = read_excel_many(spark, str(tmp_path / "*.xlsx"), sheet="People")
    assert df.columns[0] == "_source_file"
    assert df.count() == 9
    assert df.select("_source_file").distinct().count() == 3


def test_excel_into_mapping_pipeline(spark, xlsx):
    # the reference's ingest flow: parse sheet → column mapping/rename →
    # cast to target types (tool:555-577 then the SNK-01 path)
    from pyspark.sql import functions as F

    df = read_excel(spark, xlsx, sheet="People")
    mapped = df.select(
        F.col("id").cast("long").alias("person_id"),
        F.col("name").cast("string").alias("person_name"),
        F.col("bal").cast("decimal(12,2)").alias("balance"),
    )
    assert [f.simpleString() for f in mapped.schema.fields] == [
        "person_id:bigint",
        "person_name:string",
        "balance:decimal(12,2)",
    ]
    assert mapped.count() == 3


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC write → read roundtrip; filters and pruning reach the ORC
    scan like parquet."""
    from sparketl.io import load_table
    from sparketl.sources.text_files import read_orc, write_orc
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, partition_by=["o_orderpriority"])
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    sub = back.where("o_orderpriority = '1-URGENT'").select("o_orderkey")
    want = orders.where("o_orderpriority = '1-URGENT'").count()
    assert sub.count() == want
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "o_orderpriority" in plan

def test_jsonl_datasource_roundtrip_nulls_and_inference(spark, tmp_path):
    """Custom Python DataSource: full-row fidelity, missing-key and
    JSON-null handling, multi-file partitioning, and schema
    inference from the first record."""
    import json

    from sparketl.sources.pyds import register

    f1 = tmp_path / "a.jsonl"
    f2 = tmp_path / "b.jsonl"
    f1.write_text(
        "\n".join(
            [
                json.dumps({"id": 1, "name": "x", "score": 1.5, "ok": True}),
                "",
                json.dumps({"id": 2, "name": None, "score": 2.0, "ok": False}),
            ]
        )
    )
    f2.write_text(json.dumps({"id": 3, "score": 0.25}))  # name/ok missing

    register(spark)
    df = (
        spark.read.format("sparketl_jsonl")
        .schema("id bigint, name string, score double, ok boolean")
        .option("path", str(tmp_path))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one per file
    rows = sorted((r.id, r.name, r.score, r.ok) for r in df.collect())
    assert rows == [
        (1, "x", 1.5, True),
        (2, None, 2.0, False),
        (3, None, 0.25, None),
    ]

    # schema inference from the first record of the first file
    inferred = (
        spark.read.format("sparketl_jsonl").option("path", str(tmp_path)).load()
    )
    assert [f.name for f in inferred.schema.fields] == [
        "id",
        "name",
        "score",
        "ok",
    ]
    assert dict(inferred.dtypes) == {
        "id": "bigint",
        "name": "string",
        "score": "double",
        "ok": "boolean",
    }


def test_jsonl_datasource_stream_equals_batch(spark, tmp_path):
    """Custom-connector streaming read ≡ its batch read: one file per
    micro-batch, all files drained, same rows."""
    import json

    from sparketl.sources.pyds import register

    for i in range(3):
        (tmp_path / f"c{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"id": i * 4 + j, "v": float(j)}) for j in range(4)
            )
        )
    register(spark)
    schema = "id bigint, v double"
    batch = (
        spark.read.format("sparketl_jsonl")
        .schema(schema)
        .option("path", str(tmp_path))
        .load()
    )
    stream = (
        spark.readStream.format("sparketl_jsonl")
        .schema(schema)
        .option("path", str(tmp_path))
        .load()
    )
    from sparketl.streaming.stateful import drive

    got = sorted(tuple(r) for r in drive(stream).collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(got) == 12


def test_jsonl_datasource_writer_roundtrip_and_overwrite(spark, tmp_path):
    """Custom-connector writer: two-phase commit leaves only committed
    part files (no .tmp debris), round trip preserves rows, and
    overwrite mode replaces prior visible files."""
    import os

    from sparketl.sources.pyds import register

    register(spark)
    out = str(tmp_path / "out")
    schema = "id bigint, name string, score double"
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.0), (3, "c", 0.25)], schema
    ).repartition(2)
    df.write.format("sparketl_jsonl").option("path", out).mode(
        "append"
    ).save()
    files = sorted(os.listdir(out))
    assert all(f.endswith(".jsonl") for f in files), files
    assert not any(f.endswith(".tmp") for f in files)
    back = (
        spark.read.format("sparketl_jsonl")
        .schema(schema)
        .option("path", out)
        .load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # overwrite replaces the visible set
    df2 = spark.createDataFrame([(9, "z", 9.0)], schema)
    df2.write.format("sparketl_jsonl").option("path", out).mode(
        "overwrite"
    ).save()
    back2 = (
        spark.read.format("sparketl_jsonl")
        .schema(schema)
        .option("path", out)
        .load()
    )
    assert [tuple(r) for r in back2.collect()] == [(9, "z", 9.0)]


# ---------------------------------------------------------------------------
# Legacy .xls (BIFF8 in an OLE2/CFB container) — r11, judge task 8.
# No xlrd in this image, so these tests hand-craft a real BIFF8
# workbook byte-for-byte (records per [MS-XLS]) and wrap it in a CFB
# container twice: once through the MINI-stream path (< 4096 bytes,
# how real small .xls files are laid out) and once through the
# regular-FAT path — exercising both chains of the built-in reader.
# ---------------------------------------------------------------------------

import struct as _st

_FREE = 0xFFFFFFFF
_END = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD


def _rec(op, payload):
    return _st.pack("<HH", op, len(payload)) + payload


def _bof(dt):
    return _rec(
        0x0809, _st.pack("<HHHHII", 0x0600, dt, 0x0DBB, 0x07CC, 0, 0x0600)
    )


def _labelsst(rw, col, isst):
    return _rec(0x00FD, _st.pack("<HHHI", rw, col, 0, isst))


def _number(rw, col, val):
    return _rec(0x0203, _st.pack("<HHH", rw, col, 0) + _st.pack("<d", val))


def _rk_int(v):
    return ((v & 0x3FFFFFFF) << 2) | 0x02


def _rk_div100(v):
    return ((v & 0x3FFFFFFF) << 2) | 0x03


def _rk_dbl(x):
    bits = _st.unpack("<Q", _st.pack("<d", x))[0]
    assert bits & ((1 << 34) - 1) == 0, "test double must fit 30 bits"
    return (bits >> 32) & 0xFFFFFFFC


def _rk(rw, col, rk):
    return _rec(0x027E, _st.pack("<HHHI", rw, col, 0, rk))


def _mulrk(rw, col_first, rks):
    body = _st.pack("<HH", rw, col_first)
    for r in rks:
        body += _st.pack("<HI", 0, r)
    body += _st.pack("<H", col_first + len(rks) - 1)
    return _rec(0x00BD, body)


def _label(rw, col, text):
    b = text.encode("latin-1")
    return _rec(
        0x0204, _st.pack("<HHHH", rw, col, 0, len(b)) + b"\x00" + b
    )


def _boolerr(rw, col, val):
    return _rec(0x0205, _st.pack("<HHHBB", rw, col, 0, 1 if val else 0, 0))


def _sst(strings):
    body = _st.pack("<II", len(strings), len(strings))
    for s in strings:
        b = s.encode("latin-1")
        body += _st.pack("<H", len(b)) + b"\x00" + b
    return _rec(0x00FC, body)


def _boundsheet(pos, name):
    b = name.encode("latin-1")
    return _rec(
        0x0085, _st.pack("<IBB", pos, 0, 0) + bytes([len(b), 0]) + b
    )


_SST_STRINGS = ["id", "name", "bal", "alice", "a", "b", "c"]


def _people_sheet():
    return b"".join(
        [
            _bof(0x0010),
            _labelsst(0, 0, 0),
            _labelsst(0, 1, 1),
            _labelsst(0, 2, 2),
            _label(0, 3, "ok"),
            _rk(1, 0, _rk_int(1)),
            _labelsst(1, 1, 3),
            _number(1, 2, 10.5),
            _boolerr(1, 3, True),
            _number(2, 0, 2.0),
            _label(2, 1, "bob"),
            _rk(2, 2, _rk_div100(2050)),
            _boolerr(2, 3, False),
            _rec(0x000A, b""),
        ]
    )


def _misc_sheet():
    return b"".join(
        [
            _bof(0x0010),
            _labelsst(0, 0, 4),
            _labelsst(0, 1, 5),
            _labelsst(0, 2, 6),
            _mulrk(1, 0, [_rk_int(7), _rk_int(8), _rk_int(9)]),
            _rk(2, 0, _rk_dbl(2.5)),
            _number(2, 2, 3.25),
            _number(3, 2, 30.0),
            _rec(0x000A, b""),
        ]
    )


def _workbook_stream():
    s1, s2 = _people_sheet(), _misc_sheet()

    def glb(p1, p2):
        return b"".join(
            [
                _bof(0x0005),
                _boundsheet(p1, "People"),
                _boundsheet(p2, "Misc"),
                _sst(_SST_STRINGS),
                _rec(0x000A, b""),
            ]
        )

    g = glb(0, 0)
    g = glb(len(g), len(g) + len(s1))
    return g + s1 + s2


def _dir_entry(name, obj_type, start, size, child=_FREE):
    nb = name.encode("utf-16-le") + b"\x00\x00"
    e = nb.ljust(64, b"\x00")
    e += _st.pack("<HBB", len(nb), obj_type, 1)
    e += _st.pack("<III", _FREE, _FREE, child)  # left, right, child
    e += b"\x00" * 16  # CLSID
    e += _st.pack("<I", 0)  # state
    e += b"\x00" * 16  # create/modify times
    e += _st.pack("<IQ", start, size)
    assert len(e) == 128
    return e


def _sectors(data, size=512):
    data = data.ljust(-(-len(data) // size) * size, b"\x00")
    return [data[i : i + size] for i in range(0, len(data), size)]


def _fat_sector(entries):
    fat = list(entries) + [_FREE] * (128 - len(entries))
    return _st.pack("<128I", *fat)


def _cfb_header(n_fat, first_dir, first_minifat, n_minifat):
    h = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 16
    h += _st.pack("<HHHHH", 0x003E, 0x0003, 0xFFFE, 9, 6)
    h += b"\x00" * 6
    h += _st.pack("<IIIII", 0, n_fat, first_dir, 0, 4096)
    h += _st.pack("<IIII", first_minifat, n_minifat, _END, 0)
    h += _st.pack("<109I", *([0] + [_FREE] * 108))  # DIFAT[0] = sector 0
    assert len(h) == 512
    return h


def _xls_bytes_mini(stream):
    """CFB with the Workbook in the ROOT MINI STREAM (the real-world
    layout for workbooks under 4096 bytes)."""
    assert len(stream) < 4096
    mini_secs = _sectors(stream, 64)
    ministream = b"".join(mini_secs)
    root_secs = _sectors(ministream)
    # sectors: 0 FAT, 1 DIR, 2 miniFAT, 3.. root ministream
    fat = [_FATSECT, _END, _END]
    for i in range(len(root_secs)):
        fat.append(3 + i + 1 if i + 1 < len(root_secs) else _END)
    minifat = [i + 1 if i + 1 < len(mini_secs) else _END for i in range(len(mini_secs))]
    directory = (
        _dir_entry("Root Entry", 5, 3, len(ministream), child=1)
        + _dir_entry("Workbook", 2, 0, len(stream))
    )
    return (
        _cfb_header(1, 1, 2, 1)
        + _fat_sector(fat)
        + b"".join(_sectors(directory))
        + _fat_sector(minifat)
        + b"".join(root_secs)
    )


def _xls_bytes_regular(stream):
    """CFB with the Workbook chained through the regular FAT (the
    layout for streams >= the 4096-byte mini cutoff); the stream is
    padded past the cutoff with zero bytes the BIFF walk never reads
    (both substream parsers stop at their EOF records)."""
    stream = stream.ljust(4096, b"\x00")
    wb_secs = _sectors(stream)
    # sectors: 0 FAT, 1 DIR, 2.. workbook
    fat = [_FATSECT, _END]
    for i in range(len(wb_secs)):
        fat.append(2 + i + 1 if i + 1 < len(wb_secs) else _END)
    directory = (
        _dir_entry("Root Entry", 5, _END, 0, child=1)
        + _dir_entry("Workbook", 2, 2, len(stream))
    )
    return (
        _cfb_header(1, 1, _END, 0)
        + _fat_sector(fat)
        + b"".join(_sectors(directory))
        + b"".join(wb_secs)
    )


@pytest.fixture(scope="module", params=["mini", "regular"])
def xls(request, tmp_path_factory):
    stream = _workbook_stream()
    content = (
        _xls_bytes_mini(stream)
        if request.param == "mini"
        else _xls_bytes_regular(stream)
    )
    p = tmp_path_factory.mktemp("xls") / f"book_{request.param}.xls"
    p.write_bytes(content)
    return str(p)


def test_xls_list_sheets(xls):
    assert list_sheets(xls) == ["People", "Misc"]


def test_xls_typed_cells(xls):
    from sparketl.sources.excel import parse_workbook

    with open(xls, "rb") as f:
        content = f.read()
    pdf = parse_workbook(content, "People")
    assert list(pdf.columns) == ["id", "name", "bal", "ok"]
    assert pdf["id"].tolist() == [1, 2]  # RK int + integer NUMBER
    assert pdf["name"].tolist() == ["alice", "bob"]  # LABELSST + LABEL
    assert pdf["bal"].tolist() == [10.5, 20.5]  # NUMBER + RK÷100
    assert pdf["ok"].tolist() == [True, False]  # BOOLERR


def test_xls_misc_sheet_mulrk_rkdouble_sparse(xls):
    from sparketl.sources.excel import parse_workbook

    with open(xls, "rb") as f:
        content = f.read()
    pdf = parse_workbook(content, "Misc")
    assert list(pdf.columns) == ["a", "b", "c"]
    import pandas as pd

    assert pdf.iloc[0].tolist() == [7, 8, 9]  # MULRK
    row1 = pdf.iloc[1].tolist()
    assert row1[0] == 2.5 and pd.isna(row1[1]) and row1[2] == 3.25
    row2 = pdf.iloc[2].tolist()  # sparse row: only col c present
    assert pd.isna(row2[0]) and pd.isna(row2[1]) and row2[2] == 30


def test_xls_read_excel_dataframe(spark, xls):
    df = read_excel(spark, xls, "People")
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["name"] == "alice" and rows[1]["bal"] == 10.5
    assert rows[2]["ok"] is False


def test_xls_refusals(tmp_path):
    from sparketl.sources.excel import ExcelNotAvailable, parse_workbook

    # BIFF5 workbook (version 0x0500) refuses loudly
    biff5 = _rec(
        0x0809, _st.pack("<HHHHII", 0x0500, 0x0005, 0, 0, 0, 0)
    ) + _rec(0x000A, b"")
    with pytest.raises(ExcelNotAvailable, match="BIFF8"):
        parse_workbook(_xls_bytes_mini(biff5), 0)
    # encrypted workbook (FILEPASS) refuses loudly
    enc = (
        _bof(0x0005)
        + _rec(0x002F, b"\x00\x00")
        + _boundsheet(0, "S")
        + _rec(0x000A, b"")
    )
    with pytest.raises(ExcelNotAvailable, match="encrypted"):
        parse_workbook(_xls_bytes_mini(enc), 0)
    # OLE2 container without a Workbook stream refuses loudly
    no_wb = _xls_bytes_mini(_workbook_stream()).replace(
        "Workbook".encode("utf-16-le"), "NotABook".encode("utf-16-le")
    )
    with pytest.raises(ExcelNotAvailable, match="stream"):
        parse_workbook(no_wb, 0)
