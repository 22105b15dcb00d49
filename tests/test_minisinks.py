"""Spec-conformance tests for the stdlib-only xlsx / msgpack sinks.

The msgpack golden vectors below are the worked examples of the public
MessagePack spec (msgpack/spec.md, "Formats" section) — the writer must
produce those exact bytes, so any standard decoder reads our files.
The xlsx checks parse the package back with stdlib zipfile/ElementTree
and assert both the OPC structure (content types, relationships) and a
value-exact round trip of the worksheet cells.
"""

import math
import zipfile
import xml.etree.ElementTree as ET

import numpy as np
import pandas as pd
import pytest

from fast_carpenter_spark import minisinks

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _frame():
    return pd.DataFrame(
        {
            "n_big": np.array([0, 1, 127, 128, -32, -33], dtype=np.int64),
            "edge_lo": [0.0, 2.5, float("-inf"), 1e300, -0.0, float("nan")],
            "sumw": np.array([1.5, 2 ** 53 + 1.0, 3.25, 0.1, 7.0, 8.0]),
            "dataset": ["mc", "data", "a" * 31, "b" * 32, "é≤∞", "q<&>'\""],
            "flag": np.array([True, False, True, False, True, False]),
        }
    )


# ---------------------------------------------------------------------------
# msgpack: golden bytes straight from the public spec
# ---------------------------------------------------------------------------

SPEC_VECTORS = [
    (None, b"\xc0"),
    (False, b"\xc2"),
    (True, b"\xc3"),
    (0, b"\x00"),
    (127, b"\x7f"),
    (-1, b"\xff"),
    (-32, b"\xe0"),
    (128, b"\xcc\x80"),
    (255, b"\xcc\xff"),
    (256, b"\xcd\x01\x00"),
    (65535, b"\xcd\xff\xff"),
    (65536, b"\xce\x00\x01\x00\x00"),
    (2 ** 32 - 1, b"\xce\xff\xff\xff\xff"),
    (2 ** 32, b"\xcf\x00\x00\x00\x01\x00\x00\x00\x00"),
    (2 ** 64 - 1, b"\xcf" + b"\xff" * 8),
    (-33, b"\xd0\xdf"),
    (-128, b"\xd0\x80"),
    (-129, b"\xd1\xff\x7f"),
    (-32768, b"\xd1\x80\x00"),
    (-32769, b"\xd2\xff\xff\x7f\xff"),
    (-(2 ** 31), b"\xd2\x80\x00\x00\x00"),
    (-(2 ** 31) - 1, b"\xd3\xff\xff\xff\xff\x7f\xff\xff\xff"),
    (-(2 ** 63), b"\xd3\x80" + b"\x00" * 7),
    (1.5, b"\xcb\x3f\xf8\x00\x00\x00\x00\x00\x00"),
    ("", b"\xa0"),
    ("a", b"\xa1a"),
    ("a" * 31, b"\xbf" + b"a" * 31),
    ("a" * 32, b"\xd9\x20" + b"a" * 32),
    ("a" * 256, b"\xda\x01\x00" + b"a" * 256),
    (b"\x01\x02", b"\xc4\x02\x01\x02"),
    ([], b"\x90"),
    ([1, "x"], b"\x92\x01\xa1x"),
    (list(range(16)), b"\xdc\x00\x10" + bytes(range(16))),
    ({}, b"\x80"),
    ({"a": 1}, b"\x81\xa1a\x01"),
]


@pytest.mark.parametrize("obj,expected", SPEC_VECTORS)
def test_msgpack_spec_bytes(obj, expected):
    assert minisinks.packb(obj) == expected
    assert minisinks.unpackb(expected) == obj


def test_msgpack_nan_inf_float():
    for val in (float("nan"), float("inf"), float("-inf"), -0.0, 1e-308):
        raw = minisinks.packb(val)
        assert raw[0] == 0xCB and len(raw) == 9
        back = minisinks.unpackb(raw)
        assert (math.isnan(val) and math.isnan(back)) or back == val


def test_msgpack_big_collections():
    deep = {"data": {f"c{i}": list(range(20)) for i in range(17)}}
    assert minisinks.unpackb(minisinks.packb(deep)) == deep
    long_list = list(range(70000))  # forces array32
    assert minisinks.unpackb(minisinks.packb(long_list)) == long_list


def test_msgpack_trailing_bytes_rejected():
    with pytest.raises(ValueError, match="trailing"):
        minisinks.unpackb(b"\x01\x01")
    with pytest.raises(ValueError, match="truncated"):
        minisinks.unpackb(b"\xcd\x01")


def test_msgpack_frame_roundtrip(tmp_path):
    pdf = _frame()
    path = str(tmp_path / "result.msg")
    minisinks.write_msgpack(pdf, path)
    back = minisinks.read_msgpack(path)
    assert list(back.columns) == list(pdf.columns)
    assert [str(t) for t in back.dtypes] == [str(t) for t in pdf.dtypes]
    pd.testing.assert_frame_equal(back, pdf)
    # duplicate names would collapse into one map entry: refused instead
    dup = pd.DataFrame([[1, 2.0]], columns=["n", "n"])
    with pytest.raises(ValueError, match="duplicated: \\['n'\\]"):
        minisinks.write_msgpack(dup, str(tmp_path / "dup.msg"))


# ---------------------------------------------------------------------------
# xlsx: OPC structure + cell-exact round trip + determinism
# ---------------------------------------------------------------------------


def _parse_sheet(path):
    """Minimal reader for the subset write_xlsx emits: {ref: value}."""
    with zipfile.ZipFile(path) as zf:
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    cells = {}
    for c in sheet.iter(f"{NS}c"):
        ref = c.attrib["r"]
        kind = c.attrib.get("t")
        if kind == "inlineStr":
            cells[ref] = minisinks.ooxml_unescape(
                c.find(f"{NS}is/{NS}t").text or ""
            )
        elif kind == "b":
            cells[ref] = c.find(f"{NS}v").text == "1"
        else:
            v = c.find(f"{NS}v")
            cells[ref] = None if v is None else float(v.text)
    return cells


def test_xlsx_package_structure(tmp_path):
    path = str(tmp_path / "result.xlsx")
    minisinks.write_xlsx(_frame(), path)
    with zipfile.ZipFile(path) as zf:
        names = set(zf.namelist())
        assert {"[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
                "xl/_rels/workbook.xml.rels", "xl/styles.xml",
                "xl/worksheets/sheet1.xml"} <= names
        # every Override part in the content-types map exists in the package
        ct = ET.fromstring(zf.read("[Content_Types].xml"))
        ctns = "{http://schemas.openxmlformats.org/package/2006/content-types}"
        for ov in ct.iter(f"{ctns}Override"):
            assert ov.attrib["PartName"].lstrip("/") in names
        # the workbook's sheet r:id resolves through the workbook rels
        rns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
        rels = {
            r.attrib["Id"]: r.attrib["Target"]
            for r in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")).iter(
                f"{rns}Relationship"
            )
        }
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rid_attr = ("{http://schemas.openxmlformats.org/officeDocument"
                    "/2006/relationships}id")
        sheet_el = next(wb.iter(f"{NS}sheet"))
        assert f"xl/{rels[sheet_el.attrib[rid_attr]]}" == "xl/worksheets/sheet1.xml"


def test_xlsx_cell_values_roundtrip(tmp_path):
    pdf = _frame()
    path = str(tmp_path / "result.xlsx")
    minisinks.write_xlsx(pdf, path)
    cells = _parse_sheet(path)
    # header row
    for j, name in enumerate(pdf.columns):
        assert cells[f"{minisinks._col_letter(j)}1"] == name
    for i in range(len(pdf)):
        for j, name in enumerate(pdf.columns):
            ref = f"{minisinks._col_letter(j)}{i + 2}"
            expect = pdf.iloc[i, j]
            got = cells.get(ref)
            if isinstance(expect, str):
                assert got == expect
            elif isinstance(expect, (bool, np.bool_)):
                assert got is bool(expect)
            elif isinstance(expect, (float, np.floating)) and math.isnan(expect):
                assert got is None  # blank cell
            elif isinstance(expect, (float, np.floating)) and math.isinf(expect):
                assert got == ("inf" if expect > 0 else "-inf")
            else:
                # exact double round trip via shortest repr
                assert got == float(expect)


def test_xlsx_ooxml_escaping(tmp_path):
    """ECMA-376 _xHHHH_ convention: XML-illegal control chars and \\r (which
    XML parsers normalize to \\n) survive the round trip, and a literal
    _xHHHH_-shaped substring is itself escaped via _x005F_."""
    pdf = pd.DataFrame(
        {"s": ["a\rb", "c\x01d", "tab\there", "_x0041_", "nl\nok", "_x005F_"]}
    )
    path = str(tmp_path / "esc.xlsx")
    minisinks.write_xlsx(pdf, path)
    cells = _parse_sheet(path)
    for i, expect in enumerate(pdf["s"]):
        assert cells[f"A{i + 2}"] == expect
    # on the wire: \r encoded, literal _x0041_ protected
    with zipfile.ZipFile(path) as zf:
        raw = zf.read("xl/worksheets/sheet1.xml").decode()
    body = raw.split("<sheetData>", 1)[1]
    assert "_x000D_" in body and "_x005F_x0041_" in body and "\r" not in body
    # a caller's sheet name with quotes stays well-formed in workbook.xml
    name = 'a "q" <b> & c'
    minisinks.write_xlsx(pdf, path, sheet_name=name)
    with zipfile.ZipFile(path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
    assert next(wb.iter(f"{NS}sheet")).attrib["name"] == name


def test_empty_frame_roundtrip(tmp_path):
    """Zero-row binned results (e.g. a cut that rejects everything) still
    produce valid files: header-only xlsx, schema-preserving msgpack."""
    empty = _frame().iloc[0:0]
    xp = str(tmp_path / "empty.xlsx")
    minisinks.write_xlsx(empty, xp)
    cells = _parse_sheet(xp)
    assert len(cells) == len(empty.columns)  # header row only
    assert cells["A1"] == "n_big"
    mp = str(tmp_path / "empty.msg")
    minisinks.write_msgpack(empty, mp)
    back = minisinks.read_msgpack(mp)
    assert len(back) == 0
    assert list(back.columns) == list(empty.columns)
    assert [str(t) for t in back.dtypes] == [str(t) for t in empty.dtypes]


def test_xlsx_deterministic_and_wide(tmp_path):
    pdf = _frame()
    p1, p2 = str(tmp_path / "a.xlsx"), str(tmp_path / "b.xlsx")
    minisinks.write_xlsx(pdf, p1)
    minisinks.write_xlsx(pdf, p2)
    assert open(p1, "rb").read() == open(p2, "rb").read()
    # column letters beyond Z (AA...) stay consistent on a 30-column frame
    wide = pd.DataFrame({f"c{k}": [k, k + 0.5] for k in range(30)})
    p3 = str(tmp_path / "wide.xlsx")
    minisinks.write_xlsx(wide, p3)
    cells = _parse_sheet(p3)
    assert minisinks._col_letter(26) == "AA" and minisinks._col_letter(27) == "AB"
    assert cells["AD1"] == "c29" and cells["AD3"] == 29.5
