"""Self-contained binned-dataframe sinks for formats whose usual writer
libraries (openpyxl / msgpack) are absent from this environment.

The reference's Collector maps output extensions to pandas writers
(ref: fast_carpenter/summary/binned_dataframe.py:15 —
``{'xlsx': 'excel', 'h5': 'hdf', 'msg': 'msgpack', 'dta': 'stata', ...}``).
csv/json/pickle/dta/parquet are served by pandas directly in
``__main__.py``; this module closes the ``xlsx`` and ``msg`` rows with
writers built ONLY from the public format specifications:

* :func:`write_xlsx` — ECMA-376 Office Open XML SpreadsheetML (the
  subset every consumer accepts: ZIP container, content types, package
  and workbook relationships, one worksheet of inline-string / numeric
  cells).  No third-party code; stdlib ``zipfile`` + string XML.
* :func:`write_msgpack` / :func:`read_msgpack` — the public MessagePack
  spec (msgpack/spec.md): nil, bool, int (all fix/8/16/32/64 signed and
  unsigned families), float64, str, bin, array and map families.  The
  reader exists so the round trip is verifiable here without the
  msgpack library; the bytes are standard, so ``msgpack.unpackb`` reads
  the same file wherever the real library is present.

``h5`` remains the one documented non-goal of the extension map: a
hand-rolled binary HDF5 writer could not be independently verified in
this sandbox (no h5py/pytables reader), and unverifiable bytes would be
padding, not parity.

Determinism: both writers are byte-stable for equal input frames (the
ZIP member timestamps are pinned), so sink outputs can be content-hashed
across runs/restarts exactly like the engine's parquet snapshots.
"""

from __future__ import annotations

import math
import re
import struct
import zipfile
from xml.sax.saxutils import escape, quoteattr

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# xlsx (ECMA-376 SpreadsheetML, minimal conforming package)
# ---------------------------------------------------------------------------

_XML_DECL = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\r\n'
_NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_PKG_REL = "http://schemas.openxmlformats.org/package/2006/relationships"
_NS_DOC_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

_CONTENT_TYPES = _XML_DECL + (
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType='
    '"application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
    "</Types>"
)

_ROOT_RELS = _XML_DECL + (
    f'<Relationships xmlns="{_NS_PKG_REL}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)

_WORKBOOK_RELS = _XML_DECL + (
    f'<Relationships xmlns="{_NS_PKG_REL}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/styles" Target="styles.xml"/>'
    "</Relationships>"
)

# One default font/fill/border/xf: the minimum cellXfs a strict reader expects.
_STYLES = _XML_DECL + (
    f'<styleSheet xmlns="{_NS_MAIN}">'
    '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
    '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
    '<borders count="1"><border/></borders>'
    '<cellStyleXfs count="1"><xf/></cellStyleXfs>'
    '<cellXfs count="1"><xf xfId="0"/></cellXfs>'
    "</styleSheet>"
)


def _col_letter(idx: int) -> str:
    """0-based column index -> A1-style letters (0->A, 25->Z, 26->AA)."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


# ECMA-376 _xHHHH_ escaping (Part 1 §22.9.4): XML 1.0 cannot carry control
# characters at all (not even as entities), and parsers normalize \r to \n
# in character data, so SpreadsheetML strings encode those code points as
# _xHHHH_; a literal substring that itself looks like _xHHHH_ gets its
# leading underscore escaped as _x005F_.
_OOXML_ILLEGAL = re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f\r￾￿\ud800-\udfff]"
)
_OOXML_LITERAL = re.compile("_(?=x[0-9A-Fa-f]{4}_)")
_OOXML_DECODE = re.compile("_x([0-9A-Fa-f]{4})_")


def _ooxml_escape(text: str) -> str:
    text = _OOXML_LITERAL.sub("_x005F_", text)
    return _OOXML_ILLEGAL.sub(lambda m: f"_x{ord(m.group()):04X}_", text)


def ooxml_unescape(text: str) -> str:
    """Decode the _xHHHH_ convention (inverse of the writer's escaping;
    what any OOXML consumer applies when reading cell strings)."""
    return _OOXML_DECODE.sub(lambda m: chr(int(m.group(1), 16)), text)


def _inline_str_cell(ref: str, text: str) -> str:
    body = escape(_ooxml_escape(text))
    return (
        f'<c r="{ref}" t="inlineStr"><is>'
        f'<t xml:space="preserve">{body}</t></is></c>'
    )


def _cell_xml(ref: str, value) -> str:
    """One <c> element.  Numbers -> numeric cells (shortest-roundtrip repr,
    so a reader recovers the exact double); bools -> t="b"; None/NaN ->
    blank cell; everything else (incl. +-inf, which xlsx's xsd:double cells
    cannot hold) -> inline string."""
    if value is None:
        return f'<c r="{ref}"/>'
    if isinstance(value, (bool, np.bool_)):
        return f'<c r="{ref}" t="b"><v>{int(value)}</v></c>'
    if isinstance(value, (int, np.integer)):
        return f'<c r="{ref}"><v>{int(value)}</v></c>'
    if isinstance(value, (float, np.floating)):
        fval = float(value)
        if math.isnan(fval):
            return f'<c r="{ref}"/>'
        if math.isinf(fval):
            return _inline_str_cell(ref, "inf" if fval > 0 else "-inf")
        return f'<c r="{ref}"><v>{repr(fval)}</v></c>'
    return _inline_str_cell(ref, str(value))


def write_xlsx(pdf: pd.DataFrame, path: str, sheet_name: str = "binned") -> None:
    """Write ``pdf`` as a minimal conforming .xlsx workbook (header row of
    column names + one row per record), stdlib-only.

    Output is deterministic: ZIP member order and timestamps are pinned,
    so equal frames produce byte-identical files.
    """
    columns = list(pdf.columns)
    rows_xml = []
    header = "".join(
        _inline_str_cell(f"{_col_letter(j)}1", str(c)) for j, c in enumerate(columns)
    )
    rows_xml.append(f'<row r="1">{header}</row>')
    # itertuples keeps numpy scalar types, which _cell_xml dispatches on.
    for i, row in enumerate(pdf.itertuples(index=False, name=None), start=2):
        cells = "".join(
            _cell_xml(f"{_col_letter(j)}{i}", v) for j, v in enumerate(row)
        )
        rows_xml.append(f'<row r="{i}">{cells}</row>')
    sheet = _XML_DECL + (
        f'<worksheet xmlns="{_NS_MAIN}" xmlns:r="{_NS_DOC_REL}">'
        f'<sheetData>{"".join(rows_xml)}</sheetData></worksheet>'
    )
    workbook = _XML_DECL + (
        f'<workbook xmlns="{_NS_MAIN}" xmlns:r="{_NS_DOC_REL}"><sheets>'
        f'<sheet name={quoteattr(sheet_name)} sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>"
    )
    members = [
        ("[Content_Types].xml", _CONTENT_TYPES),
        ("_rels/.rels", _ROOT_RELS),
        ("xl/workbook.xml", workbook),
        ("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS),
        ("xl/styles.xml", _STYLES),
        ("xl/worksheets/sheet1.xml", sheet),
    ]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o600 << 16
            zf.writestr(info, text.encode("utf-8"))


# ---------------------------------------------------------------------------
# MessagePack (public spec: msgpack/spec.md)
# ---------------------------------------------------------------------------


def _pack_int(value: int, out: bytearray) -> None:
    if 0 <= value <= 0x7F:  # positive fixint
        out.append(value)
    elif -32 <= value < 0:  # negative fixint
        out.append(value & 0xFF)
    elif value >= 0:
        if value <= 0xFF:
            out += b"\xcc" + struct.pack(">B", value)
        elif value <= 0xFFFF:
            out += b"\xcd" + struct.pack(">H", value)
        elif value <= 0xFFFFFFFF:
            out += b"\xce" + struct.pack(">I", value)
        elif value <= 0xFFFFFFFFFFFFFFFF:
            out += b"\xcf" + struct.pack(">Q", value)
        else:
            raise OverflowError(f"msgpack cannot encode {value}")
    else:
        if value >= -0x80:
            out += b"\xd0" + struct.pack(">b", value)
        elif value >= -0x8000:
            out += b"\xd1" + struct.pack(">h", value)
        elif value >= -0x80000000:
            out += b"\xd2" + struct.pack(">i", value)
        elif value >= -0x8000000000000000:
            out += b"\xd3" + struct.pack(">q", value)
        else:
            raise OverflowError(f"msgpack cannot encode {value}")


def _pack(obj, out: bytearray) -> None:
    if obj is None:
        out.append(0xC0)
    elif isinstance(obj, (bool, np.bool_)):
        out.append(0xC3 if obj else 0xC2)
    elif isinstance(obj, (int, np.integer)):
        _pack_int(int(obj), out)
    elif isinstance(obj, (float, np.floating)):
        out += b"\xcb" + struct.pack(">d", float(obj))
    elif isinstance(obj, str):
        raw = obj.encode("utf-8")
        n = len(raw)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += b"\xd9" + struct.pack(">B", n)
        elif n <= 0xFFFF:
            out += b"\xda" + struct.pack(">H", n)
        else:
            out += b"\xdb" + struct.pack(">I", n)
        out += raw
    elif isinstance(obj, (bytes, bytearray)):
        n = len(obj)
        if n <= 0xFF:
            out += b"\xc4" + struct.pack(">B", n)
        elif n <= 0xFFFF:
            out += b"\xc5" + struct.pack(">H", n)
        else:
            out += b"\xc6" + struct.pack(">I", n)
        out += bytes(obj)
    elif isinstance(obj, (list, tuple, np.ndarray)):
        seq = obj.tolist() if isinstance(obj, np.ndarray) else obj
        n = len(seq)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out += b"\xdc" + struct.pack(">H", n)
        else:
            out += b"\xdd" + struct.pack(">I", n)
        for item in seq:
            _pack(item, out)
    elif isinstance(obj, dict):
        n = len(obj)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out += b"\xde" + struct.pack(">H", n)
        else:
            out += b"\xdf" + struct.pack(">I", n)
        for key, val in obj.items():
            _pack(key, out)
            _pack(val, out)
    else:
        raise TypeError(f"msgpack sink cannot encode {type(obj).__name__}")


def packb(obj) -> bytes:
    """Serialize ``obj`` to MessagePack bytes (spec-standard encoding)."""
    out = bytearray()
    _pack(obj, out)
    return bytes(out)


class _Unpacker:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def _take(self, n: int) -> bytes:
        chunk = self.buf[self.pos : self.pos + n]
        if len(chunk) != n:
            raise ValueError("truncated msgpack stream")
        self.pos += n
        return chunk

    def _unpack_n(self, fmt: str, size: int):
        return struct.unpack(fmt, self._take(size))[0]

    def unpack(self):
        tag = self._take(1)[0]
        if tag <= 0x7F:
            return tag
        if tag >= 0xE0:
            return tag - 0x100
        if 0x80 <= tag <= 0x8F:
            return self._map(tag & 0x0F)
        if 0x90 <= tag <= 0x9F:
            return self._array(tag & 0x0F)
        if 0xA0 <= tag <= 0xBF:
            return self._take(tag & 0x1F).decode("utf-8")
        handler = self._HANDLERS.get(tag)
        if handler is None:
            raise ValueError(f"msgpack tag 0x{tag:02x} not supported by this sink")
        return handler(self)

    # tag -> decoder of the element that follows it (built once, not per
    # element: a 70k-element array decodes 70k tags)
    _HANDLERS = {
        0xC0: lambda self: None,
        0xC2: lambda self: False,
        0xC3: lambda self: True,
        0xC4: lambda self: bytes(self._take(self._unpack_n(">B", 1))),
        0xC5: lambda self: bytes(self._take(self._unpack_n(">H", 2))),
        0xC6: lambda self: bytes(self._take(self._unpack_n(">I", 4))),
        0xCA: lambda self: self._unpack_n(">f", 4),
        0xCB: lambda self: self._unpack_n(">d", 8),
        0xCC: lambda self: self._unpack_n(">B", 1),
        0xCD: lambda self: self._unpack_n(">H", 2),
        0xCE: lambda self: self._unpack_n(">I", 4),
        0xCF: lambda self: self._unpack_n(">Q", 8),
        0xD0: lambda self: self._unpack_n(">b", 1),
        0xD1: lambda self: self._unpack_n(">h", 2),
        0xD2: lambda self: self._unpack_n(">i", 4),
        0xD3: lambda self: self._unpack_n(">q", 8),
        0xD9: lambda self: self._take(self._unpack_n(">B", 1)).decode("utf-8"),
        0xDA: lambda self: self._take(self._unpack_n(">H", 2)).decode("utf-8"),
        0xDB: lambda self: self._take(self._unpack_n(">I", 4)).decode("utf-8"),
        0xDC: lambda self: self._array(self._unpack_n(">H", 2)),
        0xDD: lambda self: self._array(self._unpack_n(">I", 4)),
        0xDE: lambda self: self._map(self._unpack_n(">H", 2)),
        0xDF: lambda self: self._map(self._unpack_n(">I", 4)),
    }

    def _array(self, n: int) -> list:
        return [self.unpack() for _ in range(n)]

    def _map(self, n: int) -> dict:
        return {self.unpack(): self.unpack() for _ in range(n)}


def unpackb(buf: bytes):
    """Deserialize MessagePack bytes (inverse of :func:`packb`)."""
    up = _Unpacker(buf)
    obj = up.unpack()
    if up.pos != len(buf):
        raise ValueError(f"trailing bytes after msgpack object at {up.pos}")
    return obj


_MSG_FORMAT = "fast-carpenter-spark/binned-msgpack/1"


def write_msgpack(pdf: pd.DataFrame, path: str) -> None:
    """Write ``pdf`` as one MessagePack map: format tag, column order with
    dtypes, and per-column value arrays (column-major, like the engine's
    parquet output).  Readable by any standard msgpack decoder; NaN and
    +-inf survive as IEEE float64 payloads."""
    names = [str(c) for c in pdf.columns]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        raise ValueError(f"msgpack sink needs unique column names; duplicated: {dupes}")
    payload = {
        "format": _MSG_FORMAT,
        "columns": [
            {"name": str(c), "dtype": str(pdf[c].dtype)} for c in pdf.columns
        ],
        "data": {
            str(c): [None if v is pd.NA else v for v in pdf[c].tolist()]
            for c in pdf.columns
        },
    }
    with open(path, "wb") as f:
        f.write(packb(payload))


def read_msgpack(path: str) -> pd.DataFrame:
    """Read a file produced by :func:`write_msgpack` back into a DataFrame
    with the original column order and dtypes."""
    with open(path, "rb") as f:
        payload = unpackb(f.read())
    if payload.get("format") != _MSG_FORMAT:
        raise ValueError(f"not a {_MSG_FORMAT} file: {path}")
    frame = pd.DataFrame(
        {c["name"]: payload["data"][c["name"]] for c in payload["columns"]}
    )
    for col in payload["columns"]:
        frame[col["name"]] = frame[col["name"]].astype(col["dtype"])
    return frame
