"""Minimal styled .xlsx writer — stdlib only (zipfile + XML).

The reference's report export (S8, web_scheduler.py:3615-3718) is an
openpyxl workbook with three styling behaviors this module reproduces
without openpyxl (absent in this container; xlsx is just a zip of
OOXML parts, all public spec):

- **column widths** sized to the longest rendered value per column
  (header included), capped — the reference walks every cell and sets
  ``column_dimensions[...].width``;
- **date number formats**: datetime columns are written as Excel date
  serials with a ``yyyy-mm-dd hh:mm:ss`` number format so Excel
  renders them as dates, not floats;
- **multi-pattern date re-parse**: string columns whose (non-null)
  values ALL match one of the reference's date regex patterns
  (web_scheduler.py:3615-3718 tries 6 formats) are converted to real
  datetimes before writing, so text dates from upstream SQL become
  date-typed cells.

Driver-side by design: reports are human-scale (the caller clamps
rows); the at-scale sink is parquet/CSV (SURVEY.md §7.4).
"""

from __future__ import annotations

import datetime as _dt
import math
import zipfile
from xml.sax.saxutils import escape

# the reference's multi-format re-parse list (6 patterns)
DATE_PATTERNS = (
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%Y/%m/%d %H:%M:%S",
    "%Y/%m/%d",
    "%Y%m%d",
    "%d/%m/%Y",
)

_EPOCH = _dt.datetime(1899, 12, 30)  # Excel 1900 date system (with the Lotus bug)
DATE_FORMAT_CODE = "yyyy-mm-dd hh:mm:ss"
MAX_COL_WIDTH = 50.0  # reference caps column width
MIN_COL_WIDTH = 8.0


def try_parse_date(s: str) -> _dt.datetime | None:
    """First DATE_PATTERNS match, None if no pattern fits."""
    for pat in DATE_PATTERNS:
        try:
            return _dt.datetime.strptime(s.strip(), pat)
        except (ValueError, TypeError):
            continue
    return None


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(65 + r) + out
    return out


def _excel_serial(d: _dt.datetime) -> float:
    if isinstance(d, _dt.date) and not isinstance(d, _dt.datetime):
        d = _dt.datetime(d.year, d.month, d.day)
    delta = d - _EPOCH
    return delta.days + delta.seconds / 86400.0 + delta.microseconds / 86400e6


def _is_datetime(v: object) -> bool:
    return isinstance(v, (_dt.datetime, _dt.date))


def _render_len(v: object) -> int:
    if v is None:
        return 0
    if _is_datetime(v):
        return len(DATE_FORMAT_CODE)
    return len(str(v))


_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
</Types>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
</Relationships>"""

# styles: numFmt 164 = the date format; xf index 0 default, 1 = date
# cells (applyNumberFormat), 2 = bold header font
_STYLES = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<numFmts count="1"><numFmt numFmtId="164" formatCode="{DATE_FORMAT_CODE}"/></numFmts>
<fonts count="2"><font><sz val="11"/><name val="Calibri"/></font><font><b/><sz val="11"/><name val="Calibri"/></font></fonts>
<fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills>
<borders count="1"><border><left/><right/><top/><bottom/><diagonal/></border></borders>
<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>
<cellXfs count="3">
<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>
<xf numFmtId="164" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="0" fontId="1" fillId="0" borderId="0" xfId="0" applyFont="1"/>
</cellXfs>
</styleSheet>"""


def _cell_xml(ref: str, v: object) -> str:
    import decimal

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ""
    if _is_datetime(v):
        return f'<c r="{ref}" s="1"><v>{_excel_serial(v)!r}</v></c>'
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, decimal.Decimal):  # Spark DecimalType money columns
        return f'<c r="{ref}"><v>{v}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(str(v))}</t></is></c>'


def reparse_date_columns(
    columns: list[str], rows: list[list[object]]
) -> list[list[object]]:
    """The reference's multi-pattern re-parse: any string column whose
    non-null values ALL match one of DATE_PATTERNS (and at least one
    value exists) becomes datetime-typed. Parsing a column stops at its
    first non-date value, so a text column costs one failed parse, not
    one per row. Mutates and returns rows."""
    n_cols = len(columns)
    for ci in range(n_cols):
        vals = [r[ci] for r in rows if r[ci] is not None]
        if not vals or not all(isinstance(v, str) for v in vals):
            continue
        parsed = []
        for v in vals:
            d = try_parse_date(v)
            if d is None:
                break
            parsed.append(d)
        else:
            it = iter(parsed)
            for r in rows:
                if r[ci] is not None:
                    r[ci] = next(it)
    return rows


def write_xlsx(columns: list[str], rows: list[list[object]], path: str) -> int:
    """Write one styled worksheet: bold header, per-column widths,
    date-formatted datetime cells, text dates re-parsed. Returns the
    number of data rows written."""
    rows = reparse_date_columns(columns, [list(r) for r in rows])

    widths = []
    for ci, name in enumerate(columns):
        w = max([_render_len(name)] + [_render_len(r[ci]) for r in rows]) + 2
        widths.append(min(max(float(w), MIN_COL_WIDTH), MAX_COL_WIDTH))

    parts = ["<cols>"]
    for ci, w in enumerate(widths):
        parts.append(
            f'<col min="{ci + 1}" max="{ci + 1}" width="{w}" customWidth="1"/>'
        )
    parts.append("</cols><sheetData>")
    header_cells = "".join(
        f'<c r="{_col_letter(ci)}1" t="inlineStr" s="2"><is><t xml:space="preserve">'
        f"{escape(str(name))}</t></is></c>"
        for ci, name in enumerate(columns)
    )
    parts.append(f'<row r="1">{header_cells}</row>')
    for ri, row in enumerate(rows, start=2):
        cells = "".join(
            _cell_xml(f"{_col_letter(ci)}{ri}", v) for ci, v in enumerate(row)
        )
        parts.append(f'<row r="{ri}">{cells}</row>')
    parts.append("</sheetData>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(parts)
        + "</worksheet>"
    )

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/styles.xml", _STYLES)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return len(rows)
