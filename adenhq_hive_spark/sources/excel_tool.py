"""Excel tool parity: sheet-aware read/info/search/sql with multi-sheet
joins (reference excel_tool.py:15-789).

Semantics matched:

- first row = header, ``Column_N`` fallback for blank header cells
  (excel_tool.py:116-119);
- every sheet registered as a view named after the sheet with spaces →
  underscores (excel_tool.py:603); the target sheet additionally aliased
  ``data`` (excel_tool.py:615-617) → cross-sheet joins just work
  (excel_tool.py:507-508);
- cell coercion: datetime → ISO-8601 string, other non-primitives → str
  (excel_tool.py:792-801);
- ``excel_search`` match types contains/exact/starts_with/ends_with with
  optional case folding (excel_tool.py:748-756);
- ``excel_sql``/``excel_read`` go through the engine's tool edge
  (``engine.capped_envelope``, ``engine.read_page``).

File IO runs on the pure-stdlib SpreadsheetML codec (sources/
xlsx_codec.py — zipfile + xml.etree over the public ECMA-376 format);
when openpyxl is available it is preferred for its richer date/style
handling. All sheet semantics operate on an in-memory
``{sheet_name: list[list[cell]]}`` workbook and are tested both in
memory and through real .xlsx files round-tripped on disk.
"""

from __future__ import annotations

import datetime as _dt
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..engine import capped_envelope, gated_df, read_page
from . import xlsx_codec

Workbook = dict[str, list[list[Any]]]  # sheet name -> rows of cells


def load_workbook_file(path: str) -> Workbook:
    """Read an .xlsx into the in-memory workbook shape.

    openpyxl when present (date/style fidelity), else the stdlib
    SpreadsheetML codec (date-formatted cells stay serial numbers).
    """
    try:
        import openpyxl
    except ImportError:
        return xlsx_codec.read_workbook(path)
    wb = openpyxl.load_workbook(path, data_only=True)  # pragma: no cover
    return {  # pragma: no cover
        ws.title: [list(row) for row in ws.iter_rows(values_only=True)]
        for ws in wb.worksheets
    }


def save_workbook_file(path: str, workbook: Workbook) -> None:
    """Write the in-memory workbook shape to an .xlsx file."""
    try:
        import openpyxl
    except ImportError:
        xlsx_codec.write_workbook(path, workbook)
        return
    wb = openpyxl.Workbook()  # pragma: no cover
    wb.remove(wb.active)  # pragma: no cover
    for name, rows in workbook.items():  # pragma: no cover
        ws = wb.create_sheet(title=name)
        for row in rows:
            ws.append(row)
    wb.save(path)  # pragma: no cover


def sanitize_sheet_name(name: str) -> str:
    """Sheet → table name: spaces to underscores, strip other specials."""
    return re.sub(r"[^0-9A-Za-z_]", "", name.replace(" ", "_"))


def coerce_cell(v: Any) -> Any:
    """Excel cell → JSON-safe value: datetime → ISO string, exotic → str."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()
    return str(v)


def _header(cells: list[Any]) -> list[str]:
    return [
        str(c) if c not in (None, "") else f"Column_{i + 1}"
        for i, c in enumerate(cells)
    ]


def sheet_to_df(spark: SparkSession, rows: list[list[Any]]) -> DataFrame:
    """First row = header (with Column_N fallback), cells coerced.

    Rows wider than the header get ``Column_N`` names for the overflow
    cells (reference excel_tool.py:115-119: any cell index past the
    header falls back); short rows are null-padded.
    """
    if not rows:
        return spark.createDataFrame([], "value STRING")
    width = max(len(r) for r in rows)
    header = _header(rows[0] + [None] * (width - len(rows[0])))
    data = [
        tuple(coerce_cell(c) for c in (r + [None] * (width - len(r))))
        for r in rows[1:]
    ]
    if not data:
        schema = ", ".join(f"`{h}` STRING" for h in header)
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(data, header)


def register_workbook(
    spark: SparkSession, workbook: Workbook, target_sheet: str | None = None
) -> dict[str, str]:
    """Register every sheet as a temp view; alias the target as ``data``.

    Returns {sheet name: view name}.
    """
    names: dict[str, str] = {}
    first = next(iter(workbook), None)
    target = target_sheet if target_sheet is not None else first
    for sheet, rows in workbook.items():
        df = sheet_to_df(spark, rows)
        view = sanitize_sheet_name(sheet)
        df.createOrReplaceTempView(view)
        names[sheet] = view
        if sheet == target:
            df.createOrReplaceTempView("data")
    return names


def excel_sheet_list(workbook: Workbook) -> dict[str, Any]:
    return {
        "success": True,
        "sheets": [
            {
                "name": s,
                "rows": max(len(r) - 1, 0),
                "columns": len(r[0]) if r else 0,
            }
            for s, r in workbook.items()
        ],
        "sheet_count": len(workbook),
    }


def excel_read(
    spark: SparkSession,
    workbook: Workbook,
    sheet: str | None = None,
    limit: int = 100,
    offset: int = 0,
) -> dict[str, Any]:
    """Sheet scan with offset/limit pagination (csv_read shape)."""
    sheet = sheet if sheet is not None else next(iter(workbook), None)
    if sheet not in workbook:
        return {"success": False, "error": f"Sheet not found: {sheet}"}
    page, _ = read_page(sheet_to_df(spark, workbook[sheet]), limit, offset)
    return {**page, "sheet": sheet, "column_count": len(page["columns"])}


def excel_search(
    spark: SparkSession,
    workbook: Workbook,
    term: str,
    sheet: str | None = None,
    match_type: str = "contains",
    case_sensitive: bool = False,
) -> dict[str, Any]:
    """Cell search across a sheet: contains/exact/starts_with/ends_with."""
    sheet = sheet if sheet is not None else next(iter(workbook), None)
    if sheet not in workbook:
        return {"success": False, "error": f"Sheet not found: {sheet}"}
    rows = workbook[sheet]
    header = _header(rows[0]) if rows else []
    needle = term if case_sensitive else term.lower()
    matches = []
    for ri, row in enumerate(rows[1:], start=2):  # 1-based + header row
        for ci, cell in enumerate(row):
            hay = str(coerce_cell(cell)) if cell is not None else ""
            if not case_sensitive:
                hay = hay.lower()
            hit = (
                hay == needle
                if match_type == "exact"
                else hay.startswith(needle)
                if match_type == "starts_with"
                else hay.endswith(needle)
                if match_type == "ends_with"
                else needle in hay
            )
            if hit:
                matches.append(
                    {
                        "row": ri,
                        "column": header[ci] if ci < len(header) else f"Column_{ci+1}",
                        "value": coerce_cell(cell),
                    }
                )
    return {"success": True, "matches": matches, "match_count": len(matches)}


def excel_write(
    path: str,
    columns: list[str],
    rows: list[dict[str, Any]],
    sheet: str = "Sheet1",
) -> dict[str, Any]:
    """Create a new .xlsx with one header row + data rows (reference
    excel_tool.py:148-228 envelope: columns dict-projected per row,
    missing keys as empty string)."""
    if not xlsx_codec.is_xlsx_path(path):
        return {"success": False,
                "error": "File must have .xlsx or .xlsm extension"}
    if not columns:
        return {"success": False, "error": "columns cannot be empty"}
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    grid: list[list[Any]] = [list(columns)]
    for row in rows:
        grid.append([coerce_cell(row.get(c, "")) for c in columns])
    save_workbook_file(path, {sheet: grid})
    return {
        "success": True,
        "path": path,
        "sheet_name": sheet,
        "columns": list(columns),
        "column_count": len(columns),
        "rows_written": len(rows),
    }


def excel_append(
    path: str,
    rows: list[dict[str, Any]],
    sheet: str | None = None,
) -> dict[str, Any]:
    """Append dict rows to an existing sheet under its header row
    (reference excel_tool.py:231-330: keys matched to existing headers,
    missing keys empty)."""
    if not os.path.exists(path):
        return {"success": False,
                "error": f"File not found: {path}. Use excel_write first."}
    if not rows:
        return {"success": False, "error": "rows cannot be empty"}
    workbook = load_workbook_file(path)
    target = sheet if sheet is not None else next(iter(workbook), None)
    if target not in workbook:
        return {
            "success": False,
            "error": f"Sheet '{sheet}' not found. "
                     f"Available sheets: {list(workbook)}",
        }
    grid = workbook[target]
    if not grid or all(c in (None, "") for c in grid[0]):
        return {"success": False,
                "error": "Excel file has no headers in the first row"}
    header = [str(c) if c is not None else "" for c in grid[0]]
    for row in rows:
        grid.append([coerce_cell(row.get(c, "")) for c in header])
    save_workbook_file(path, workbook)
    return {
        "success": True,
        "path": path,
        "sheet_name": target,
        "rows_appended": len(rows),
        "total_rows": len(grid) - 1,
    }


def excel_info(path: str) -> dict[str, Any]:
    """File metadata + per-sheet dimensions (reference
    excel_tool.py:333-417 shape)."""
    if not os.path.exists(path):
        return {"success": False, "error": f"File not found: {path}"}
    workbook = load_workbook_file(path)
    info = excel_sheet_list(workbook)
    info["path"] = path
    info["file_size_bytes"] = os.path.getsize(path)
    return info


def excel_sql(
    spark: SparkSession,
    workbook: Workbook,
    query: str,
    sheet: str | None = None,
    max_rows: int = 1000,
) -> dict[str, Any]:
    """Read-only SQL over all sheets; target sheet aliased ``data``.

    Cross-sheet joins use the sanitized sheet names as tables.
    """

    def build(spark: SparkSession, sql: str) -> DataFrame:
        register_workbook(spark, workbook, sheet)
        return spark.sql(sql)

    return capped_envelope(
        lambda: gated_df(spark, query, build), max_rows).to_tool_dict()
