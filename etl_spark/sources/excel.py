"""Excel bridge + landing-file readers (SURVEY.md §2.1 S1/S8).

The reference's ingest edge is `pd.read_excel` (uploads/excel_to_db.py:6-23,
30.9k rows in ~3.2 s) and its report edge is a styled openpyxl export
(web_scheduler.py:3615-3718). Both are inherently driver-side,
small-data operations — Excel is an EDGE format, never the at-scale
path (SURVEY.md §7.4). The scale path is `read_landing`: CSV/Parquet
landing files read with `spark.read`, schema-inferred or explicit,
fully distributed.

The WRITE path needs no xlsx engine: `write_excel` emits styled OOXML
directly through `etl_spark.sources.xlsx_writer` (stdlib zip+XML).
The READ path still requires openpyxl (absent in this container) and
stays gated behind `excel_available()` with a clear error; tests
exercise the landing path, the styled writer, and the read gating.
"""

from __future__ import annotations

import importlib.util

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def excel_available() -> bool:
    """True when an xlsx engine (openpyxl) is importable."""
    return importlib.util.find_spec("openpyxl") is not None


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: int | str = 0,
    schema: StructType | str | None = None,
) -> DataFrame:
    """S1 Excel full-sheet read (pd.read_excel, header row = schema —
    uploads/excel_to_db.py:21). Driver-side pandas bridge, Arrow
    transfer into Spark. Only for edge files; anything big lands as
    CSV/Parquet and goes through `read_landing`."""
    if not excel_available():
        raise RuntimeError(
            "No xlsx engine (openpyxl) installed — land the data as "
            "CSV/Parquet and use read_landing() instead"
        )
    import pandas as pd

    pdf = pd.read_excel(path, sheet_name=sheet_name)
    if schema is not None:
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(pdf)


def write_excel(df: DataFrame, path: str, max_rows: int = 1_048_576) -> int:
    """S8 Excel report sink (result rows → STYLED .xlsx,
    web_scheduler.py:3615-3718). Collects via Arrow `toPandas` — the
    row clamp guards the driver; reports are human-scale by
    definition — then writes with `write_excel_frame`. Returns rows
    written."""
    return write_excel_frame(df.limit(max_rows).toPandas(), path)


def write_excel_frame(pdf, path: str) -> int:
    """A pandas frame → STYLED .xlsx: content-sized column widths,
    date number_format on datetime cells, multi-pattern re-parse of
    text dates, bold header — via the stdlib OOXML writer
    (`etl_spark.sources.xlsx_writer`), so no openpyxl dependency.
    Returns rows written."""
    from etl_spark.sources.xlsx_writer import write_xlsx

    rows = [
        [None if _is_na(v) else v for v in rec]
        for rec in pdf.itertuples(index=False, name=None)
    ]
    return write_xlsx(list(pdf.columns), rows, path)


def _is_na(v: object) -> bool:
    import pandas as pd

    return v is None or (not isinstance(v, (list, tuple, dict)) and pd.isna(v))


def write_report_csv(df: DataFrame, path: str, max_rows: int = 1_048_576) -> int:
    """xlsx-free report fallback with the same contract as
    `write_excel` (driver-side, clamped). One file, header row."""
    return write_report_csv_frame(df.limit(max_rows).toPandas(), path)


def write_report_csv_frame(pdf, path: str) -> int:
    """A pandas frame → one CSV file with a header row. Returns rows
    written."""
    pdf.to_csv(path, index=False)
    return len(pdf)


def read_landing(
    spark: SparkSession,
    path: str,
    fmt: str = "csv",
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """The at-scale ingest path: landing files (csv/json/parquet)
    read distributed. CSV defaults mirror the Excel reader's
    conventions: header row = schema, type inference on (explicit
    schema preferred in production — inference costs an extra pass)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        opts = {"header": "true", "inferSchema": "true" if schema is None else "false"}
        opts.update(options)
        return reader.options(**opts).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    if fmt == "orc":
        return reader.options(**options).orc(path)
    if fmt == "text":
        # one string column per line — the raw-documents ingest edge
        return reader.options(**options).text(path)
    raise ValueError(f"unsupported landing format {fmt!r}")


def normalize_columns(df: DataFrame) -> DataFrame:
    """Sanitize header-derived column names the way the reference's
    filename sanitizer strips illegal chars (web_scheduler.py:3637):
    trim, replace spaces/illegal identifier chars with '_', lowercase.
    Excel headers are user text; parquet columns must be identifiers.
    One ``toDF`` renames every column in one plan step."""

    def clean(c: str) -> str:
        out = "".join(ch if ch.isalnum() else "_" for ch in c.strip()).strip("_").lower()
        return c if out == c else out or "col"

    return df.toDF(*(clean(c) for c in df.columns))
