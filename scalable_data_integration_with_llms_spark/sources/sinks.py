"""Result sinks (SURVEY §2.1 K1–K3).

The reference writes Excel report tables (``eval_dataset.py:443-583``) and
pickled experiment caches (``ExperimentCollection.py:7-28``).  Engine
equivalents:

* distributed parquet/json writers for data-scale frames;
* a driver-side .xlsx writer for report-sized aggregate tables;
* parquet checkpoint-or-read memoization replacing the pickle cache.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


_XLSX_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_XLSX_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_XLSX_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def report_xlsx(df: DataFrame, path: str, sheet_name: str = "Sheet1", max_rows: int = 10_000) -> None:
    """K2 Excel sink (the reference's ``df.to_excel``, eval_dataset.py:443)
    with no third-party writer: an .xlsx file is a zip of OOXML parts
    (public ECMA-376 spec), so the stdlib is enough — one worksheet,
    numbers as numeric cells, everything else as inline strings.  Driver-
    side and row-guarded: this is a REPORT sink for aggregate tables, not a
    data-scale writer (use write_parquet for data)."""
    import zipfile

    pdf = df.limit(max_rows).toPandas()

    def cell(ref: str, v) -> str:
        if v is None or (isinstance(v, float) and v != v):
            return f'<c r="{ref}"/>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{_xml_escape(str(v))}</t></is></c>'

    def col_ref(j: int) -> str:
        out = ""
        j += 1
        while j:
            j, r = divmod(j - 1, 26)
            out = chr(65 + r) + out
        return out

    rows_xml = []
    header = [
        cell(f"{col_ref(j)}1", c) for j, c in enumerate(pdf.columns)
    ]
    rows_xml.append(f'<row r="1">{"".join(header)}</row>')
    for i, tup in enumerate(pdf.itertuples(index=False), start=2):
        cells = [cell(f"{col_ref(j)}{i}", v) for j, v in enumerate(tup)]
        rows_xml.append(f'<row r="{i}">{"".join(cells)}</row>')

    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(rows_xml)}</sheetData></worksheet>'
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{_xml_escape(sheet_name)}" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _XLSX_CONTENT_TYPES)
        z.writestr("_rels/.rels", _XLSX_ROOT_RELS)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", _XLSX_WORKBOOK_RELS)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def cached_parquet(spark: SparkSession, path: str, build: Callable[[], DataFrame]) -> DataFrame:
    """K3: parquet read-if-exists memoization (the pickle-cache analogue,
    ``ExperimentCollection.py:16-28``)."""
    try:
        return spark.read.parquet(path)
    except Exception:
        df = build()
        write_parquet(df, path)
        return spark.read.parquet(path)
