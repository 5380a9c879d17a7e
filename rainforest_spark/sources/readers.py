"""Multi-format scans (SURVEY §2.1 S1/S2).

Reference ``read_df`` (rainforest/common/utils.py:536-583) expands globs by
hand and dispatches on suffix; Spark's readers take globs natively and give
vectorized parquet + predicate pushdown for free, so this is a thin suffix
dispatcher.  CSV keeps the reference's header+inferSchema behaviour
(utils.py:569-572).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_CSV_SUFFIXES = (".csv", ".csv.gz", ".gz")


def read_df(spark: SparkSession, pattern: str, schema=None) -> DataFrame:
    """Read a file/glob into a DataFrame; format chosen by suffix."""
    p = pattern.lower()
    if p.endswith(".parquet") or p.endswith(".parq"):
        return spark.read.parquet(pattern)
    if p.endswith(_CSV_SUFFIXES):
        reader = spark.read.option("header", True)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", True)
        return reader.csv(pattern)
    raise ValueError(f"unsupported source suffix: {pattern}")


def read_xlsx_sheets(path: str) -> dict:
    """Minimal pure-python .xlsx reader: a workbook is a zip of
    SpreadsheetML parts (ECMA-376, public format) — workbook.xml names
    the sheets, sharedStrings.xml interns strings, sheetN.xml holds
    cells.  Returns {sheet_name: pandas.DataFrame} with row 1 as the
    header, like pandas.read_excel(sheet_name=None).

    Covers inline/shared strings and numeric cells — the shapes the
    reference's gauge workbooks use (common/io_data.py:42-62); no
    formulas/dates/styles.
    """
    import re
    import zipfile

    import pandas as pd

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    RNS = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships}")
    import xml.etree.ElementTree as ET

    with zipfile.ZipFile(path) as z:
        shared = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(f"{NS}t"))
                      for si in root.iter(f"{NS}si")]
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {r.get("Id"): r.get("Target").lstrip("/")
                      for r in rels}
        sheets = {}
        for sh in wb.iter(f"{NS}sheet"):
            target = rel_target[sh.get(f"{RNS}id")]
            part = target if target.startswith("xl/") else f"xl/{target}"
            root = ET.fromstring(z.read(part))
            rows = {}
            for rnum, row in enumerate(root.iter(f"{NS}row")):
                default_rix = int(row.get("r", rnum + 1)) - 1
                prev_col = -1
                for c in row.iter(f"{NS}c"):
                    ref = c.get("r")
                    if ref is not None:
                        m = re.match(r"([A-Z]+)(\d+)", ref)
                        col = sum((ord(ch) - 64) * 26 ** i for i, ch in
                                  enumerate(reversed(m.group(1)))) - 1
                        rix = int(m.group(2)) - 1
                    else:
                        # the r attribute is optional in SpreadsheetML:
                        # position after the previous cell in this row
                        col = prev_col + 1
                        rix = default_rix
                    prev_col = col
                    v = c.find(f"{NS}v")
                    is_el = c.find(f"{NS}is")
                    if c.get("t") == "s" and v is not None:
                        val = shared[int(v.text)]
                    elif c.get("t") == "inlineStr" and is_el is not None:
                        val = "".join(t.text or ""
                                      for t in is_el.iter(f"{NS}t"))
                    elif v is not None and v.text is not None:
                        try:
                            val = float(v.text)
                        except ValueError:
                            val = v.text
                    else:
                        continue
                    rows.setdefault(rix, {})[col] = val
            if not rows:
                sheets[sh.get("name")] = pd.DataFrame()
                continue
            header_ix = min(rows)
            header = rows.pop(header_ix, {})
            # width = widest row anywhere, not just the header — data
            # cells beyond the header's last column must not be dropped
            ncol = max(
                (max(r, default=-1) for r in ([header] + list(rows.values()))),
                default=-1) + 1
            cols = [header.get(i, f"col{i}") for i in range(ncol)]
            data = [[rows[r].get(i) for i in range(ncol)]
                    for r in sorted(rows)]
            sheets[sh.get("name")] = pd.DataFrame(data, columns=cols)
        return sheets


def read_xls(spark: SparkSession, path: str,
             sheet_prefix: str = "Data Hourly") -> DataFrame:
    """Excel reader (reference S14, common/io_data.py:42-62: concat all
    'Data Hourly*' sheets).  Uses openpyxl/pandas when available, else
    the pure-python SpreadsheetML reader above — no env gate."""
    import pandas as pd

    try:
        import openpyxl  # noqa: F401

        sheets = pd.read_excel(path, sheet_name=None)
    except ImportError:
        sheets = read_xlsx_sheets(path)
    frames = [v for k, v in sheets.items() if k.startswith(sheet_prefix)]
    return spark.createDataFrame(pd.concat(frames, ignore_index=True))
