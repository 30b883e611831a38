"""The reference's raw "down" pages, rebuilt from ``fixtures/w``.

The down pipeline reads 4 SPI and 2 BI CSV pages, ``ResultsSite.xlsx``
and one fact CSV per year (down/down_water_prep.py:249-426). This
module rebuilds those pages from the ``fixtures/w`` parquet, which
tools/stage_w_fixtures.py wrote from the reference's shipped pages
through the engine's own readers (all-string), so the pipeline tests
and the w01/w02 queries run on any host, on the same rows their DuckDB
oracles read.

``write_xlsx`` is a minimal OOXML writer (the inverse of
sources/excel.py's reader; no third-party dependency).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile
from xml.sax.saxutils import escape

#: the repository's staged water fixtures, located from this package
FIXTURES_W = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "fixtures", "w"
)


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _sheet_xml(rows: list[list]) -> str:
    parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>']
    parts.append('<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>')
    for r, row in enumerate(rows, start=1):
        parts.append(f'<row r="{r}">')
        for c, val in enumerate(row):
            ref = f"{_col_letter(c)}{r}"
            if val is None:
                continue
            if isinstance(val, (int, float)) and not isinstance(val, bool):
                parts.append(f'<c r="{ref}"><v>{val}</v></c>')
            else:
                parts.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(val))}</t></is></c>')
        parts.append("</row>")
    parts.append("</sheetData></worksheet>")
    return "".join(parts)


def write_xlsx(path: str, sheets: dict[str, list[list]]) -> str:
    """sheets: name → rows (first row = header)."""
    names = list(sheets)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            + "".join(
                f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
                for i in range(len(names))
            )
            + "</Types>",
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        )
        sheets_xml = "".join(
            f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>' for i, n in enumerate(names)
        )
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{sheets_xml}</sheets></workbook>",
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(
                f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
                for i in range(len(names))
            )
            + "</Relationships>",
        )
        for i, n in enumerate(names):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(sheets[n]))
    return path


def stage_down_pages(root: str) -> str:
    """Write the raw down pages into ``root`` from ``fixtures/w``: 4 SPI
    and 2 BI CSV pages, ResultsSite.xlsx, and one fact CSV per year
    keyed by the last 4 characters of the de-spaced ``Sample Date``.
    2014-2016 keep the fixture's column order, 2017+ use the later
    header order, so the by-name union (§1.3) is exercised as on the
    real extracts. Returns ``root``."""
    import numpy as np
    import pandas as pd

    from waterdata_spark.streaming.down_stream import FACT_COLUMNS

    fx = {n: pd.read_parquet(f"{FIXTURES_W}/{n}.parquet") for n in ("spi", "bi", "sites", "data")}
    for name, n_pages in (("SPI", 4), ("BI", 2)):
        df = fx[name.lower()]
        for i, rows in enumerate(np.array_split(np.arange(len(df)), n_pages), start=1):
            df.iloc[rows].to_csv(f"{root}/csvdisp{name}p{i}.csv", index=False)
    sites = fx["sites"].astype(object).where(fx["sites"].notna(), None)
    write_xlsx(f"{root}/ResultsSite.xlsx", {"Sheet1": [list(sites.columns), *sites.values.tolist()]})
    data = fx["data"]
    years = data["Sample Date"].str.replace(r"\s", "", regex=True).str[-4:]
    for y in sorted(years.unique()):
        cols = list(data.columns) if y <= "2016" else FACT_COLUMNS
        data.loc[years == y, cols].to_csv(f"{root}/rptinfo{y}.csv", index=False)
    return root


@functools.cache
def down_pages_dir() -> str:
    """The down pages staged into a temp dir once per process (removed
    at exit)."""
    root = tempfile.mkdtemp(prefix="down_pages_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return stage_down_pages(root)


def down_page_paths(root: str) -> dict:
    """``down_csv_stage``'s keyword arguments for the pages in ``root``."""
    import glob

    return {
        "spi_paths": sorted(glob.glob(f"{root}/csvdispSPIp*.csv")),
        "bi_paths": sorted(glob.glob(f"{root}/csvdispBIp*.csv")),
        "sites_xlsx": f"{root}/ResultsSite.xlsx",
        "data_paths": sorted(glob.glob(f"{root}/rptinfo*.csv")),
    }
