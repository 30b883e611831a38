"""Seeded input generator for the benchmark workloads.

Every input set is a pure function of ``(workload, seed)`` and is written
under the benchmark's work directory, outside the timed region. No Spark
is involved: the water pages are staged from ``fixtures/w/*.parquet`` with
pyarrow/pandas, and the star-schema tables are drawn with NumPy. The seed moves what a rerun of the real system would move (row
order inside each file, file order, replica provenance offsets, query
order) and leaves the content that fixes the outputs alone, so every op's
expected row count and digest can be pinned once (``pins.json``).

Each generator returns a manifest: paths, input rows, input bytes and a
sha256 over the bytes written, so two commits can be shown to read the
same inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when generated bytes change, so cached input sets are rebuilt
GEN_VERSION = 5
#: files per star-schema table (above 10k rows): one scan task each
OLAP_FILES = 4

#: the 16 fact columns in the 2014-2016 header order and the 2017+ order
#: (down/down_water_prep.py:258 unions both by name)
FACT_COLS_OLD = [
    "Sample Location", "Contaminant ID", "Analysis Result", "MCL In Effect",
    "Sample Date", "Sample Type", "Laboratory ID", "Analysis Method",
    "Analysis Date", "Sample Received Date", "SPLIT_PAGES", "PWSID",
    "SYSTEM NAME", "MAIN_PAGE", "TOP_MARGIN", "SYSNAME_PAGE",
]
FACT_COLS_NEW = [
    "Sample Location", "Contaminant ID", "Analysis Result", "MCL In Effect",
    "Sample Date", "Sample Type", "SPLIT_PAGES", "PWSID", "SYSTEM NAME",
    "MAIN_PAGE", "TOP_MARGIN", "SYSNAME_PAGE", "Laboratory ID",
    "Analysis Method", "Analysis Date", "Sample Received Date",
]
#: provenance columns the replicas shift; excluded from output digests
PROVENANCE = ("MAIN_PAGE", "SYSNAME_PAGE")
#: replica offsets are drawn in whole blocks above every real page number
_OFFSET_BLOCK = 1_000_000


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, int(hashlib.sha256(salt.encode()).hexdigest()[:8], 16)])


def _manifest(root: str, rows: int, extra: dict) -> dict:
    """Rows, bytes and a sha256 over every file under ``root``."""
    h = hashlib.sha256()
    nbytes = 0
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                data = fh.read()
            h.update(data)
            nbytes += len(data)
    return {"root": root, "input_rows": rows, "input_bytes": nbytes, "sha256": h.hexdigest(), **extra}


def cached(out_dir: str, build) -> dict:
    """Build an input set once per (generator version, workload, seed):
    a finished set carries its manifest, a half-written one is rebuilt."""
    mpath = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            m = json.load(fh)
        if m.get("gen_version") == GEN_VERSION:
            return m
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    m = build(out_dir)
    m["gen_version"] = GEN_VERSION
    with open(mpath + ".tmp", "w") as fh:
        json.dump(m, fh, indent=1, sort_keys=True)
    os.replace(mpath + ".tmp", mpath)
    return m


# ---------------------------------------------------------------------------
# water: the paper's down / compare inputs
# ---------------------------------------------------------------------------


def _col_letter(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """One-sheet OOXML workbook. Integer-looking strings become numeric
    cells (the reader stringifies integral floats back), the rest inline
    strings, None an empty cell."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
    ]
    for r, row in enumerate([header, *rows], start=1):
        parts.append(f'<row r="{r}">')
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{_col_letter(c)}{r}"
            s = str(v)
            if r > 1 and s.isdigit() and str(int(s)) == s and len(s) < 15:
                parts.append(f'<c r="{ref}"><v>{s}</v></c>')
            else:
                parts.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(s)}</t></is></c>')
        parts.append("</row>")
    parts.append("</sheetData></worksheet>")
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{ct}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{ct}.worksheet+xml"/></Types>',
        )
        z.writestr(
            "_rels/.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>',
        )
        z.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            f'xmlns:r="{rel}"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/></Relationships>',
        )
        z.writestr("xl/worksheets/sheet1.xml", "".join(parts))


def _shuffled(df: pd.DataFrame, rng: np.random.Generator) -> pd.DataFrame:
    return df.iloc[rng.permutation(len(df))].reset_index(drop=True)


def _fact_year(df: pd.DataFrame) -> pd.Series:
    return df["Sample Date"].str.replace(" ", "", regex=False).str[-4:]


def direct_channel(facts: pd.DataFrame) -> pd.DataFrame:
    """The direct channel the compare stage reconciles against: every
    8th base fact row re-keyed into the direct workbook's columns
    (direct/direct_water_prep.py's output schema), as the emailed
    workbook would report the same samples."""
    d = facts.iloc[::8]
    d = d[d["Sample Location"].notna()]
    loc = d["Sample Location"].str.strip().str.replace(r"\.0$", "", regex=True)
    stype = d["Sample Type"].where(d["Sample Type"] != "DISTRIBUTIO N", "DISTRIBUTION")
    return pd.DataFrame(
        {
            "PWSID": d["PWSID"].str.strip(),
            "SYSNAME": d["SYSTEM NAME"].str.strip(),
            "CONTNAM": d["Contaminant ID"],
            "SAMPDATE": d["Sample Date"].str.replace(" ", "", regex=False),
            "ANALDATE": d["Analysis Date"],
            "SAMPTYPE": stype.str[:1],
            "LOC_EPID": loc,
            "RESULT": d["Analysis Result"],
        }
    )


def stage_water(fixtures: str, out_dir: str, seed: int, replicas: int, fraction: int) -> dict:
    """The paper's raw pages from the staged fixtures: 4 SPI pages, 2 BI
    pages, the sites workbook, and per replica the 7 yearly fact CSVs
    (two header orders) plus, for the stream, one landed parquet per
    replica and header era (2014-2016, 2017+). The facts are every
    ``fraction``-th row of the fixture's 144,595. Replica ``r`` shifts
    only MAIN_PAGE/SYSNAME_PAGE by a seeded whole-block offset ("same
    systems, more years"), so rows stay distinct and every join key
    keeps its real distribution. ``distinct_fact_rows`` is the down
    product's row count by the C43 law, counted here with pandas."""

    def build(root: str) -> dict:
        rng = _rng(seed, "water")
        fx = {n: pq.read_table(os.path.join(fixtures, f"{n}.parquet")).to_pandas() for n in ("spi", "bi", "sites", "data")}
        pages = os.path.join(root, "pages")
        os.makedirs(pages)
        spi_paths, bi_paths = [], []
        for name, n_pages, acc in (("spi", 4, spi_paths), ("bi", 2, bi_paths)):
            df = _shuffled(fx[name], rng)
            for i, part in enumerate(np.array_split(np.arange(len(df)), n_pages), start=1):
                p = os.path.join(pages, f"csvdisp{name.upper()}p{i}.csv")
                df.iloc[part].to_csv(p, index=False)
                acc.append(p)
        sites = _shuffled(fx["sites"], rng)
        xlsx = os.path.join(pages, "ResultsSite.xlsx")
        write_xlsx(xlsx, list(sites.columns), sites.astype(object).where(sites.notna(), None).values.tolist())

        facts = fx["data"].iloc[::fraction].reset_index(drop=True)
        years = _fact_year(facts)
        offsets = (rng.permutation(1000)[:replicas] + 1) * _OFFSET_BLOCK
        data_paths, landed = [], []
        landing = os.path.join(root, "landing")
        os.makedirs(landing)
        for r, off in enumerate(offsets):
            rep = facts.copy()
            for c in PROVENANCE:
                rep[c] = (rep[c].astype(np.int64) + int(off)).astype(str)
            for y in sorted(years.unique()):
                part = _shuffled(rep[years == y], rng)
                cols = FACT_COLS_OLD if y <= "2016" else FACT_COLS_NEW
                p = os.path.join(pages, f"rptinfo{y}_r{r}.csv")
                part[cols].to_csv(p, index=False)
                data_paths.append(p)
            # the stream's landing zone: canonical column order, one file per
            # replica and header era = one micro-batch each
            for era, sel in (("2014-2016", years <= "2016"), ("2017-2021", years > "2016")):
                lp = os.path.join(landing, f"r{r}_{era}.parquet")
                pq.write_table(pa.Table.from_pandas(_shuffled(rep[sel], rng)[FACT_COLS_NEW], preserve_index=False), lp)
                landed.append(lp)
        order = rng.permutation(len(data_paths))
        data_paths = [data_paths[i] for i in order]
        direct = _shuffled(direct_channel(facts), rng)
        direct_path = os.path.join(root, "direct.parquet")
        pq.write_table(pa.Table.from_pandas(direct, preserve_index=False), direct_path)
        # every file is read once per pass: pages, yearly facts, landed facts, direct
        rows = len(fx["spi"]) + len(fx["bi"]) + len(fx["sites"]) + 2 * replicas * len(facts) + len(direct)
        return _manifest(
            root,
            rows,
            {
                "spi_paths": spi_paths,
                "bi_paths": bi_paths,
                "sites_xlsx": xlsx,
                "data_paths": data_paths,
                "landing_files": landed,
                "direct_path": direct_path,
                "replicas": replicas,
                "fact_rows": replicas * len(facts),
                "distinct_fact_rows": replicas * len(facts.drop_duplicates()),
                "offsets": [int(o) for o in offsets],
            },
        )

    return cached(out_dir, build)


# ---------------------------------------------------------------------------
# olap: the star-schema tables the query mix reads
# ---------------------------------------------------------------------------


def _dates(rng: np.random.Generator, n: int, lo: str, days: int) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def _star_tables(scale: float) -> dict[str, pa.Table]:
    """Star-schema tables shaped like the engine's synthetic testdata
    (same columns, types and value domains). Content depends only on
    ``scale``: a fixed draw, so the query outputs can be pinned."""
    rng = np.random.default_rng(20240101)
    n_cust, n_ord, n_part, n_supp, n_ev = (int(x * scale) for x in (150_000, 1_500_000, 200_000, 10_000, 1_000_000))
    n_users = max(int(15_000 * scale), 10)
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": [f"REGION_{i}" for i in range(5)]})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 1500),
            "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _dates(rng, n_li, "1995-01-02", 1550),
        }
    )
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i % 64}" for i in range(n_part)],
            "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
            "p_type": np.array(["LARGE", "MEDIUM", "SMALL", "ECONOMY", "PROMO", "STANDARD"])[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 2000) * 0.05, 2),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0.0, 100.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return {
        "customer": customer, "lineitem": lineitem, "nation": nation, "orders": orders,
        "part": part, "region": region, "supplier": supplier, "events": events,
    }


def gen_olap(out_dir: str, seed: int, scale: float) -> dict:
    """Star-schema tables at ``scale`` (1.0 = sf1 row counts), each
    written in a seeded row order; the content is seed-independent."""

    def build(root: str) -> dict:
        rng = _rng(seed, "olap")
        rows = 0
        for name, t in _star_tables(scale).items():
            t = t.take(pa.array(rng.permutation(t.num_rows)))
            # tables above 10k rows as OLAP_FILES files, so scans and map
            # stages run one task per file, as a partitioned table would
            n_files = OLAP_FILES if t.num_rows > 10_000 else 1
            os.makedirs(os.path.join(root, f"{name}.parquet"))
            for i, idx in enumerate(np.array_split(np.arange(t.num_rows), n_files)):
                pq.write_table(t.take(pa.array(idx)), os.path.join(root, f"{name}.parquet", f"part-{i:05d}.parquet"))
            rows += t.num_rows
        return _manifest(root, rows, {"sf_dir": root, "scale": scale})

    return cached(out_dir, build)
