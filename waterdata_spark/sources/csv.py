"""CSV sources (SURVEY.md C1/C2).

The reference reads header-inferring CSVs one at a time and concats
by column name (combine_csvs_into_one_df, down/down_water_prep.py:
554-565) because its yearly extracts put the same columns in
DIFFERENT ORDERS (2014-2016 vs 2017+ — §1.3). The Spark mapping:
read every file's header on the driver (no Spark job), group the
files by header, scan each group as one multi-path ``spark.read.csv``
with a declared schema (splittable, parallel across files, no
inference pass), and fold the groups with ``unionByName`` (schema
aligned by NAME; a positional union would silently corrupt, which is
exactly the §1.3 hazard).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """C1: header CSV scan. With a declared schema Spark skips the
    inference pass (one fewer full read) and every downstream cast is
    explicit — the engine's replacement for the reference's
    infer-then-astype pattern (down/down_water_prep.py:281-288)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", False)  # all strings: cheap + lossless
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def csv_headers(spark: SparkSession, paths: list[str], **options: str) -> list[list[str]]:
    """The column names Spark's own header handling gives each file,
    read on the driver with no Spark job.

    Each header line comes through the Hadoop ``FileSystem`` API and
    its codec factory (``CSVUtils.readHeaderLine``: compressed files
    work), is tokenized by the univocity parser under the same
    ``CSVOptions`` a scan would use (quotes, separator, encoding, BOM),
    and is made safe by Spark's ``makeSafeHeader`` (empty names become
    ``_c<i>``, duplicate names get their index appended). An empty file
    has no columns. ``paths`` must name files: a glob, a directory or
    a missing path raises ``ValueError``.
    """
    jvm = spark._jvm
    opts = jvm.org.apache.spark.sql.catalyst.csv.CSVOptions(
        jvm.PythonUtils.toScalaMap(
            {"header": "true"} | {k: str(v).lower() if isinstance(v, bool) else str(v) for k, v in options.items()}
        ),
        True,
        spark.conf.get("spark.sql.session.timeZone"),
    )
    utils = jvm.org.apache.spark.sql.execution.datasources.csv.CSVUtils
    case_sensitive = spark.conf.get("spark.sql.caseSensitive").lower() == "true"
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    headers = []
    for p in paths:
        path = jvm.org.apache.hadoop.fs.Path(p)
        if not path.getFileSystem(conf).isFile(path):
            raise ValueError(f"not a file: {p!r} (globs and directories are not expanded)")
        line = utils.readHeaderLine(path, opts, conf)
        # a fresh parser per file: univocity strips a BOM only on a
        # parser's first line
        parser = jvm.com.univocity.parsers.csv.CsvParser(opts.asParserSettings())
        tokens = parser.parseLine(line.get()) if line.isDefined() else []
        headers.append(list(utils.makeSafeHeader(tokens, case_sensitive, opts)) if tokens else [])
    return headers


def read_csv_multi(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """C2: multi-file CSV union scan, aligned BY NAME.

    Files are grouped by their header (:func:`csv_headers`, no Spark
    job); each group is one multi-path scan with a declared all-string
    schema (or ``schema``), and ``unionByName(allowMissingColumns=True)``
    aligns the groups. Groups keep the order of their first file, so
    the columns come out in the order a per-file union would give. A
    corpus with one layout is one scan however many files it has.

    ``paths`` must name files, unlike ``spark.read.csv``: a glob, a
    directory or a missing path raises ``ValueError`` (expand globs
    with :mod:`glob` first).
    """
    groups: dict[tuple[str, ...], list[str]] = {}
    for p, names in zip(paths, csv_headers(spark, paths, **options)):
        groups.setdefault(tuple(names), []).append(p)
    dfs = [
        read_csv(spark, files, schema=schema or T.StructType([T.StructField(n, T.StringType()) for n in names]), **options)
        for names, files in groups.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
