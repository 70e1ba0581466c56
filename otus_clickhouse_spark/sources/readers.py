"""Table functions / external sources (SURVEY.md §2.1).

Maps the reference's table functions onto Spark readers:
- file(path, fmt[, structure])    → spark.read.<fmt>          (lecture_11.md:404-410)
- url(URL, fmt)                   → download + spark.read      (lecture_09.md:285-370)
- s3/gcs/hdfs(uri, fmt)           → same reader, scheme path   (hw02.sql:43-46, hw09.md:134)
- numbers(N) / numbers(a,b,step)  → spark.range                (lecture_07.md:44-49)
- generateRandom / randUniform    → range + rand exprs         (lecture_08.md:232-235)
- merge(db, regex)                → unionByName over catalog   (lecture_09.md:589-651)
- remote/postgresql(...)          → JDBC reader                (hw19.md:44-118)
"""

from __future__ import annotations

import fnmatch
import re
import tempfile
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otus_clickhouse_spark.functions.lexer import unquote

_FORMATS = {"csv", "json", "parquet", "orc", "text", "avro"}

_CH_FORMAT_MAP = {
    # ClickHouse format names → (spark format, options)
    "CSV": ("csv", {"header": "false"}),
    "CSVWithNames": ("csv", {"header": "true"}),
    "TSV": ("csv", {"sep": "\t", "header": "false"}),
    "TabSeparated": ("csv", {"sep": "\t", "header": "false"}),
    "TSVWithNames": ("csv", {"sep": "\t", "header": "true"}),
    "TabSeparatedWithNames": ("csv", {"sep": "\t", "header": "true"}),
    "JSONEachRow": ("json", {}),
    "JSONAsString": ("text", {}),
    "Parquet": ("parquet", {}),
    "Values": ("csv", {"header": "false"}),
}


def _reader(spark: SparkSession, fmt: str, schema: str | None = None, **opts):
    spark_fmt, base_opts = _CH_FORMAT_MAP.get(fmt, (fmt.lower(), {}))
    if spark_fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt}")
    r = spark.read.format(spark_fmt).options(**{**base_opts, **opts})
    if schema:
        r = r.schema(schema)
    elif spark_fmt == "csv":
        r = r.option("inferSchema", "true")
    return r


def _arrow_table(spark: SparkSession, path: str) -> DataFrame:
    """Arrow / ArrowStream input (CH Formats doc): read the IPC file(s)
    with pyarrow and hand the batches to Spark. Driver-side read like
    url(): Arrow IPC is an exchange format for result sets / small
    extracts, not a table layout — bulk data lives in parquet/ORC where
    executors scan it directly."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.ipc as ipc

    # Spark-style {a,b,c} alternation isn't understood by Python's glob —
    # expand it to concrete candidates first
    spath = _expand_braces(path)
    m = re.search(r"\{([^{}]*,[^{}]*)\}", spath)
    candidates = (
        [spath[: m.start()] + alt + spath[m.end():] for alt in m.group(1).split(",")]
        if m
        else [spath]
    )
    paths = sorted(p for c in candidates for p in _glob.glob(c))
    tables = []
    for p in paths or [path]:
        with open(p, "rb") as f:
            head = f.read(6)
        if head == b"ARROW1":  # file (random-access) format
            with ipc.open_file(p) as rd:
                tables.append(rd.read_all())
        else:  # stream format
            with ipc.open_stream(p) as rd:
                tables.append(rd.read_all())
    return spark.createDataFrame(pa.concat_tables(tables).to_pandas())


def file_table(
    spark: SparkSession, path: str, fmt: str = "Parquet", structure: str | None = None, **opts
) -> DataFrame:
    """file(path, format, structure); `{0..2}` brace globs expand like CH."""
    if fmt in ("Arrow", "ArrowStream"):
        return _arrow_table(spark, path)
    return _reader(spark, fmt, structure, **opts).load(_expand_braces(path))


def url_table(
    spark: SparkSession, url: str, fmt: str = "CSVWithNames", structure: str | None = None, **opts
) -> DataFrame:
    """url(URL, format): fetch to a temp file, then read (driver-side fetch
    mirrors the single-stream HTTP read the reference does)."""
    suffix = "." + _CH_FORMAT_MAP.get(fmt, (fmt.lower(), {}))[0]
    with urllib.request.urlopen(url) as resp:  # noqa: S310 — explicit user URL
        with tempfile.NamedTemporaryFile(delete=False, suffix=suffix) as f:
            f.write(resp.read())
            local = f.name
    return _reader(spark, fmt, structure, **opts).load(local)


def numbers(spark: SparkSession, *args: int) -> DataFrame:
    """numbers(N) / numbers(start, end[, step]) → column `number`."""
    if len(args) == 1:
        rng = spark.range(args[0])
    elif len(args) == 2:
        rng = spark.range(args[0], args[1])
    else:
        rng = spark.range(args[0], args[1], args[2])
    return rng.withColumnRenamed("id", "number")


def generate_random(spark: SparkSession, structure: str, n: int, seed: int | None = None) -> DataFrame:
    """generateRandom('a UInt64, b Float64', …) — synthetic rows."""
    cols = []
    for spec in structure.split(","):
        name, ch_type = spec.strip().split()
        t = ch_type.lower()
        r = F.rand(seed) if seed is not None else F.rand()
        if "int" in t:
            cols.append((r * 1_000_000).cast("bigint").alias(name))
        elif "float" in t or "decimal" in t:
            cols.append((r * 1000.0).alias(name))
        elif "date" in t:
            cols.append(F.date_add(F.lit("2024-01-01").cast("date"), (r * 365).cast("int")).alias(name))
        else:
            cols.append(F.concat(F.lit("s"), (r * 1e9).cast("bigint").cast("string")).alias(name))
    return spark.range(n).select(*cols)


def merge_tables(spark: SparkSession, regex: str, table_names: list[str] | None = None) -> DataFrame:
    """Merge engine / merge(db, 'regex') (lecture_09.md:589-651).

    Union of all catalog tables matching the regex, with the `_table`
    virtual column (lecture_09.md:597).
    """
    names = table_names or [t.name for t in spark.catalog.listTables()]
    pat = re.compile(regex)
    matched = [n for n in names if pat.fullmatch(n) or pat.search(n)]
    if not matched:
        raise ValueError(f"no tables match {regex!r}")
    dfs = [
        spark.table(n).withColumn("_table", F.lit(n)) for n in sorted(matched)
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def remote_jdbc(
    spark: SparkSession, url: str, table: str, user: str = "", password: str = "", **opts
) -> DataFrame:
    """remote()/postgresql() table functions → JDBC (hw19.md:44-118).

    Requires the matching JDBC driver jar on the cluster classpath.
    """
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .options(**opts)
        .load()
    )


def resolve_external_conf(
    kind: str, args: list[str], collections: dict[str, dict] | None = None
) -> dict:
    """Resolve postgresql()/mysql()/jdbc() arguments to a JDBC conf.

    Two call shapes, both from the reference (hw19.md:44-48):
    positional — ``postgresql('host:port', 'db', 'table', 'user',
    'pass'[, 'schema'])`` — and named-collection — ``postgresql(mypg,
    table='tickets', schema='book')``, where the bare first identifier
    names a ``CREATE NAMED COLLECTION`` entry whose keys the remaining
    ``k = v`` pairs override. Returns
    ``{url, table, user, password, [driver], …}``.
    """
    conf: dict = {}
    pos: list[str] = []
    for raw in args:
        raw = raw.strip()
        if not raw:
            continue
        kv = re.match(r"^(\w+)\s*=\s*(.*)$", raw, re.DOTALL)
        if kv:
            conf[kv.group(1).lower()] = unquote(kv.group(2))
        elif not pos and not conf and re.fullmatch(r"\w+", raw) and raw in (collections or {}):
            conf.update((collections or {})[raw])
        else:
            pos.append(unquote(raw))
    names = (
        ["url", "table", "user", "password"]
        if kind == "jdbc"
        else ["host", "database", "table", "user", "password", "schema"]
    )
    for name, val in zip(names, pos):
        conf.setdefault(name, val)
    if "url" not in conf:
        scheme = {"postgresql": "postgresql", "mysql": "mysql"}.get(kind, kind)
        host = conf.get("host", conf.get("host:port", "localhost"))
        if "port" in conf and ":" not in host:
            host = f"{host}:{conf['port']}"
        conf["url"] = f"jdbc:{scheme}://{host}/{conf.get('database', '')}"
    if conf.get("schema"):
        conf["table"] = f"{conf['schema']}.{conf['table']}"
    return conf


def external_table(spark: SparkSession, conf: dict) -> DataFrame:
    """Load the table described by :func:`resolve_external_conf`."""
    opts = {}
    if conf.get("driver"):
        opts["driver"] = conf["driver"]
    return remote_jdbc(
        spark,
        conf["url"],
        conf["table"],
        user=conf.get("user", ""),
        password=conf.get("password", ""),
        **opts,
    )


def _expand_braces(path: str) -> str:
    """CH `{0..2}` numeric brace ranges → Spark glob `{0,1,2}`."""
    m = re.search(r"\{(\d+)\.\.(\d+)\}", path)
    if not m:
        return path
    lo, hi = int(m.group(1)), int(m.group(2))
    width = len(m.group(1))
    alts = ",".join(str(i).zfill(width) for i in range(lo, hi + 1))
    return path[: m.start()] + "{" + alts + "}" + path[m.end() :]
