"""Parquet scan helpers for the driver's testdata star schema.

At 100 TB these reads are the entry point for partition pruning and
column pruning — always `.select()` the needed columns immediately so
Catalyst pushes projection into the parquet scan (ReadSchema), and pass
filters early so they appear in PushedFilters.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fan_out(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Repartition a narrow frame up to cluster parallelism before an
    expensive expansion (cross join, explode).

    The driver's testdata parquet is written as a single row group, so the
    scan cannot be split — every downstream stage would run on ≤2 tasks.
    One round-robin exchange of the narrow rows (~tens of MB) buys full
    parallelism for the O(25×) expansion that follows. On a real cluster
    with many files/row groups the condition is false and this is a no-op:
    many files, or a scan that splits ≥ 8 ways by both bytes and
    `row_groups`, keep `df` as it is. A frame whose row groups are
    unknown (a leaf that is not a local parquet scan) fans out.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    # NOTE: df.rdd.getNumPartitions() would trigger an eager job under AQE;
    # the file listing reads only the file index. Single-file (= single-
    # row-group testdata) sources fan out; many-file sources are already
    # split.
    try:
        files, _ = _plan_files(df)
    except (Py4JError, PySparkException):
        files = []
    if not files or len(files) >= max(2, target // 2):
        return df
    # r13 (sf10 bench finding): a single LARGE multi-row-group file is
    # natively splittable — the scan yields ~size/maxPartitionBytes
    # tasks, and chaining the derivation onto those beats a full
    # round-robin exchange of the raw fact rows even at reduced
    # parallelism (measured at 60M rows: time_and_channel_average
    # 6.5 -> 2.9 s, predict_vis 48 -> 29 s; the exchange writes+reads
    # ~2 GB of shuffle and breaks scan-chained codegen). Estimate the
    # split count from file sizes and skip the exchange when the scan
    # already splits >= 8 ways; the driver's small single-row-group
    # testdata (1 split) still fans out exactly as before.
    try:
        mpb = (
            df.sparkSession._jsparkSession.sessionState().conf()
            .filesMaxPartitionBytes()
        )
        local = _local_paths(files)
        if local:
            splits = -(-sum(os.path.getsize(p) for p in local) // mpb)
            # cap by the real row-group count (`row_groups`): one giant
            # row group is ONE split whatever the byte math says —
            # exactly the driver-testdata layout this exchange exists for
            if splits >= 8 and (row_groups(df) or 0) >= 8:
                return df
    except Exception:
        pass  # unknown scheme/size -> keep the conservative fan-out
    # idempotence: the listing still reports the source file after a
    # repartition, so a second fan_out of a composed frame must not stack
    # another full exchange of the fact rows.
    if _plan_has_repartition(df, target):
        return df
    return df.repartition(target)


def _fs_files(node) -> list | None:
    """The file URIs a logical-plan leaf reads, or None when it is not a
    `HadoopFsRelation` scan."""
    if (node.getClass().getSimpleName() != "LogicalRelation"
            or node.relation().getClass().getSimpleName() != "HadoopFsRelation"):
        return None
    return list(node.relation().location().inputFiles())


def _plan_files(df: DataFrame) -> tuple[list, bool]:
    """(the file URIs the file-scan leaves of `df`'s analyzed plan read,
    whether every leaf is such a scan).

    The listing comes from each relation's file index, as
    `DataFrame.inputFiles()` does, but nothing optimizes the plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files, only_files = [], True
    for i in range(leaves.size()):
        got = _fs_files(leaves.apply(i))
        if got is None:
            only_files = False
        else:
            files += got
    return list(dict.fromkeys(files)), only_files


def row_groups(df: DataFrame) -> int | None:
    """The total parquet row groups of the files that `df`'s file-scan
    leaves read, from the file index and the footers (KB-scale metadata),
    with no Spark job; None when any leaf is not a scan of local parquet
    files (a ``LocalRelation``, a foreachBatch micro-batch's RDD, a remote
    scheme).

    Operators above the leaves, such as filters and projections, do not
    change it. A row group is the unit one scan task reads, so 1 means
    that one task reads every row `df` derives from its scans."""
    try:
        uris, only_files = _plan_files(df)
        paths = _local_paths(uris) if only_files else None
        if not paths:
            return None
        import pyarrow.parquet as _pq

        return sum(_pq.ParquetFile(p).metadata.num_row_groups for p in paths)
    except (Py4JError, PySparkException, OSError, ValueError):
        return None  # not parquet (pyarrow raises ArrowInvalid, a ValueError)


def _local_paths(uris) -> list | None:
    """Local paths of the file URIs Spark reports, or None when one is
    remote or missing."""
    paths = []
    for uri in uris:
        url = urlparse(uri)
        path = unquote(url.path)
        if url.scheme not in ("", "file") or not os.path.isfile(path):
            return None
        paths.append(path)
    return paths


def _plan_has_repartition(df: DataFrame, target: int) -> bool:
    """True iff the analyzed logical plan contains a round-robin/hash
    Repartition (or RepartitionByExpression) whose numPartitions already
    reaches `target` — i.e. re-fanning-out would be a redundant second
    exchange. Coalesce renders as Repartition with a SMALL partition
    count; the >= target guard keeps a deliberate coalesce(1) from
    suppressing a real fan-out."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            name = node.getClass().getSimpleName()
            if name in ("Repartition", "RepartitionByExpression"):
                try:
                    if int(node.numPartitions()) >= target:
                        return True
                except Exception:
                    # numPartitions optional on some node shapes: treat
                    # an explicit repartition of unknown width as enough
                    return True
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
    except Exception:
        pass
    return False


def scan_twin(df: DataFrame) -> DataFrame:
    """The pre-fan_out lineage of a fanned frame, for tiny aggregates
    or a consumer that brings its own exchange.

    `fan_out` buys parallelism for expensive per-row derivations by
    round-robin exchanging the raw scan — but a consumer that only runs
    a small distinct/groupBy over one or two columns (e.g. the predict
    family's `(chan, frequency)` hoist) inherits that full-data exchange
    for nothing, and so does one that partitions the rows itself (the
    predict fold, one coalesced task or a `row_id` hash exchange):
    partial aggregation already collapses the scan to O(#groups) rows
    per task, so the pre-aggregation exchange is pure
    shuffle cost (guide §2.4 — remove shuffles outright). Builders that
    fan out attach the unfanned projection as `_scan_twin`, either as a
    frame or as a no-argument function that builds it on first use; it
    holds the IDENTICAL row multiset (same scan, same projection, no
    repartition), so any aggregate computed over the twin is
    value-identical. Falls back to `df` itself when no twin was attached
    (arbitrary caller frames, filtered lineages — behavior unchanged)."""
    twin = getattr(df, "_scan_twin", df)
    if callable(twin):
        twin = df._scan_twin = twin()
    return twin


def footer_rows(df: DataFrame) -> int | None:
    """Exact row count of a bare (possibly projected) scan of local
    parquet files, read from the parquet footers with no Spark job
    (KB-scale metadata instead of a scan stage); None for any other
    plan shape: filters, joins, non-file relations, remote schemes."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while node.getClass().getSimpleName() == "Project":
            node = node.children().apply(0)
        paths = _local_paths(_fs_files(node) or ())
        if not paths:
            return None
        import pyarrow.parquet as _pq

        return sum(_pq.ParquetFile(p).metadata.num_rows for p in paths)
    except (Py4JError, PySparkException, OSError, ValueError):
        return None  # not parquet (pyarrow raises ArrowInvalid, a ValueError)


def fast_row_count(df: DataFrame) -> int:
    """Exact row count: `footer_rows` when `df` is a bare parquet scan
    (the count feeds plan-build decisions like N-scaled cell/plane
    counts, where a whole job of stage latency is pure glue), else
    df.count()."""
    rows = footer_rows(df)
    return df.count() if rows is None else rows


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """Hand driver-held rows to Spark as a JVM ``LocalRelation``.

    `data` is a list of tuples (or Rows), a pandas frame or a
    ``pyarrow.Table``; `schema` is a DDL string or a StructType, and the
    frame's field names, types and nullability are exactly its. The rows
    become one Arrow table typed by the schema, so the frame carries its
    real size: the planner can broadcast it and a scan starts no Python
    worker. (``createDataFrame`` on a list builds a pickled Python RDD
    whose size estimate is Long.MaxValue, and on an empty pandas frame
    it takes the same path.) Every handoff of driver state back to Spark
    in this package goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, pa.Table):
        table = data.cast(arrow_schema)
    else:
        if hasattr(data, "columns"):  # pandas, matched by column name
            columns = [data[f.name] for f in arrow_schema]
        else:
            rows = list(data)
            columns = [[r[i] for r in rows] for i in range(len(arrow_schema))]
        # from_pandas=False: a NaN double stays NaN (pandas reads it as null)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type, from_pandas=False)
             for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)


def localize(df: DataFrame) -> DataFrame:
    """Collect `df` through Arrow and return it as a ``LocalRelation``
    with the same schema: the collect-and-return handoff of the
    streaming carries, which cuts the lineage without a Python RDD."""
    return local_frame(df.sparkSession, df.toArrow(), df.schema)


# Spark's inferred schema per parquet path, with the (name, size,
# mtime_ns) of the data files it was inferred from: a rewritten file no
# longer matches, so a stale entry is re-inferred, never used.
_SCHEMAS: dict = {}


def _data_files(path: str) -> tuple:
    """(name, size, mtime_ns) of each local data file Spark reads under
    `path`; empty for a remote or missing path."""
    walk = ([(os.path.dirname(path), [], [os.path.basename(path)])]
            if os.path.isfile(path) else os.walk(path))
    out = []
    for root, dirs, files in walk:
        dirs[:] = [d for d in dirs if d[0] not in "_."]
        for full in (os.path.join(root, f) for f in files if f[0] not in "_."):
            st = os.stat(full)
            out.append((full, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read a testdata table, declaring the schema Spark inferred (one
    job) on the first read of the same files: a warm read runs no job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    # TIMESTAMP(NANOS) columns require nanosAsLong on this Spark version.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = os.path.abspath(path)
    files = _data_files(key)
    memo = _SCHEMAS.get(key)
    if files and memo and memo[0] == files:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    if files:
        _SCHEMAS[key] = (files, df.schema)
    return df


# Small collected frames, oldest first: (SparkContext, input files,
# frame, rows). The input files are `_data_files` entries for every file
# the frame reads, so a rewritten file misses, and a hit must also have
# the same semantics as the stored frame, so another plan over the same
# files misses too.
_SMALL: list = []
_SMALL_MAX = 8
_SMALL_LOCK = threading.Lock()


def _frame_files(frame: DataFrame):
    """`_data_files` entries for every input file of `frame`, or None
    when the files do not fix its rows: a leaf that is not a file scan
    (a LocalRelation, a range), a remote or missing file, or a
    nondeterministic plan."""
    try:
        if not frame._jdf.queryExecution().analyzed().deterministic():
            return None
        uris, only_files = _plan_files(frame)
        paths = _local_paths(uris) if only_files else None
        if paths is None:
            return None
        files = [entry for path in paths for entry in _data_files(path)]
    except (Py4JError, PySparkException, OSError):
        return None
    return tuple(sorted(files)) or None


def collect_small(frame: DataFrame, cap: int):
    """The collected rows of a small frame, at most `cap` + 1 of them
    (`cap` + 1 rows means "more than `cap`").

    A complete result (≤ `cap` rows) is kept, and a later call on a frame
    with the same semantics over the same unchanged files returns it
    without a job, whatever its `cap`, so callers apply their size gates
    to the result. Frames whose rows the files do not fix are collected
    every time."""
    sc = frame.sparkSession.sparkContext
    files = _frame_files(frame)
    with _SMALL_LOCK:
        _SMALL[:] = [e for e in _SMALL if e[0] is sc]
        stored = [e for e in _SMALL if e[1] == files] if files else []
    for entry in stored:
        if frame.sameSemantics(entry[2]):
            return entry[3]
    rows = frame.limit(cap + 1).collect()
    if files is not None and len(rows) <= cap:
        with _SMALL_LOCK:
            _SMALL.append((sc, files, frame, rows))
            del _SMALL[:-_SMALL_MAX]
    return rows
