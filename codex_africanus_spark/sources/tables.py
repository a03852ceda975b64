"""Parquet scan helpers for the driver's testdata star schema, and the
one place that knows which files a frame reads.

At 100 TB these reads are the entry point for partition pruning and
column pruning — always `.select()` the needed columns immediately so
Catalyst pushes projection into the parquet scan (ReadSchema), and pass
filters early so they appear in PushedFilters.

Every size gate, memo key and index fingerprint reads a frame's files
through four primitives, with no Spark job: `_plan_files` walks the
analyzed plan's file-scan leaves, `_data_files` stats local files,
`footer_sum` reads parquet footers and `source_fingerprint` digests a
file set. Two stat sources stay on purpose: index metas store
`source_fingerprint`'s Hadoop `FileStatus` digest, whose bytes must not
change, on any scheme; the in-process memo keys keep `os.stat`'s
nanosecond mtimes, so a rewrite within the same millisecond misses.
"""

from __future__ import annotations

import hashlib
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
    `row_groups`, keep `df` as it is. Only a frame whose every leaf scans
    local files (`frame_files`) fans out.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    # NOTE: df.rdd.getNumPartitions() would trigger an eager job under AQE;
    # the file listing reads only the file index. Single-file (= single-
    # row-group testdata) sources fan out; many-file sources are already
    # split.
    files = frame_files(df)
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
    mpb = (
        df.sparkSession._jsparkSession.sessionState().conf()
        .filesMaxPartitionBytes()
    )
    # cap by the real row-group count (`row_groups`): one giant row group
    # is ONE split whatever the byte math says — exactly the driver-
    # testdata layout this exchange exists for
    if (-(-sum(size for _, size, _ in files) // mpb) >= 8
            and (row_groups(df) or 0) >= 8):
        return df
    # idempotence: the listing still reports the source file after a
    # repartition, so a second fan_out of a composed frame must not stack
    # another full exchange of the fact rows.
    if _plan_has_repartition(df, target):
        return df
    return df.repartition(target)


def _plan_files(df: DataFrame) -> tuple[list, bool, bool]:
    """(the file URIs the file-scan leaves of `df`'s analyzed plan read,
    whether every leaf is such a scan, whether the plan is a bare scan:
    a chain of ``Project`` over one leaf).

    The only code that reads a frame's leaves. The listing comes from
    each relation's file index, as `DataFrame.inputFiles` does, without
    optimizing the plan, so partition filters do not prune it."""
    node = df._jdf.queryExecution().analyzed()
    name = node.nodeName()
    while name == "Project":
        node = node.child()
        name = node.nodeName()
    if name == "LogicalRelation":  # always a leaf
        leaves, bare = [node], True
    else:
        found = node.collectLeaves()
        leaves, bare = [found.apply(i) for i in range(found.size())], False
    files, only_files = [], True
    for leaf in leaves:
        rel = leaf.relation() if leaf.nodeName() == "LogicalRelation" else None
        if rel is None or rel.getClass().getSimpleName() != "HadoopFsRelation":
            only_files = False
        else:
            files += rel.location().inputFiles()
    return list(dict.fromkeys(files)), only_files, bare


def _local_files(uris) -> tuple | None:
    """`_data_files` entries of the file URIs Spark reports, sorted; None
    when there is none, or one is remote or missing."""
    files = []
    for uri in uris:
        url = urlparse(uri)
        local = url.scheme in ("", "file")
        found = _data_files(unquote(url.path)) if local else ()
        if not found:
            return None
        files += found
    return tuple(sorted(files)) or None


def frame_files(frame: DataFrame) -> tuple | None:
    """`_data_files` entries of every file under `frame`'s scans; None
    when a leaf of its analyzed plan is not a scan of local files (a
    ``LocalRelation``, a foreachBatch micro-batch's RDD, a remote
    scheme). The size gates sum its sizes; `collect_small` keys on it."""
    try:
        uris, only_files, _ = _plan_files(frame)
        return _local_files(uris) if only_files else None
    except (Py4JError, PySparkException, OSError):
        return None


def footer_sum(paths, field: str) -> int:
    """The sum of parquet footer field `field` (``num_rows``,
    ``num_row_groups``) over the data files at `paths`, files or
    directories (`_data_files`), with no Spark job; raises OSError, or
    ValueError for a file that is not parquet (ArrowInvalid)."""
    import pyarrow.parquet as _pq

    return sum(
        getattr(_pq.ParquetFile(f).metadata, field)
        for p in paths for f, _, _ in _data_files(p)
    )


def row_groups(df: DataFrame) -> int | None:
    """The total parquet row groups of `frame_files(df)`, from the
    footers with no Spark job; None when any leaf is not a scan of local
    parquet files.

    Operators above the leaves, such as filters and projections, do not
    change it. A row group is the unit one scan task reads, so 1 means
    that one task reads every row `df` derives from its scans."""
    paths = [f for f, _, _ in frame_files(df) or ()]
    try:
        return footer_sum(paths, "num_row_groups") if paths else None
    except (OSError, ValueError):
        return None


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
    parquet files (`_plan_files`), read from the parquet footers with no
    Spark job (KB-scale metadata instead of a scan stage); None for any
    other plan shape: filters, joins, non-file relations, remote schemes."""
    try:
        uris, only_files, bare = _plan_files(df)
        files = _local_files(uris) if only_files and bare else None
        paths = [f for f, _, _ in files or ()]
        return footer_sum(paths, "num_rows") if paths else None
    except (Py4JError, PySparkException, OSError, ValueError):
        return None


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
    """(path, size, mtime_ns) of each local data file Spark reads at
    `path`, a file or a directory (names that start with ``_`` or ``.``
    are not data), sorted; empty for a remote or missing path. The one
    `os.stat` of the module: memo keys compare these entries."""
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
# frame, rows). The input files are the frame's `frame_files`, so a
# rewritten file misses, and a hit must also have the same semantics as
# the stored frame, so another plan over the same files misses too.
_SMALL: list = []
_SMALL_MAX = 8
_SMALL_LOCK = threading.Lock()


def collect_small(frame: DataFrame, cap: int):
    """The collected rows of a small frame, at most `cap` + 1 of them
    (`cap` + 1 rows means "more than `cap`").

    A complete result (≤ `cap` rows) is kept, and a later call on a frame
    with the same semantics over the same unchanged files returns it
    without a job, whatever its `cap`, so callers apply their size gates
    to the result. Frames whose rows the files do not fix are collected
    every time: a nondeterministic plan, or one that `frame_files`
    does not cover."""
    sc = frame.sparkSession.sparkContext
    try:
        fixed = frame._jdf.queryExecution().analyzed().deterministic()
    except (Py4JError, PySparkException):
        fixed = False
    files = frame_files(frame) if fixed else None
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


def source_fingerprint(frame: DataFrame) -> str | None:
    """Driver-side staleness signal of the persisted indexes: a sha256
    digest of the sorted ``uri|length|mtime`` of the files under
    `frame`'s scans (`_plan_files`), stated through Hadoop's FileStatus:
    no Spark job, and any scheme. Parquet files are immutable, so an
    unchanged file-set implies an unchanged corpus. None when the frame
    has no file-based lineage (callers then fall back to the deep
    content fingerprint). Callers passing a FILTERED view of the files
    should use deep_check=True: this identifies the files, not a
    derived row-set."""
    uris = sorted(_plan_files(frame)[0])
    if not uris:
        return None
    spark = frame.sparkSession
    hconf = spark._jsc.hadoopConfiguration()
    parts = []
    for uri in uris:
        p = spark._jvm.org.apache.hadoop.fs.Path(uri)
        st = p.getFileSystem(hconf).getFileStatus(p)
        parts.append(f"{uri}|{st.getLen()}|{st.getModificationTime()}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()
