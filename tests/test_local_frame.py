"""`sources.tables.local_frame` is the package's one way to hand
driver-held rows back to Spark: an Arrow-built JVM LocalRelation with
real size stats, never a pickled Python RDD. Values must round-trip
bit-for-bit, the frame's schema must be exactly the declared one, and no
other module, bench.py or bench tool may call ``createDataFrame``."""

import ast
import json
import math
import pathlib
import struct

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.types import StructType

from codex_africanus_spark.sources.tables import local_frame, localize

PKG = pathlib.Path(__file__).resolve().parent.parent / "codex_africanus_spark"

DDL = (
    "k long not null, x double, s string, v array<double>, i int"
)
LMAX = 2**63 - 1
SUBNORMAL = 5e-324
ROWS = [
    (LMAX, -0.0, "ß∂ƒ ☃ 雪", [SUBNORMAL, -0.0, math.nan], 2**31 - 1),
    (-LMAX, math.nan, None, None, None),
    (0, SUBNORMAL, "", [], -(2**31)),
    (-(2**63), math.inf, "x", [-math.inf, 1e308], 0),
]


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan()


def assert_local_relation(df):
    """The optimized plan is a bare LocalRelation with a finite size."""
    plan = _plan(df)
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    assert int(plan.stats().sizeInBytes()) < 2**63 - 1


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def _canon(rows):
    """Rows with every double replaced by its IEEE-754 bit pattern, so
    -0.0, NaN payloads and subnormals compare exactly."""
    out = []
    for k, x, s, v, i in rows:
        out.append((k, _bits(x), s, None if v is None else [_bits(e) for e in v], i))
    return out


@pytest.mark.parametrize("kind", ["list", "pandas", "arrow"])
def test_local_frame_round_trips_bit_exact(spark, kind):
    schema = spark.createDataFrame([], DDL).schema  # reference only
    if kind == "list":
        data = ROWS
    elif kind == "pandas":
        data = pd.DataFrame(ROWS, columns=["k", "x", "s", "v", "i"]).astype(
            {"i": "Int32"}
        )
    else:
        data = pa.Table.from_pylist(
            [dict(zip(["k", "x", "s", "v", "i"], r)) for r in ROWS]
        )
    df = local_frame(spark, data, DDL)
    assert_local_relation(df)
    assert df.schema == schema
    # the JVM's view of the schema too, not just the Python-side copy
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == schema
    got = [tuple(r) for r in df.orderBy("k").collect()]
    want = sorted(ROWS, key=lambda r: r[0])
    assert _canon(got) == _canon(want)


def test_local_frame_empty_keeps_schema(spark):
    for ddl in (DDL, "a int, b string"):
        df = local_frame(spark, [], ddl)
        assert_local_relation(df)
        assert df.schema == spark.createDataFrame([], ddl).schema
        assert df.count() == 0
    empty_pdf = pd.DataFrame({"a": pd.Series([], dtype="int32"),
                              "b": pd.Series([], dtype=object)})
    assert_local_relation(local_frame(spark, empty_pdf, "a int, b string"))


def test_local_frame_is_broadcastable(spark):
    """A frame that used to plan as a Python RDD (size Long.MaxValue) is
    now small enough for the planner to broadcast on its own."""
    small = local_frame(spark, [(i, float(i)) for i in range(50)],
                        "k long, w double")
    big = spark.range(20_000).withColumnRenamed("id", "k")
    plan = big.join(small, "k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_localize_cuts_lineage_and_keeps_schema(spark):
    src = spark.range(100).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) / 7 AS w", "-CAST(0 AS DOUBLE) AS z"
    )
    out = localize(src.filter("k % 3 = 0"))
    assert_local_relation(out)
    assert out.schema == src.schema
    assert sorted(r.k for r in out.collect()) == list(range(0, 100, 3))
    want = src.filter("k % 3 = 0").orderBy("k").collect()
    got = out.orderBy("k").collect()
    assert [(_bits(r.w), _bits(r.z)) for r in got] == [
        (_bits(r.w), _bits(r.z)) for r in want
    ]
    assert all(math.copysign(1.0, r.z) < 0 for r in got)


def test_create_dataframe_only_inside_local_frame():
    """AST scan of the package, bench.py and tools/: `createDataFrame` is
    called in exactly one place, the body of `sources.tables.local_frame`."""
    root = PKG.parent
    calls = []
    scripts = [root / "bench.py", *(root / "tools").glob("*.py")]
    for path in sorted([*PKG.rglob("*.py"), *scripts]):
        tree = ast.parse(path.read_text(), filename=str(path))
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(id(node), fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                rel = path.relative_to(root).as_posix()
                calls.append((rel, owner.get(id(node))))
    assert calls == [
        ("codex_africanus_spark/sources/tables.py", "local_frame")
    ], calls


def test_env_read_only_for_deployment_settings():
    """AST scan of the package: `os.environ` / `os.getenv` are read only
    for deployment settings — the session's cores and driver memory and
    the default testdata directory. A tier gate is a module constant,
    never an env knob."""
    reads = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        parent = {
            id(child): node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
                use = parent[id(node)]
                if isinstance(use, ast.Attribute):  # os.environ.get(...)
                    use = parent[id(use)]
                if isinstance(use, ast.Subscript):
                    arg = use.slice
                elif isinstance(use, ast.Call) and use.args:
                    arg = use.args[0]
                else:
                    arg = None
                key = arg.value if isinstance(arg, ast.Constant) else None
                reads.add((path.relative_to(PKG).as_posix(), key))
    assert reads == {
        ("session.py", "SPARK_GRAFT_CPUS"),
        ("session.py", "SPARK_DRIVER_MEMORY"),
        ("sources/tables.py", "SPARK_GRAFT_SF_DIR"),
    }, reads
