"""The streaming twins hand their driver-held carry back to Spark as an
Arrow-built JVM LocalRelation (`sources.tables.local_frame`), never a
pickled Python RDD: the empty carry of all four twins, and the carry
returned by one gapfill, cdc and unwrap increment. Bit-equality of the
handoff to the registered batch queries is the fast 3-split case of each
twin's parity test."""

from codex_africanus_spark.operators import unwrap as unwrap_op
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.streaming import cdc as scdc
from codex_africanus_spark.streaming import gapfill as sgap
from codex_africanus_spark.streaming import salted as ssalt
from codex_africanus_spark.streaming import unwrap as sunwrap

from tests.test_local_frame import assert_local_relation
from tests.test_streaming_cdc import _build_dim


def _assert_carry(carry, twin):
    """A LocalRelation typed like the twin's declared CARRY_SCHEMA (the
    schema the sinks reload the parquet carry with)."""
    assert_local_relation(carry)
    declared = carry.sparkSession.createDataFrame([], twin.CARRY_SCHEMA).schema
    assert [(f.name, f.dataType) for f in carry.schema] == [
        (f.name, f.dataType) for f in declared
    ]


def test_empty_carries_are_local_relations(spark):
    for twin in (sgap, scdc, sunwrap, ssalt):
        _assert_carry(twin.empty_carry(spark), twin)


def test_gapfill_carry_is_local_relation(spark, sf_dir):
    ev = tpch_ms.events_table(spark, sf_dir)
    _, carry = sgap.gap_fill_increment(ev, sgap.empty_carry(spark))
    _assert_carry(carry, sgap)


def test_cdc_carry_is_local_relation(spark, sf_dir, tmp_path):
    ev = tpch_ms.events_table(spark, sf_dir)
    root = str(tmp_path / "dim")
    _build_dim(spark, ev, root)
    _, carry = scdc.cdc_dim_increment(ev, scdc.empty_carry(spark), root)
    _assert_carry(carry, scdc)


def test_unwrap_carry_is_local_relation(spark, sf_dir):
    ph = unwrap_op.phase_frame(tpch_ms.vis_table(spark, sf_dir))
    _, carry = sunwrap.phase_unwrap_increment(ph, sunwrap.empty_carry(spark))
    _assert_carry(carry, sunwrap)
