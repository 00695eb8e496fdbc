"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes parallelism per operator
(``src/graph/service/GraphFlags.cpp:27-28`` — worker threads, operator
threads). Under Spark that knob surface collapses into a handful of session
configs; everything else (partial aggregation, pipelining, spill) is
automatic. Defaults below are chosen for the local[32]/128GiB test harness
but every one of them scales to a real cluster: AQE re-plans shuffles at
runtime, coalesces small partitions, and rewrites skewed joins — exactly the
machinery you want at 100 TB where static planning is always wrong.
"""

from __future__ import annotations

import os
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ArrayType, DataType, MapType, StructField,
                               StructType, TimestampType,
                               _parse_datatype_string)

# Arrow makes pandas_udf / mapInPandas / toPandas batch-transfer instead of
# pickling row-at-a-time; non-negotiable for the pipeline operators. It is
# also how literal rows reach the JVM: local_frame hands driver-side rows
# (vid lists, DML keys, INSERT rows, result tables) over as one Arrow table,
# which Spark keeps as a LocalRelation — scanned in the JVM and sized by
# Catalyst — instead of a Python RDD.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    # reference null-normalization semantics (SURVEY §1.1): engine errors
    # (div-by-zero, bad casts, overflow) fold to NULL like the reference's
    # typed-null Values, instead of raising as Spark 4's ANSI default does.
    # The strict_nulls() context flips this back on per-block.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # at sf0.1 (~600k lineitem) 32 shuffle partitions keeps each post-shuffle
    # partition comfortably in memory; on a real cluster AQE coalesces from
    # a deliberately-high initial number instead.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # the events table is written with TIMESTAMP(NANOS) which the vectorized
    # parquet reader rejects; read as long and convert (catalog.load_tables)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # r11: PySpark's call-site origin capture for error enrichment wraps
    # EVERY DataFrame API call with ~4 extra py4j roundtrips plus a Python
    # stack walk (pyspark/errors/utils.py _with_origin). The nGQL front
    # end issues thousands of Column/DataFrame calls per statement, all
    # driver-side — disabling the debug origin measured 0.96 s → 0.35 s
    # on the MATCH-2hop build phase (2.8×) and is machine-size
    # independent (pure driver overhead). Cost: JVM errors lose the
    # "== DataFrame ==" Python call-site section; engine refusals carry
    # their own reference-style messages, so nothing user-facing changes.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # r12 (ADVICE r11, guide §3.1): SMJ→SHJ rewrites are left to AQE
    # ONLY. The r11 static preference flip
    # (preferSortMergeJoin=false) let the STATIC planner pick
    # shuffled-hash from size ESTIMATES — a misestimated or skewed
    # build side that doesn't fit executor memory is an OOM at scale,
    # and the flip's local win did not survive a quiet-box interleaved
    # A/B this round (static-SMJ 8.30 s vs static-SHJ 8.77 s over the 6
    # join-bearing lanes; per-lane mins within noise). The AQE rewrite
    # below uses REAL post-shuffle partition sizes with the same 64 MB
    # bound as the broadcast threshold, so every SHJ it plans is
    # runtime-size-verified — the sort-skipping win where it is safe,
    # sort-merge's graceful spill everywhere else.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
        str(64 * 1024 * 1024),
}


from contextlib import contextmanager


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side rows as a DataFrame backed by a JVM ``LocalRelation``.

    ``createDataFrame(<list>)`` parallelizes the rows into a Python RDD:
    Spark plans it as ``Scan ExistingRDD``, every scan runs
    ``defaultParallelism`` tasks through Python workers, and the
    ``LogicalRDD`` has no size estimate, so every join against it is
    planned as a sort-merge join that shuffles the other side. Handed an
    Arrow table instead, Spark's ``ArrowConverters.toDataFrame`` builds a
    ``LocalRelation`` (above
    ``spark.sql.execution.arrow.localRelationThreshold`` a JVM-only Arrow
    batch RDD): no Python worker scans it, and Catalyst sizes it and
    broadcasts it when small — the reference ships literal vid lists and
    mutation keys inside the storage request the same way.

    ``schema`` is a ``StructType``, a DDL string, or a list of column
    names; names infer the types exactly as ``createDataFrame`` does (so
    empty rows need a typed schema). Values convert as on the list route:
    a naive ``datetime`` in a TIMESTAMP column is Python-local time, as
    ``collect()`` hands it out."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = [tuple(r) for r in rows]
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    elif not isinstance(schema, StructType):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    # nested fields go in nullable: PySpark's Arrow timestamp pass rebuilds
    # nested struct arrays without their NOT NULL flags, and then fails to
    # cast them back
    schema = StructType([StructField(f.name, _nullable(f.dataType),
                                     f.nullable) for f in schema.fields])
    arrow = to_arrow_schema(schema)
    cols = []
    for i, f in enumerate(schema.fields):
        conv = _arrow_value(f.dataType)
        vals = [r[i] for r in rows]
        cols.append(pa.array(list(map(conv, vals)) if conv else vals,
                             type=arrow.field(i).type))
    return spark.createDataFrame(
        pa.Table.from_arrays(cols, schema=arrow), schema)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every nested field, element and map value nullable."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType))
                           for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def _arrow_value(dt: DataType):
    """A converter making a Python value of Spark type ``dt`` read as the
    same instant through ``pyarrow.array``, or None when it passes as is.
    TIMESTAMP values, wherever they nest, become UTC: a naive one is read
    in the process-local zone, as the list route's ``time.mktime`` does
    (pyarrow would read its wall clock as UTC)."""
    def nulls(conv):
        return lambda v: None if v is None else conv(v)
    if isinstance(dt, TimestampType):
        return nulls(lambda v: v.astimezone(timezone.utc))
    if isinstance(dt, ArrayType):
        el = _arrow_value(dt.elementType)
        if el:
            return nulls(lambda v: [el(x) for x in v])
    if isinstance(dt, MapType):
        kc, vc = _arrow_value(dt.keyType), _arrow_value(dt.valueType)
        if kc or vc:
            kc, vc = kc or (lambda k: k), vc or (lambda x: x)
            return nulls(lambda v: [(kc(k), vc(x)) for k, x in v.items()])
    if isinstance(dt, StructType):
        fcs = [_arrow_value(f.dataType) for f in dt.fields]
        if any(fcs):
            return nulls(lambda v: tuple(c(x) if c else x
                                         for c, x in zip(fcs, v)))
    return None


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Temporarily set runtime SQL confs around a block of *actions*.

    Spark reads SQL confs when a query compiles to a physical plan (action
    time), so this only affects jobs actually executed inside the block —
    lazily-returned frames materialized by the caller see the restored
    values. Used to disable whole-stage codegen around md5-heavy iterative
    operators: their per-superstep plans recompile generated code every
    iteration, where compile latency (~hundreds of ms per 64-expression
    hash tree) dwarfs the fusion win.
    """
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


@contextmanager
def strict_nulls(spark: SparkSession):
    """Opt-in strict mode for the reference's typed-null error kinds
    (``src/common/datatypes/Value.h:37-46``).

    The reference distinguishes 8 null kinds; Spark has one ``null``. Our
    default mode normalizes every error kind to plain NULL (documented
    deviation, SURVEY §1.1). Under ``strict_nulls`` the error kinds that
    the reference *raises or surfaces* become Spark ANSI runtime errors —
    materialize results inside the context for it to apply:

    ========================  =====================================
    reference null kind       strict mode (Spark ANSI) behavior
    ========================  =====================================
    DIV_BY_ZERO (1/0, 2%0)    raises DIVIDE_BY_ZERO / REMAINDER…
    ERR_OVERFLOW (MAX*-2)     raises ARITHMETIC_OVERFLOW
    BAD_DATA ((INT)"abc")     raises CAST_INVALID_INPUT
    BAD_TYPE                  raises NUMERIC_VALUE_OUT_OF_RANGE /
                              cast errors where Spark types catch it
    OUT_OF_RANGE              raises (ANSI array index / sequence)
    __NULL__, UNKNOWN_PROP    stay NULL in both modes (reference
                              also folds these to printable NULL)
    NaN                       stays NaN (IEEE, both engines)
    ========================  =====================================

    The reference raises its errors at validation/plan time for constant
    expressions (``yield.feature:505`` "Divide by 0"); Spark folds
    constants in the optimizer, so the same queries raise at first action
    instead — same observable outcome for a caller that materializes.
    """
    with scoped_conf(spark, **{"spark.sql.ansi.enabled": "true"}):
        yield


def get_spark(app_name: str = "nebula_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the session.

    Master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same code path serves tests, bench, and a real cluster (where
    ``spark.master`` is injected by the cluster manager and the local default
    is ignored because a session already exists).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
