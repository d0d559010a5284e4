"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is chosen for
cluster-scale behavior: AQE handles runtime re-planning (partition
coalescing, skew joins), Arrow accelerates any pandas interchange,
and shuffle partitions start at a sane local value that AQE coalesces
down (on a real cluster you would raise ``spark.sql.shuffle.partitions``
or rely on AQE's initial partition number).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "bht-etl-app-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. All settings are
    scale-motivated:

    - AQE on: runtime partition coalescing + skew-join splitting means
      one static ``shuffle.partitions`` value works from sf0.001 to 100 TB
      (where you'd set initialPartitionNum high and let AQE shrink).
    - Arrow on: pandas_udf / toPandas cross the JVM<->Python boundary in
      columnar batches, not row-by-row pickles.
    - Broadcast threshold 64 MB: dimension tables (region/nation/codebook)
      always broadcast; fact-fact joins still sort-merge.
    - Codegen cache of 1000 classes: the engine is run by re-running the
      same queries, and Spark's default cache (100 generated classes) is
      smaller than one such run, so every rerun compiled its classes
      again. At 1000 a rerun reuses them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture parquet uses TIMESTAMP(NANOS); read as long and convert
        # in load_table (Spark has no nanosecond timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # compiled classes kept across queries. One perfbench pass
        # compiles ~330 (fixture_queries) / ~170 (survey_etl) classes;
        # at the default of 100 every warm pass compiled ~330 / ~160 of
        # them again, at 1000 a warm pass compiles 0-4
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


FIXTURE_TABLES = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture parquet table (lazy scan; pushdown-friendly).

    The fixtures store timestamps as TIMESTAMP(NANOS), which Spark has
    no native type for; with ``nanosAsLong`` they surface as long
    nanoseconds. We sniff the parquet footer (driver-side, metadata
    only) and convert those columns to proper timestamps via integer
    division to microseconds — matching DuckDB's nanos->micros
    truncation so oracle comparisons line up.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # runtime-settable; makes loads work from any caller's session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Contract timezone-invariance: the caller (e.g. the correctness
    # driver) may hand us a session whose timezone is not UTC; the
    # NTZ->TIMESTAMP normalization below and every downstream
    # unix_timestamp/epoch computation would then shift by a
    # DST-varying offset. Pin UTC so results are identical no matter
    # which session runs the plan (matches DuckDB's naive reading).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    ns_cols = _nano_timestamp_cols(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # micros-precision fixtures are written without a timezone flag, so
    # Spark 4 surfaces them as TIMESTAMP_NTZ; normalize to TIMESTAMP so
    # instant functions (unix_micros, to_utc_timestamp, ...) resolve.
    # Session timezone is UTC, so the cast preserves the wall-clock
    # value and matches DuckDB's naive-timestamp reading bit-for-bit.
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _nano_timestamp_cols(path: str) -> list[str]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return out


def load_tables(spark: SparkSession, sf_dir: str, names=FIXTURE_TABLES):
    return {n: load_table(spark, sf_dir, n) for n in names}


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-local ``rows`` (tuples or lists, one
    value per column) with ``schema`` (a DDL string or a StructType).

    ``spark.createDataFrame(<list>, schema)`` parallelizes pickled rows,
    so reading the frame needs Python workers to unpickle a handful of
    rows: collecting or broadcasting it on its own is a Python-worker
    job of one task per core. Here the rows go to the JVM as one Arrow
    table, which Spark plans as a ``LocalRelation``: collecting the
    frame runs no job, and broadcasting it is a one-task JVM job. Zero
    rows give the typed empty frame.

    A row of the wrong width, or ``None`` in a non-nullable column,
    raises ``ValueError``; a value Arrow cannot convert to its column's
    type raises ``TypeError``. Both name the schema and the column.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    struct = schema if isinstance(schema, StructType) else spark._parse_ddl(schema)
    if not isinstance(struct, StructType):
        raise TypeError(f"local_frame: schema {schema!r} is not a struct")
    fields = struct.fields
    rows = [tuple(r) for r in rows]
    for i, r in enumerate(rows):
        if len(r) != len(fields):
            raise ValueError(
                f"local_frame: row {i} has {len(r)} values but schema "
                f"{struct.simpleString()} has {len(fields)} columns"
            )
    columns = list(zip(*rows)) if rows else [()] * len(fields)
    arrays = []
    for f, values in zip(fields, columns):
        if not f.nullable and None in values:
            raise ValueError(
                f"local_frame: column {f.name!r} of schema "
                f"{struct.simpleString()} is not nullable but holds None"
            )
        try:
            arrays.append(pa.array(values, type=to_arrow_type(f.dataType)))
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError, TypeError) as e:
            raise TypeError(
                f"local_frame: column {f.name!r} of schema "
                f"{struct.simpleString()}: {e}"
            ) from e
    table = pa.Table.from_arrays(arrays, names=struct.names)
    return spark.createDataFrame(table, struct)


def _source_parallelism(plan) -> int | None:
    """Structural source-parallelism estimate over a (pre-preparation)
    physical plan: how many splits feed this subtree. Joins follow the
    streamed side (a broadcast build side contributes no partitions),
    unions sum, everything else takes the max over children; file
    scans answer exactly (``inputRDD`` is the split computation Spark
    itself will run — metadata only, listing is session-cached).
    Returns None for leaves it cannot price (local relations,
    RDD-backed frames) — the caller falls back to the exact probe.
    """
    def walk(p, depth):
        if depth > 256:
            return None
        name = p.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            return p.inputRDD().getNumPartitions()
        if name == "ShuffleExchangeExec":
            # explicit repartition/repartitionByRange in the plan (the
            # only exchanges present pre-preparation): its output
            # partition count IS the frame's parallelism — walking
            # through to the source would re-price an already-
            # repartitioned frame by its scan splits and trigger a
            # redundant second shuffle (r12 ADVICE, medium)
            return p.outputPartitioning().numPartitions()
        ch = p.children()
        k = ch.size()
        if k == 0:
            # non-file leaves (InMemoryTableScanExec, BatchScanExec,
            # LocalTableScanExec, RDD-backed): fall back to the exact
            # probe — cached/local leaves are cheap to probe exactly
            return None
        if name in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
            side = 1 if p.buildSide().toString() == "BuildLeft" else 0
            return walk(ch.apply(side), depth + 1)
        vals = []
        for i in range(k):
            v = walk(ch.apply(i), depth + 1)
            if v is None:
                return None
            vals.append(v)
        return sum(vals) if name == "UnionExec" else max(vals)

    try:
        return walk(plan, 0)
    except Exception:
        return None


def ensure_min_parallelism(df, factor: int = 1):
    """Repartition a narrow scan up to the session's parallelism before
    a CPU-heavy projection (regex tokenization, shingling, hashing).

    A small parquet table is often a single file -> a single input
    split -> ONE core does all the expression work regardless of
    cluster size. At real scale the scan already has >= cores splits
    and this is a no-op (the check is driver-side metadata only), so
    the extra shuffle is paid exactly when it is cheap: on inputs small
    enough to fit in one split.

    The probe reads SOURCE parallelism off the pre-preparation
    physical plan (r12 optimization): the previous ``df.rdd``
    partition count looked exact but was anything but metadata-only —
    under AQE, converting a shuffle-bearing frame to an RDD EXECUTES
    its upstream query stages (and compiles every codegen stage), so
    each call on a composed frame cost seconds of driver/cluster time
    and the curation chain paid it per stage (measured ~10 s of the
    curated_verdicts build at sf0.1). ``sparkPlan`` is planned but
    not prepared — no exchanges yet, nothing executes — and the
    walk bottoms out at the file-scan split counts, which is the
    quantity this guard was documented to act on all along. Frames
    whose leaves it cannot price (driver-local data, RDD-backed
    boundaries) keep the exact probe — those plans are leaf-shaped,
    so the probe is cheap exactly there.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    est = _source_parallelism(df._jdf.queryExecution().sparkPlan())
    n = est if est is not None else df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df
