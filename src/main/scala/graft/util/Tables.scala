package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.storage.StorageLevel

/** Loaders for the driver-generated corpus (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst can push filters and
  * prune columns down to the file source. A few session confs are set
  * idempotently here so the queries behave identically no matter who
  * constructed the SparkSession (our Verify/Bench mains or the driver):
  *  - UTC session timezone (oracle parity with DuckDB's naive timestamps)
  *  - nanosAsLong: kept for corpora where `events.ts` is parquet
  *    TIMESTAMP(NANOS), which Spark does not support natively; with it
  *    set, a nanos column arrives as a plain long.
  *
  * The corpus has shipped `events.ts` under two different physical
  * encodings across regenerations (TIMESTAMP(NANOS) → long via the
  * legacy conf; TIMESTAMP(MICROS) → TimestampType/NTZ), so nothing in
  * the query surface may assume one: derive the epoch-µs view via
  * [[tsMicros]] / [[loadEvents]], which branch on the loaded type.
  * This mirrors the reference's drift-aware schema discipline — it
  * re-checks schemas on every schema-key change
  * (DatastreamEventReader.java:652-674) rather than trusting wire
  * stability; we apply the same rule to our own corpus seam.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Epoch-microsecond (long) view of `events.ts`, adaptive to the
    * corpus's physical encoding. Long = legacy nanos read → floor-div;
    * timestamp(_ntz) = micros → unix_micros (the NTZ cast is an
    * identity on the underlying micros under the UTC session timezone
    * that [[load]] pins). Matches the DuckDB oracle's
    * `epoch_ns(ts)//1000` on every encoding.
    */
  def tsMicros(schema: StructType): Column = schema("ts").dataType match {
    case LongType         => expr("ts div 1000")
    case TimestampType    => unix_micros(col("ts"))
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case other => throw new IllegalStateException(
      s"events.ts has unexpected type $other — expected long (nanos) or timestamp (micros); " +
        "extend graft.util.Tables.tsMicros for the new corpus encoding")
  }

  /** The `events` table plus `ts_us` (long, µs epoch) regardless of the
    * corpus's timestamp encoding. All batch consumers of events go
    * through here; streaming consumers reuse [[tsMicros]] against the
    * batch-loaded schema. */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val df = load(spark, sfDir, "events")
    df.withColumn("ts_us", tsMicros(df.schema))
  }
}

/** Column helpers shared by the query surface.
  *
  * Oracle-determinism strategy: double-typed source columns are cast to
  * DECIMAL(18,4) before any arithmetic/aggregation so that Spark and the
  * DuckDB oracle perform the exact same (exact, order-independent)
  * decimal arithmetic; averages/ratios are then computed as a single
  * IEEE double division of identical operands. This removes
  * floating-point summation-order nondeterminism from the hash compare.
  */
object Cols {
  /** Exact fixed-point view of a double column. */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Canonical output type for decimal aggregates (matches DuckDB's
    * SUM(DECIMAL(18,4)) result type). */
  def big4(c: Column): Column = c.cast(DecimalType(38, 4))
}

/** Scoped caching of a micro-batch that several actions read. */
object Persist {
  /** Run `f` over `df` persisted (memory and disk), unpersisting after —
    * unless `df` is already persisted, in which case its owner keeps
    * the cache and unpersists it. */
  def scoped[T](df: DataFrame)(f: DataFrame => T): T =
    if (df.storageLevel != StorageLevel.NONE) f(df)
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      try f(p) finally { p.unpersist(); () }
    }
}

/** Scale-dependent streaming knobs, parameterised per the optimization
  * guide's rule that a constant tuned for one deployment must not be
  * baked into the operator: streaming state-store partition counts
  * (which pin each stateful query's state layout at its FIRST run)
  * default to a local-mode value and read
  * `SPARK_GRAFT_STATE_PARTITIONS` for cluster deployments — at scale
  * the right number tracks state size (100 MB–1 GB per partition),
  * not driver core count. The env override leaves the driver's bench
  * (which never sets it) byte-identical. */
object StreamConf {
  val StatePartitionsVar = "SPARK_GRAFT_STATE_PARTITIONS"

  def statePartitions(default: Int): Int =
    parseStatePartitions(sys.env.get(StatePartitionsVar), default)

  /** `raw` is the variable's value, None when unset. Any set value —
    * empty or whitespace-only included — must be a positive integer:
    * fail fast with the variable named, since a malformed value would
    * otherwise surface as an opaque NumberFormatException, fall back
    * to the default unnoticed, or pin a broken state layout at the
    * query's first run. */
  def parseStatePartitions(raw: Option[String], default: Int): Int =
    raw.map(_.trim) match {
      case None => default
      case Some(v) =>
        val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"$StatePartitionsVar must be a positive integer, got '$v'"))
        require(n > 0, s"$StatePartitionsVar must be > 0, got $n")
        n
    }
}
