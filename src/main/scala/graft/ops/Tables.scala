package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType,
  TimestampType}

/** Parquet loaders for the driver test tables plus the numeric parity
  * helpers shared by every oracle-checked query.
  *
  * Parity rule: any aggregated double goes through
  * `DECIMAL(28,6)` so Spark and the DuckDB oracle both do exact decimal
  * arithmetic (order-independent) and cast the *same* decimal back to
  * double — bit-identical results regardless of partitioning/merge
  * order. Plain double `SUM` would differ at ulp level between engines
  * (different add order) and break the driver's hash compare.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** The table `name` under `dir`, read through [[readParquet]]. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // catalog queries may run on a caller-provided session that lacks
    // the extensions config — install the custom functions idempotently
    graft.GraftExtensions.ensureRegistered(spark)
    readParquet(spark, s"$dir/$name.parquet")
  }

  private case class SchemaKey(path: String, length: Long, mtime: Long,
      confs: Seq[(String, String)])
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** `spark.read.parquet(path)` without the schema-inference job on
    * repeat reads. Spark infers a parquet schema with one job per read
    * (it merges the footers in parallel), ~100 ms warm; this memoises
    * the inferred `StructType` and passes it back through
    * `read.schema`, which reads with 0 jobs. Only metadata is memoised:
    * every call still scans the data.
    *
    * The memo key is the path, its length and modification time (for
    * a directory: the summed length and latest modification time of
    * its files, and the directory's own), and the session's confs whose
    * name contains `parquet` — `spark.sql.legacy.parquet.nanosAsLong`,
    * for one, changes the type inferred for `events.ts`. A rewritten
    * file or a flipped conf is a new key, so it is inferred afresh.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stat = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    stat match {
      // a missing path fails inside Spark, with Spark's own error
      case None => spark.read.parquet(path)
      case Some(st) =>
        var (length, mtime) = (st.getLen, st.getModificationTime)
        if (st.isDirectory) {
          val files = fs.listFiles(p, true)
          while (files.hasNext) {
            val f = files.next()
            length += f.getLen
            mtime = math.max(mtime, f.getModificationTime)
          }
        }
        val confs = spark.conf.getAll.toSeq
          .filter(_._1.toLowerCase(java.util.Locale.ROOT).contains("parquet")).sorted
        val key = SchemaKey(path, length, mtime, confs)
        Option(schemas.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, df.schema)
            df
        }
    }
  }

  /** Schema-adaptive epoch-microseconds for the events `ts` column.
    *
    * The driver has shipped `events.ts` both as BIGINT epoch-nanos
    * (read via the legacy nanosAsLong flag) and — since the round-8
    * testdata regeneration — as parquet timestamp[us] (Spark
    * TIMESTAMP_NTZ). A real engine reads the schema it is given, so
    * this adapts; any OTHER physical type fails loudly here, at load,
    * instead of ten queries deep. The NTZ wall clock is UTC by the
    * data contract and every session in this repo pins
    * spark.sql.session.timeZone=UTC, so the cast to TIMESTAMP is
    * value-preserving; the DuckDB oracles read the same values via
    * epoch_us(ts). Works on batch and streaming DataFrames alike.
    */
  def tsUs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case TimestampNTZType | TimestampType =>
      unix_micros(col("ts").cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"events.ts: expected BIGINT epoch-nanos or TIMESTAMP[_NTZ] " +
        s"micros, got ${other.sql} — testdata schema drift?")
  }

  /** The events table with a schema-adaptive epoch-micros `ts_us`
    * LongType column appended. Downstream `select`s prune the raw
    * `ts`; integer day arithmetic stays exact via `ts_us div ...`. */
  def eventsTsUs(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    e.withColumn("ts_us", tsUs(e))
  }

  private val Dec = DecimalType(28, 6)

  /** Exact (decimal-routed) sum of a double expression, as double. */
  def dsum(e: Column): Column = sum(e.cast(Dec)).cast("double")

  /** Exact average: decimal sum divided by count, as double. */
  def davg(e: Column): Column = sum(e.cast(Dec)).cast("double") / count(lit(1))

  /** Exact per-row decimal rounding of a double expression (6 dp). */
  def dcol(e: Column): Column = e.cast(Dec).cast("double")
}
