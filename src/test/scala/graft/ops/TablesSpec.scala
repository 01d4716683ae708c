package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Try

/** The schema-adaptive `Tables.tsUs` contract — the helper that ended
  * the round-8 events.ts regression: the same epoch-micros come out
  * whether the driver ships `ts` as BIGINT epoch-nanos or as parquet
  * timestamp[us] (TIMESTAMP_NTZ), and any OTHER physical type fails
  * loudly at load instead of ten queries deep.
  *
  * Also [[Tables.readParquet]]'s schema memo: a repeat read of an
  * unchanged table skips Spark's schema-inference job, and anything that
  * can change the inferred schema — the table's files or a parquet conf
  * — is part of the memo key, so it is inferred afresh.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // positive epochs only — the data contract (nanos BIGINT would
  // overflow a Long for ancient dates anyway)
  private val usValues = Seq(0L, 1L, 1700000000123456L)

  test("BIGINT epoch-nanos and TIMESTAMP_NTZ micros land on the same ts_us") {
    val asLong = usValues.map(us => Tuple1(us * 1000L)).toDF("ts")
    val asNtz = usValues.map(Tuple1(_)).toDF("us")
      .select(timestamp_micros($"us").cast("timestamp_ntz").as("ts"))
    val fromLong = asLong.select(Tables.tsUs(asLong).as("ts_us"))
      .as[Long].collect().toSeq
    val fromNtz = asNtz.select(Tables.tsUs(asNtz).as("ts_us"))
      .as[Long].collect().toSeq
    assert(fromLong === usValues)
    assert(fromNtz === usValues) // session is pinned UTC in SparkSpec
  }

  test("nanos floor-divide: sub-microsecond precision truncates like the oracle") {
    val df = Seq(Tuple1(1999L), Tuple1(-1L)).toDF("ts")
    val got = df.select(Tables.tsUs(df).as("u")).as[Long].collect().toSeq
    // SQL `div` truncates toward zero on the positive value and DuckDB
    // epoch_us sees the already-truncated parquet micros; negatives
    // do not occur in the data contract but must not crash
    assert(got.head === 1L)
  }

  test("any other physical type for ts fails loudly at load") {
    val df = Seq(Tuple1("2024-01-01")).toDF("ts")
    val e = intercept[IllegalArgumentException] { Tables.tsUs(df) }
    assert(e.getMessage.contains("schema drift"), e.getMessage)
  }

  private def tmpDir(): String = Files.createTempDirectory("graft-tables").toString

  test("a second read of an unchanged table runs no job and still scans the data") {
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = JobCount(spark)(Tables.t(spark, dir, "t"))
    assert(firstJobs > 0, "the first read infers the schema")
    val (again, againJobs) = JobCount(spark)(Tables.t(spark, dir, "t"))
    assert(againJobs === 0)
    assert(again.schema === first.schema)
    assert(again.as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("rewriting the table at the same path with a different schema returns the new schema") {
    val dir = tmpDir()
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/t.parquet")
    assert(Tables.t(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    Seq((2.5, true, 7)).toDF("x", "y", "z").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val re = Tables.t(spark, dir, "t")
    assert(re.columns.toSeq === Seq("x", "y", "z"))
    assert(re.as[(Double, Boolean, Int)].collect().toSeq === Seq((2.5, true, 7)))
  }

  test("flipping nanosAsLong re-infers the type of a nanosecond timestamp") {
    // events_ts_nanos.parquet: one row (id, ts) with ts a parquet
    // INT64 TIMESTAMP(NANOS), the type the flag reads as BIGINT (written
    // by pyarrow: pq.write_table(t, path, version="2.6") with a
    // pa.timestamp("ns") column)
    val dir = tmpDir()
    Files.copy(Paths.get(resourcePath("events_ts_nanos.parquet")),
      Paths.get(dir, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(key)
    def tsType() = Try(Tables.t(spark, dir, "events").schema("ts").dataType)
    try {
      spark.conf.set(key, "true")
      assert(tsType().toOption === Some(LongType))
      val (_, warm) = JobCount(spark)(tsType())
      assert(warm === 0)
      spark.conf.set(key, "false")
      val (flipped, flippedJobs) = JobCount(spark)(tsType())
      assert(flipped.toOption !== Some(LongType), "the memoised BIGINT schema leaked")
      assert(flippedJobs > 0, "the flipped conf did not re-infer")
    } finally spark.conf.set(key, was)
  }
}
