package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local SparkSession across all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Filesystem path of a classpath test resource (src/test/resources). */
  def resourcePath(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/$name").toURI).toString
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    .getOrCreate()
}
