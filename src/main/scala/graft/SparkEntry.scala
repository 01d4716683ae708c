package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's full operator catalog (one entry per
  * SURVEY.md §2 inventory row plus the LLM-pipeline extensions);
  * `oracleSql` carries each query's DuckDB twin for the driver's
  * hash-compare at sf0.01.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The reference's core computation: closed-form interval
    * stitch of an aligned-reads graph (one contig per document).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q72_stitch_contigs")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.defs ++ Dedup.defs ++ Similarity.defs ++ Text.defs ++
      Multimodal.defs ++ GenomicsCatalog.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Dedup.oracles ++ Similarity.oracles ++
      Text.oracles ++ Multimodal.oracles ++ GenomicsCatalog.oracles

  /** The one session every catalog main (Bench, Verify, Explain,
    * ScaleProbe) runs on: `local[cpus]` with as many shuffle partitions,
    * UTC, and the graft SQL extensions.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
      // rejects; read it as a BIGINT of epoch-nanos instead (cheaper at
      // scale too — pure integer comparisons).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
