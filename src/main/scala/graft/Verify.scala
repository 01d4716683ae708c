package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev filter (comma-separated query names); driver passes 2 args
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      // (no clearCache here: cross-query cache reuse is harmless for a
      // correctness pass and keeps the driver's gate fast; Bench clears
      // between queries because there it skews timings)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // staged-table oracles (q78) reference the engine-written parquet;
    // the staging root is sf-dir-keyed, so substitute it at dump time.
    // A filtered run writes only the oracles of the entries it ran, so
    // the compare does not report the rest as missing output.
    val staged = graft.ops.Dedup.stageRoot(sfDir)
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_STAGED__", staged))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
