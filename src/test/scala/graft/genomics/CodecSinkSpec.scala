package graft.genomics

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Sink compression round-trips — the reference's `graph.save(…,
  * gzip, …)` flag (assembly_final.cpp:741; the reference itself runs
  * it off) surfaced as `--codec=none|gzip|lz4` on the assembly CLI:
  *
  *  - the Spark engine rides the text/csv `compression` option and
  *    must read back byte-identically through spark.read's codec
  *    auto-detection, for BOTH gzip and lz4 (zstd is not among
  *    Spark's text-sink codecs, so the CLI refuses it by name);
  *  - the local engine writes JDK-gzip'd single files with the same
  *    `.gz` suffix, so either engine's output decompresses the same
  *    way (pinned against the golden 3-read sample).
  */
class CodecSinkSpec extends SparkSpec {
  import spark.implicits._

  private def readGzip(path: String): String = {
    val in = new java.util.zip.GZIPInputStream(
      Files.newInputStream(Paths.get(path)))
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("Spark sinks: gzip and lz4 part files read back identical to plain") {
    val edges = Seq(OverlapEdge(33L, 10L), OverlapEdge(10L, 38L)).toDF()
    val proj = Reads.edgeProjection(edges)
    val base = Files.createTempDirectory("codec-sink").toString
    proj.write.mode("overwrite").text(s"$base/plain")
    val plain = spark.read.text(s"$base/plain")
      .as[String].collect().toSeq.sorted
    Seq("gzip", "lz4").foreach { codec =>
      proj.write.mode("overwrite").option("compression", codec)
        .text(s"$base/$codec")
      val suffix = if (codec == "gzip") ".gz" else ".lz4"
      val parts = Files.list(Paths.get(s"$base/$codec")).iterator()
      var sawCompressed = false
      while (parts.hasNext) {
        val n = parts.next().getFileName.toString
        if (n.startsWith("part-")) sawCompressed ||= n.endsWith(suffix)
      }
      assert(sawCompressed, s"$codec write produced no $suffix part files")
      val back = spark.read.text(s"$base/$codec")
        .as[String].collect().toSeq.sorted
      assert(back === plain)
    }
  }

  test("local engine --codec=gzip: same bytes as the plain run, .gz suffixed") {
    val in = resourcePath("GraphLab_Input_short.txt")
    val outPlain = Files.createTempDirectory("asm-plain").toString + "/o"
    val outGz = Files.createTempDirectory("asm-gz").toString + "/o"
    def run(out: String, codec: String): Unit =
      AssemblyCli.main(Array(s"--infile=$in", s"--outfile=$out",
        "--source=33", "--destination=38", "--engine=local",
        "--save-edges", s"--codec=$codec"))
    run(outPlain, "none")
    run(outGz, "gzip")
    Seq("contig/part-00000.txt", "vertices/part-00000",
        "edges/part-00000").foreach { f =>
      val plain = Files.readString(Paths.get(s"$outPlain.$f"))
      assert(readGzip(s"$outGz.$f.gz") === plain, s"round-trip mismatch: $f")
      assert(!Files.exists(Paths.get(s"$outGz.$f")),
        s"gzip run must not also write the uncompressed $f")
    }
    // and the compressed contig is the hand-computed golden span
    assert(readGzip(s"$outGz.contig/part-00000.txt.gz").length === 2720)
  }
}
