package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.ops.{Dedup, Staged}

/** One benchmark run in one JVM: build the session, run a cold pass
  * (the end of `setup_s`) that also checks each entry's content digest,
  * the warm-up passes and then timed passes over a fixed list of `SparkEntry.queries`
  * entries until the time budget is spent. Every layer is observed from
  * outside the catalog code: entry calls are timed here, the scheduler
  * and the planner through listeners, the JVM through its MXBeans, the
  * host through `/proc`, and staging through `Staged`'s public counter
  * and the stage root's version directories.
  *
  * Arguments are `key=value`: `data`, `entries` (comma list, in call
  * order), `expected` (TSV of `name rows digest`), `out` (raw result
  * JSON), `seconds`, `warmup`, `trace` (0/1) and `mode` (`run`, or
  * `expect` to print each entry's rows and digest and, with `dump=dir`,
  * write each output as parquet plus its oracle SQL for a DuckDB
  * cross-check).
  */
object Main {
  val t0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * scheduler's event times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - t0) / 1e6

  val EntryProp = "graftbench.entry"

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = args("data")
    val entries = args("entries").split(",").toSeq
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Paths.get("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val catalog = SparkEntry.queries
    entries.foreach(e => require(catalog.contains(e), s"unknown entry $e"))
    if (args.getOrElse("mode", "run") == "expect")
      expect(spark, data, entries, args.get("dump"))
    else
      new Run(spark, data, entries, args).run()
    spark.stop()
  }

  /** Order-insensitive content digest: the sum of xxhash64 over each
    * row's JSON form, columns in name order. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = renamed
      .select(xxhash64(to_json(struct(order.map(i => col(s"c$i")).toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def expect(spark: SparkSession, data: String, entries: Seq[String],
      dump: Option[String]): Unit = {
    val catalog = SparkEntry.queries
    entries.foreach { name =>
      val df = catalog(name)(spark, data).localCheckpoint()
      val (rows, dg) = digest(df)
      println(s"EXPECT\t$name\t$rows\t$dg")
      dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
    }
    dump.foreach { d =>
      val staged = Dedup.stageRoot(data)
      val sql = SparkEntry.oracleSql.filter(kv => entries.contains(kv._1))
        .map { case (k, v) => jstr(k) + ":" + jstr(v.replace("__GRAFT_STAGED__", staged)) }
      Files.writeString(Paths.get(d, "oracle_sql.json"), sql.mkString("{", ",", "}"))
    }
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** A span of the traced run: epoch-millisecond bounds and its parent. */
case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double)

/** Scheduler and planner counters, plus job and planning spans. Written
  * only on the listener-bus thread; read after [[BusDrain]]. */
class Layers extends SparkListener with QueryExecutionListener {
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  val jobs = mutable.ArrayBuffer[(Int, String, Double, Double)]()
  val phases = mutable.ArrayBuffer[(String, Double, Double)]()
  private val started = mutable.Map[Int, (Double, String, Seq[Int])]()
  private val submitted = mutable.Set[Int]()

  def reset(): Unit = { c.clear(); jobs.clear(); phases.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val entry = Option(e.properties).map(_.getProperty(Main.EntryProp)).orNull
    started(e.jobId) = (e.time.toDouble, entry, e.stageIds)
    c("spark.jobs") += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    started.remove(e.jobId).foreach { case (t, entry, stages) =>
      jobs += ((e.jobId, entry, t, e.time.toDouble))
      c("spark.stages_skipped") += stages.count(s => !submitted(s))
      stages.foreach(submitted.remove)
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted += e.stageInfo.stageId
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("spark.stages") += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("spark.tasks") += 1
    if (e.reason != Success) c("spark.failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("spark.task_run_s") += m.executorRunTime / 1e3
      c("spark.task_cpu_s") += m.executorCpuTime / 1e9
      c("spark.task_gc_s") += m.jvmGCTime / 1e3
      c("spark.shuffle_read_mb") +=
        (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead) / 1e6
      c("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
    }
  }
  private def planned(qe: QueryExecution): Unit = {
    c("catalyst.actions") += 1
    qe.tracker.phases.foreach { case (name, p) =>
      c("catalyst.planning_s") += p.durationMs / 1e3
      phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = planned(qe)
}

class Run(spark: SparkSession, data: String, entries: Seq[String],
    args: Map[String, String]) {
  import Main._
  private val catalog = SparkEntry.queries
  private val expected: Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(args("expected"))).asScala.toSeq
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
  private val seconds = args("seconds").toDouble
  private val warmup = args("warmup").toInt
  private val trace = args("trace") == "1"
  private val stageRoot = Dedup.stageRoot(data)
  private val sc = spark.sparkContext
  private val layers = new Layers
  private val spans = mutable.ArrayBuffer[Span]()
  private val errors = mutable.ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0
  private val seenVersions = mutable.Set[String]()
  private var lastId = 0
  private def newId(): Int = { lastId += 1; lastId }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def jvm: Map[String, Double] = Map(
    "jvm.cpu_s" -> osBean.getProcessCpuTime / 1e9,
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3)

  /** (steal, total) jiffies of the host's aggregate cpu line. */
  private def procStat(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }
  private def load1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  /** Version directories published under the stage root since the last
    * call: (count, megabytes). */
  private def newVersions(): (Int, Double) = {
    val v = Paths.get(stageRoot, ".v")
    if (!Files.isDirectory(v)) return (0, 0.0)
    val fresh = Files.walk(v).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("v="))
      .map(_.toString).filterNot(seenVersions).toSeq
    seenVersions ++= fresh
    (fresh.size, fresh.map(p => treeBytes(Paths.get(p))).sum / 1e6)
  }
  private def treeBytes(p: Path): Long = try Files.walk(p).iterator().asScala
    .filter(Files.isRegularFile(_)).map(Files.size).sum
    catch { case _: java.io.IOException => 0L }

  /** One entry call: its seconds and its row count, or the failure. */
  private def call(name: String, passId: Int, digestIt: Boolean, traced: Boolean): Double = {
    val id = newId()
    sc.setLocalProperty(EntryProp, s"$id")
    val (rowsWant, digestWant) = expected(name)
    val s0 = nowMs
    val t = System.nanoTime()
    val err: Option[String] = try {
      val df = catalog(name)(spark, data)
      if (digestIt) {
        val (rows, dg) = digest(df)
        if (rows != rowsWant || dg != digestWant) Some(s"digest $rows/$dg != $rowsWant/$digestWant")
        else None
      } else {
        val rows = df.count()
        if (rows != rowsWant) Some(s"rows $rows != $rowsWant") else None
      }
    } catch { case e: Throwable =>
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val dt = (System.nanoTime() - t) / 1e9
    if (traced) spans += Span(id, passId, "entry", name, s0, nowMs)
    sc.setLocalProperty(EntryProp, null)
    attempted += 1
    err.foreach { e => failed += 1; errors += s"$name: $e" }
    spark.catalog.clearCache()
    dt
  }

  /** One pass over the entries; returns its wall and its JSON record. */
  private def pass(index: Int, kind: String, traced: Boolean): (Double, String) = {
    val passId = newId()
    // Every pass starts from the same heap and block-manager state:
    // checkpoint blocks are reaped only after a GC proves them
    // unreachable. Outside the measurement, as in `graft.Bench`.
    System.gc()
    if (traced) {
      sc.addSparkListener(layers)
      spark.listenerManager.register(layers)
    }
    Staged.stagingSecondsAndReset()
    val j0 = jvm
    val (st0, tot0) = procStat()
    val p0 = nowMs
    val times = entries.map(n => n -> call(n, passId, kind == "cold", traced))
    val p1 = nowMs
    val (st1, tot1) = procStat()
    val j1 = jvm
    val stagedS = Staged.stagingSecondsAndReset()
    val (versions, writtenMb) = newVersions()
    val wall = times.map(_._2).sum
    val fields = mutable.LinkedHashMap[String, Double](
      "wall_s" -> wall,
      "staged.write_s" -> stagedS,
      "staged.written_mb" -> writtenMb,
      "staged.versions" -> versions.toDouble,
      "host.steal_share" -> (if (tot1 > tot0) (st1 - st0).toDouble / (tot1 - tot0) else 0.0),
      "host.load1" -> load1())
    j1.foreach { case (k, v) => fields(k) = v - j0(k) }
    if (traced) {
      BusDrain(sc)
      sc.removeSparkListener(layers)
      spark.listenerManager.unregister(layers)
      fields ++= layers.c
      Seq("spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
        "spark.failed_tasks", "catalyst.actions", "catalyst.planning_s")
        .foreach(k => fields.getOrElseUpdate(k, 0.0))
      spans += Span(passId, 0, "pass", s"$kind-$index", p0, p1)
      layers.jobs.foreach { case (jobId, entry, s, e) =>
        spans += Span(newId(), Option(entry).map(_.toInt).getOrElse(passId),
          "spark", s"job-$jobId", s, e) }
      val entrySpans = spans.filter(s => s.layer == "entry" && s.parent == passId)
      layers.phases.foreach { case (name, s, e) =>
        val parent = entrySpans.find(x => x.start <= s + 1 && s <= x.end)
          .map(_.id).getOrElse(passId)
        spans += Span(newId(), parent, "catalyst", name, s, e)
      }
      layers.reset()
    }
    val json = (Seq("\"kind\":" + jstr(kind), "\"traced\":" + traced) ++
      fields.map { case (k, v) => jstr(k) + ":" + jnum(v) } :+
      times.map { case (n, t) => jstr(n) + ":" + jnum(t) }.mkString("\"entries\":{", ",", "}"))
      .mkString("{", ",", "}")
    (wall, json)
  }

  def run(): Unit = {
    val w0 = nowMs
    val records = mutable.ArrayBuffer[String]()
    // The cold pass: first-touch staging into the empty stage root and
    // first codegen; it also verifies each entry's content digest.
    // `setup_s` runs from JVM main entry to its end.
    records += pass(0, "cold", trace)._2
    val setup = (System.nanoTime() - t0) / 1e9
    (0 until warmup).foreach(i => records += pass(1 + i, "warmup", false)._2)
    // Timed passes until the budget is spent (at least three). A traced
    // run traces passes in ABBA order (traced, untraced, untraced,
    // traced) over a multiple of four passes, so a linear drift of pass
    // wall (the JIT is still warming) cancels out of the difference of
    // their medians, the tracing overhead.
    var spent = 0.0
    var i = 0
    while (spent < seconds || i < 3 || (trace && i % 4 != 0)) {
      val traced = trace && (i % 4 == 0 || i % 4 == 3)
      val (wall, json) = pass(1 + warmup + i, "timed", traced)
      records += json
      spent += wall
      i += 1
    }
    if (trace) spans += Span(0, -1, "workload", args.getOrElse("workload", "?"), w0, nowMs)
    val out = Seq(
      "\"setup_s\":" + jnum(setup),
      "\"cores\":" + Runtime.getRuntime.availableProcessors(),
      "\"attempted\":" + attempted,
      "\"failed\":" + failed,
      errors.map(jstr).mkString("\"errors\":[", ",", "]"),
      records.mkString("\"passes\":[", ",", "]")).mkString("{", ",", "}")
    Files.writeString(Paths.get(args("out")), out)
    if (trace) Files.write(Paths.get(args("out") + ".spans.jsonl"), spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${jstr(s.layer)},"name":${jstr(s.name)},"start":${jnum(s.start)},"end":${jnum(s.end)}}"""
    }.asJava)
  }
}
