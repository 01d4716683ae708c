package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Versioned, atomically-published registry of staged index/pair
  * assets — the production publish protocol behind every staged-input
  * catalog entry (q138/q139/q140, the ANN serving tier, the refresh
  * and curation families).
  *
  * Physical layout per asset `name` under a stage root `work`:
  *
  * {{{
  *   $work/.v/<name>/v=N/...parquet   versioned immutable snapshots
  *   $work/.v/<name>/MANIFEST         current version + build stamp
  *   $work/<name>  -> .v/<name>/v=N   atomically-swapped symlink
  * }}}
  *
  * Readers (the engine, the DuckDB oracle, the specs) keep using the
  * plain `$work/<name>` path; it always resolves to ONE complete
  * snapshot because publishing is write-new-version-then-rename:
  * [[publishDir]] claims a fresh `v=N` directory, the writer fills it,
  * and [[commit]] swaps the symlink with an atomic rename(2). A
  * refresh racing a concurrent serving query can never expose a
  * half-written index — the reader either still sees `v=N-1` (kept on
  * disk until one more publish, see the keep-2 GC below) or sees the
  * complete `v=N`; a crash at ANY point before the swap leaves the
  * reader on the old complete snapshot (StagedPublishSpec pins each
  * window). Spark pins its file listing when `read.parquet` resolves
  * the path, so an in-flight scan keeps its snapshot even if a
  * publish lands mid-query.
  *
  * Cross-run reuse is gated by TWO fingerprints so an asset found on
  * disk from a previous JVM is trusted only when it provably came
  * from the same code over the same data:
  *
  *   - [[buildFingerprint]] (stored in the MANIFEST): a digest of the
  *     compiled graft classes — any recompile invalidates every prior
  *     run's assets, the conservative form of "a code change between
  *     rounds can change what a staging function writes".
  *   - the INPUT fingerprint ([[inputFingerprint]], folded into
  *     [[Dedup.stageRoot]]'s directory name): a digest of the source
  *     tables' (name, size, mtime) listing — regenerated testdata
  *     lands in a fresh stage root and can never collide with assets
  *     derived from the old data.
  *
  * Within one JVM the in-memory `fresh` set short-circuits the
  * manifest read; across JVMs of the SAME build over the SAME data
  * (Bench after Verify, a judge replay after the driver's run) the
  * manifest makes the first run's staging reusable — the production
  * economics that previously stopped at the JVM boundary. Staging is
  * deterministic everywhere (no RNG — DeterminismSpec), which is what
  * makes byte-level reuse sound.
  */
object Staged {
  private val fresh =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Wall-clock nanoseconds spent inside [[write]]/[[writePartitioned]]
    * since the last [[stagingSecondsAndReset]] — the staging bill, which
    * includes computing the staged frame (the parquet write is the
    * action that materializes it). The bench reads and resets this per
    * query so its JSON can attribute warm-vs-cold runs (`staged` map):
    * a query whose wall time is mostly staging is paying index
    * construction, not its own read path.
    */
  private val stagingNanos = new java.util.concurrent.atomic.AtomicLong()

  def stagingSecondsAndReset(): Double =
    stagingNanos.getAndSet(0L) / 1e9

  /** Drop ALL trust in one asset — in-JVM mark and on-disk manifest —
    * so the next consumer re-derives and republishes it. The bench uses
    * this on q135/q137's derived report assets before each timed run:
    * those two entries' measured cost IS their derivation, and a
    * cross-run (or min-of-2) replay of the previous run's answer would
    * time a parquet read, not the query. The versioned data stays on
    * disk (readers keep their snapshots); only the freshness evidence
    * is removed.
    */
  def invalidate(work: String, name: String): Unit = {
    fresh.remove(s"$work/$name")
    try Files.deleteIfExists(Paths.get(work, ".v", name, "MANIFEST"))
    catch { case _: Throwable => () }
  }

  def mark(work: String, names: String*): Unit =
    names.foreach(n => fresh.add(s"$work/$n"))

  /** Test hook: drop the in-JVM trust for one asset, so a spec can
    * exercise the cross-run (manifest-gated) path without forking a
    * JVM. Never called from main code.
    */
  private[graft] def unmarkForTesting(work: String, name: String): Unit =
    fresh.remove(s"$work/$name")

  /** Trusted if a query of THIS JVM staged it, or a previous run of
    * the SAME build published it (manifest build stamp matches and
    * the symlink points at the manifest's version — a crash between
    * swap and manifest write leaves them disagreeing, which reads as
    * stale and re-stages).
    */
  def isFresh(work: String, name: String): Boolean =
    fresh.contains(s"$work/$name") || {
      val ok = manifestFresh(work, name)
      if (ok) mark(work, name)
      ok
    }

  /** The asset exists (a committed symlink or a plain legacy dir). */
  def exists(work: String, name: String): Boolean =
    Files.exists(Paths.get(work, name))

  /** Resolve the asset to its CONCRETE current version directory —
    * what every engine reader uses. Resolving (rather than reading
    * through the `$work/name` symlink) is what pins a snapshot: the
    * file listing Spark takes at `read.parquet` time then refers to
    * immutable `v=N` paths, so a publish landing mid-query (or between
    * plan and execution) cannot yank files out from under the scan —
    * the keep-2 GC retains the predecessor exactly for those readers.
    * A plain (unversioned) directory resolves to itself.
    */
  def path(work: String, name: String): String = {
    val link = Paths.get(work, name)
    try {
      if (Files.isSymbolicLink(link))
        Files.readSymbolicLink(link).toString
      else link.toString
    } catch { case _: Throwable => link.toString }
  }

  /** Read the asset's current version — the one staged-read path.
    * The resolved `v=N` directory is immutable, so
    * [[Tables.readParquet]]'s schema memo makes a warm read run no
    * schema-inference job.
    */
  def read(s: SparkSession, work: String, name: String): DataFrame =
    Tables.readParquet(s, path(work, name))

  /** Claim a fresh immutable version directory for `name` — the
    * writer fills it, then [[commit]]s. Claiming is an atomic
    * `mkdir`, so two racing publishers (even across JVMs) get
    * distinct versions.
    */
  def publishDir(work: String, name: String): String = {
    val base = Paths.get(work, ".v", name)
    Files.createDirectories(base)
    var n = currentVersionNo(base) + 1
    while (true) {
      try {
        Files.createDirectory(base.resolve(s"v=$n"))
        return base.resolve(s"v=$n").toString
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => n += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish a filled version directory: atomic symlink swap, then
    * manifest write (that order — a crash in between reads as stale,
    * never as fresh-but-old), then a COMMITTED sentinel into the
    * version dir (so [[rollback]] can distinguish snapshots that
    * completed a commit from orphans a crashed publisher abandoned
    * mid-fill), then keep-2 GC of older versions. `durable = false`
    * skips the manifest: the asset serves this JVM (swap + mark) but
    * is deliberately not trusted by later runs — the spec-planting
    * escape hatch.
    *
    * `group`: optional multi-asset generation stamp, recorded in the
    * manifest. Each asset's swap stays individually atomic — the
    * stamp is what lets [[resolveGroup]] detect (and wait out) the
    * window where a cells+probes refresh has swapped one asset but
    * not yet the other, making a multi-asset refresh observable
    * all-or-nothing by readers that opt in. Single-asset readers and
    * the deterministic same-build/same-data argument
    * ([[Dedup.stageRoot]] scaladoc) need no stamp; a deployment with
    * non-deterministic trainers passes one.
    */
  def commit(work: String, name: String, vdir: String,
      durable: Boolean = true, group: Option[String] = None): Unit = synchronized {
    val link = Paths.get(work, name)
    val target = Paths.get(vdir).toAbsolutePath
    if (link.getParent != null) Files.createDirectories(link.getParent)
    // the version current BEFORE this swap is the one in-flight
    // readers may still be scanning — it is what GC must retain
    val prevCurrent: Option[String] =
      try {
        if (Files.isSymbolicLink(link))
          Some(Files.readSymbolicLink(link).getFileName.toString)
        else None
      } catch { case _: Throwable => None }
    // a plain directory left by a pre-versioning layout (or a raw
    // spec write) can occupy the link path; rename can't replace a
    // non-empty dir, so clear it first
    if (Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
        !Files.isSymbolicLink(link))
      deleteTree(link)
    val tmp = link.resolveSibling(
      s".${link.getFileName}.lnk.${System.nanoTime()}")
    Files.createSymbolicLink(tmp, target)
    Files.move(tmp, link, StandardCopyOption.ATOMIC_MOVE)
    if (durable) {
      val base = Paths.get(work, ".v", name)
      val mtmp = base.resolve(s"MANIFEST.tmp.${System.nanoTime()}")
      val groupLine = group.map(g => s"group=$g\n").getOrElse("")
      Files.writeString(mtmp,
        s"version=${target.getFileName}\nbuild=$buildFingerprint\n" +
          groupLine)
      Files.move(mtmp, base.resolve("MANIFEST"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // the sentinel lands LAST: a version carrying it completed a full
    // commit at least once, which is the only kind rollback may bless.
    // A sentinel-write failure is NOT swallowed: the version dir was
    // just written successfully, so failing here signals real
    // filesystem trouble — and silently proceeding would leave a fully
    // committed version permanently ineligible as a rollback target
    // with no diagnostic anywhere.
    // the sentinel also RECORDS the group stamp this commit carried:
    // rollback re-commits a predecessor through this same path, and
    // without the recorded stamp it would republish the manifest with
    // group=None — silently stripping a group-consistent family member
    // of its stamp and failing every subsequent resolveGroup reader
    // (found by ServingRefreshRaceSpec once q143 resolved by default)
    try Files.writeString(target.resolve(CommittedSentinel),
      group.getOrElse(""))
    catch {
      case e: Throwable =>
        throw new IllegalStateException(
          s"staged: failed to write the $CommittedSentinel sentinel " +
            s"into $target after a successful publish — the snapshot " +
            "serves (symlink + manifest are already swapped) but could " +
            "never be blessed by rollback; the filesystem needs " +
            "attention", e)
    }
    mark(work, name)
    gcOldVersions(Paths.get(work, ".v", name),
      keep = Set(target.getFileName.toString) ++ prevCurrent,
      committingNo = versionNo(target.getFileName.toString))
  }

  /** Sentinel file a completed [[commit]] drops into its version dir.
    * Parquet readers ignore non-data files starting with '.' or '_'
    * (Spark and DuckDB both skip `_`-prefixed names), so the sentinel
    * never pollutes a scan.
    */
  private val CommittedSentinel = "_GRAFT_COMMITTED"

  private def versionNo(dirName: String): Long =
    try dirName.stripPrefix("v=").toLong catch { case _: Throwable => Long.MaxValue }

  /** The one-call publish: fresh version dir ← parquet ← atomic swap.
    * This is what every staging function uses in place of an in-place
    * `write.mode("overwrite")`. `group` stamps the manifest for
    * [[resolveGroup]] readers (multi-asset refresh consistency).
    */
  def write(df: DataFrame, work: String, name: String,
      group: Option[String] = None): Unit = {
    val t0 = System.nanoTime()
    val vdir = publishDir(work, name)
    df.write.mode("overwrite").parquet(vdir)
    commit(work, name, vdir, durable = true, group = group)
    stagingNanos.addAndGet(System.nanoTime() - t0)
  }

  /** [[write]] with a DIRECTORY-PARTITIONED layout — the q162 storage
    * discipline inside the versioned protocol: the asset's version
    * dir gains one subdirectory per partition value, so a consumer
    * whose per-read key set is model-sized can enumerate and read
    * ONLY the touched partitions (q197's per-round pruned graph
    * reads). Everything else — version dirs, manifest commit, group
    * stamps, GC — is identical: partitioning is a layout choice
    * inside one version, never a protocol change.
    */
  def writePartitioned(df: DataFrame, work: String, name: String,
      partitionCol: String, group: Option[String] = None): Unit = {
    val t0 = System.nanoTime()
    val vdir = publishDir(work, name)
    df.repartition(org.apache.spark.sql.functions.col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(vdir)
    commit(work, name, vdir, durable = true, group = group)
    stagingNanos.addAndGet(System.nanoTime() - t0)
  }

  /** The concrete `v=N` version name the asset's current manifest
    * points at, if any — the generation identity incremental
    * consumers key on (q126's per-route recall recertification: a
    * route re-runs only when one of ITS assets moved to a new
    * version).
    */
  def versionOf(work: String, name: String): Option[String] =
    try {
      val mf = Paths.get(work, ".v", name, "MANIFEST")
      if (!Files.exists(mf)) None
      else Files.readString(mf).linesIterator
        .map(_.split("=", 2)).collectFirst { case Array("version", v) => v }
    } catch { case _: Throwable => None }

  /** The group stamp the asset's current manifest carries, if any. */
  def groupOf(work: String, name: String): Option[String] =
    try {
      val mf = Paths.get(work, ".v", name, "MANIFEST")
      if (!Files.exists(mf)) None
      else Files.readString(mf).linesIterator
        .map(_.split("=", 2)).collectFirst { case Array("group", g) => g }
    } catch { case _: Throwable => None }

  /** Resolve several assets to concrete version dirs that all belong
    * to ONE group generation — the all-or-nothing read of a
    * multi-asset refresh. Each asset's manifest is read atomically
    * (manifest writes are ATOMIC_MOVE), and the versions returned are
    * the manifests' own (immutable `v=N` paths, never the symlink),
    * so the returned set is exactly one generation's snapshot even if
    * further publishes land after the call. A publisher mid-swap
    * (asset A stamped with the new group, asset B still the old)
    * reads as a group MISMATCH; this retries until the stamps agree
    * or `timeoutMs` elapses, then fails by name — it can never return
    * a mixed-generation set. Assets published without a stamp never
    * satisfy the check (None ≠ None is not equality here: a missing
    * stamp means the publisher made no consistency promise).
    */
  def resolveGroup(work: String, names: Seq[String],
      timeoutMs: Long = 10000L): Map[String, String] =
    resolveGroupStamped(work, names, timeoutMs)._1

  /** [[resolveGroup]] plus the agreed group STAMP itself — for
    * consumers that must cross-check one family's snapshot against
    * another's (q189: the graph family's stamp records the exact
    * cells version it derives from, so the walk can refuse a
    * mixed-generation read when an index refresh lands between its
    * two family resolves).
    */
  def resolveGroupStamped(work: String, names: Seq[String],
      timeoutMs: Long = 10000L): (Map[String, String], String) = {
    require(names.nonEmpty, "staged: resolveGroup needs at least one asset")
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var lastSeen: Seq[(String, Option[String])] = Nil
    while (true) {
      val snap = names.map { n =>
        val mf = Paths.get(work, ".v", n, "MANIFEST")
        val kv: Map[String, String] =
          try {
            if (!Files.exists(mf)) Map.empty
            else Files.readString(mf).linesIterator
              .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
              .toMap
          } catch { case _: Throwable => Map.empty }
        (n, kv.get("group"), kv.get("version"))
      }
      val groups = snap.map(_._2)
      if (groups.forall(_.isDefined) && groups.distinct.size == 1 &&
          snap.forall(_._3.isDefined))
        return (snap.map { case (n, _, v) =>
          n -> Paths.get(work, ".v", n, v.get).toString
        }.toMap, groups.head.get)
      lastSeen = snap.map(s => (s._1, s._2))
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"staged: group resolve timed out; stamps: $lastSeen")
      Thread.sleep(5)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Roll the asset back to its retained predecessor — the
    * bad-refresh recovery a production index store must offer, and
    * the operational payoff of keeping one prior snapshot: an atomic
    * symlink swap to the other retained version plus a consistent
    * manifest, through the same [[commit]] path a forward publish
    * uses (so freshness, marking, and GC semantics are identical).
    * Serving resumes on the previous complete snapshot immediately;
    * because GC retains {current, previous-current}, a second
    * rollback TOGGLES back to the abandoned refresh (both snapshots
    * stay pinned-reader-safe), and the next forward publish drops it.
    * Throws (named) if nothing was ever published or only one
    * version exists.
    */
  def rollback(work: String, name: String): Unit = synchronized {
    val base = Paths.get(work, ".v", name)
    val link = Paths.get(work, name)
    require(Files.isSymbolicLink(link),
      s"staged: $name has no published version to roll back")
    val cur = Files.readSymbolicLink(link).getFileName.toString
    // only versions that completed a commit are eligible: a publisher
    // that crashed BEFORE its commit leaves an orphan, possibly
    // half-filled v= dir (the exact crash window StagedPublishSpec
    // simulates) — blessing that as the recovery target would serve a
    // partial snapshot. The sentinel is written last in commit(), so
    // its presence proves the version was fully filled AND served.
    val prev = Files.list(base).iterator().asScala
      .map(_.getFileName.toString)
      .filter(s => s.startsWith("v=") && s != cur &&
        Files.exists(base.resolve(s).resolve(CommittedSentinel)))
      .toSeq.sortBy(-_.drop(2).toLong).headOption
      .getOrElse(throw new IllegalStateException(
        s"staged: $name has no COMMITTED predecessor to roll back to " +
          "(orphan uncommitted versions are not eligible)"))
    // restore the stamp the target version was originally committed
    // with (recorded in its sentinel) so a rolled-back member of a
    // group-consistent family stays resolvable
    val prevGroup =
      try Some(Files.readString(
        base.resolve(prev).resolve(CommittedSentinel)).trim).filter(_.nonEmpty)
      catch { case _: Throwable => None }
    commit(work, name, base.resolve(prev).toString, group = prevGroup)
  }

  /** Deterministic group id for a stage root: its basename, which
    * [[graft.ops.Dedup.stageRoot]] already keys by the INPUT and
    * BUILD fingerprints. NOT sufficient as a refresh stamp on its own
    * — every publish into one root would carry the same id, so
    * [[resolveGroup]] could never distinguish generation N's cells
    * from generation N+1's probes (the round-13 advice finding). It
    * is the PREFIX of [[newGroupId]], which appends a per-invocation
    * nonce; kept public for diagnostics and stamp readability.
    */
  def groupIdOf(work: String): String =
    Paths.get(work).getFileName.toString

  private val groupSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh multi-asset refresh stamp: the root's deterministic id
    * plus a per-invocation nonce (nanotime + an in-JVM sequence).
    * Each staging function that publishes a FAMILY of assets (cells +
    * probes, codes + codebook, …) mints ONE of these per call and
    * stamps every member with it, so [[resolveGroup]] readers observe
    * the family all-or-nothing: a refresh that has swapped one asset
    * but not yet its sibling presents two different nonces and reads
    * as a retryable mismatch — real detection, not the determinism
    * argument. Assets staged by different calls (or runs) always
    * carry different stamps, which is exactly the point.
    */
  def newGroupId(work: String): String =
    s"${groupIdOf(work)}#${java.lang.Long.toHexString(System.nanoTime())}" +
      s"-${groupSeq.incrementAndGet()}"

  /** Tail-position sugar for [[write]]: `df.stagePublish(work, name)`
    * replaces `df.write.mode("overwrite").parquet(s"$work/name")`.
    * The 3-arg form stamps the manifest with a group id for
    * [[resolveGroup]] readers.
    */
  implicit class StagedWriter(private val df: DataFrame) extends AnyVal {
    def stagePublish(work: String, name: String): Unit =
      Staged.write(df, work, name)
    def stagePublish(work: String, name: String, group: String): Unit =
      Staged.write(df, work, name, group = Some(group))
  }

  private def manifestFresh(work: String, name: String): Boolean =
    try {
      val base = Paths.get(work, ".v", name)
      val mf = base.resolve("MANIFEST")
      val link = Paths.get(work, name)
      if (!Files.exists(mf) || !Files.isSymbolicLink(link)) false
      else {
        val kv = Files.readString(mf).linesIterator
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
          .toMap
        kv.get("build").contains(buildFingerprint) &&
          kv.get("version").contains(
            Files.readSymbolicLink(link).getFileName.toString) &&
          Files.isDirectory(link)
      }
    } catch { case _: Throwable => false }

  private def currentVersionNo(base: Path): Long =
    if (!Files.isDirectory(base)) 0L
    else Files.list(base).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v=") => s.drop(2).toLong }
      .foldLeft(0L)(math.max)

  /** Scan-TTL floor for version GC (milliseconds): a version dir
    * younger than this is never deleted, whatever the keep set says —
    * the knob a deployment with long scans over hot assets sets to
    * its longest admitted scan. Default 0 (keep-2 only): the driver's
    * refresh cadence is minutes and its scans are seconds, so age
    * never gates there. Read per GC call so tests (and operators) can
    * set it without restarting the JVM.
    */
  private def gcTtlMs: Long =
    sys.props.get("graft.staged.gc.ttlMs").flatMap(_.toLongOption)
      .getOrElse(0L)

  /** Keep the named versions — the new current plus the version that
    * was current just before the swap (whatever its NUMBER: a forward
    * publish retains its predecessor for readers that resolved the
    * path just before the swap; a [[rollback]] retains the
    * rolled-back-from refresh so the toggle is reversible and pinned
    * readers survive) — and additionally:
    *
    *  - any version numbered HIGHER than the committing target: that
    *    is a concurrent publisher's claimed (possibly still-filling)
    *    dir — [[publishDir]]'s atomic-mkdir claim promises racing
    *    publishers distinct versions, and deleting the loser's
    *    in-progress dir mid-write would fail its job or, worse, let
    *    it commit a partial snapshot. It is GC'd by ITS OWN commit's
    *    successor, never by a concurrent older one;
    *  - any version younger than [[gcTtlMs]] (the scan-TTL floor):
    *    keep-2 alone is one-swap-deep, so a reader that pins a
    *    version and survives TWO further publishes within the TTL
    *    keeps its files.
    *
    * Everything else is dead weight.
    */
  private def gcOldVersions(base: Path, keep: Set[String],
      committingNo: Long): Unit =
    try {
      val now = System.currentTimeMillis()
      val ttl = gcTtlMs
      Files.list(base).iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("v=") && !keep.contains(n) &&
            versionNo(n) < committingNo &&
            (ttl <= 0L || (try
              now - Files.getLastModifiedTime(p).toMillis >= ttl
            catch { case _: Throwable => false }))
        }
        .foreach(deleteTree)
    } catch { case _: Throwable => () }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.list(p).iterator().asScala.foreach(deleteTree)
    Files.deleteIfExists(p)
  }

  /** CONTENT digest of the compiled classes (sorted per-entry CRCs of
    * every `.class` in the code source): identical across JVMs of one
    * build — including across sbt's per-invocation jar repackaging,
    * whose paths and mtimes are run-unique — and different after any
    * recompile that changes bytecode. Class-file CRCs come from the
    * zip central directory (jar code source) or a direct byte CRC
    * (classes-dir code source), with names normalized so the two
    * forms of the SAME build agree. A JVM that cannot locate its code
    * source gets a random stamp — it still publishes atomically, but
    * nothing it wrote is ever trusted cross-run (fail-safe, never
    * fail-stale).
    */
  lazy val buildFingerprint: String =
    try {
      val loc = Paths.get(getClass.getProtectionDomain.getCodeSource
        .getLocation.toURI)
      val md = MessageDigest.getInstance("MD5")
      val entries: Seq[String] =
        if (Files.isDirectory(loc))
          Files.walk(loc).iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".class"))
            .map { p =>
              val crc = new java.util.zip.CRC32()
              crc.update(Files.readAllBytes(p))
              s"${loc.relativize(p).toString.replace('\\', '/')}:" +
                s"${crc.getValue}"
            }.toSeq
        else {
          val zf = new java.util.zip.ZipFile(loc.toFile)
          try zf.entries().asScala
            .filter(e => !e.isDirectory && e.getName.endsWith(".class"))
            .map(e => s"${e.getName}:${e.getCrc}")
            .toList
          finally zf.close()
        }
      entries.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString.take(16)
    } catch {
      case _: Throwable => s"nosrc-${java.util.UUID.randomUUID()}"
    }

  /** Digest of a source-table directory's (file, size, mtime) listing
    * — folded into [[Dedup.stageRoot]] so regenerated testdata gets a
    * fresh stage root. Depth-2 walk: the sf dirs hold one parquet
    * file (or one part-file directory) per table.
    */
  def inputFingerprint(dir: String): String =
    try {
      val root = Paths.get(dir)
      if (!Files.isDirectory(root)) return "nodata"
      val md = MessageDigest.getInstance("MD5")
      Files.walk(root, 2).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => s"${root.relativize(p)}:${Files.size(p)}:" +
          s"${Files.getLastModifiedTime(p).toMillis}")
        .toSeq.sorted
        .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString.take(10)
    } catch { case _: Throwable => "nodata" }
}
