package graft

import java.io.{IOException, OutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.index.IndexPaths

/** The one commit protocol every durable artifact goes through — the
  * reference's chunk records + landing-zone→promote contract
  * (spheraform_core `models/job.py:115-167`,
  * `storage/backend.py:473-535`), decided once instead of per artifact:
  *
  *  - [[file]]: replace one file atomically (attempt-unique tmp,
  *    rename into place). Readers see the old bytes or the new ones,
  *    never a torn file.
  *  - [[marked]]: a multi-part output whose readers require a marker
  *    file. The marker is retracted first and written last, through
  *    [[file]].
  *  - [[publish]]: a shared cached directory built into a pid-unique
  *    sibling and renamed into place, guarded by the lineage recorded
  *    in its marker.
  *  - [[sweep]] + [[touch]]: one aged-sibling rule for cache roots —
  *    a marker's mtime is the artifact's last use.
  */
object Commit {

  /** Cache siblings unused for this long are reclaimed by [[sweep]]. */
  val Ttl: Long = 6L * 3600 * 1000

  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val pid = ProcessHandle.current().pid()

  /** Unique per writer: the task attempt on executors (a retried or
    * speculative twin must not truncate this attempt's in-flight
    * bytes), pid + sequence on the driver.
    */
  private def tmpOf(dst: Path): Path = {
    val token = Option(org.apache.spark.TaskContext.get())
      .map(tc => s"a${tc.taskAttemptId()}")
      .getOrElse(s"p${pid}_${seq.incrementAndGet()}")
    new Path(dst.getParent, s".${dst.getName}.tmp.$token")
  }

  private def isTmp(name: String): Boolean =
    name.startsWith(".") && name.contains(".tmp.")

  /** Replace `dst` atomically with the bytes `write` produces. A
    * failed write removes its tmp and leaves the previous `dst`
    * untouched. Hadoop rename refuses an existing destination, so the
    * old copy goes first; the only other writer of `dst` is an
    * identical twin (a retried task, or a racing process committing
    * the same deterministic bytes), so whichever rename wins is right.
    */
  def file(fs: FileSystem, dst: Path)(write: OutputStream => Unit): Unit = {
    val tmp = tmpOf(dst)
    try {
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: IOException => () }
        throw e
    }
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      if (!fs.exists(dst))
        throw new IOException(s"commit failed: rename $tmp -> $dst")
    }
  }

  /** Commit a multi-part output whose readers require `marker`: the
    * marker is retracted first (a crash from here on leaves no marker
    * over a mix of old and new parts), tmp files that crashed writers
    * left beside it are cleared, `parts` writes every part, and the
    * marker — `body` of the parts' result — lands last via [[file]].
    */
  def marked[T](spark: SparkSession, marker: String)(parts: => T)(
      body: T => String): T = {
    val fs = IndexPaths.fs(spark, marker)
    val m = new Path(marker)
    fs.delete(m, false)
    if (fs.exists(m.getParent))
      fs.listStatus(m.getParent).filter(s => isTmp(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
    val r = parts
    IndexPaths.writeString(spark, marker, body(r))
    r
  }

  /** True iff `marker` exists and records exactly `lineage` (a torn
    * marker is no commit). */
  def committed(spark: SparkSession, marker: String,
                lineage: String): Boolean =
    IndexPaths.exists(spark, marker) && scala.util.Try(
      IndexPaths.parseFlatJson(IndexPaths.readString(spark, marker)))
      .toOption.flatMap(_.get("lineage")).contains(lineage)

  /** Mark an artifact as used now (its marker's mtime is what
    * [[sweep]] ages) and report whether the marker exists. Best-effort:
    * a marker swept between the exists check and the refresh is the
    * race this narrows, not one it can close — readers still require
    * the marker and fail loudly.
    */
  def touch(spark: SparkSession, marker: String): Boolean = {
    val fs = IndexPaths.fs(spark, marker)
    val m = new Path(marker)
    fs.exists(m) && {
      try fs.setTimes(m, System.currentTimeMillis(), -1)
      catch { case _: IOException => () }
      true
    }
  }

  /** Artifacts this process already verified committed, keyed by
    * dir|lineage (the lineage embeds the source content tag, so a
    * changed source misses). The TTL dwarfs a process lifetime, so
    * skipping the per-call refresh is safe.
    */
  private val publishedMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Cross-process-safe publication of a shared cached directory:
    * `build` writes into a pid-unique sibling (`<dir>_build<pid>`),
    * then the finished tree is renamed to `dir`, so two processes
    * racing one key never interleave writes inside one dir. `dir`
    * counts as committed when its `marker` records `lineage`. Sweeps
    * aged siblings first; returns `dir`.
    */
  def publish(spark: SparkSession, dir: String, marker: String,
              lineage: String)(build: String => Unit): String = {
    val key = s"$dir|$lineage"
    if (publishedMemo.contains(key)) return dir
    val dst = new Path(dir)
    val fs = IndexPaths.fs(spark, dir)
    sweep(spark, dst.getParent.toString, marker)
    val m = s"$dir/$marker"
    if (committed(spark, m, lineage)) touch(spark, m)
    else {
      val tmp = new Path(s"${dir}_build$pid")
      fs.delete(tmp, true)
      try {
        build(tmp.toString)
        if (!committed(spark, s"$tmp/$marker", lineage))
          throw new IOException(s"build of $dir did not commit $marker")
      } catch {
        case e: Throwable =>
          try fs.delete(tmp, true) catch { case _: IOException => () }
          throw e
      }
      // a stale half-built final dir (crashed publisher) must go
      // first: Hadoop rename into an EXISTING dir nests
      if (fs.exists(dst) && !committed(spark, m, lineage))
        fs.delete(dst, true)
      if (committed(spark, m, lineage) || !fs.rename(tmp, dst)) {
        // lost the race — serve the winner's committed copy
        fs.delete(tmp, true)
        if (!committed(spark, m, lineage))
          throw new IOException(s"publish failed: $dir")
      }
      // a racer renaming between our check and our rename nests our
      // tree inside the winner's dir — drop any such duplicate
      fs.listStatus(dst).filter(_.getPath.getName.contains("_build"))
        .foreach(s => fs.delete(s.getPath, true))
    }
    publishedMemo.add(key)
    dir
  }

  /** The pid a [[publish]] build dir is named for. */
  private def buildPid(name: String): Option[Long] =
    "_build(\\d+)$".r.findFirstMatchIn(name).flatMap(_.group(1).toLongOption)

  /** Reclaim aged sibling directories under `parent`. A sibling is
    * kept if its name is in `keep` or names a live process (`pidOf`:
    * an in-flight build has no marker by design, and a long build is
    * not an abandoned one). Otherwise it is deleted once its `marker`
    * — or, without one, its own mtime — is older than `ttlMs`. Age-
    * based, so a concurrent process still serving an older artifact
    * never loses it mid-read. Returns the deleted paths.
    */
  def sweep(spark: SparkSession, parent: String, marker: String,
            ttlMs: Long = Ttl, keep: Set[String] = Set.empty,
            pidOf: String => Option[Long] = buildPid,
            now: Long = System.currentTimeMillis()): Seq[String] = {
    val fs = IndexPaths.fs(spark, parent)
    val p = new Path(parent)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { s =>
      val name = s.getPath.getName
      val m = new Path(s.getPath, marker)
      def age = now - (if (fs.exists(m)) fs.getFileStatus(m)
        else s).getModificationTime
      val live = keep(name) ||
        pidOf(name).exists(ProcessHandle.of(_).isPresent)
      if (!live && age > ttlMs && fs.delete(s.getPath, true))
        Some(s.getPath.toString)
      else None
    }
  }
}
