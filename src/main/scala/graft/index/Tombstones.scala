package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** Re-crawl tombstones: the one at-rest form and its one reader.
  *
  * A re-crawl delta (or a compaction carrying tombstones aimed at a
  * generation it excluded) records the replaced docIds as a strided
  * sidecar on the [[Norms]] stride grid, the Lucene-deletes shape:
  * `<gen>/tombstones_strided/s<strideId>.bin` holds the SORTED
  * tombstoned docIds of that docId stride as raw big-endian longs, and
  * `manifest.json` lists the count and the stride ids. Every consumer
  * reads it through this object:
  *  - [[count]] and [[ids]]: the manifest / the stride files on the
  *    driver, no Spark job (CLI counts, tests, benchmarks);
  *  - [[maskFor]] at most [[broadcastThreshold]] tombstones in total:
  *    the driver reads every listed stride file into one broadcast hash
  *    set ([[SetMask]]) — O(1) per-posting checks; the threshold bounds
  *    the read;
  *  - above it: [[StridedMask]] — a gather task loads only the strides
  *    its docId window [lo, hi) overlaps, so per-task memory is the
  *    range's own tombstones, never the corpus's (collecting a full
  *    re-crawl's O(corpus) set into a driver Set is the OOM the
  *    round-2 advice flagged);
  *  - [[distributed]]: one task per stride file, for compaction.
  * Exactness holds in every mode (hash/binary-search membership, no
  * bloom false positives — a false positive would silently drop a live
  * doc from rankings).
  *
  * Commit protocol ([[graft.Commit.marked]]): stride files replace
  * atomically; `manifest.json` (count + stride list) is written LAST
  * by the driver and is the commit marker — no manifest means no
  * tombstones, never a half-written sidecar. A generation holding the
  * retired `tombstones/` parquet but no manifest is refused: read as
  * "no tombstones" it would silently resurface replaced docs.
  */
object Tombstones {

  def dirOf(indexDir: String): String = s"$indexDir/tombstones_strided"

  /** Default switch point: below this, a broadcast Set is cheaper than
    * per-task stride loads; above it, the Set is a driver/executor
    * memory hazard. Override per session with
    * `graft.tombstones.broadcastThreshold` (tests use 0 to force the
    * strided path on small data).
    */
  val DefaultBroadcastThreshold = 1000000L

  def broadcastThreshold(spark: SparkSession): Long =
    spark.conf.getOption("graft.tombstones.broadcastThreshold")
      .map(_.toLong).getOrElse(DefaultBroadcastThreshold)

  /** The retired parquet form, kept only to refuse and to clear it. */
  private def legacyDirOf(indexDir: String): String = s"$indexDir/tombstones"

  /** Remove a generation's tombstones, sidecar and any retired parquet:
    * a writer into a reused dir clears first, or the previous run's
    * tombstones would keep masking live docIds.
    */
  def clear(spark: SparkSession, indexDir: String): Unit = {
    IndexPaths.delete(spark, dirOf(indexDir))
    IndexPaths.delete(spark, legacyDirOf(indexDir))
  }

  /** Write the strided sidecar for one generation from its tombstoned
    * docIds. Distributed: each stride is owned by one task (groupByKey
    * on the stride id), which replaces its sorted ids atomically; the
    * manifest is the marker, retracted first and written last
    * ([[graft.Commit.marked]]) — a rewrite into a reused dir that
    * crashes mid-stride leaves NO manifest, never one committing a
    * mix of new and stale stride files.
    */
  def write(ids: Dataset[Long], indexDir: String): Unit = {
    val spark = ids.sparkSession
    import spark.implicits._
    val dir = dirOf(indexDir)
    val bc = spark.sparkContext.broadcast(
      new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
    graft.Commit.marked(spark, s"$dir/manifest.json") {
      ids.groupByKey(Norms.strideOf)
        .mapGroups { (sid: Long, it: Iterator[Long]) =>
          val arr = it.toArray
          java.util.Arrays.sort(arr)
          val buf = java.nio.ByteBuffer.allocate(arr.length * 8)
          arr.foreach(buf.putLong)
          val fin = new Path(s"$dir/s$sid.bin")
          graft.Commit.file(fin.getFileSystem(bc.value.value), fin)(
            _.write(buf.array()))
          (sid, arr.length.toLong)
        }
        .collect()
    } { strides =>
      val list = strides.map(_._1).sorted.mkString("[", ",", "]")
      s"""{"count":${strides.map(_._2).sum},"strides":$list}"""
    }
  }

  private val ManifestRx =
    """\{\s*"count"\s*:\s*(\d+)\s*,\s*"strides"\s*:\s*\[([\d,\s]*)\]\s*\}""".r

  /** Generation manifest: (total count, stride ids); None = no
    * committed sidecar. A manifest that does not parse whole fails
    * loudly: reading a torn one as fewer tombstones would silently
    * resurface deleted docs.
    */
  def readManifest(spark: SparkSession,
                   indexDir: String): Option[(Long, Array[Long])] = {
    val p = s"${dirOf(indexDir)}/manifest.json"
    if (!IndexPaths.exists(spark, p)) {
      if (IndexPaths.exists(spark, legacyDirOf(indexDir)))
        throw new IllegalStateException(
          s"$indexDir has tombstone parquet but no committed sidecar — " +
            "rebuild it or rerun Tombstones.write")
      None
    } else IndexPaths.readString(spark, p).trim match {
      case ManifestRx(count, strides) =>
        Some((count.toLong, strides.split(",").map(_.trim)
          .filter(_.nonEmpty).map(_.toLong)))
      case torn =>
        throw new IllegalStateException(
          s"unparseable tombstone manifest $p: '$torn' — rerun Tombstones.write")
    }
  }

  /** A generation's tombstone count, from its manifest (0 without
    * one). No Spark job. */
  def count(spark: SparkSession, indexDir: String): Long =
    readManifest(spark, indexDir).fold(0L)(_._1)

  /** Every tombstoned docId of a generation, duplicates kept, read
    * from its committed stride files on the driver (no Spark job). The
    * caller bounds the set: see [[count]].
    */
  def ids(spark: SparkSession, indexDir: String): Seq[Long] =
    readManifest(spark, indexDir).fold(Seq.empty[Long])(m =>
      idsOf(spark.sparkContext.hadoopConfiguration, indexDir, m._2))

  private def idsOf(conf: org.apache.hadoop.conf.Configuration,
                    indexDir: String, strides: Array[Long]): Seq[Long] =
    strides.toSeq.flatMap(readStride(conf, indexDir, _))

  /** The tombstoned docIds of `indexDirs`, duplicates kept, read on
    * executors: the manifests list the stride files, one task reads
    * each, and nothing is collected on the driver (a full re-crawl's
    * set is O(corpus)).
    */
  def distributed(spark: SparkSession, indexDirs: Seq[String]): Dataset[Long] = {
    import spark.implicits._
    val files = indexDirs.flatMap(d =>
      readManifest(spark, d).toSeq.flatMap(_._2.map(d -> _)))
    val bc = spark.sparkContext.broadcast(
      new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
    files.toDS().flatMap { case (d, sid) =>
      readStride(bc.value.value, d, sid).iterator }
  }

  /** One committed stride file: its sorted docIds. */
  private def readStride(conf: org.apache.hadoop.conf.Configuration,
                         indexDir: String, sid: Long): Array[Long] = {
    val p = new Path(s"${dirOf(indexDir)}/s$sid.bin")
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](len.toInt)
      in.readFully(0L, bytes)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill((len / 8).toInt)(bb.getLong)
    } finally in.close()
  }

  /** The serve-path mask, chosen per query batch. Serializable — ships
    * inside task closures; the strided variant loads stride files
    * lazily and caches a bounded number per task.
    */
  sealed trait Mask extends Serializable {
    def isEmpty: Boolean
    /** null when empty — the evaluators take null as "no mask". */
    def fn: Long => Boolean
  }

  case object EmptyMask extends Mask {
    def isEmpty = true
    def fn: Long => Boolean = null
  }

  final case class SetMask(ids: Set[Long]) extends Mask {
    def isEmpty: Boolean = ids.isEmpty
    def fn: Long => Boolean = ids.contains _
  }

  /** dirsWithStrides: per generation dir, the stride ids it committed
    * (from manifests, read once on the driver). A docId is masked if
    * ANY generation tombstoned it.
    */
  final case class StridedMask(dirsWithStrides: Array[(String, Array[Long])],
                               conf: Norms.SerConf,
                               maxCached: Int = 8) extends Mask {
    def isEmpty = false
    @transient private lazy val strideSets: Array[java.util.HashSet[java.lang.Long]] =
      dirsWithStrides.map { case (_, ss) =>
        val h = new java.util.HashSet[java.lang.Long](ss.length * 2)
        ss.foreach(h.add(_)); h
      }
    // The mask is BROADCAST: one instance is shared by every task
    // thread in an executor JVM, so the stride cache must be
    // per-thread — an access-order LinkedHashMap rewires its links on
    // every get() and corrupts under concurrent use (hangs/lost
    // entries). Per-thread duplication is cheap for the cache sizes
    // here, but the broadcast itself is LONG-LIVED: without cleanup a
    // dense stride array (up to 8 MB at full-re-crawl density) ×
    // maxCached × task threads would stay pinned until the broadcast
    // is GC'd — so each task registers a completion listener that
    // drops its thread's cache (tasks have docId-window locality; the
    // cache never pays off across tasks anyway).
    @transient private lazy val cacheTL =
      new ThreadLocal[java.util.LinkedHashMap[(Int, Long), Array[Long]]] {
        override def initialValue() =
          new java.util.LinkedHashMap[(Int, Long), Array[Long]](
            16, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[(Int, Long), Array[Long]]): Boolean =
              size() > maxCached
          }
      }
    @transient private lazy val registeredFor =
      new ThreadLocal[java.lang.Long]

    private def load(g: Int, sid: Long): Array[Long] = {
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) {
        val id = java.lang.Long.valueOf(tc.taskAttemptId())
        if (!id.equals(registeredFor.get())) {
          tc.addTaskCompletionListener[Unit](_ => cacheTL.remove())
          registeredFor.set(id)
        }
      }
      val cache = cacheTL.get()
      val key = (g, sid)
      var arr = cache.get(key)
      if (arr == null) {
        arr = readStride(conf.value, dirsWithStrides(g)._1, sid)
        cache.put(key, arr)
      }
      arr
    }

    def fn: Long => Boolean = { docId =>
      val sid = Norms.strideOf(docId)
      var g = 0
      var hit = false
      while (!hit && g < dirsWithStrides.length) {
        if (strideSets(g).contains(sid) &&
            java.util.Arrays.binarySearch(load(g, sid), docId) >= 0)
          hit = true
        g += 1
      }
      hit
    }
  }

  /** Build the mask for a set of generations: manifest counts decide
    * broadcast-Set vs strided; below the threshold the Set is read from
    * the committed stride files on the driver (no Spark job).
    */
  def maskFor(spark: SparkSession, indexDirs: Seq[String]): Mask = {
    val manifests = indexDirs.flatMap(d =>
      readManifest(spark, d).filter(_._1 > 0).map(m => (d, m._1, m._2)))
    val total = manifests.map(_._2).sum
    if (total == 0) EmptyMask
    else if (total <= broadcastThreshold(spark)) {
      val conf = spark.sparkContext.hadoopConfiguration
      SetMask(manifests.flatMap { case (d, _, ss) => idsOf(conf, d, ss) }.toSet)
    }
    else StridedMask(manifests.map { case (d, _, ss) => (d, ss) }.toArray,
      new Norms.SerConf(spark.sparkContext.hadoopConfiguration))
  }
}
