package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Strided tombstone sidecar + the serve-path mask.
  *
  * Every re-crawl delta commits its tombstoned docIds twice: as
  * `tombstones/` parquet (the table compaction and tools read) and as
  * a strided sidecar on the [[Norms]] stride grid, the Lucene-deletes
  * shape: `<gen>/tombstones_strided/s<strideId>.bin` holds the SORTED
  * tombstoned docIds of that docId stride as raw big-endian longs, and
  * `manifest.json` lists the count and the stride ids. The serve path
  * reads the sidecar, never the parquet, so building a mask starts no
  * Spark job:
  *  - at most [[broadcastThreshold]] tombstones in total: the driver
  *    reads every listed stride file into one broadcast hash set
  *    ([[SetMask]]) — O(1) per-posting checks; the threshold bounds
  *    the read;
  *  - above it: [[StridedMask]] — a gather task loads only the strides
  *    its docId window [lo, hi) overlaps, so per-task memory is the
  *    range's own tombstones, never the corpus's (collecting a full
  *    re-crawl's O(corpus) set into a driver Set is the OOM the
  *    round-2 advice flagged).
  * Only a generation with tombstone parquet but no committed manifest
  * (legacy, or a crash before the sidecar was written) is read from
  * the parquet, and only while small. Exactness holds in every mode
  * (hash/binary-search membership, no bloom false positives — a false
  * positive would silently drop a live doc from rankings).
  *
  * Commit protocol ([[graft.Commit.marked]]): stride files replace
  * atomically; `manifest.json` (count + stride list) is written LAST
  * by the driver and is the commit marker — readers that find
  * tombstone parquet but no manifest fall back to the parquet, never
  * to a half-written sidecar.
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
    if (!IndexPaths.exists(spark, p)) None
    else IndexPaths.readString(spark, p).trim match {
      case ManifestRx(count, strides) =>
        Some((count.toLong, strides.split(",").map(_.trim)
          .filter(_.nonEmpty).map(_.toLong)))
      case torn =>
        throw new IllegalStateException(
          s"unparseable tombstone manifest $p: '$torn' — rerun Tombstones.write")
    }
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
    * the committed stride files on the driver (no Spark job). Only
    * generations without a committed sidecar read their (small,
    * pre-sidecar) tombstone parquet.
    */
  def maskFor(spark: SparkSession, indexDirs: Seq[String]): Mask = {
    val thr = broadcastThreshold(spark)
    val manifests = indexDirs.map(d => d -> readManifest(spark, d))
    val parquetCounts = manifests.collect {
      case (d, None) => d -> Incremental.tombstoneParquetCount(spark, d)
    }.toMap
    val total = manifests.map {
      case (_, Some((n, _))) => n
      case (d, None) => parquetCounts(d)
    }.sum
    if (total == 0) EmptyMask
    else if (total <= thr) {
      val conf = spark.sparkContext.hadoopConfiguration
      SetMask(manifests.flatMap {
        case (d, Some((_, strides))) => strides.flatMap(readStride(conf, d, _)).toSeq
        case (d, None) => Incremental.readTombstones(spark, d)
      }.toSet)
    }
    else {
      // strided for every generation that committed a sidecar; a
      // legacy generation without one contributes through a small
      // parquet set folded in as extra "strides"? No — keep exact and
      // simple: require the sidecar where it matters. A generation
      // over threshold always has one (buildDelta writes it); legacy
      // small generations ride along as a SetMask union.
      val strided = manifests.collect {
        case (d, Some((n, ss))) if n > 0 => (d, ss)
      }.toArray
      // a manifest-less generation rides along as a broadcast Set ONLY
      // if its own count is under the threshold — collecting a large
      // set here (e.g. a full-re-crawl delta that died before its
      // sidecar committed) would silently recreate the O(corpus)
      // driver Set this whole mechanism exists to prevent
      manifests.foreach {
        case (d, None) =>
          val c = parquetCounts(d)
          require(c <= thr,
            s"$d has $c tombstones but no committed strided sidecar " +
              s"(> broadcast threshold $thr) — rerun Tombstones.write " +
              "for it before serving")
        case _ => ()
      }
      val legacySmall = manifests.collect {
        case (d, None) => d
      }.flatMap(d => Incremental.readTombstones(spark, d)).toSet
      val conf = new Norms.SerConf(spark.sparkContext.hadoopConfiguration)
      if (legacySmall.isEmpty) StridedMask(strided, conf)
      else CombinedMask(StridedMask(strided, conf), SetMask(legacySmall))
    }
  }

  final case class CombinedMask(a: Mask, b: Mask) extends Mask {
    def isEmpty: Boolean = a.isEmpty && b.isEmpty
    def fn: Long => Boolean = {
      val fa = a.fn; val fb = b.fn
      if (fa == null) fb
      else if (fb == null) fa
      else (d: Long) => fa(d) || fb(d)
    }
  }
}
