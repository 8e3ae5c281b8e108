package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Document-length norms sidecar (SCALE.md: the Lucene-style evolution
  * of storing dl per posting).
  *
  * Layout: `<gen>/norms/s<strideId>.bin`, one fixed-width 4-byte
  * big-endian int per docId, `Stride` docIds per file, strideId =
  * docId >>> StrideLog (GLOBAL stride grid — docIds are dense global
  * ranks, so a lookup is one seek-free array index after the stride
  * buffer loads). Slots outside the generation's [minDocId, maxDocId]
  * stay zero (a docId never appears in postings of a generation that
  * doesn't own it, so zeros are never read).
  *
  * Why a sidecar: dl varbyte in every posting block costs
  * ~1.5 B/posting ≈ 250 TB at the 10^12-doc scale, against 4 B/doc ≈
  * 4 TB as norms (62× less), and posting decode shrinks by a third.
  * A gather task touches only the strides its docId window [lo, hi)
  * overlaps — at 4 MB per stride file that is (hi−lo)/2^20 files,
  * bounded by choosing numRanges so windows fit executor memory.
  */
object Norms {

  val StrideLog = 20
  val Stride: Long = 1L << StrideLog

  def strideOf(docId: Long): Long = docId >>> StrideLog

  def filePath(dir: String, strideId: Long): String =
    s"$dir/norms/s$strideId.bin"

  /** Hadoop Configuration is not Serializable; executors rebuilding
    * readers need it shipped. Mirrors the (private[spark])
    * SerializableConfiguration utility.
    */
  final class SerConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** One generation's routing metadata (broadcast to tasks). */
  case class GenMeta(dir: String, minDocId: Long, maxDocId: Long)

  /** Task-local lazy norms reader over several generations: routes a
    * docId to its owning generation (ranges are disjoint), loads that
    * stride's 4 MB buffer once, then lookups are array reads.
    */
  final class Reader(gens: Array[GenMeta], conf: SerConf,
                     maxCached: Int = 64) {
    // access-order LRU: evict ONE cold stride at capacity instead of
    // clearing all (a task window spanning >maxCached strides
    // previously thrashed the whole cache on every overflow)
    private val cache =
      new java.util.LinkedHashMap[(Int, Long), Array[Byte]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Int, Long), Array[Byte]]): Boolean =
          size() > maxCached
      }

    // commit-marker check once per generation: a norms job that died
    // mid-write leaves stride files but no marker; without this a
    // half-written sidecar would serve dl=0 and silently inflate BM25
    private val committedChecked = new Array[Boolean](gens.length)

    private def ensureCommitted(g: Int, fs: org.apache.hadoop.fs.FileSystem): Unit =
      if (!committedChecked(g)) {
        val marker = new Path(s"${gens(g).dir}/norms/_complete")
        require(fs.exists(marker),
          s"norms sidecar for ${gens(g).dir} has no commit marker — " +
            "partial write detected; rerun Norms.write")
        committedChecked(g) = true
      }

    private def load(g: Int, strideId: Long): Array[Byte] = {
      val key = (g, strideId)
      var buf = cache.get(key)
      if (buf == null) {
        // bound resident strides (4 MB each): the windowed gather path
        // touches few, but the probe path has no docId window — an
        // unbounded cache there could retain GBs per task
        val p = new Path(filePath(gens(g).dir, strideId))
        val fs = p.getFileSystem(conf.value)
        ensureCommitted(g, fs)
        val in = fs.open(p)
        try {
          buf = new Array[Byte]((Stride * 4).toInt)
          in.readFully(0L, buf)
        } finally in.close()
        cache.put(key, buf)
      }
      buf
    }

    def dl(docId: Long): Long = {
      var g = 0
      while (g < gens.length &&
             (docId < gens(g).minDocId || docId > gens(g).maxDocId)) g += 1
      require(g < gens.length, s"docId $docId outside every generation")
      val buf = load(g, strideOf(docId))
      val off = ((docId & (Stride - 1)) * 4).toInt
      ((buf(off) & 0xffL) << 24) | ((buf(off + 1) & 0xffL) << 16) |
        ((buf(off + 2) & 0xffL) << 8) | (buf(off + 3) & 0xffL)
    }
  }

  // Task-scoped Reader reuse: flatMapGroups invokes its function once
  // per GROUP and a partition can hold many groups — a fresh Reader
  // per group starts with a cold cache and re-reads the same 4 MB
  // stride files. Keyed by the gens array's identity (one broadcast
  // value per executor), per-thread (Reader is not thread-safe), and
  // dropped at task completion so nothing outlives the task.
  private val taskReaderMaps =
    new ThreadLocal[java.util.HashMap[AnyRef, Reader]] {
      override def initialValue() = new java.util.HashMap[AnyRef, Reader]()
    }
  private val taskReaderTask = new ThreadLocal[java.lang.Long]

  def taskReader(gens: Array[GenMeta], conf: SerConf): Reader = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null) return new Reader(gens, conf)
    val id = java.lang.Long.valueOf(tc.taskAttemptId())
    if (!id.equals(taskReaderTask.get())) {
      taskReaderMaps.get().clear()
      tc.addTaskCompletionListener[Unit](_ => taskReaderMaps.remove())
      taskReaderTask.set(id)
    }
    val m = taskReaderMaps.get()
    var r = m.get(gens)
    if (r == null) { r = new Reader(gens, conf); m.put(gens, r) }
    r
  }

  /** Write the norms files for one generation from its (docId, dl)
    * rows. Distributed: each stride is owned by exactly one task
    * (groupByKey on strideId), which fills a 4 MB buffer and writes
    * the file — no driver bottleneck, no cross-task file contention.
    *
    * Commit protocol ([[graft.Commit.marked]]): the `_complete` marker
    * Reader requires is retracted first and written last, and every
    * stride replaces its file atomically ([[graft.Commit.file]] — a
    * retried twin writes identical bytes, the stride's rows being
    * deterministic). A job that dies mid-write leaves no marker, so
    * readers fail loudly instead of serving dl=0 from a partial
    * sidecar, or stale dl from a previous run into a reused dir.
    */
  def write(docDl: org.apache.spark.sql.Dataset[(Long, Int)],
            dir: String): Unit = {
    val spark = docDl.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      new SerConf(spark.sparkContext.hadoopConfiguration))
    val target = dir
    graft.Commit.marked(spark, s"$target/norms/_complete") {
      docDl.groupByKey(x => strideOf(x._1))
        .mapGroups { (sid: Long, it: Iterator[(Long, Int)]) =>
          val buf = new Array[Byte]((Stride * 4).toInt)
          it.foreach { case (docId, dl) =>
            val off = ((docId & (Stride - 1)) * 4).toInt
            buf(off) = (dl >>> 24).toByte
            buf(off + 1) = (dl >>> 16).toByte
            buf(off + 2) = (dl >>> 8).toByte
            buf(off + 3) = dl.toByte
          }
          val fin = new Path(filePath(target, sid))
          graft.Commit.file(fin.getFileSystem(bc.value.value), fin)(
            _.write(buf))
          sid
        }
        .count() // materialize the writes
    }(_.toString)
  }
}
