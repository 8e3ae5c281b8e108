package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

/** Index layout on the (Hadoop-abstracted) filesystem. Everything but
  * the tombstones is written by the one generation writer,
  * [[Generation.write]]:
  *
  * {{{
  *   <dir>/docs/                  DocMeta parquet, split on norms strides,
  *                                sorted by docId
  *   <dir>/norms/                 dl per docId window ([[Norms]]),
  *                                written by the docs job
  *   <dir>/terms/                 TermMeta parquet, range-sorted by termHash
  *   <dir>/postings_staged/       StagedPosting parquet, partitionBy(bucket)
  *                                (multi-group builds only, deleted once
  *                                every group is COMPLETE)
  *   <dir>/segments/              SegmentBlock parquet, partitionBy(bucket),
  *                                sorted by (termHash, skey, blockId)
  *   <dir>/tombstones_strided/    replaced docIds, one sorted-long file
  *                                per docId stride + manifest.json
  *                                (re-crawl deltas, carrying compactions;
  *                                see [[Tombstones]])
  *   <dir>/stats.json             IndexStats sidecar
  *   <dir>/_checkpoints/          one JSON per (stage, unit): "stats",
  *                                "postings" (builds), "segments" per
  *                                bucket group (rowCount = its blocks)
  * }}}
  *
  * All IO goes through Hadoop `FileSystem`, so the same code runs on
  * local disk here and on HDFS/S3A on a real cluster. Parquet tables
  * commit through Spark's output committer; every sidecar (stats.json,
  * checkpoints, norms, tombstones, manifests) commits through
  * [[graft.Commit]], the reference's landing-zone→promote pattern
  * (spheraform_core `storage/backend.py:473-535`).
  */
object IndexPaths {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // One typed reader per index artifact, each with the schema its
  // writer uses: a read starts no schema-inference job (an untyped
  // read starts one per call, so one per generation per query), and
  // an empty generation — a dir holding only `_SUCCESS` — reads as
  // zero rows instead of failing inference.

  def segments(spark: SparkSession, dir: String): Dataset[SegmentBlock] =
    typed(spark, s"$dir/segments", Encoders.product[SegmentBlock])

  def terms(spark: SparkSession, dir: String): Dataset[TermMeta] =
    typed(spark, s"$dir/terms", Encoders.product[TermMeta])

  def docs(spark: SparkSession, dir: String): Dataset[DocMeta] =
    typed(spark, s"$dir/docs", Encoders.product[DocMeta])

  private def typed[T](spark: SparkSession, path: String,
                       enc: Encoder[T]): Dataset[T] =
    spark.read.schema(enc.schema).parquet(path).as(enc)

  /** Atomic replace ([[graft.Commit.file]]): readers never see a torn
    * sidecar. */
  def writeString(spark: SparkSession, path: String, s: String): Unit =
    graft.Commit.file(fs(spark, path), new Path(path))(
      _.write(s.getBytes(StandardCharsets.UTF_8)))

  def readString(spark: SparkSession, path: String): String = {
    val f = fs(spark, path)
    val in = f.open(new Path(path))
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def delete(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Content fingerprint of a table path — name/len/mtime of every
    * file under it (or of the file itself), md5-hexed with the path.
    * THE cache-key rule for derived artifacts (EntryIndex index cache,
    * streaming staging, ANN artifacts): a changed source must never
    * silently reuse a stale derivative.
    */
  def contentTag(spark: SparkSession, path: String): String = {
    val sig =
      if (!exists(spark, path)) "missing"
      else fs(spark, path).listStatus(new Path(path))
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$path|$sig".getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  def dirBytes(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.getContentSummary(p).getLength else 0L
  }

  // Minimal hand-rolled JSON for the two tiny sidecar record types —
  // keeps the library dependency-free (offline sbt).
  def writeStats(spark: SparkSession, dir: String, s: IndexStats): Unit =
    writeString(spark, s"$dir/stats.json",
      s"""{"buildId":"${s.buildId}","numDocs":${s.numDocs},""" +
        s""""avgdl":${s.avgdl},"numTerms":${s.numTerms},""" +
        s""""numBuckets":${s.numBuckets},"blockSize":${s.blockSize},""" +
        s""""maxDocId":${s.maxDocId},"totalTokens":${s.totalTokens},""" +
        s""""maxDl":${s.maxDl},"minDocId":${s.minDocId}""" +
        s.positions.map(p => s""","positions":$p""").getOrElse("") + "}")

  def readStats(spark: SparkSession, dir: String): IndexStats = {
    val m = parseFlatJson(readString(spark, s"$dir/stats.json"))
    IndexStats(m("buildId"), m("numDocs").toLong, m("avgdl").toDouble,
      m("numTerms").toLong, m("numBuckets").toInt, m("blockSize").toInt,
      m("maxDocId").toLong, m.getOrElse("totalTokens", "0").toLong,
      m.getOrElse("maxDl", "0").toLong,
      m.getOrElse("minDocId", "0").toLong,
      m.get("positions").map(_.toBoolean))
  }

  /** Parse a flat one-level JSON object with string/number values. */
  def parseFlatJson(s: String): Map[String, String] = {
    val body = s.trim.stripPrefix("{").stripSuffix("}")
    // split on commas not inside quotes
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = false
    val cur = new StringBuilder
    body.foreach {
      case '"' => depth = !depth; cur.append('"')
      case ',' if !depth => parts += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) parts += cur.toString
    parts.map { kv =>
      val i = kv.indexOf(':')
      val k = kv.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"")
      val v = kv.substring(i + 1).trim.stripPrefix("\"").stripSuffix("\"")
      k -> v
    }.toMap
  }
}

/** Checkpoint persistence: one JSON file per (stage, unit), committed
  * atomically ([[graft.Commit.file]]) after the unit's output is durable.
  * Resume = listing which units are COMPLETE and skipping them
  * (ancestor: pending-chunk scan,
  * /root/reference/packages/core/spheraform_core/models/job.py:115-167).
  */
class CheckpointStore(spark: SparkSession, dir: String) {
  private val root = s"$dir/_checkpoints"

  private def path(stage: String, unit: Int) = s"$root/${stage}_$unit.json"

  /** Remove every checkpoint whose lineage differs from `expected` and
    * report whether any existed: a resume into a reused outDir must not
    * trust checkpoints from a run over DIFFERENT inputs or layout
    * config — `isComplete` alone would skip stages and silently serve
    * the previous run's artifacts. Callers that encode artifacts from
    * checkpoint-gated stages must also discard those artifacts when
    * this returns true (the stage boundaries no longer line up).
    */
  def invalidateUnlessLineage(expected: String): Boolean = {
    val stale = list().filter(_.lineage != expected)
    stale.foreach(c => IndexPaths.delete(spark, path(c.stage, c.unit)))
    stale.nonEmpty
  }

  /** The committed record of one (stage, unit), if present — resumes
    * read rowCount/bytes from here instead of re-scanning output.
    */
  def read(stage: String, unit: Int): Option[Checkpoint] =
    if (!IndexPaths.exists(spark, path(stage, unit))) None
    else {
      val m = IndexPaths.parseFlatJson(
        IndexPaths.readString(spark, path(stage, unit)))
      Some(Checkpoint(m("buildId"), m("stage"), m("unit").toInt,
        m("status"), m("rowCount").toLong, m("bytes").toLong,
        m("lineage"), m("startedMs").toLong, m("finishedMs").toLong))
    }

  def isComplete(stage: String, unit: Int): Boolean =
    IndexPaths.exists(spark, path(stage, unit)) && {
      val m = IndexPaths.parseFlatJson(
        IndexPaths.readString(spark, path(stage, unit)))
      m.get("status").contains("COMPLETE")
    }

  def commit(c: Checkpoint): Unit = {
    val json =
      s"""{"buildId":"${c.buildId}","stage":"${c.stage}","unit":${c.unit},""" +
        s""""status":"${c.status}","rowCount":${c.rowCount},""" +
        s""""bytes":${c.bytes},"lineage":"${c.lineage}",""" +
        s""""startedMs":${c.startedMs},"finishedMs":${c.finishedMs}}"""
    IndexPaths.writeString(spark, path(c.stage, c.unit), json)
  }

  def list(): Seq[Checkpoint] = {
    val f = IndexPaths.fs(spark, root)
    val p = new Path(root)
    if (!f.exists(p)) return Seq.empty
    f.listStatus(p).toSeq
      .filter(s => s.getPath.getName.endsWith(".json"))
      .map { s =>
        val m = IndexPaths.parseFlatJson(
          IndexPaths.readString(spark, s.getPath.toString))
        Checkpoint(m("buildId"), m("stage"), m("unit").toInt, m("status"),
          m("rowCount").toLong, m("bytes").toLong, m("lineage"),
          m("startedMs").toLong, m("finishedMs").toLong)
      }
  }
}
