package graft.index

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.PageRow

/** Incremental indexing: change detection + delta generations.
  *
  * The reference's incremental machinery is cost-ordered change
  * probes with a tri-state result
  * (/root/reference/packages/core/spheraform_core/adapters/base.py:171-199)
  * feeding selective re-downloads. Our equivalent: a `warc_ts`
  * high-watermark selects only appended pages (≙ Iceberg incremental
  * snapshot read at scale), a delta index generation is built over
  * them with docIds continuing above the base generation, and
  * [[graft.query.Searcher.searchMulti]] answers queries over the union
  * rank-identically to a full rebuild — block bounds are derived from
  * (maxTf, minDl) under CURRENT combined stats, so WAND stays exact
  * as N, avgdl, and df move.
  *
  * Re-crawl upsert: a delta MAY contain urls that already exist in a
  * base generation (`allowRecrawl`). The delta then writes the
  * replaced base docIds as a [[Tombstones]] sidecar; searchMulti
  * masks them (the dead version is never returned, the new one is),
  * and compaction drops them physically and recomputes term stats —
  * after compaction results are exactly those of a full rebuild over
  * the post-replacement corpus. Between delta and compaction, BM25
  * weights still use pre-replacement global stats (idf/avgdl include
  * the dead docs); the reference accepts the same transient staleness
  * between its re-crawl UPDATE and the next reindex
  * (/root/reference/packages/core/spheraform_core/tasks/crawl.py:190-254).
  */
object Incremental {

  /** Replaced docIds (tombstones) recorded beside a generation,
    * duplicates kept: its strided sidecar read on the driver, no Spark
    * job. Callers must gate on [[Tombstones.count]] /
    * [[Tombstones.maskFor]] before collecting an unbounded set.
    */
  def readTombstones(spark: SparkSession, indexDir: String): Seq[Long] =
    Tombstones.ids(spark, indexDir)

  /** The base generation's ingestion watermark, persisted beside its
    * stats (written by [[buildDelta]] and [[watermarkOf]] callers).
    */
  def readWatermark(spark: SparkSession, indexDir: String): Option[Timestamp] =
    if (!IndexPaths.exists(spark, s"$indexDir/watermark.json")) None
    else {
      val m = IndexPaths.parseFlatJson(
        IndexPaths.readString(spark, s"$indexDir/watermark.json"))
      // epoch millis are the authoritative value: Timestamp.toString /
      // valueOf render and parse in the JVM DEFAULT time zone, so the
      // string form silently shifts across a DST gap or between
      // drivers with different zones — a shifted watermark drops
      // pages. The string is kept for humans; legacy sidecars without
      // the millis field fall back to it.
      m.get("maxWarcTsMs").map(ms => new Timestamp(ms.toLong))
        .orElse(m.get("maxWarcTs").map(Timestamp.valueOf))
    }

  def writeWatermark(spark: SparkSession, indexDir: String,
                     ts: Timestamp): Unit =
    IndexPaths.writeString(spark, s"$indexDir/watermark.json",
      s"""{"maxWarcTsMs":${ts.getTime},"maxWarcTs":"$ts"}""")

  /** The generation to probe/diff against: the one whose fingerprint
    * was stamped most recently (file mtime; list-order breaks ties, so
    * base,delta order picks the delta). Max-by-WATERMARK is wrong here:
    * a delta built from a same-timestamp content edit has a watermark
    * <= the base's, so the base's STALE fingerprint would win the tie
    * and every later probe would report Changed and re-ingest the same
    * edit forever. Falls back to max-watermark for legacy generations
    * without a fingerprint.
    */
  def probeTarget(spark: SparkSession, dirs: Seq[String]): String = {
    val stamped = dirs.flatMap { d =>
      val p = s"$d/fingerprint.json"
      if (!IndexPaths.exists(spark, p)) None
      else Some(d -> IndexPaths.fs(spark, d).getFileStatus(
        new org.apache.hadoop.fs.Path(p)).getModificationTime)
    }
    if (stamped.nonEmpty)
      // last max on an mtime tie (maxBy keeps the first): generations
      // are conventionally listed base-first, newest last
      stamped.zipWithIndex.maxBy { case ((_, t), i) => (t, i) }._1._1
    else dirs.maxBy(d =>
      readWatermark(spark, d).map(_.getTime).getOrElse(Long.MinValue))
  }

  /** Change detection: pages strictly newer than the watermark. */
  def newPages(pages: Dataset[PageRow],
               watermark: Option[Timestamp]): Dataset[PageRow] =
    watermark match {
      case Some(w) => pages.filter(col("warc_ts") > lit(w))
      case None    => pages
    }

  // ---- multi-method change detection (cost-ordered probe ladder) ----
  // Reference ancestor: tri-state change probes ordered by cost,
  // /root/reference/packages/core/spheraform_core/adapters/base.py:171-199.

  sealed trait Change
  case object Unchanged extends Change
  case object Changed extends Change
  case object Unknown extends Change

  /** Source fingerprint sidecar: row count + an order-independent
    * content checksum (sum of xxhash64(url, text) as decimal — a sum
    * is partition-order-independent, unlike any concatenation).
    * Written at build time; the checksum probe compares against it.
    */
  /** Deterministic per-url sample for the sampled-checksum probe tier:
    * 1-in-SampleMod urls, chosen by url hash so the SAME urls are
    * sampled at fingerprint time and probe time regardless of
    * partitioning or row order.
    */
  val SampleMod = 64

  private def sampledCol =
    pmod(xxhash64(col("url")), lit(SampleMod)) === 0

  def writeFingerprint(pages: Dataset[PageRow], indexDir: String): Unit = {
    val spark = pages.sparkSession
    val h = xxhash64(col("url"), col("text")).cast("decimal(38,0)")
    val r = pages.agg(count(lit(1)), sum(h),
      sum(when(sampledCol, h)),
      sum(when(sampledCol, lit(1L)).otherwise(lit(0L)))).head()
    val n = r.getLong(0)
    val sum0 = if (r.isNullAt(1)) BigDecimal(0) else r.getDecimal(1)
    val sSum = if (r.isNullAt(2)) BigDecimal(0) else r.getDecimal(2)
    val sCnt = r.getLong(3)
    IndexPaths.writeString(spark, s"$indexDir/fingerprint.json",
      s"""{"count":$n,"checksum":"$sum0",""" +
        s""""sample_checksum":"$sSum","sample_count":$sCnt}""")
    // per-url content hashes: the SELECTIVE re-ingest sidecar. The
    // aggregate checksum above can say "changed" without saying WHICH
    // rows — a same-timestamp content edit is invisible to the
    // watermark filter, so [[changedPages]] diffs against these hashes
    // instead (without them, the round-2 delta path dropped such edits
    // forever: the edit slipped the watermark filter, then the fresh
    // fingerprint stamp made every later probe report Unchanged).
    pages.select(col("url"),
        xxhash64(col("url"), col("text")).as("h"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$indexDir/urlhashes")
  }

  /** Rows that are NEW OR EDITED relative to the per-url hash sidecar
    * of `probeDir` (anti-join on (url, hash)): a new url has no match,
    * an edited text hashes differently, an unchanged row drops out —
    * including re-crawls that bumped warc_ts without changing content,
    * which the watermark filter would wastefully re-ingest. None when
    * the sidecar doesn't exist (legacy index — watermark filter is the
    * only selector available).
    */
  def changedPages(pages: Dataset[PageRow],
                   probeDir: String): Option[Dataset[PageRow]] = {
    val spark = pages.sparkSession
    if (!IndexPaths.exists(spark, s"$probeDir/urlhashes")) None
    else {
      val old = spark.read.parquet(s"$probeDir/urlhashes")
      implicit val enc = pages.encoder
      Some(pages
        .withColumn("h", xxhash64(col("url"), col("text")))
        .join(old, Seq("url", "h"), "left_anti")
        .drop("h")
        .as[PageRow])
    }
  }

  /** Run the probe ladder, cheapest first, stopping at the first
    * DECISIVE probe. Returns the verdict plus the per-probe trail
    * (tri-state each, like the reference's method ladder —
    * /root/reference/packages/core/spheraform_core/models/change.py:22-32):
    *  1. watermark — max(warc_ts) vs the stored watermark: one
    *     column-pruned agg; newer rows ⇒ Changed, else Unknown
    *     (same-timestamp edits are invisible to it).
    *  2. count — row count vs the fingerprint count: != ⇒ Changed,
    *     == ⇒ Unknown (replacements preserve counts). Its OWN scan
    *     (metadata-cheap, no text read) — fusing it with the checksum
    *     agg, as before round 5, made the "cheap" rung pay the full
    *     text scan it exists to avoid.
    *  3. sampled checksum — content checksum over the deterministic
    *     1-in-[[SampleMod]] url sample: a changed sampled row ⇒
    *     Changed; a match ⇒ Unknown (changes outside the sample are
    *     invisible). Text is hashed for ~1/[[SampleMod]] of the
    *     corpus — at 100 TB this rung catches most real re-crawls
    *     before the full scan.
    *  4. checksum — full content checksum vs the fingerprint:
    *     decisive in BOTH directions (the expensive last rung).
    */
  def detectChange(pages: Dataset[PageRow],
                   indexDir: String): (Change, Seq[(String, Change)]) = {
    val spark = pages.sparkSession
    val trail = scala.collection.mutable.ArrayBuffer.empty[(String, Change)]
    // 1. watermark probe
    val wmVerdict = readWatermark(spark, indexDir) match {
      case None => Unknown
      case Some(w) =>
        val maxTs = pages.agg(max(col("warc_ts"))).head().getTimestamp(0)
        if (maxTs != null && maxTs.after(w)) Changed else Unknown
    }
    trail += (("watermark", wmVerdict))
    if (wmVerdict == Changed) return (Changed, trail.toSeq)
    // 2-4 need the fingerprint sidecar
    if (!IndexPaths.exists(spark, s"$indexDir/fingerprint.json")) {
      trail += (("count", Unknown)); trail += (("sample", Unknown))
      trail += (("checksum", Unknown))
      return (Unknown, trail.toSeq)
    }
    val fp = IndexPaths.parseFlatJson(
      IndexPaths.readString(spark, s"$indexDir/fingerprint.json"))
    // 2. count probe: no text column touched
    val cnt = pages.agg(count(lit(1))).head().getLong(0)
    val cntVerdict = if (cnt != fp("count").toLong) Changed else Unknown
    trail += (("count", cntVerdict))
    if (cntVerdict == Changed) return (Changed, trail.toSeq)
    val h = xxhash64(col("url"), col("text")).cast("decimal(38,0)")
    // 3. sampled checksum probe (skipped as Unknown for legacy
    //    fingerprints without the sample fields)
    if (fp.contains("sample_checksum")) {
      val sr = pages.filter(sampledCol)
        .agg(count(lit(1)), sum(h)).head()
      val sCnt = sr.getLong(0)
      val sSum =
        if (sr.isNullAt(1)) BigDecimal(0) else BigDecimal(sr.getDecimal(1))
      val sVerdict =
        if (sCnt != fp("sample_count").toLong ||
            sSum != BigDecimal(fp("sample_checksum"))) Changed
        else Unknown
      trail += (("sample", sVerdict))
      if (sVerdict == Changed) return (Changed, trail.toSeq)
    } else trail += (("sample", Unknown))
    // 4. full checksum: decisive both ways
    val r = pages.agg(sum(h)).head()
    val sum0 =
      if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
    val ckVerdict =
      if (sum0 == BigDecimal(fp("checksum"))) Unchanged else Changed
    trail += (("checksum", ckVerdict))
    (ckVerdict, trail.toSeq)
  }

  /** Build a delta generation over `pages` (pre-filtered to new rows),
    * numbering docIds above the base generations' maxDocId. Returns
    * the delta's stats.
    */
  def buildDelta(pages: Dataset[PageRow], baseDirs: Seq[String],
                 deltaDir: String, cfg: IndexBuilder.Config,
                 buildId: String = "delta",
                 useExtractor: Boolean = true,
                 allowRecrawl: Boolean = false): IndexStats = {
    val spark = pages.sparkSession
    val baseMax = baseDirs.map(d =>
      IndexPaths.readStats(spark, d).maxDocId).max
    // a reused deltaDir must not keep a previous run's tombstones: a
    // rebuild without re-crawls would still hide their base docs
    Tombstones.clear(spark, deltaDir)
    val docs = DocIds.fromPages(pages,
      spark.sessionState.conf.numShufflePartitions,
      useExtractor = useExtractor, offset = baseMax + 1)
    val stats = IndexBuilder.build(docs, deltaDir, cfg, buildId,
      lineage = s"delta-over(${baseDirs.mkString(",")})")
    if (allowRecrawl && stats.numDocs > 0) {
      // tombstone the base versions of re-crawled urls: the delta's
      // url set joins each base's docs meta (pruned to two columns).
      // PLAIN shuffle join, no broadcast hint: a full re-crawl's url
      // set is O(corpus) — forcing a broadcast here was the round-2
      // OOM hazard; Spark/AQE still broadcasts small deltas on its own
      val deltaUrls = IndexPaths.docs(spark, deltaDir).select(col("url"))
      Tombstones.write(baseDirs.map(d => IndexPaths.docs(spark, d)
          .select(col("docId"), col("url")))
        .reduce(_ unionByName _)
        .join(deltaUrls, "url")
        .select(col("docId"))
        .as(Encoders.scalaLong), deltaDir)
    }
    val maxTs = pages.agg(max(col("warc_ts"))).head().getTimestamp(0)
    if (maxTs != null) writeWatermark(spark, deltaDir, maxTs)
    stats
  }
}
