package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Compaction: merge several index generations (a base + deltas) into
  * one, WITHOUT re-tokenizing — postings are decoded from the segment
  * blocks, re-crawled urls are deduplicated (the NEWEST generation's
  * version wins, matching the reference's insert-or-update re-crawl,
  * /root/reference/packages/core/spheraform_core/tasks/crawl.py:190-254),
  * and the surviving docs and postings go through the one generation
  * writer ([[Generation.write]]) like a build's: per-term
  * df/cf/maxTf/minDl recomputed exactly from the SURVIVING postings,
  * hot terms re-salted under the merged df, the standard merge-by-term
  * encode. Surviving docIds are preserved, so compacted results are
  * identical to a full rebuild over the post-replacement corpus —
  * scores AND docIds. What is compaction's own: the url upsert, the
  * decode, and the watermark, fingerprint and tombstone carry.
  *
  * Ancestor: the reference's landing-zone promote step
  * (/root/reference/packages/core/spheraform_core/storage/backend.py:473-535) —
  * staged partial artifacts become the canonical one.
  */
object Compaction {

  /** `resume = true` mirrors the build's checkpoint semantics: the
    * docs/norms/terms/stats front half commits as one "stats"
    * checkpoint, and segments encode in `cfg.numGroups` bucket groups
    * with one checkpoint each — a 100 TB compaction that dies
    * mid-encode restarts at the first incomplete group, not from zero.
    * Group inputs re-derive deterministically from the source
    * generations and the committed dictionary, so a resumed compaction
    * is byte-identical to an uninterrupted one (ResumeSpec asserts it).
    */
  def compact(spark: SparkSession, gens: Seq[String], outDir: String,
              cfg: IndexBuilder.Config = IndexBuilder.Config(),
              buildId: String = "compact",
              resume: Boolean = true): IndexStats = {
    import spark.implicits._
    // empty generations (a no-op delta) have no readable docs/segments
    // parquet; they contribute nothing to the merge (their carried
    // tombstones are still unioned in the tail, which reads only
    // tombstone sidecars)
    val liveGens = gens.filter(d =>
      IndexPaths.readStats(spark, d).numDocs > 0)
    require(liveGens.nonEmpty, "nothing to compact: every input empty")

    // 1. docs meta: per url, the row from the LATEST generation wins
    //    (re-crawl upsert); losers' docIds drop out of everything
    val winners = liveGens.zipWithIndex.map { case (d, i) =>
        IndexPaths.docs(spark, d).withColumn("gen", lit(i))
      }.reduce(_ unionByName _)
      .withColumn("rn", row_number().over(Window.partitionBy($"url")
        .orderBy(desc("gen"), desc("docId"))))
      .filter($"rn" === 1).drop("rn", "gen")
      .as[DocMeta]
    // positional tier survives the merge for docs that had one: any
    // positional input gen → the output can phrase-match (docs from
    // non-positional gens just can't — documented partial semantics,
    // IncrementalSpec's mixed case); all-absent → false; any
    // legacy-unknown (and none true) → unknown
    val genPos = gens.map(d => IndexPaths.readStats(spark, d).positions)
    val posFlag =
      if (genPos.exists(_.contains(true))) Some(true)
      else if (genPos.forall(_.contains(false))) Some(false)
      else None
    // 2. postings: decoded once, shared by the terms, the norms and
    //    every segments group. Cache-vs-recompute is a CONFIG
    //    (`graft.compaction.cacheDecoded`, default true): the cache is
    //    a corpus-scale disk-backed store for the run's lifetime
    //    (spills rather than OOMs) bought to decode each block once
    //    across its readers; a storage-constrained deployment sets
    //    false and re-decodes per reader instead — byte-identical
    //    output either way (ResumeSpec asserts).
    val decoded = decodedPostings(spark, liveGens, winners.toDF())
    val cacheDecoded = spark.conf
      .getOption("graft.compaction.cacheDecoded").forall(_.toBoolean)
    if (cacheDecoded)
      decoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // lineage = the inputs: a resume must never trust checkpoints from
    // a run over different generations (delta2 silently missing, its
    // tombstones wrongly dropped as in-range)
    // the winners' docIds lie in the inputs' span: it sets the docs
    // write's split without a job
    val spans = liveGens.map(IndexPaths.readStats(spark, _))
    val stats = try Generation.write(outDir, winners, decoded, cfg, buildId,
        resume, gens.mkString(","), posFlag, stage = false,
        docIds = Some((spans.map(_.minDocId).min, spans.map(_.maxDocId).max)))
      finally if (cacheDecoded) decoded.unpersist()
    // carry the newest watermark forward
    gens.flatMap(d => Incremental.readWatermark(spark, d))
      .sortBy(_.getTime).lastOption
      .foreach(ts => Incremental.writeWatermark(spark, outDir, ts))
    // Carry the change-detection sidecars from the most recently
    // STAMPED input generation: a compaction that retires its inputs
    // would otherwise lose fingerprint.json/urlhashes, silently
    // demoting the next delta to the watermark-only filter (which
    // drops same-timestamp edits — the class the urlhashes sidecar
    // exists to catch) and making the probe ladder return Unknown.
    val stamped = gens.flatMap(d =>
      if (IndexPaths.exists(spark, s"$d/fingerprint.json")) Some(d)
      else None)
    if (stamped.nonEmpty) {
      val src = Incremental.probeTarget(spark, stamped)
      IndexPaths.writeString(spark, s"$outDir/fingerprint.json",
        IndexPaths.readString(spark, s"$src/fingerprint.json"))
      if (IndexPaths.exists(spark, s"$src/urlhashes"))
        spark.read.parquet(s"$src/urlhashes")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/urlhashes")
    }
    // Unconditionally clear stale tombstone outputs first: recompacting
    // into a reused outDir whose previous run carried tombstones would
    // otherwise leave the old files masking live docIds.
    Tombstones.clear(spark, outDir)
    // Tombstones whose target docId was PRESENT in an input generation
    // are consumed (the url dedup physically dropped the replaced
    // version) — but a subset compaction (e.g. delta1+delta2 without
    // the base) must CARRY tombstones pointing at excluded
    // generations, or the replaced base docs resurrect in
    // searchMulti(base, out). Membership is decided by an anti-join
    // against the input generations' ACTUAL docIds, never by the
    // [minDocId, maxDocId] span: a carried-tombstone output has a
    // HOLE in its span (winners keep original ids), and a span test
    // on a later compaction would wrongly consume tombstones aimed
    // into that hole. Distributed end to end — a full re-crawl's
    // tombstone set is O(corpus), never a driver collect.
    val tombGens = gens.filter(Tombstones.count(spark, _) > 0)
    if (tombGens.nonEmpty) {
      val inputIds = liveGens.map(d =>
        IndexPaths.docs(spark, d).select($"docId")).reduce(_ union _)
      Tombstones.write(Tombstones.distributed(spark, tombGens)
        .toDF("docId").distinct()
        .join(inputIds, Seq("docId"), "left_anti")
        .as[Long], outDir)
    }
    stats
  }

  /** Surviving postings, decoded (no tokenize): blocks of every
    * generation flat-decoded, then inner-joined to the winner docs
    * meta — the join drops replaced docs' postings (anti-join
    * semantics via inner join on survivors; the loser set can be
    * arbitrarily large in a full re-crawl, so never broadcast) and
    * carries dl back from the meta (dl is NOT in the blocks — norms
    * sidecar).
    */
  private def decodedPostings(spark: SparkSession, gens: Seq[String],
      winners: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    gens.map(IndexPaths.segments(spark, _))
      .reduce(_ union _)
      .flatMap { b =>
        val ds = Codec.decodeDeltas(b.docIdsEnc, b.n, b.firstDocId)
        val tfs = Codec.decodeVarByte(b.tfsEnc, b.n)
        val pos: Array[Array[Byte]] =
          if (b.posEnc == null || b.posEnc.isEmpty) null
          else Codec.decodePositionsBlock(b.posEnc, b.n)
            .map(Codec.encodePositions)
        val term = StagedPosting.termOfSkey(b.skey)
        (0 until b.n).iterator.map(i =>
          (term, ds(i), tfs(i).toInt,
            if (pos == null) Array.emptyByteArray else pos(i)))
      }
      .toDF("term", "docId", "tf", "posEnc")
      .join(winners.select($"docId", $"dl".cast("int").as("dl")), "docId")
  }
}
