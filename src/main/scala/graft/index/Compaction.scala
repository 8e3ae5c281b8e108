package graft.index

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Compaction: merge several index generations (a base + deltas) into
  * one, WITHOUT re-tokenizing — postings are decoded from the segment
  * blocks, re-crawled urls are deduplicated (the NEWEST generation's
  * version wins, matching the reference's insert-or-update re-crawl,
  * /root/reference/packages/core/spheraform_core/tasks/crawl.py:190-254),
  * per-term df/cf/maxTf/minDl are recomputed exactly from the
  * SURVIVING postings, hot terms re-salted under the merged df, and
  * the standard merge-by-term encode runs. Surviving docIds are
  * preserved, so compacted results are identical to a full rebuild
  * over the post-replacement corpus — scores AND docIds.
  *
  * Ancestor: the reference's landing-zone promote step
  * (/root/reference/packages/core/spheraform_core/storage/backend.py:473-535) —
  * staged partial artifacts become the canonical one.
  */
object Compaction {

  /** `resume = true` mirrors the build's checkpoint semantics: the
    * docs/terms/stats front half commits as one "stats" checkpoint,
    * and segments encode in `cfg.numGroups` bucket groups with one
    * checkpoint each — a 100 TB compaction that dies mid-encode
    * restarts at the first incomplete group, not from zero. Group
    * inputs re-derive deterministically from the durable outputs
    * (outDir/docs + outDir/terms + the source generations), so a
    * resumed compaction is byte-identical to an uninterrupted one
    * (ResumeSpec asserts it).
    */
  def compact(spark: SparkSession, gens: Seq[String], outDir: String,
              cfg: IndexBuilder.Config = IndexBuilder.Config(),
              buildId: String = "compact",
              resume: Boolean = true): IndexStats = {
    import spark.implicits._
    val ckpt = new CheckpointStore(spark, outDir)
    val t0 = System.currentTimeMillis()
    // lineage = inputs + every config knob the artifacts depend on: a
    // resume must never trust checkpoints from a run over different
    // generations (delta2 silently missing, its tombstones wrongly
    // dropped as in-range) or a different bucket/group layout (group
    // checkpoints would gate the wrong bucket ranges)
    val lineage = gens.mkString(",") +
      s";b=${cfg.numBuckets};g=${cfg.numGroups};bs=${cfg.blockSize}" +
      s";st=${cfg.saltTarget};pos=${cfg.withPositions}"
    val shufP =
      if (cfg.shufflePartitions > 0) cfg.shufflePartitions
      else spark.sessionState.conf.numShufflePartitions
    if (!resume) {
      IndexPaths.delete(spark, s"$outDir/_checkpoints")
      IndexPaths.delete(spark, s"$outDir/segments")
    } else if (ckpt.invalidateUnlessLineage(lineage)) {
      // reused outDir, different inputs/config: segments were encoded
      // under the old lineage's stage boundaries — discard them too
      IndexPaths.delete(spark, s"$outDir/segments")
    }

    // empty generations (a no-op delta) have no readable docs/segments
    // parquet; they contribute nothing to the merge (their carried
    // tombstones are still unioned in the tail, which reads only
    // tombstone sidecars)
    val liveGens = gens.filter(d =>
      IndexPaths.readStats(spark, d).numDocs > 0)
    require(liveGens.nonEmpty, "nothing to compact: every input empty")

    val statsDone = resume && ckpt.isComplete("stats", 0)
    if (!statsDone) {
      // fresh front half invalidates any previously encoded segments
      IndexPaths.delete(spark, s"$outDir/segments")

      // 1. docs meta: per url, the row from the LATEST generation wins
      //    (re-crawl upsert); losers' docIds drop out of everything
      val docsAll = liveGens.zipWithIndex.map { case (d, i) =>
        IndexPaths.docs(spark, d).withColumn("gen", lit(i))
      }.reduce(_ unionByName _)
      val ranked = docsAll.withColumn("rn",
        row_number().over(Window.partitionBy($"url").orderBy(desc("gen"),
          desc("docId"))))
      val winners = ranked.filter($"rn" === 1).drop("rn", "gen")
      winners.repartitionByRange(math.max(1, shufP / 2), $"docId")
        .sortWithinPartitions("docId")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/docs")
    }
    val written = IndexPaths.docs(spark, outDir).toDF()
    // 2. postings: decoded once, shared by the terms agg and every
    //    segments group. Cache-vs-recompute is a CONFIG
    //    (`graft.compaction.cacheDecoded`, default true): the cache is
    //    a corpus-scale disk-backed store for the run's lifetime
    //    (spills rather than OOMs) bought to decode each block once
    //    across 1 + numGroups consumers; a storage-constrained
    //    deployment sets false and re-decodes per consumer instead —
    //    byte-identical output either way (ResumeSpec asserts).
    val cacheDecoded = spark.conf
      .getOption("graft.compaction.cacheDecoded").forall(_.toBoolean)
    val decoded = {
      val d = decodedPostings(spark, liveGens, written)
      if (cacheDecoded)
        d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d
    }
    if (!statsDone) {
      val agg0 = written.agg(count(lit(1)), sum($"dl".cast("long")),
        max($"docId"), max($"dl".cast("long")), min($"docId")).head()
      val n = agg0.getLong(0)
      val totalTokens = agg0.getLong(1)
      val avgdl = if (n == 0) 0.0 else totalTokens.toDouble / n
      val maxDl = if (n == 0) 0L else agg0.getLong(3)
      val minDocId = if (n == 0) 0L else agg0.getLong(4)
      Norms.write(written.select($"docId", $"dl".cast("int"))
        .as[(Long, Int)], outDir)

      // 3. terms: recomputed EXACTLY from the surviving postings (a
      //    metadata re-sum would overcount df/cf once a doc is
      //    dropped); re-salt under the merged df
      val termDf = decoded.groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").cast("long").as("cf"),
          max($"tf").cast("int").as("maxTf"),
          min($"dl").cast("int").as("minDl"))
        .withColumn("saltCount",
          when($"df" > cfg.saltTarget,
            ceil($"df".cast("double") / cfg.saltTarget).cast("int"))
            .otherwise(lit(1)))
      val termsParts = math.max(1,
        Integer.highestOneBit(math.max(1, shufP / 4)))
      // term count observed during the write — a re-read for count()
      // is a full extra pass over the dictionary
      val obsTerms = new org.apache.spark.sql.Observation()
      termDf
        .withColumn("termHash", xxhash64($"term"))
        .select($"term", $"termHash", $"df", $"cf", $"saltCount",
          $"maxTf", $"minDl")
        .repartition(termsParts,
          IndexBuilder.rangePid(col("termHash"), termsParts))
        .sortWithinPartitions("termHash")
        .observe(obsTerms, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/terms")
      val numTerms = obsTerms.get("n").asInstanceOf[Long]
      // positional tier survives the merge for docs that had one:
      // any positional input gen → the output can phrase-match (docs
      // from non-positional gens just can't — documented partial
      // semantics, IncrementalSpec's mixed case); all-absent → false;
      // any legacy-unknown (and none true) → unknown
      val genPos = gens.map(d => IndexPaths.readStats(spark, d).positions)
      val posFlag =
        if (genPos.exists(_.contains(true))) Some(true)
        else if (genPos.forall(_.contains(false))) Some(false)
        else None
      val stats = IndexStats(buildId, n, avgdl, numTerms, cfg.numBuckets,
        cfg.blockSize, agg0.getLong(2), totalTokens, maxDl, minDocId,
        positions = posFlag)
      IndexPaths.writeStats(spark, outDir, stats)
      ckpt.commit(Checkpoint(buildId, "stats", 0, "COMPLETE", n,
        IndexPaths.dirBytes(spark, s"$outDir/docs"), lineage, t0,
        System.currentTimeMillis()))
    }

    // 4. re-key, merge-encode — one checkpointed bucket group at a
    //    time (mirrors IndexBuilder's segments stage)
    val stats = IndexPaths.readStats(spark, outDir)
    val termsRead = IndexPaths.terms(spark, outDir)
    // the ONE bucket expression (IndexBuilder.rangePid): build and
    // compaction must agree on the layout or pruning breaks
    val bucketCol = IndexBuilder.rangePid(col("termHash"), cfg.numBuckets)
    val staged = decoded
      .join(broadcast(termsRead.filter($"saltCount" > 1)
        .select($"term", $"saltCount")), Seq("term"), "left")
      .withColumn("skey",
        when($"saltCount".isNotNull && $"saltCount" > 1,
          concat($"term", lit("#"),
            pmod(xxhash64($"docId"), $"saltCount".cast("long"))))
          .otherwise($"term"))
      .withColumn("termHash", xxhash64($"skey"))
      .withColumn("bucket", bucketCol)
      .select($"bucket", $"termHash", $"skey",
        $"docId", $"tf", $"dl", $"posEnc")
      .as[StagedPosting]
    val bucketsPerGroup =
      math.max(1, math.ceil(cfg.numBuckets.toDouble / cfg.numGroups).toInt)
    for (g <- 0 until cfg.numGroups) {
      val lo = g * bucketsPerGroup
      val hi = math.min(cfg.numBuckets, lo + bucketsPerGroup)
      if (lo < hi && !(resume && ckpt.isComplete("segments", g))) {
        val tg = System.currentTimeMillis()
        // clean any partial output of a previous attempt of THIS group
        (lo until hi).foreach { b =>
          IndexPaths.delete(spark, s"$outDir/segments/bucket=$b")
        }
        IndexBuilder.encodeSegments(
            staged.filter($"bucket" >= lo && $"bucket" < hi), stats, cfg)
          .write.mode(SaveMode.Append).partitionBy("bucket")
          .parquet(s"$outDir/segments")
        val bytes = (lo until hi).map(b =>
          IndexPaths.dirBytes(spark, s"$outDir/segments/bucket=$b")).sum
        ckpt.commit(Checkpoint(buildId, "segments", g, "COMPLETE", 0L,
          bytes, lineage, tg, System.currentTimeMillis()))
        if (cfg.failAfterGroup == g)
          throw new RuntimeException(s"injected failure after group $g")
      }
    }
    if (cacheDecoded) decoded.unpersist()
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
      written: org.apache.spark.sql.DataFrame)
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
      .join(written.select($"docId", $"dl".cast("int").as("dl")), "docId")
  }
}
