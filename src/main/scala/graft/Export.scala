package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Checkpoint, CheckpointStore, IndexPaths}
import graft.query.Searcher

/** Bulk retrieval: materialize a hit set (index-served conjunctive
  * query, or a filtered corpus slice) WITH its text — the reference's
  * ExportJob surface
  * (/root/reference/packages/core/spheraform_core/models/job.py:177-239:
  * format enum, chunked progress, resumability). The serve path stops
  * at top-k rows; this is the "give me every matching document" path.
  *
  * Formats: parquet (default), jsonl (one JSON object per line — the
  * usual training-data interchange), csv (header row) — the
  * reference's ExportFormat analog (models/job.py:33). All formats
  * share the same chunk/commit/resume machinery; only the writer
  * branch differs.
  *
  * Scale shape: the hit set is a distributed Dataset end to end
  * ([[Searcher.conjunctiveDocs]] — posting-list AND, never a driver
  * collect), text joins back by url as a plain shuffle join, and the
  * output is written in `chunks` docId-hash chunks, each committed in
  * the build's CheckpointStore — a crashed export resumes at the first
  * incomplete chunk instead of restarting (reference: resumable chunk
  * ladder, models/job.py:115-167).
  *
  * Resume fencing: the chunk lineage embeds the query/predicate AND
  * the INPUT identity — each index generation's (buildId, numDocs,
  * maxDocId) and a source-corpus content fingerprint — so re-running
  * into the same outDir after the index gained a delta / was
  * compacted / the corpus was re-crawled discards the stale chunks
  * instead of silently serving the previous inputs' rows under a
  * fresh manifest (the same silent-stale-artifact class the build and
  * compaction lineage fencing exists for).
  */
object Export {

  case class ExportResult(rows: Long, chunks: Int, skipped: Int)

  val Formats: Set[String] = Set("parquet", "jsonl", "csv")

  /** Export every doc matching ALL query terms, with url + text joined
    * back from the source corpus. Output: `outDir/chunk=i/` files in
    * `format` plus `manifest.json` on completion.
    */
  def dumpQuery(spark: SparkSession, indexDirs: Seq[String],
                query: String, srcDocs: DataFrame,
                outDir: String, chunks: Int = 8,
                resume: Boolean = true,
                format: String = "parquet"): ExportResult = {
    requireFormat(format)
    val nChunks = math.max(1, chunks)
    val ckpt = new CheckpointStore(spark, outDir)
    val lineage = s"export;chunks=$nChunks;f=$format;q=${tag(query)};" +
      s"idx=${indexTag(spark, indexDirs)};src=${srcTag(spark, srcDocs)}"
    val (total, skipped) = Commit.marked(spark, s"$outDir/manifest.json") {
      prepareOutDir(spark, outDir, ckpt, lineage, resume)
      val t0 = System.currentTimeMillis()
      // input-sized shuffle width for the hit-set joins (the chunk
      // writes themselves are filters over the cache — no shuffle);
      // everything materializes inside writeChunks
      graft.Adaptive.withWidth(spark,
        graft.Adaptive.widthFor(srcDocs)) { scope =>
        val s = scope.session
        val ids = Searcher.conjunctiveDocs(s, indexDirs, query)
          .toDF("docId")
        val meta = indexDirs.map(d => IndexPaths.docs(s, d)
            .select(col("docId"), col("url")))
          .reduce(_ unionByName _)
        val rows = ids.join(meta, "docId")
          .join(scope(srcDocs).select(col("url"), col("text")), "url")
          .select(col("docId").as("doc_id"), col("url"), col("text"))
          .withColumn("chunk", pmod(xxhash64(col("doc_id")), lit(nChunks)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try writeChunks(spark, rows, outDir, nChunks, resume, ckpt,
          "export", lineage, t0, format)
        finally rows.unpersist()
      }
    } { case (total, _) =>
      s"""{"rows":$total,"chunks":$nChunks,"format":"$format",""" +
        s""""query":${jsonStr(query)}}"""
    }
    ExportResult(total, nChunks, skipped)
  }

  /** Export a filtered corpus slice (no index involved): predicate
    * pushdown straight to the source scan, same chunked commit.
    */
  def dumpFilter(spark: SparkSession, srcDocs: DataFrame,
                 predicate: org.apache.spark.sql.Column,
                 outDir: String, chunks: Int = 8,
                 resume: Boolean = true,
                 format: String = "parquet"): ExportResult = {
    requireFormat(format)
    val nChunks = math.max(1, chunks)
    val ckpt = new CheckpointStore(spark, outDir)
    // Column.toString is a stable render of the expression tree —
    // enough to fence resumes against a different predicate/chunking;
    // srcTag fences against the corpus itself changing underneath
    val lineage = s"export_f;chunks=$nChunks;f=$format;" +
      s"p=${tag(predicate.toString)};src=${srcTag(spark, srcDocs)}"
    val (total, skipped) = Commit.marked(spark, s"$outDir/manifest.json") {
      prepareOutDir(spark, outDir, ckpt, lineage, resume)
      val t0 = System.currentTimeMillis()
      graft.Adaptive.withWidth(spark,
        graft.Adaptive.widthFor(srcDocs)) { scope =>
        val rows = scope(srcDocs).filter(predicate)
          .withColumn("chunk",
            pmod(xxhash64(col("url")), lit(nChunks)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try writeChunks(spark, rows, outDir, nChunks, resume, ckpt,
          "export_f", lineage, t0, format)
        finally rows.unpersist()
      }
    } { case (total, _) =>
      s"""{"rows":$total,"chunks":$nChunks,"format":"$format"}"""
    }
    ExportResult(total, nChunks, skipped)
  }

  /** The shared chunk ladder: write-or-skip each chunk, commit after
    * the write is durable. A skipped (already-COMPLETE) chunk's row
    * count comes from its checkpoint record — no read job over
    * completed chunks on resume (at high chunk counts a per-chunk
    * listing+count was the dominant resume cost).
    *
    * Pending chunks write CONCURRENTLY (a few jobs in flight from
    * driver threads — guide §2.6: one chunk's stage tail back-fills
    * with the next chunk's tasks instead of idling the cluster; the
    * sequential ladder paid one full job latency PER chunk). Commit
    * semantics are unchanged: each chunk commits only after ITS write
    * is durable, chunk writes are independent and idempotent
    * (overwrite), so a crash resumes at exactly the incomplete chunks.
    */
  private def writeChunks(spark: SparkSession, rows: DataFrame,
                          outDir: String, nChunks: Int, resume: Boolean,
                          ckpt: CheckpointStore, stage: String,
                          lineage: String, t0: Long,
                          format: String): (Long, Int) = {
    var total = 0L
    var skipped = 0
    val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until nChunks).foreach { c =>
      val committed = if (resume) ckpt.read(stage, c) else None
      committed.filter(_.status == "COMPLETE") match {
        case Some(done) =>
          skipped += 1
          total += done.rowCount
        case None => pending += c
      }
    }
    // no chunk job outlives the export (or writes after `rows` is
    // unpersisted)
    total += Jobs.all(spark)(pending.toSeq.map(c => () =>
      writeChunk(spark, rows, outDir, c, ckpt, stage, lineage, t0,
        format))).sum
    (total, skipped)
  }

  /** Write chunk `c` and commit its checkpoint once the write is
    * durable; returns the row count (observed during the write — no
    * re-read job).
    */
  private def writeChunk(spark: SparkSession, rows: DataFrame,
                         outDir: String, c: Int, ckpt: CheckpointStore,
                         stage: String, lineage: String, t0: Long,
                         format: String): Long = {
    val obs = new org.apache.spark.sql.Observation()
    val w = rows.filter(col("chunk") === c).drop("chunk")
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
    val path = s"$outDir/chunk=$c"
    format match {
      case "parquet" => w.parquet(path)
      case "jsonl" => w.json(path)
      case "csv" =>
        // RFC4180 quoting (escape = double-quote, not backslash) and a
        // quoted empty marker: web text contains newlines, quotes and
        // empty strings, and the default writer options silently
        // corrupt all three on read-back (consumers must read with
        // multiLine=true, escape='"')
        w.option("header", "true").option("escape", "\"")
          .option("emptyValue", "\"\"").csv(path)
    }
    val n = obs.get("n").asInstanceOf[Long]
    ckpt.commit(Checkpoint("export", stage, c, "COMPLETE", n,
      IndexPaths.dirBytes(spark, path), lineage, t0,
      System.currentTimeMillis()))
    n
  }

  /** Expiry sweep over a directory of export outputs (the reference's
    * export `expires_at` + cleanup, models/job.py): delete every child
    * export whose manifest — or, for an abandoned partial without one,
    * the export dir itself — is older than `ttlMs` ([[Commit.sweep]]).
    * An IN-FLIGHT export re-creates a chunk dir per chunk, which
    * refreshes its dir's mtime, so it survives any ttl longer than its
    * slowest single chunk — choose ttl accordingly (hours, not
    * seconds). Returns the deleted paths.
    */
  def sweepExpired(spark: SparkSession, parentDir: String, ttlMs: Long,
                   nowMs: Long = System.currentTimeMillis()): Seq[String] =
    Commit.sweep(spark, parentDir, "manifest.json", ttlMs, now = nowMs)

  private def requireFormat(format: String): Unit =
    require(Formats.contains(format),
      s"unsupported export format '$format' (one of ${Formats.mkString(",")})")

  /** Reset the output dir for a run (inside [[Commit.marked]], which
    * has already retracted the manifest: it must never advertise a
    * finished export over chunks a crashed re-run left half-written).
    * resume=false clears all chunks and checkpoints — without that, a
    * re-export with a smaller chunk count leaves the larger run's
    * orphan chunk dirs for globbing consumers; resume=true clears them
    * only when the lineage changed.
    */
  private def prepareOutDir(spark: SparkSession, outDir: String,
                            ckpt: CheckpointStore, lineage: String,
                            resume: Boolean): Unit = {
    if (!resume) {
      IndexPaths.delete(spark, s"$outDir/_checkpoints")
      deleteChunks(spark, outDir)
    } else if (ckpt.invalidateUnlessLineage(lineage))
      deleteChunks(spark, outDir)
  }

  /** Identity of the serving index inputs: each generation's
    * (buildId, numDocs, maxDocId) from its committed stats sidecar —
    * any delta build, compaction, or re-crawl changes at least one of
    * these, invalidating resumed chunks that were cut from the old
    * index.
    */
  private def indexTag(spark: SparkSession, indexDirs: Seq[String]): String =
    tag(indexDirs.sorted.map { d =>
      val s = IndexPaths.readStats(spark, d)
      s"$d=${s.buildId}:${s.numDocs}:${s.maxDocId}"
    }.mkString(";"))

  /** Content fingerprint of the source corpus DataFrame: canonicalized
    * plan (exprIds normalized — stable across sessions) plus
    * name/len/mtime of every backing file, so a re-crawled corpus
    * under the same path still changes the tag. Best-effort for
    * non-file sources (the plan string alone fences those).
    */
  private def srcTag(spark: SparkSession, df: DataFrame): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = df.inputFiles.sorted.map { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      } catch { case _: java.io.IOException => f }
    }
    tag(df.queryExecution.analyzed.canonicalized.toString +
      "|" + files.mkString(","))
  }

  /** Deterministic short fingerprint for lineage fields — checkpoint
    * JSON is flat-parsed, so raw query/predicate text (quotes, commas)
    * must never be embedded verbatim.
    */
  private def tag(s: String): String =
    java.util.UUID.nameUUIDFromBytes(s.getBytes("UTF-8")).toString

  /** Remove every chunk=* dir of a previous incompatible export: a
    * smaller new chunk count would otherwise leave orphan chunk dirs a
    * globbing consumer would read alongside the new ones.
    */
  private def deleteChunks(spark: SparkSession, outDir: String): Unit = {
    val f = IndexPaths.fs(spark, outDir)
    val p = new org.apache.hadoop.fs.Path(outDir)
    if (f.exists(p))
      f.listStatus(p).filter(_.getPath.getName.startsWith("chunk="))
        .foreach(s => f.delete(s.getPath, true))
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
