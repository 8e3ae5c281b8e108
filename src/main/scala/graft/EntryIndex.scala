package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{Doc, IndexBuilder, IndexPaths}
import graft.query.{QuerySpec, Searcher}

/** Builds (once, cached on disk) the inverted index over the driver's
  * `documents` table for a given sf dir, and exposes engine-backed
  * search as a DataFrame for the SparkEntry contract. doc_id from the
  * table IS the docId (already stable), so oracle comparisons are
  * direct.
  */
object EntryIndex {

  private val Root = "/tmp/graft_entry_index"

  /** Cache key = path + a CONTENT fingerprint (name/length/mtime of
    * every file under documents.parquet) — a changed table must never
    * silently reuse a stale index.
    */
  private def indexDirFor(spark: SparkSession, dir: String): String =
    // v11: norms stride files hold only their docId window
    s"$Root/v11_" + IndexPaths.contentTag(spark, s"$dir/documents.parquet")

  /** Process-level memo of index dirs already verified committed by
    * THIS process: every engine query calls ensure, and re-paying the
    * sweep + checkpoint listing + marker refresh per query is pure
    * fixed overhead (~10-30 FS ops). The key embeds the source
    * content tag, so a changed table misses the memo; the sibling
    * TTL dwarfs any single process's lifetime, so skipping the
    * per-call last-use refresh is safe.
    */
  private val ensuredMemo =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def ensure(spark: SparkSession, dir: String): String = synchronized {
    val idx = indexDirFor(spark, dir)
    if (ensuredMemo.contains(idx)) return idx
    // siblings unused past the TTL go: retired key versions and stale
    // tags of regenerated source tables. stats.json mtime = last use,
    // refreshed on every cache hit so another process's sweep never
    // reclaims an index this one keeps serving
    Commit.sweep(spark, Root, "stats.json",
      keep = Set(new org.apache.hadoop.fs.Path(idx).getName))
    if (!Commit.touch(spark, s"$idx/stats.json") ||
        !index.Generation.segmentsCommitted(spark, idx)) {
      import spark.implicits._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id".as("docId"),
          concat(lit("doc://"), $"doc_id").as("url"), $"text")
        .as[Doc]
      // saltTarget low enough that corpus-wide terms get salted even
      // at sf0.01 (500 docs) — the skew path stays exercised here.
      // withPositions: the contract queries include engine-served
      // phrase search.
      val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 64,
        numGroups = 2, saltTarget = 300L, withPositions = true)
      IndexBuilder.build(docs, idx, cfg,
        buildId = s"entry", resume = true,
        lineage = s"$dir/documents.parquet")
    }
    ensuredMemo.add(idx)
    idx
  }

  /** Engine search → (rank, doc_id, score_r) rounded for cross-engine
    * double tolerance; ordered by rank.
    */
  def searchDf(spark: SparkSession, dir: String, query: String, k: Int,
               mode: Searcher.Mode, offset: Int = 0): DataFrame = {
    val idx = ensure(spark, dir)
    searchDfMulti(spark, Seq(idx), query, k, mode, offset)
  }

  /** [[searchDf]] over several index GENERATIONS (base + deltas). */
  def searchDfMulti(spark: SparkSession, dirs: Seq[String],
                    query: String, k: Int, mode: Searcher.Mode,
                    offset: Int = 0): DataFrame = {
    import spark.implicits._
    Searcher.searchMulti(spark, dirs, Seq(QuerySpec(0L, query)), k,
      mode, numRanges = 4, offset = offset)
      .select($"rank".cast("long").as("rank"), $"docId".as("doc_id"),
        round($"score", 4).as("score_r"))
      .orderBy("rank")
  }

  /** Build-once base + delta GENERATIONS of the entry index over a
    * deterministic doc_id split (midpoint of the id range) — the
    * contract surface for incremental text-index serving: searchMulti
    * merges global stats exactly (N, avgdl, per-term df), so serving
    * both generations is rank-identical to one full index and the
    * same full-corpus BM25 oracle checks it.
    */
  /** ensureSplit/ensureStream results memoized per content tag (same
    * reasoning and safety as [[ensuredMemo]] — a changed table changes
    * the tag; the midpoint scan and generation re-listing are fixed
    * per-query overhead otherwise).
    */
  private val splitMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val streamMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  def ensureSplit(spark: SparkSession, dir: String): Seq[String] =
    synchronized {
      import spark.implicits._
      val src = s"$dir/documents.parquet"
      val tag = IndexPaths.contentTag(spark, src)
      val memoHit = splitMemo.get(tag)
      if (memoHit != null) return memoHit
      val mid = spark.read.parquet(src)
        .agg(max($"doc_id")).head().getLong(0) / 2
      val base = s"$Root/v11_b${mid}_$tag"
      val delta = s"$Root/v11_d${mid}_$tag"
      val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 64,
        numGroups = 2, saltTarget = 300L, withPositions = true)
      def docsFor(pred: org.apache.spark.sql.Column) =
        spark.read.parquet(src).filter(pred)
          .select($"doc_id".as("docId"),
            concat(lit("doc://"), $"doc_id").as("url"), $"text")
          .as[Doc]
      def ensureGen(idx: String, pred: org.apache.spark.sql.Column,
                    id: String): Unit =
        if (!Commit.touch(spark, s"$idx/stats.json"))
          IndexBuilder.build(docsFor(pred), idx, cfg,
            buildId = s"entry-$id", resume = true,
            lineage = s"$id$mid:$src")
      ensureGen(base, col("doc_id") <= mid, "b")
      ensureGen(delta, col("doc_id") > mid, "d")
      val gens = Seq(base, delta)
      splitMemo.put(tag, gens)
      gens
    }

  /** Build-once CONTINUOUSLY-INDEXED generations of the entry index:
    * the documents table staged as range-split files (a landing
    * directory), drained by [[Streaming.continuousIndexDocs]] — one
    * committed generation per micro-batch, exactly-once via the stream
    * checkpoint. searchMulti over the result is rank-identical to one
    * full index (exact global-stats merge), so the same full-corpus
    * BM25 oracle checks the whole ingest→serve loop. All-or-nothing
    * cache (the AnnIndex publish rule): a root without the completion
    * marker is torn down and re-streamed — re-staging into a LIVE
    * checkpoint would double-index the restaged files (new part names
    * look like new data to the file source).
    */
  def ensureStream(spark: SparkSession, dir: String): Seq[String] =
    synchronized {
      import spark.implicits._
      val src = s"$dir/documents.parquet"
      val tag = IndexPaths.contentTag(spark, src)
      val memoHit = streamMemo.get(tag)
      if (memoHit != null) return memoHit
      val root = s"$Root/v11_st_$tag"
      val marker = s"$root/stats.json"
      if (Commit.touch(spark, marker)) {
        val cached = Streaming.listGenerations(spark, root)
        streamMemo.put(tag, cached)
        return cached
      }
      val gens = Commit.marked(spark, marker) {
        IndexPaths.delete(spark, root)
        val staged = s"$root/_staged_docs"
        spark.read.parquet(src)
          .select($"doc_id".as("docId"),
            concat(lit("doc://"), $"doc_id").as("url"), $"text")
          .repartitionByRange(3, col("docId"))
          .write.mode("overwrite").parquet(staged)
        val cfg = IndexBuilder.Config(numBuckets = 8, blockSize = 64,
          numGroups = 2, saltTarget = 300L, withPositions = true)
        Streaming.continuousIndexDocs(spark, staged, root, cfg)
      } { gens =>
        s"""{"kind":"stream_root","generations":${gens.size},""" +
          s""""lineage":"$tag"}"""
      }
      streamMemo.put(tag, gens)
      gens
    }

  /** Engine-served phrase search (positional postings) → doc_id rows,
    * ordered — semantics identical to the normalized-substring oracle.
    */
  def phraseDf(spark: SparkSession, dir: String, phrase: String): DataFrame = {
    import spark.implicits._
    val idx = ensure(spark, dir)
    // full hit set as a distributed dataset — never collected here
    Searcher.phraseDocs(spark, Seq(idx), phrase, numRanges = 4)
      .toDF("doc_id").orderBy("doc_id")
  }

  /** Dictionary-served fuzzy term lookup ("did you mean"): terms
    * within edit distance `maxDist` of a misspelled query term, ranked
    * by (distance, corpus cf desc, term) — served from the persisted
    * `terms/` artifact via [[Searcher.dictionary]], NEVER a corpus
    * tokenize. The length-band prefilter (|len − len(q)| ≤ maxDist is
    * necessary for distance ≤ maxDist) prunes before the levenshtein.
    */
  def fuzzyDf(spark: SparkSession, dir: String, q: String,
              maxDist: Int, k: Int): DataFrame = {
    val idx = ensure(spark, dir)
    Searcher.dictionary(spark, Seq(idx))
      .filter(abs(length(col("term")) - lit(q.length)) <= maxDist)
      .withColumn("dist", levenshtein(col("term"), lit(q)).cast("long"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("dist"), desc("cf"), col("term")).limit(k)
      .select(col("term"), col("cf"), col("dist"))
  }

  /** Dictionary-served prefix autocomplete: terms under a prefix
    * ranked by collection frequency — a pushed StringStartsWith over
    * the persisted `terms/` artifact, never a corpus tokenize.
    */
  def prefixDf(spark: SparkSession, dir: String, prefix: String,
               k: Int): DataFrame = {
    val idx = ensure(spark, dir)
    Searcher.dictionary(spark, Seq(idx))
      .filter(col("term").startsWith(prefix))
      .orderBy(desc("cf"), col("term")).limit(k)
      .select(col("term"), col("cf"))
  }

  /** Engine-served more-like-this: seed terms come from tokenizing ONE
    * doc (a pushed doc_id point read, not a corpus scan), their df
    * from the terms artifact ([[Searcher.termMetas]] — pruned
    * dictionary lookup), and candidate counting from ONLY the seed
    * terms' posting blocks ([[Searcher.termDocs]] — the ft_and_search
    * scan machinery with OR semantics). Rare = lowest df but ≥ 2
    * (df=1 terms are unique to the seed and can match nothing).
    */
  def mltDf(spark: SparkSession, dir: String, seedId: Long,
            nTerms: Int, k: Int): DataFrame = {
    import spark.implicits._
    val idx = ensure(spark, dir)
    val seedRows = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") === seedId)
      .select(col("text")).as[String].head(1)
    require(seedRows.nonEmpty,
      s"more-like-this seed doc $seedId not found in $dir/documents.parquet")
    val toks = graft.functions.Tokenize.tokens(seedRows.head)
      .distinct.toSeq
    val metas = Searcher.termMetas(spark, Seq(idx), toks)
    val seeds = toks.flatMap(metas.get(_)).filter(_.df >= 2)
      .sortBy(t => (t.df, t.term)).take(nTerms)
    val seed = seeds.map(_.term)
    // candidate volume is known from the seed terms' df — size the
    // count shuffle to it (capped at the session setting) and merge
    // the k-row result on the driver, the searchMulti serve shape;
    // schema/order preserved exactly (createDataFrame with the plan's
    // own schema)
    val width = seeds.map(_.df).sum / 100000L + 4L
    graft.Adaptive.withWidth(spark, width) { scope =>
      val out = Searcher.termDocs(scope.session, Seq(idx), seed)
        .filter(col("doc_id") =!= seedId)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("shared"))
        .orderBy(desc("shared"), col("doc_id")).limit(k)
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }
  }

  /** Engine-served bulk export: every doc matching ALL query terms,
    * dumped with url+text via [[Export.dumpQuery]] (chunked, resumable
    * writes), read back as (doc_id, url, fp) — fp = md5(text) keeps
    * the oracle row narrow while still checking CONTENT, not just
    * membership.
    */
  def exportDf(spark: SparkSession, dir: String, query: String,
               format: String = "parquet"): DataFrame = {
    val idx = ensure(spark, dir)
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .select(concat(lit("doc://"), col("doc_id")).as("url"), col("text"))
    // deterministic per (process, table, query) — a nanoTime dir per
    // call would leak a full text export into /tmp on every
    // verify/bench run, and a purely (table, query)-keyed dir would
    // race two concurrent processes exporting the same query (one
    // deletes the chunks the other just committed)
    val pid = ProcessHandle.current().pid()
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$query|$format".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val parent = "/tmp/graft_export"
    val out = s"$parent/v1_${pid}_$h"
    // pid-keying dedupes only intra-process repeats: every verify/
    // bench run is a NEW JVM, so dead processes' dirs for this same
    // (table, query) would still accumulate one full text export per
    // run — sweep (TTL 0) every sibling whose pid is no longer alive
    // (live pids are left alone; that concurrent-writer race is what
    // the pid-keying exists to avoid). Pid-less legacy layouts belong
    // to no current process and go unconditionally.
    Commit.sweep(spark, parent, "manifest.json", ttlMs = 0L,
      pidOf = "^v1_(\\d+)_".r.findFirstMatchIn(_)
        .flatMap(_.group(1).toLongOption))
    IndexPaths.delete(spark, out)
    val chunks = 4
    Export.dumpQuery(spark, Seq(idx), query, src, out,
      chunks = chunks, resume = false, format = format)
    // explicit schema: a zero-hit query writes chunks with no part
    // files, which schema inference rejects (and an empty export is a
    // valid result, not an error)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val paths = (0 until chunks).map(c => s"$out/chunk=$c")
    val reader = spark.read.schema(schema)
    val back = format match {
      case "jsonl" => reader.json(paths: _*)
      case "csv" => reader.option("header", "true")
        .option("multiLine", "true").option("escape", "\"")
        // never-occurring sentinel: the default nullValue "" would
        // fold quoted-empty text back to null (md5(null) ≠ md5(""))
        .option("nullValue", "\u0001")
        .csv(paths: _*)
      case _ => reader.parquet(paths: _*)
    }
    back
      .select(col("doc_id"), col("url"), md5(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  /** Engine-paged phrase serve: rows [offset, offset+limit) of the
    * ascending-docId hit list via the bounded scatter-gather page
    * (driver holds O(partitions × depth) ids, never the full set).
    */
  def phrasePageDf(spark: SparkSession, dir: String, phrase: String,
                   limit: Int, offset: Int): DataFrame = {
    import spark.implicits._
    val idx = ensure(spark, dir)
    Searcher.phraseSearch(spark, Seq(idx), phrase, numRanges = 4,
      limit = limit, offset = offset)
      .toDF("doc_id").orderBy("doc_id")
  }
}
