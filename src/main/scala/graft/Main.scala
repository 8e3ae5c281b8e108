package graft

import org.apache.spark.sql.SparkSession

import graft.data.{PagesGen, QuerySet}
import graft.index.{DocIds, IndexBuilder}
import graft.query.{QuerySpec, Searcher}

/** spark-submit entrypoint for the engine (north rule: "runs via
  * spark-submit on multi-executor clusters").
  *
  * {{{
  *   spark-submit --class graft.Main app.jar gen     <n> <outDir>
  *   spark-submit --class graft.Main app.jar build   <pagesDir|gen:N> <indexDir> [numBuckets] [saltTarget]
  *   spark-submit --class graft.Main app.jar search  <indexDir> <k> <query...>
  *   spark-submit --class graft.Main app.jar queryset <indexDir> <k>
  * }}}
  *
  * Locally (no spark-submit): `sbt "runMain graft.Main <cmd> ..."` —
  * the session falls back to local[*].
  */
object Main {

  /** Input-source resolution (the DocSource seam of SURVEY §2.9):
    *  - `gen:N`          deterministic synthetic pages (tests/bench)
    *  - `iceberg:<tbl>`  Iceberg table of (url, warc_ts, html, text,
    *                     lang) — the north-rule production source;
    *                     resolves at runtime when the Iceberg runtime
    *                     jar is on the cluster (not shipped in this
    *                     zero-egress sandbox). Snapshot pinning /
    *                     incremental reads via the usual Iceberg read
    *                     options replace the warc_ts watermark.
    *  - anything else    parquet path(s)
    */
  def readPages(spark: SparkSession,
                src: String): org.apache.spark.sql.Dataset[graft.data.PageRow] = {
    import spark.implicits._
    if (src.startsWith("gen:"))
      PagesGen.pages(spark, src.stripPrefix("gen:").toLong)
    else if (src.startsWith("iceberg:"))
      spark.read.format("iceberg").load(src.stripPrefix("iceberg:"))
        .as[graft.data.PageRow]
    else spark.read.parquet(src).as[graft.data.PageRow]
  }

  def session(): SparkSession = {
    val b = SparkSession.builder().appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val withMaster = // spark-submit injects a master; default for CLI use
      if (sys.props.contains("spark.master") || sys.env.contains("MASTER")) b
      else b.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.ui.enabled", "false")
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val spark = session()
    val t0 = System.nanoTime()
    args(0) match {
      case "gen" =>
        val n = args(1).toLong
        PagesGen.pages(spark, n).write.mode("overwrite").parquet(args(2))
        println(s"wrote $n pages to ${args(2)}")

      case "build" =>
        val src = args(1)
        val indexDir = args(2)
        val numBuckets = if (args.length > 3) args(3).toInt else 32
        val saltTarget = if (args.length > 4) args(4).toLong else 250000L
        // positional tier on by default for CLI builds (enables the
        // `phrase` command); pass 0 to build a BM25-only index
        val withPos = if (args.length > 5) args(5) == "1" else true
        val pages = readPages(spark, src)
        val docs = DocIds.fromPages(pages,
          spark.sessionState.conf.numShufflePartitions,
          useExtractor = true)
        val nDocs = docs.count()
        val cfg = IndexBuilder.Config(numBuckets = numBuckets,
          saltTarget = saltTarget, withPositions = withPos)
        val stats = IndexBuilder.build(docs, indexDir, cfg,
          buildId = s"cli-${System.currentTimeMillis()}",
          resume = true, lineage = src)
        // record the ingestion watermark so `delta` can change-detect
        val maxTs = pages.agg(org.apache.spark.sql.functions
          .max(org.apache.spark.sql.functions.col("warc_ts")))
          .head().getTimestamp(0)
        if (maxTs != null)
          graft.index.Incremental.writeWatermark(spark, indexDir, maxTs)
        // source fingerprint: the cheap probes of `delta` change
        // detection compare against it
        graft.index.Incremental.writeFingerprint(pages, indexDir)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"built index: docs=${stats.numDocs} terms=${stats.numTerms} " +
          f"avgdl=${stats.avgdl}%.2f buckets=${stats.numBuckets} " +
          f"in $secs%.1fs (${nDocs / secs}%.0f docs/sec)")

      case "search" =>
        // indexDir may be a comma-list of generations (base,delta,...)
        val dirs = args(1).split(",").toSeq
        val k = args(2).toInt
        val q = args.drop(3).mkString(" ")
        val hits = Searcher.searchMulti(spark, dirs, Seq(QuerySpec(0L, q)), k)
        val withUrls = Searcher.withUrlsMulti(spark, dirs, hits)
        val secs = (System.nanoTime() - t0) / 1e9
        withUrls.collect().sortBy(_._2).foreach { case (_, r, d, s, u) =>
          println(f"$r%2d. doc=$d%-8d score=$s%.4f  $u")
        }
        println(f"query '$q' took $secs%.2fs total (incl. session)")

      case "delta" =>
        // incremental: probe-ladder change detection, then index only
        // pages newer than the base watermark (re-crawls allowed —
        // replaced base docs are tombstoned)
        val src = args(1)
        val baseDirs = args(2).split(",").toSeq
        val deltaDir = args(3)
        val pages = readPages(spark, src)
        // probe against the most recently STAMPED generation — the
        // base's stale watermark/fingerprint would report Changed
        // forever once any delta exists (and watermark order breaks on
        // same-timestamp edits, see Incremental.probeTarget)
        val probeDir = graft.index.Incremental.probeTarget(spark, baseDirs)
        val (verdict, trail) =
          graft.index.Incremental.detectChange(pages, probeDir)
        println(s"change probes: " + trail.map { case (p, v) =>
          s"$p=$v" }.mkString(" → ") + s" ⇒ $verdict")
        if (verdict == graft.index.Incremental.Unchanged) {
          println("source unchanged — nothing to index")
        } else {
          val wm = baseDirs.flatMap(d =>
            graft.index.Incremental.readWatermark(spark, d))
            .sortBy(_.getTime).lastOption
          // selective re-ingest: per-url content-hash diff when the
          // probe generation has the sidecar — catches same-timestamp
          // content edits the watermark filter is blind to (and skips
          // re-crawls whose content didn't change); watermark filter
          // only as the legacy fallback
          // cache the selection: buildDelta traverses it for the rank
          // pass, payload join, and watermark agg — re-running the
          // full-corpus anti-join per pass doubles delta ingest cost
          val fresh = graft.index.Incremental
            .changedPages(pages, probeDir)
            .getOrElse(graft.index.Incremental.newPages(pages, wm))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val stats = graft.index.Incremental.buildDelta(fresh, baseDirs,
            deltaDir, IndexBuilder.Config(withPositions = true),
            allowRecrawl = true)
          fresh.unpersist(false)
          // fingerprint the FULL source at delta time so the next
          // delta's probes compare against current state
          graft.index.Incremental.writeFingerprint(pages, deltaDir)
          // manifest count only — collecting the ids to print a size
          // is the O(corpus) driver pull the strided sidecar exists to
          // avoid (a full re-crawl tombstones the whole base)
          val nTombs = graft.index.Tombstones.count(spark, deltaDir)
          // stats.numDocs IS the fresh-row count (every selected row
          // is indexed) — no separate count() job over the anti-join
          println(s"delta over watermark=$wm: " +
            s"${stats.numDocs} docs indexed, maxDocId=${stats.maxDocId}, " +
            s"$nTombs re-crawled urls tombstoned")
        }

      case "gens" =>
        // index-admin surface: per-generation stats for a chain (or a
        // streamindex root), tombstone counts, and a compaction hint —
        // the operability view a long-lived generational index needs
        val dirs0 = args(1).split(",").toSeq
        val dirs =
          if (dirs0.size == 1 &&
              Streaming.listGenerations(spark, dirs0.head).nonEmpty)
            Streaming.listGenerations(spark, dirs0.head)
          else dirs0
        var docs = 0L; var toks = 0L; var tombs = 0L
        dirs.foreach { d =>
          val st = graft.index.IndexPaths.readStats(spark, d)
          val nT = graft.index.Tombstones.count(spark, d)
          docs += st.numDocs; toks += st.totalTokens; tombs += nT
          println(f"${d.split('/').last}%-12s docs=${st.numDocs}%-8d " +
            f"terms=${st.numTerms}%-8d docIds=[${st.minDocId}," +
            f"${st.maxDocId}] tombstones=$nT")
        }
        val avgdl = if (docs == 0) 0.0 else toks.toDouble / docs
        println(f"total: ${dirs.size} generations, $docs docs " +
          f"(avgdl=$avgdl%.1f), $tombs tombstoned")
        if (dirs.size > 4 || tombs > 0)
          println(s"hint: compact ${dirs.mkString(",").take(60)}... " +
            s"folds the chain and drops dead docs")

      case "health" =>
        // per-source health probe (reference HealthStatus surface):
        // cheap schema + metadata-count check, consecutive-failure
        // escalation persisted beside the state dir
        val src = args(1)
        val stateDir = if (args.length > 2) args(2) else "/tmp/graft_health"
        val r = graft.data.SourceHealth.probe(spark, src, stateDir)
        println(s"source $src: ${r.status} " +
          s"(failures=${r.consecutiveFailures}, rows=${r.rows}" +
          (if (r.message.nonEmpty) s", ${r.message}" else "") + ")")

      case "phrase" =>
        // engine-served phrase search over the positional tier; the
        // CLI shows the first page only — ask for 21 to know whether
        // more exist without ever collecting the full hit set
        val dirs = args(1).split(",").toSeq
        val phrase = args.drop(2).mkString(" ")
        val ids = Searcher.phraseSearch(spark, dirs, phrase, limit = 21)
        val secs = (System.nanoTime() - t0) / 1e9
        val shown = ids.take(20)
        println(s"phrase '$phrase': " +
          s"${if (ids.size > 20) "20+" else shown.size.toString} docs " +
          s"[${shown.mkString(", ")}${if (ids.size > 20) ", …" else ""}]")
        println(f"took $secs%.2fs total (incl. session)")

      case "queryset" =>
        val indexDir = args(1)
        val k = args(2).toInt
        val qs = QuerySet.queries()
        val hits = Searcher.search(spark, indexDir, qs, k).collect()
        qs.foreach { q =>
          val top = hits.filter(_.queryId == q.queryId).sortBy(_.rank)
          println(s"q${q.queryId} '${q.text}': " +
            top.map(h => f"${h.docId}:${h.score}%.3f").mkString(" "))
        }

      case "compact" =>
        val gens = args(1).split(",").toSeq
        val outDir = args(2)
        val stats = graft.index.Compaction.compact(spark, gens, outDir)
        println(s"compacted ${gens.size} generations → $outDir: " +
          s"docs=${stats.numDocs} terms=${stats.numTerms}")

      case "export" =>
        // bulk retrieval: every doc matching ALL query terms, with
        // url+text, chunk-committed and resumable (formats: parquet,
        // jsonl, csv)
        import org.apache.spark.sql.functions.col
        val dirs = args(1).split(",").toSeq
        val src = readPages(spark, args(2)).toDF()
          .select(col("url"), col("text"))
        val outDir = args(3)
        val format = args(4)
        val query = args.drop(5).mkString(" ")
        val res = Export.dumpQuery(spark, dirs, query, src, outDir,
          format = format)
        println(s"exported ${res.rows} rows in ${res.chunks} chunks " +
          s"(${res.skipped} resumed) as $format -> $outDir")

      case "streamindex" =>
        // continuous indexing: drain a landing directory of page files
        // as a Structured Stream — one committed generation per
        // micro-batch (exactly-once via the stream checkpoint),
        // re-crawled urls tombstoned. Re-run after new files land to
        // index only those; serve any time with
        // `search <gen1,gen2,...>` or compact the tail
        val pagesDir = args(1)
        val indexRoot = args(2)
        val numBuckets = if (args.length > 3) args(3).toInt else 32
        val saltTarget = if (args.length > 4) args(4).toLong else 250000L
        // default 8 files/batch: a landing dir written at high
        // parallelism has many small files, and one generation per
        // FILE degenerates into a long tail of tiny builds
        val perTrigger = if (args.length > 5) args(5).toInt else 8
        val cfg = IndexBuilder.Config(numBuckets = numBuckets,
          saltTarget = saltTarget, withPositions = true)
        val gens = Streaming.continuousIndexPages(spark, pagesDir,
          indexRoot, cfg, maxFilesPerTrigger = perTrigger)
        val secs = (System.nanoTime() - t0) / 1e9
        val nDocs = gens.map(g =>
          graft.index.IndexPaths.readStats(spark, g).numDocs).sum
        println(s"stream-indexed into ${gens.size} generations " +
          f"($nDocs docs total) in $secs%.1fs:")
        gens.foreach { g =>
          val st = graft.index.IndexPaths.readStats(spark, g)
          println(s"  $g: docs=${st.numDocs} " +
            s"docIds=[${st.minDocId},${st.maxDocId}]")
        }
        val hint =
          if (gens.size <= 4) gens.mkString(",")
          else s"${gens.head},...,${gens.last} (${gens.size} gens)"
        println(s"serve with: search $hint <k> <terms...>  " +
          s"— or fold the tail: compact ${gens.size} gens -> one")

      case "dedup" =>
        // the full dedup ladder: EXACT pass first (identical text —
        // url-hash ids alone would collide identical rows into one id
        // and hide them from the pair stage), then minhash-LSH pairs →
        // connected components → one keeper per near-dup cluster;
        // optional deduped-corpus parquet output
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, md5, row_number, xxhash64}
        val raw = readPages(spark, args(1)).toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val total = raw.count()
        // exact keeper = min url per identical text (deterministic)
        val w = Window.partitionBy(col("fp")).orderBy(col("url"))
        val src = raw.withColumn("fp", md5(col("text")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("fp", "rn")
          .withColumn("doc_id", xxhash64(col("url")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // id-collision gate: a 64-bit url-hash collision would merge
        // two DIFFERENT documents into one id before the pair stage
        // (the exact pass only covers identical text) and dedupCorpus
        // would then silently drop a non-duplicate. One cheap agg over
        // the kept rows; fail loudly instead of corrupting the corpus.
        val idStats = src.agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.countDistinct(col("doc_id"))
            .as("ids"),
          org.apache.spark.sql.functions.countDistinct(col("url"))
            .as("urls")).head()
        val exactKept = idStats.getLong(0)
        require(idStats.getLong(1) == idStats.getLong(2),
          s"xxhash64(url) collision: ${idStats.getLong(2)} urls -> " +
            s"${idStats.getLong(1)} ids; rerun with distinct urls or " +
            "positional ids")
        val pairs = pipeline.Dedup.minhashLsh(src, "doc_id", "text",
          16, 4, 0.5)
        val nPairs = pairs.count()
        // --ckpt <dir>: durable per-round CC checkpoints (cluster
        // deployment mode — survives executor loss mid-loop)
        val ckptDir = args.indexOf("--ckpt") match {
          case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
          case i if i >= 0 =>
            throw new IllegalArgumentException("--ckpt needs a dir")
          case _ => None
        }
        val kept = pipeline.Dedup.dedupCorpus(src, "doc_id", pairs,
          "doc_a", "doc_b", checkpointDir = ckptDir).drop("doc_id")
        // outDir = args(2) unless it is a flag (usage:
        // dedup <pages> [outDir] [--ckpt <dir>])
        val outDirOpt =
          if (args.length > 2 && !args(2).startsWith("--")) Some(args(2))
          else None
        val keptN =
          if (outDirOpt.isDefined) {
            // row count observed during the write — no re-read job
            val obs = new org.apache.spark.sql.Observation()
            kept.observe(obs, org.apache.spark.sql.functions
              .count(org.apache.spark.sql.functions.lit(1)).as("n"))
              .write.mode("overwrite").parquet(outDirOpt.get)
            obs.get("n").asInstanceOf[Long]
          } else kept.count()
        raw.unpersist(); src.unpersist()
        println(s"dedup: $total docs, ${total - exactKept} exact dups " +
          s"dropped, $nPairs near-dup pairs, kept $keptN " +
          s"(${total - keptN} total dropped)" +
          outDirOpt.map(o => s" -> $o").getOrElse(""))

      case "annbuild" =>
        // persisted ANN artifact over an embeddings table
        // annbuild <emb.parquet> <dir> ivf|lsh [--train N]
        //                                      [--delta <baseDir>]
        // --train N: N deterministic Lloyd iterations for the IVF
        //   quantizer (ignored for lsh).
        // --delta <baseDir>: build a DELTA generation over ONLY the
        //   given table's rows, assigned/bucketed with the base
        //   artifact's committed quantizer — serve base + deltas
        //   together via annsearch's comma-separated dirs.
        val emb = spark.read.parquet(args(1))
        val dir = args(2)
        val tag = graft.index.IndexPaths.contentTag(spark, args(1))
        val rest = args.drop(4)
        def flag(name: String): Option[String] =
          rest.indexOf(name) match {
            case i if i >= 0 && i + 1 < rest.length => Some(rest(i + 1))
            case i if i >= 0 => throw new IllegalArgumentException(
              s"$name needs a value")
            case _ => None
          }
        val deltaBase = flag("--delta")
        val train = flag("--train").map(_.toInt).getOrElse(0)
        (args(3), deltaBase) match {
          case ("ivf", None) => pipeline.AnnIndex.buildIvf(emb, "vec_id",
            "embedding", dir, numCentroids = 16, lineage = tag,
            trainIters = train)
          case ("ivf", Some(base)) => pipeline.AnnIndex.buildIvfDelta(
            emb, "vec_id", "embedding", base, dir, lineage = tag)
          case ("lsh", None) => pipeline.AnnIndex.buildLsh(emb, "vec_id",
            "embedding", dir, numPlanes = 6, numTables = 4, seed = 42L,
            lineage = tag)
          case ("lsh", Some(base)) => pipeline.AnnIndex.buildLshDelta(
            emb, "vec_id", "embedding", base, dir, lineage = tag)
          case (k, _) => throw new IllegalArgumentException(s"ann kind: $k")
        }
        println(s"built ${args(3)}" +
          deltaBase.map(b => s" delta (base $b)").getOrElse("") +
          s" artifact -> $dir")

      case "anncompact" =>
        // fold an ANN generation chain back into one base artifact
        // anncompact <base,delta,...> <outDir> ivf|lsh [--train N]
        // --train N (ivf): retrain the quantizer over the merged
        //   corpus, warm-started from the base's centroids
        val dirs = args(1).split(",").toSeq
        val out = args(2)
        val train = args.indexOf("--train") match {
          case i if i >= 0 && i + 1 < args.length => args(i + 1).toInt
          case i if i >= 0 =>
            throw new IllegalArgumentException("--train needs a value")
          case _ => 0
        }
        args(3) match {
          case "ivf" => pipeline.AnnIndex.compactIvf(spark, dirs, out,
            lineage = args(1), retrainIters = train)
          case "lsh" => pipeline.AnnIndex.compactLsh(spark, dirs, out,
            lineage = args(1))
          case k => throw new IllegalArgumentException(s"ann kind: $k")
        }
        println(s"compacted ${dirs.size} ${args(3)} generations -> $out" +
          (if (train > 0) s" (retrained $train iters)" else ""))

      case "annsearch" =>
        // annsearch <dir[,deltaDir,...]> ivf|lsh <emb.parquet> <queryId> <k>
        val dirs = args(1).split(",").toSeq
        val dir = dirs.head
        val emb = spark.read.parquet(args(3))
        val qid = args(4).toLong
        val k = args(5).toInt
        // the artifact records the source it was built from; serving
        // it against a DIFFERENT (e.g. regenerated) table would score
        // stale vectors and print confidently wrong neighbors. With
        // delta generations the queried table is the MERGED corpus —
        // no single generation's src tag can equal it, so the fence
        // applies only to single-generation serving; multi-dir serving
        // is fenced by the delta-vs-base lineage requires inside
        // ivfTopKMulti/lshTopKMulti instead
        if (dirs.size == 1) {
          val stats = graft.index.IndexPaths.parseFlatJson(
            graft.index.IndexPaths.readString(spark, s"$dir/ann_stats.json"))
          val srcTag = graft.index.IndexPaths.contentTag(spark, args(3))
          // a COMPACTED artifact's corpus is its input generations
          // (lineage src=compact(...)) — like multi-dir serving, no
          // single table tag can equal it; its provenance was fenced
          // generation-by-generation at compact time (validateGens)
          val compacted = stats.get("lineage")
            .exists(_.contains(";src=compact("))
          require(compacted ||
            stats.get("lineage").exists(_.endsWith(s"src=$srcTag")),
            s"artifact at $dir was built from a different embeddings " +
              s"table than ${args(3)} — rebuild with annbuild")
        }
        val qRow = emb.filter(org.apache.spark.sql.functions
          .col("vec_id") === qid)
          .select(org.apache.spark.sql.functions.col("embedding"))
          .head(1)
        require(qRow.nonEmpty, s"vec_id $qid not found in ${args(3)}")
        val q = qRow.head.getSeq[Float](0)
        val rows = (args(2) match {
          case "ivf" => pipeline.AnnIndex.ivfTopKMulti(spark, dirs, q,
            qid, k, probes = 4)
          case "lsh" => pipeline.AnnIndex.lshTopKMulti(spark, dirs, q,
            qid, k)
          case x => throw new IllegalArgumentException(s"ann kind: $x")
        }).collect()
        rows.foreach(r => println(f"${r.getLong(0)}%8d  ${r.getDouble(1)}%.4f"))
        println(s"${rows.length} neighbors of vec $qid (${args(2)})")

      case other =>
        System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
    }
    spark.stop()
  }

  private def usage(): Unit = System.err.println(
    "usage: graft.Main gen <n> <dir> | build <pagesDir|gen:N> <indexDir> " +
      "[buckets] [saltTarget] | search <indexDir[,delta...]> <k> <query...> " +
      "| phrase <indexDir[,delta...]> <word...> | queryset <indexDir> <k> " +
      "| delta <src> <baseDirs> <deltaDir> | compact <gens> <outDir> " +
      "| streamindex <pagesDir> <indexRoot> [buckets] [saltTarget] [filesPerTrigger] " +
      "| gens <indexRoot|dir,dir,...> | health <src> [stateDir] " +
      "| export <indexDirs> <pagesSrc> <outDir> <format> <query...> " +
      "| dedup <pagesSrc> [keptOutDir] " +
      "| annbuild <emb.parquet> <dir> ivf|lsh " +
      "| anncompact <dirs> <outDir> ivf|lsh [--train N] " +
      "| annsearch <dir> ivf|lsh <emb.parquet> <queryId> <k>")
}
