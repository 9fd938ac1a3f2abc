package graft.harness

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only stage profiler: times named sub-plans of the expensive bench
  * queries so optimization targets are measured, not guessed. Not part of
  * the driver contract; run with
  * `sbt "runMain graft.harness.Profile [names...]"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators._

    // r19: every timed block also reports its distributed JOB census (the
    // fusion changes are job-count changes, invisible in plan shapes) —
    // listener events are async, so drain briefly before reading
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobCount.incrementAndGet(); ()
      }
    })
    def t(name: String)(body: => Any): Unit = {
      Thread.sleep(300)
      val j0 = jobCount.get()
      val t0 = System.nanoTime()
      val r  = body
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val dj = jobCount.get() - j0
      println(f"[profile] $name%-46s $dt%8.2f s  jobs=$dj%-3d ($r)")
      spark.sharedState.cacheManager.clearCache()
    }
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // warm
    spark.range(100000L).selectExpr("sum(id)").collect()
    docs.count()

    val want = if (args.isEmpty) Set("all") else args.toSet
    def on(k: String) = want("all") || want(k)

    if (on("ngram")) {
      println("== dedup_ngram_jaccard (threshold 0.3) ==")
      t("shingleRows count") {
        Dedup.shingleRows(docs, "text", "doc_id", 3).count()
      }
      t("autoParams for 0.3") { Dedup.lshAutoParams(0.3) }
      t("lsh candidates (42,2) est>=0.1") {
        val sh = Dedup.shingleRows(docs, "text", "doc_id", 3)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val n = Dedup.minhashLshFromShingleRows(sh, 42, 2, 0.1).count()
        sh.unpersist(false); n
      }
      t("lsh candidates (32,4) est>=0.1") {
        val sh = Dedup.shingleRows(docs, "text", "doc_id", 3)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val n = Dedup.minhashLshFromShingleRows(sh, 32, 4, 0.1).count()
        sh.unpersist(false); n
      }
      t("full ngramJaccard 0.3") {
        Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.3).count()
      }
      t("full ngramJaccard 0.8 (clean shape)") {
        Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.8).count()
      }
    }

    if (on("minhash")) {
      println("== dedup_minhash_lsh property query ==")
      t("raw minhashLsh pairs t=0.5") {
        Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.5).count()
      }
      t("shingle distinct persist") {
        Dedup.shingleRows(docs, "text", "doc_id", 3).distinct().count()
      }
      t("inverted-index probes<500 vs ALL") {
        val shD = Dedup.shingleRows(docs, "text", "doc_id", 3).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        shD.count()
        val sizes = shD.groupBy("id").agg(count(lit(1)).as("sz"))
        val n = shD.select(col("id").as("id_b"), col("sh"))
          .join(shD.filter(col("id") < 500).select(col("id").as("id_a"), col("sh")), "sh")
          .filter(col("id_a") =!= col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sza")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("szb")), "id_b")
          .withColumn("j", col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
          .filter(col("j") >= 0.7).count()
        shD.unpersist(false); n
      }
      t("inverted-index probes<500 BOTH sides") {
        val shD = Dedup.shingleRows(docs.filter(col("doc_id") < 500), "text", "doc_id", 3)
          .distinct().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        shD.count()
        val sizes = shD.groupBy("id").agg(count(lit(1)).as("sz"))
        val n = shD.select(col("id").as("id_b"), col("sh"))
          .join(shD.select(col("id").as("id_a"), col("sh")), "sh")
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sza")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("szb")), "id_b")
          .withColumn("j", col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
          .filter(col("j") >= 0.7).count()
        shD.unpersist(false); n
      }
      t("FULL property query (SparkEntry)") {
        graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir).count()
      }
    }

    if (on("simhash")) {
      println("== dedup_simhash property query ==")
      t("raw simhashPairs h<=10") {
        Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 10).count()
      }
      t("raw simhashPairs h<=3") {
        Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3).count()
      }
      t("fingerprints only") {
        Dedup.simhashFingerprints(docs, "text", "doc_id").count()
      }
      t("FULL property query (SparkEntry)") {
        graft.SparkEntry.queries("dedup_simhash")(spark, sfDir).count()
      }
    }

    if (on("minhash2")) {
      println("== dedup_minhash_lsh internals, per action ==")
      val t0 = System.nanoTime()
      def lap(name: String): Unit =
        println(f"[profile]   lap $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val shD = Dedup.shingleRows(docs, "text", "doc_id", 3).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      shD.count(); lap("shD persist count")
      val pairs = Dedup.minhashLshFromShingleRows(shD, bands = 32, rowsPerBand = 4,
          threshold = 0.5)
        .localCheckpoint(false)
      val found = pairs.count() > 0
      lap("pairs count")
      val pairIds = pairs.select(col("id_a").as("id"))
        .unionByName(pairs.select(col("id_b").as("id"))).distinct()
      val shSets = shD.join(pairIds, Seq("id"), "left_semi")
        .groupBy("id").agg(collect_set(col("sh")).as("sh"))
        .localCheckpoint(false)
      val estDevDf = pairs
        .join(shSets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(shSets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("exact", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
        .agg(max(abs(col("est_jaccard") - col("exact"))).as("max_dev"))
      estDevDf.count(); lap("estDev alone")
      val sizes = shD.groupBy("id").agg(count(lit(1)).as("sz"))
      val probeJoin = shD.select(col("id").as("id_b"), col("sh"))
        .join(shD.filter(col("id") < 500).select(col("id").as("id_a"), col("sh")), "sh")
        .filter(col("id_a") =!= col("id_b"))
      println(s"[profile]   probe join rows: ${probeJoin.count()}"); lap("probe join count")
      val exactProbePairs = probeJoin
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("id").as("id_a"), col("sz").as("sza")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("szb")), "id_b")
        .withColumn("j", col("inter").cast("double")
          / (col("sza") + col("szb") - col("inter")))
        .filter(col("j") >= 0.7)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
      val missedDf = exactProbePairs.join(pairs, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      missedDf.count(); lap("missed alone")
      val checks = estDevDf.crossJoin(missedDf).head()
      lap("combined checks head")
      shD.unpersist(false)
      println(s"[profile]   found=$found checks=$checks")
    }

    if (on("props")) {
      println("== property-query values at this sf ==")
      for (q <- Seq("dedup_minhash_lsh", "dedup_simhash", "ann_recall_check")) {
        val rows = graft.SparkEntry.queries(q)(spark, sfDir).collect()
        println(s"[propcheck] $q -> ${rows.mkString(", ")}")
      }
    }

    if (on("twice")) {
      println("== property queries twice in one session ==")
      t("minhash property run 1") {
        graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir).count()
      }
      t("minhash property run 2") {
        graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir).count()
      }
      t("simhash property run 1") {
        graft.SparkEntry.queries("dedup_simhash")(spark, sfDir).count()
      }
      t("simhash property run 2") {
        graft.SparkEntry.queries("dedup_simhash")(spark, sfDir).count()
      }
      t("clean run 1") {
        graft.SparkEntry.queries("pipeline_clean_corpus")(spark, sfDir).count()
      }
      t("clean run 2") {
        graft.SparkEntry.queries("pipeline_clean_corpus")(spark, sfDir).count()
      }
    }

    if (on("clean")) {
      println("== pipeline_clean_corpus ==")
      t("qualityFeatures+persist+counts") {
        val f = TextAnalysis.qualityFeatures(docs, "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = f.count(); f.unpersist(false); n
      }
      t("exact dedup checkpoint") {
        Dedup.exact(docs, Seq("text"), "doc_id").localCheckpoint(false).count()
      }
      t("ngramJaccard 0.8 on deduped") {
        val e = Dedup.exact(docs, Seq("text"), "doc_id").localCheckpoint(false)
        Dedup.ngramJaccard(e, "text", "doc_id", threshold = 0.8).count()
      }
      t("FULL clean (SparkEntry query)") {
        graft.SparkEntry.queries("pipeline_clean_corpus")(spark, sfDir).count()
      }
    }

    if (on("rowtimes")) {
      // bench-methodology timing (warmup + 3 samples, min) of named bench
      // rows: args after "rowtimes" are row names (SparkEntry.queries ∪
      // Bench.extras)
      val runnable = graft.SparkEntry.queries ++ graft.Bench.extras
      val rows = args.filter(runnable.contains).toSeq
      graft.harness.PipelineDemo.ensureCatalog(spark, sfDir)
      graft.SparkEntry.ensureCsvFixture(spark, sfDir)
      if (rows.contains("search_bm25_phrase_batch_1k"))
        KeywordSearch.bm25IndexBuild(
          spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id",
          s"/tmp/graft_bench_posidx_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}",
          overwrite = true, positions = true)
      rows.foreach { name =>
        var lastJobs = 0L
        val samples = (1 to 4).map { _ =>
          Thread.sleep(300)
          val j0 = jobCount.get()
          val t0 = System.nanoTime()
          runnable(name)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sharedState.cacheManager.clearCache()
          Thread.sleep(300)
          lastJobs = jobCount.get() - j0
          dt
        }
        // drop the first (JIT) sample; report min of the rest
        println(f"[rowtime] $name%-36s min=${samples.tail.min}%7.3f s  jobs=$lastJobs%-3d " +
          s"samples=${samples.map(s => f"$s%.3f").mkString(",")}")
      }
    }

    if (on("bm25b")) {
      println("== search_bm25_batch_1k stage split (r18) ==")
      import org.apache.spark.sql.GraftColumnBridge
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.queryExecution.toRdd.foreach(_ => ()); 0L
      }
      val battery = docs.filter(col("doc_id") < 1000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 5)).as("qtext"))
      t("FULL bm25Batch 1k (bench row)") {
        noop(KeywordSearch.bm25Batch(docs, "text", "doc_id",
          battery, "qid", "qtext", k = 10))
      }
      // replicate the internals stage by stage (dev mirror of bm25Batch)
      val toks = coalesce(Dedup.tokens(col("text")), array().cast("array<string>"))
      val qToks = coalesce(Dedup.tokens(col("qtext")), array().cast("array<string>"))
      val wFirst = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id", "term").orderBy("ord")
      val qTerms = battery.select(col("qid").as("query_id"), posexplode(qToks))
        .withColumnRenamed("pos", "ord").withColumnRenamed("col", "term")
        .withColumn("first_occ", row_number().over(wFirst) === 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("qTerms persist count") { qTerms.count() }
      var terms: Seq[String] = Nil
      t("probe stats action (corpus scan 1)") {
        docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
          .agg(count(lit(1)), sum(col("dl")), countDistinct(col("doc_id"))).collect()
        qTerms.agg(max(col("ord")), countDistinct(col("term"))).collect()
      }
      t("vocab collect") {
        terms = qTerms.select("term").distinct().collect().map(_.getString(0)).sorted.toSeq
        terms.size
      }
      def postingRows = {
        val tc = GraftColumnBridge.column(graft.functions.TermPostings(
          GraftColumnBridge.expression(toks), terms))
        docs.select(col("doc_id"), size(toks).cast("long").as("dl"),
            explode(tc).as("tc"))
          .select(col("tc.term").as("term"), col("doc_id"),
            col("tc.cnt").cast("long").as("tf"), col("dl"))
      }
      t("posting scan NO repartition (count)") { postingRows.count() }
      val postings = postingRows.repartition(col("term"), col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("posting scan + repartition + persist") { noop(postings); postings.count() }
      val termStats = postings.groupBy("term").agg(count(lit(1)).as("df"))
        .select(col("term"), log(lit(1.0) +
          (lit(5000.0) - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))).as("idf"))
      t("termStats over persisted postings") { noop(termStats) }
      val norm = lit(1.2 * 0.25) + lit(1.2 * 0.75 / 100.0) * col("dl").cast("double")
      val contrib = qTerms.join(postings, Seq("term")).join(termStats, Seq("term"))
        .withColumn("__c", col("idf") * col("tf").cast("double") * lit(2.2)
          / (col("tf").cast("double") + norm))
      t("contrib join (count rows)") { contrib.count() }
      val sums = (0 to 4).map(i => sum(when(col("ord") === i, col("__c"))).as(s"__s$i"))
      val aggs = sums ++ Seq(max(col("dl")).as("dl"),
        sum(when(col("first_occ"), col("tf")).otherwise(0L)).as("tf_total"))
      val scored = contrib.groupBy("query_id", "doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("score", (0 to 4).map(i => coalesce(col(s"__s$i"), lit(0.0))).reduce(_ + _))
        .select("query_id", "doc_id", "score", "dl", "tf_total")
      t("contrib + pivoted agg (noop)") { noop(scored) }
      t("  ... agg output rows") { scored.count() }
      val topk = {
        val wLocal = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"), col("__pid"))
          .orderBy(col("score").desc, col("doc_id").asc)
        val wGlobal = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id").asc)
        scored.withColumn("__pid", spark_partition_id())
          .withColumn("__lr", row_number().over(wLocal)).filter(col("__lr") <= 10)
          .withColumn("rank", row_number().over(wGlobal)).filter(col("rank") <= 10)
          .drop("__pid", "__lr")
      }
      t("agg + twoStageTopK (noop) = full tail") { noop(topk) }
      postings.unpersist(false); qTerms.unpersist(false)
    }

    if (on("phraseb")) {
      println("== search_bm25_phrase_batch_1k stage split (r18) ==")
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.queryExecution.toRdd.foreach(_ => ()); 0L
      }
      val store = s"/tmp/graft_bench_posidx_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      if (!new java.io.File(s"$store/meta.json").exists())
        KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", store,
          overwrite = true, positions = true)
      val battery = docs.filter(col("doc_id") < 1000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 3)).as("qtext"))
      t("FULL bm25PhraseBatch 1k (bench row)") {
        noop(KeywordSearch.bm25PhraseBatch(spark, store, battery, "qid", "qtext", k = 10))
      }
      // mirror of the internals over the b0 batch (fresh store: 1 batch,
      // no tombstones)
      val qToks = coalesce(Dedup.tokens(col("qtext")), array().cast("array<string>"))
      val wFirst = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id", "term").orderBy("ord")
      val qTerms = battery.select(col("qid").as("query_id"), posexplode(qToks))
        .withColumnRenamed("pos", "ord").withColumnRenamed("col", "term")
        .withColumn("first_occ", row_number().over(wFirst) === 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("qTerms persist count") { qTerms.count() }
      var terms: Seq[String] = Nil
      t("nTerms + vocab collect") {
        terms = qTerms.select("term").distinct().collect().map(_.getString(0)).sorted.toSeq
        terms.size
      }
      val postPruned = spark.read.parquet(s"$store/postings/b0")
        .filter(col("term").isin(terms: _*)).select("term", "doc_id")
      t("postPruned count") { postPruned.count() }
      val termDf = postPruned.groupBy("term").agg(count(lit(1)).as("__tdf"))
      val qDistinct = qTerms.select("query_id", "term").distinct()
      val qLen = qTerms.groupBy("query_id")
        .agg((max(col("ord")) + lit(1)).cast("long").as("__len"),
          countDistinct(col("term")).as("__nt"))
      val qRare = qDistinct.join(termDf, Seq("term"))
        .groupBy("query_id")
        .agg(min(struct(col("__tdf"), col("term"))).as("__m"),
          count(lit(1)).as("__present"))
        .join(qLen, Seq("query_id"))
        .filter(col("__present") === col("__nt"))
        .select(col("query_id"), col("__m.term").as("term"), col("__len"))
      val candidates = qRare.join(postPruned, Seq("term"))
        .select("query_id", "doc_id", "__len")
      t("candidates count") { candidates.count() }
      val expected = candidates.join(qTerms.select("query_id", "ord", "term"),
        Seq("query_id"))
      t("expected (cand × phrase-len) count") { expected.count() }
      val positions = spark.read.parquet(s"$store/positions/b0")
        .filter(col("term").isin(terms: _*))
      val votes = expected.join(positions, Seq("term", "doc_id"))
        .select(col("query_id"), col("doc_id"), col("ord"), col("__len"),
          explode(col("positions")).as("p"))
      t("votes (positions explode) count") { votes.count() }
      val occurrences = votes
        .select(col("query_id"), col("doc_id"), (col("p") - col("ord")).as("start"),
          col("ord"), col("__len"))
        .filter(col("start") >= 0)
        .groupBy("query_id", "doc_id", "start")
        .agg(count(lit(1)).as("__nOrd"), max(col("__len")).as("__l"))
        .filter(col("__nOrd") === col("__l"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("tf"))
      t("occurrences (two-level agg) count") { occurrences.count() }
      qTerms.unpersist(false)
    }

    if (on("bpe")) {
      println("== BPE train/encode split (r18) ==")
      import graft.operators.BpeTokenizer
      var model: BpeTokenizer.BpeModel = null
      for (i <- 1 to 2) {
        t(s"learnVocab 200 merges run $i") {
          model = BpeTokenizer.learnVocab(docs, "text", nMerges = 200)
          model.merges.length
        }
      }
      // split learnVocab's two halves: the distributed dict agg vs the
      // driver-side merge loop
      val wordFreq = docs
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var dict: Array[(String, Long)] = null
      t("dict agg + collect") {
        dict = wordFreq.orderBy(col("f").desc, col("w").asc)
          .limit(1000000).collect().map(r => (r.getString(0), r.getLong(1)))
        dict.length
      }
      var baseChars: Array[String] = null
      t("base chars collect") {
        baseChars = wordFreq.select(explode(split(col("w"), "")).as("c"))
          .filter(length(col("c")) > 0).distinct().collect().map(_.getString(0))
        baseChars.length
      }
      wordFreq.unpersist(false)
      for (i <- 1 to 2) {
        t(s"learnFromDict (driver merge loop) run $i") {
          BpeTokenizer.learnFromDict(dict, 200, baseChars).merges.length
        }
      }
      t("encode scan (noop)") {
        BpeTokenizer.encode(docs, "text", "doc_id", model)
          .queryExecution.toRdd.foreach(_ => ())
      }
      t("pipeline_bpe_tokenize (bench row)") {
        graft.SparkEntry.queries("pipeline_bpe_tokenize")(spark, sfDir)
          .queryExecution.toRdd.foreach(_ => ())
      }
      t("pipeline_pack_sequences_bpe (bench row)") {
        graft.SparkEntry.queries("pipeline_pack_sequences_bpe")(spark, sfDir)
          .queryExecution.toRdd.foreach(_ => ())
      }
    }

    if (on("fused")) {
      println("== fused vs unfused IVF+PQ training (r18) ==")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val even = emb.filter(col("vec_id") % 2 === 0)
      for (i <- 1 to 3) {
        t(s"UNFUSED kmeans+pq+probe run $i") {
          val probe = even.select(col("embedding")).filter(col("embedding").isNotNull)
            .limit(1).collect()
          val dim = probe(0).getAs[scala.collection.Seq[Float]](0).length
          Similarity.kmeansCentroidArrays(even, "vec_id", "embedding", 16, 2)
          Similarity.pqCodebooks(even, "vec_id", "embedding", dim, 8, 16, 2).length
        }
        t(s"FUSED trainIvfPq run $i") {
          Similarity.trainIvfPq(even, "vec_id", "embedding", 16, 8, 16, 2)._3.length
        }
      }
    }

    if (on("anncyc")) {
      println("== ann/bm25 index cycle laps (r18) ==")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val even = emb.filter(col("vec_id") % 2 === 0)
      t("kmeansCentroidArrays 16c 2it") {
        Similarity.kmeansCentroidArrays(even, "vec_id", "embedding", 16, 2)._2.length
      }
      t("pqCodebooks m=8 k=16 2it") {
        val probe = even.select(col("embedding")).filter(col("embedding").isNotNull)
          .limit(1).collect()
        val dim = probe(0).getAs[scala.collection.Seq[Float]](0).length
        Similarity.pqCodebooks(even, "vec_id", "embedding", dim, 8, 16, 2).length
      }
      val aroot = "/tmp/graft_prof_annidx2"
      t("annIndexBuild TOTAL") {
        graft.operators.AnnIndex.annIndexBuild(even, "vec_id", "embedding", aroot,
          nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      }
      t("annIndexAppend") {
        graft.operators.AnnIndex.annIndexAppend(spark, aroot,
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      }
      t("annSearchIndexed 3q") {
        graft.operators.AnnIndex.annSearchIndexed(spark, aroot,
          emb.filter(col("vec_id") < 3), "vec_id", "embedding",
          k = 10, nProbe = 8, refine = 4).queryExecution.toRdd.foreach(_ => ())
      }
      val broot = "/tmp/graft_prof_bm25idx2"
      t("bm25IndexBuild TOTAL (even half)") {
        KeywordSearch.bm25IndexBuild(docs.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", broot, overwrite = true)
      }
      t("bm25IndexAppend (odd half)") {
        KeywordSearch.bm25IndexAppend(spark, broot,
          docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      }
      import spark.implicits._
      val b3 = Seq(("q_join", "spark hash join"), ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      t("bm25SearchIndexed 3q") {
        KeywordSearch.bm25SearchIndexed(spark, broot, b3, "qid", "qtext", k = 10)
          .queryExecution.toRdd.foreach(_ => ())
      }
    }

    if (on("quality")) {
      println("== pipeline_quality_filter split (r18) ==")
      val qdocs = docs.select(col("doc_id"),
        concat(col("text"), lit(graft.harness.QualityFixture.StopwordTail)).as("text"))
      var model: graft.operators.NgramLm.LmModel = null
      for (i <- 1 to 2) {
        t(s"NgramLm.train run $i") {
          model = graft.operators.NgramLm.train(qdocs, "text",
            maxUnigrams = 25, maxBigrams = 500, maxTrigrams = 5000)
          model != null
        }
        t(s"composed scan run $i (bench row)") {
          graft.SparkEntry.queries("pipeline_quality_filter")(spark, sfDir)
            .queryExecution.toRdd.foreach(_ => ())
        }
      }
      t("text_lm_levels (bench row)") {
        graft.SparkEntry.queries("text_lm_levels")(spark, sfDir)
          .queryExecution.toRdd.foreach(_ => ())
      }
    }

    if (on("zarrw")) {
      println("== zarr WRITE half laps (r18) ==")
      val plane = graft.SparkEntry.zarrTidyPlane(spark, sfDir)
      t("plane persist+count") {
        val p = plane.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = p.count(); p.unpersist(false); n
      }
      for (i <- 1 to 2) {
        t(s"v2 WRITE run $i") {
          graft.sources.ZarrWriter.write(plane, "/tmp/graft_prof_zw2",
            maxChunkBytes = 256, dtypes = graft.SparkEntry.zarrTidyDtypes(ucs4 = true))
        }
        t(s"v3 WRITE run $i") {
          graft.sources.ZarrWriter.writeV3(plane, "/tmp/graft_prof_zw3",
            maxChunkBytes = 256, shardInnerChunks = 2,
            dtypes = graft.SparkEntry.zarrTidyDtypes(ucs4 = false), codec = "zstd")
        }
        t(s"v2 READ run $i") {
          graft.SparkEntry.readZarrStoreCells(spark, "/tmp/graft_prof_zw2")
            .queryExecution.toRdd.foreach(_ => ())
        }
      }
    }

    if (on("zarr")) {
      println("== save_zarr roundtrip split (r18) ==")
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.queryExecution.toRdd.foreach(_ => ()); 0L
      }
      val plane = graft.SparkEntry.zarrTidyPlane(spark, sfDir)
      t("tidy plane alone (noop)") { noop(plane) }
      val out2 = "/tmp/graft_prof_zarr_v2"
      val out3 = "/tmp/graft_prof_zarr_v3"
      t("v2 WRITE only") {
        graft.sources.ZarrWriter.write(plane, out2,
          maxChunkBytes = 256, dtypes = graft.SparkEntry.zarrTidyDtypes(ucs4 = true))
      }
      t("v2 READ-back only (noop)") {
        noop(graft.SparkEntry.readZarrStoreCells(spark, out2))
      }
      t("v3 WRITE only (zstd, sharded)") {
        graft.sources.ZarrWriter.writeV3(plane, out3,
          maxChunkBytes = 256, shardInnerChunks = 2,
          dtypes = graft.SparkEntry.zarrTidyDtypes(ucs4 = false), codec = "zstd")
      }
      t("v3 READ-back only (noop)") {
        noop(graft.SparkEntry.readZarrStoreCells(spark, out3))
      }
      t("FULL save_zarr_roundtrip (bench row)") {
        noop(graft.SparkEntry.queries("save_zarr_roundtrip")(spark, sfDir))
      }
    }

    if (on("cycles")) {
      println("== index cycle splits (r18) ==")
      import spark.implicits._
      val root = "/tmp/graft_prof_bm25idx"
      t("bm25IndexBuild (even half, overwrite)") {
        KeywordSearch.bm25IndexBuild(docs.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", root, overwrite = true)
      }
      t("bm25IndexAppend (odd half)") {
        KeywordSearch.bm25IndexAppend(spark, root,
          docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      }
      val battery = Seq(("q_join", "spark hash join"), ("q_scan", "fast table scan"),
        ("q_stream", "stream window agg")).toDF("qid", "qtext")
      t("bm25SearchIndexed 3 probes") {
        KeywordSearch.bm25SearchIndexed(spark, root, battery, "qid", "qtext", k = 10)
          .queryExecution.toRdd.foreach(_ => ())
      }
      val aroot = "/tmp/graft_prof_annidx"
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      t("annIndexBuild (even half, overwrite)") {
        graft.operators.AnnIndex.annIndexBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", aroot,
          nCells = 16, m = 8, nCentroids = 16, kmeansIters = 2, overwrite = true)
      }
      t("annIndexAppend (odd half)") {
        graft.operators.AnnIndex.annIndexAppend(spark, aroot,
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      }
      t("annSearchIndexed 3 queries") {
        graft.operators.AnnIndex.annSearchIndexed(spark, aroot,
          emb.filter(col("vec_id") < 3), "vec_id", "embedding",
          k = 10, nProbe = 8, refine = 4)
          .queryExecution.toRdd.foreach(_ => ())
      }
    }

    if (on("misc")) {
      println("== other heavies ==")
      t("embed_cosine_topk") {
        graft.SparkEntry.queries("embed_cosine_topk")(spark, sfDir).count()
      }
      t("ann_ivf_topk") {
        graft.SparkEntry.queries("ann_ivf_topk")(spark, sfDir).count()
      }
      t("text_repetition") {
        graft.SparkEntry.queries("text_repetition")(spark, sfDir).count()
      }
      t("q_sketch_stats") {
        graft.SparkEntry.queries("q_sketch_stats")(spark, sfDir).count()
      }
      t("q_salted_join") {
        graft.SparkEntry.queries("q_salted_join")(spark, sfDir).count()
      }
      t("q3_top_orders") {
        graft.SparkEntry.queries("q3_top_orders")(spark, sfDir).count()
      }
      t("to_dataset_dict") {
        graft.harness.PipelineDemo.ensureCatalog(spark, sfDir)
        graft.SparkEntry.queries("to_dataset_dict")(spark, sfDir).count()
      }
    }

    if (on("phrasegate")) {
      println("== phrase-batch vote-gate estimate cost split (r19) ==")
      // stage-level census: which stages carry the time under each gate
      // setting (the qRare-persist adjudication needed stage evidence)
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Long)]()
      val stageListener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = e.stageInfo
          val dt = (for { s <- i.submissionTime; c <- i.completionTime }
            yield (c - s) / 1e3).getOrElse(0.0)
          stages.add((s"stage${i.stageId} ${i.name.takeWhile(_ != '\n').take(60)}",
            dt, i.taskMetrics.shuffleWriteMetrics.bytesWritten))
          ()
        }
      }
      val store = s"/tmp/graft_bench_posidx_${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}"
      if (!new java.io.File(s"$store/meta.json").exists())
        KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", store,
          overwrite = true, positions = true)
      val battery = docs.filter(col("doc_id") < 1000)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 3)).as("qtext"))
      def full(): Long = {
        KeywordSearch.bm25PhraseBatch(spark, store, battery, "qid", "qtext", k = 10)
          .queryExecution.toRdd.foreach(_ => ()); 0L
      }
      val gateKey   = "spark.graft.phraseVoteCopartitionRows"
      val savedGate = spark.conf.getOption(gateKey)
      spark.sparkContext.addSparkListener(stageListener)
      try for (gate <- Seq("0", "200000000", "0", "200000000")) {
        spark.conf.set(gateKey, gate)
        // earlier stages' events must land BEFORE the clear, not after it
        org.apache.spark.sql.GraftColumnBridge.drainListeners(spark.sparkContext)
        stages.clear()
        t(s"FULL phrase batch, gate=$gate") { full() }
        org.apache.spark.sql.GraftColumnBridge.drainListeners(spark.sparkContext)
        val slow = scala.jdk.CollectionConverters.CollectionHasAsScala(stages)
          .asScala.toSeq.filter(_._2 > 0.5).sortBy(-_._2).take(12)
        slow.foreach { case (n, dt, sw) =>
          println(f"    [stage] $dt%7.2f s  shufW=${sw / 1048576}%5d MB  $n")
        }
      } finally {
        savedGate match {
          case Some(v) => spark.conf.set(gateKey, v)
          case None    => spark.conf.unset(gateKey)
        }
        spark.sparkContext.removeSparkListener(stageListener)
      }
    }

    if (on("dsdict")) {
      println("== to_dataset_dict split (r19) ==")
      graft.harness.PipelineDemo.ensureCatalog(spark, sfDir)
      for (i <- 1 to 2) {
        var cat: graft.catalog.EsmCatalog = null
        var dsets: Map[String, org.apache.spark.sql.DataFrame] = null
        t(s"open+search run $i") {
          cat = graft.harness.PipelineDemo.open(spark, sfDir)
            .search(Map("status" -> Seq("O", "F")))
          cat != null
        }
        t(s"toDatasetDict run $i") {
          dsets = cat.toDatasetDict(graft.harness.PipelineDemo.coords)
          dsets.size
        }
        t(s"union exec run $i") {
          import org.apache.spark.sql.functions._
          dsets.toSeq.sortBy(_._1)
            .map { case (k, d) => d.withColumn("key", lit(k)) }
            .reduce(_ unionByName _)
            .select("key", "o_orderkey", "year", "member", "totalprice", "custkey")
            .orderBy("key", "o_orderkey")
            .queryExecution.toRdd.foreach(_ => ())
        }
        t(s"FULL row run $i") {
          graft.SparkEntry.queries("to_dataset_dict")(spark, sfDir)
            .queryExecution.toRdd.foreach(_ => ())
        }
      }
    }
    spark.stop()
  }
}
