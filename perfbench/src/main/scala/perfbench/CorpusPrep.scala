package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BpeTokenizer, Chunking, CorpusPipeline, Decontaminate}

/** `corpus_prep`: the training-data chain over one fresh shard per op.
  * Each stage reads the previous stage's parquet and writes its own:
  * clean → decontaminate against the eval set → BPE encode → pack by
  * token count per `lang`. Only the operators layer works. */
final class CorpusPrep(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  val ShardDocs = 800
  val Clusters = 40
  val Contaminated = 20
  val EvalDocs = 200
  val Budget = 2048
  val Merges = 300

  import spark.implicits._

  private var dir = ""
  private var evalPath = ""
  private var evalSet: Vector[CorpusGen.Doc] = Vector.empty
  private var model: BpeTokenizer.BpeModel = _
  private val shards = mutable.ArrayBuffer.empty[(String, CorpusGen.Shard)]

  private def docsFrame(docs: Seq[CorpusGen.Doc]): DataFrame =
    docs.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")

  def setup(d: String): Unit = {
    dir = d
    evalSet = CorpusGen.evalDocs(seed, EvalDocs)
    evalPath = s"$dir/eval"
    docsFrame(evalSet).coalesce(1).write.parquet(evalPath)
    model = BpeTokenizer.learnVocab(docsFrame(CorpusGen.trainingSample(seed, 2000)), "text", Merges)
  }

  /** One chain over a shard no measured op uses. */
  def warmUp(): Unit = chain(100000)

  def sessionOps: Int = 2

  def op(i: Int): Unit = chain(i)

  private def chain(index: Int): Unit = {
    val shard = CorpusGen.shard(seed, index, ShardDocs, evalSet, Clusters, Contaminated)
    val base = s"$dir/shard-$index"
    docsFrame(shard.docs).coalesce(1).write.parquet(s"$base/input")
    shards += base -> shard
    tr.op("chain") {
      tr.span("operators.clean") {
        CorpusPipeline.clean(spark.read.parquet(s"$base/input"), nearDupThreshold = 0.8)
          .cleaned.write.parquet(s"$base/clean")
      }
      tr.span("operators.decontaminate") {
        Decontaminate.decontaminate(spark.read.parquet(s"$base/clean"), spark.read.parquet(evalPath),
          "text", "doc_id", n = CorpusGen.EvalGram).write.parquet(s"$base/decontam")
      }
      tr.span("operators.bpe_encode") {
        val t = spark.read.parquet(s"$base/decontam")
        BpeTokenizer.encode(t, "text", "doc_id", model)
          .join(t.select(col("doc_id").as("id"), col("lang")), "id")
          .write.parquet(s"$base/encoded")
      }
      tr.span("operators.pack") {
        Chunking.packByTokenCount(spark.read.parquet(s"$base/encoded").select("id", "n_tokens", "lang"),
          "id", "n_tokens", "lang", budget = Budget).write.parquet(s"$base/packed")
      }
    }
  }

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    shards.foreach { case (base, shard) =>
      val ids = (p: String) => spark.read.parquet(s"$base/$p").select("doc_id").as[Long].collect().toSet
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/packed"))) {
        val cleaned = ids("clean")
        val input = shard.docs.map(_.id).toSet
        val losers = shard.clusters.flatMap(_.tail).toSet
        shard.clusters.foreach { c =>
          val kept = c.count(cleaned.contains)
          if (kept != 1) out += s"$base: near-dup cluster ${c.head} kept $kept docs"
        }
        if (cleaned.size != input.size - losers.size)
          out += s"$base: clean kept ${cleaned.size} docs, expected ${input.size - losers.size}"
        val decon = ids("decontam")
        shard.contaminated.filter(decon.contains).foreach(id => out += s"$base: contaminated $id kept")
        if (decon != cleaned -- shard.contaminated)
          out += s"$base: decontaminate kept ${decon.size}, expected ${(cleaned -- shard.contaminated).size}"
        // BPE: decoding the ids of a seeded sample reproduces the text
        val rng = new Rng(seed + base.hashCode, "corpus.decode")
        val sample = rng.sample(decon.toVector.sorted, 8)
        val byId = shard.docs.map(d => d.id -> d.text).toMap
        spark.read.parquet(s"$base/encoded").filter(col("id").isin(sample: _*))
          .select(col("id"), BpeTokenizer.decode(col("token_ids"), model).as("t")).as[(Long, String)]
          .collect().foreach { case (id, t) =>
            if (t != byId(id)) out += s"$base: BPE round trip of $id differs"
          }
        val encTotal = spark.read.parquet(s"$base/encoded").agg(sum("n_tokens")).as[Long].head()
        val packed = spark.read.parquet(s"$base/packed")
        val packTotal = packed.agg(sum("n_tokens")).as[Long].head()
        if (encTotal != packTotal) out += s"$base: packed $packTotal tokens, encoded $encTotal"
        // each lang's docs, in id order, go to the bin their first token
        // falls in
        val got = packed.select("lang", "id", "n_tokens", "bin").as[(String, Long, Long, Long)].collect()
        val misplaced = got.groupBy(_._1).values.map { docs =>
          var start = 0L
          docs.sortBy(_._2).count { case (_, _, n, bin) =>
            val bad = bin != start / Budget
            start += n
            bad
          }
        }.sum
        if (misplaced > 0) out += s"$base: $misplaced docs packed into the wrong bin"
      }
    }
    if (shards.isEmpty) out += "no shard completed"
    out.toSeq
  }

  def latencyMs: Seq[Double] = Workload.walls(tr, "chain")
  def headlineOp: String = "chain"

  def throughput: (Double, Double) = (latencyMs.length.toDouble * ShardDocs, latencyMs.sum / 1000.0)

  def details: Seq[(String, Double, String, String)] = {
    val (docs, secs) = throughput
    Seq(("chain_ms_p50", Workload.p50(latencyMs), "ms", s"n=${latencyMs.length}"),
      ("corpus_docs_per_s", docs / secs, "docs/s", s"docs=${docs.toLong}"))
  }
}
