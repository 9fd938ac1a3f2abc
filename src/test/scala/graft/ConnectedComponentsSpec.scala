package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Transitive duplicate clustering ([[Dedup.connectedComponents]] /
  * [[Dedup.clusterTable]]) — large-star/small-star over candidate pairs. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Reference labeling: brute-force transitive closure on the driver. */
  private def bruteForce(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
  }

  test("chain merges transitively: A-B, B-C, C-D all label to min") {
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate minima; cycles converge") {
    val pairs = Seq((5L, 6L), (6L, 7L), (7L, 5L), (10L, 11L))
    assert(cc(pairs) == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("self-pairs and duplicate rows are ignored; pair order irrelevant") {
    val pairs = Seq((3L, 3L), (9L, 8L), (8L, 9L), (9L, 8L))
    assert(cc(pairs) == Map(8L -> 8L, 9L -> 8L))
  }

  test("empty pair set returns an empty frame with (id, component) schema") {
    val out = Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(out.columns.toSeq == Seq("id", "component"))
    assert(out.count() == 0)
  }

  test("matches brute-force closure on a seeded random graph") {
    val rnd   = new scala.util.Random(42)
    val pairs = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    assert(cc(pairs) == bruteForce(pairs))
  }

  test("adversarial long path (worst diameter) converges well under maxRounds") {
    // a 200-node path is the worst case for diameter-bound propagation;
    // large-star/small-star collapses it in O(log n) rounds
    val pairs = (1L until 200L).map(i => (i, i + 1))
    val out   = cc(pairs)
    assert(out.size == 200 && out.values.forall(_ == 1L))
  }

  test("maxRounds refuses loudly instead of truncating") {
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b"),
        maxRounds = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("reliable-checkpoint branch: same labels, superseded round files deleted") {
    // the cluster posture: with a checkpoint dir set, rounds checkpoint
    // reliably (survives executor loss) and each superseded round's files
    // are deleted explicitly (Spark's default cleaner never removes them)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      assert(cc(pairs) == bruteForce(pairs))
      // a multi-round run keeps only the FINAL round's rdd checkpoint
      // (plus the up-front input checkpoint's parent app dir structure)
      val appDir = new java.io.File(ckpt).listFiles().head
      def rddDirs = appDir.listFiles().filter(_.getName.startsWith("rdd-"))
      assert(rddDirs.length == 1, rddDirs.map(_.getName).mkString(","))
      // dictionary-coded ids: the typed-pair checkpoint goes once the
      // coded input is materialized; the dictionary stays (decode reads it)
      val s = Dedup.connectedComponents(Seq(("b", "a"), ("c", "b")).toDF("id_a", "id_b"))
      assert(s.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
        Map("a" -> "a", "b" -> "a", "c" -> "a"))
      assert(rddDirs.length == 3, rddDirs.map(_.getName).mkString(","))
    } finally {
      // TestSpark is shared: restore the local branch for other tests
      val f = spark.sparkContext.getClass.getMethods
        .find(_.getName == "checkpointDir_$eq").get
      f.invoke(spark.sparkContext, None)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("non-integral ids keep their type and order: strings, fractional doubles") {
    // strings label by string order, not through a numeric cast
    val s = Dedup.connectedComponents(
      Seq(("b", "a"), ("c", "b"), ("y", "x"), ("x", null)).toDF("id_a", "id_b"))
    assert(s.schema.map(_.dataType) == Seq(StringType, StringType))
    assert(s.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // 1.2 and 1.7 are two nodes, never one truncated node 1
    val d = Dedup.connectedComponents(Seq((1.2, 2.5), (1.7, 3.5)).toDF("id_a", "id_b"))
    assert(d.schema.map(_.dataType) == Seq(DoubleType, DoubleType))
    assert(d.collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap ==
      Map(1.2 -> 1.2, 2.5 -> 1.2, 1.7 -> 1.7, 3.5 -> 1.7))
  }

  test("clusterTable carries sizes; keep-first rule = id === component") {
    val rows = Dedup.clusterTable(Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (7L, 7L, 2L), (9L, 7L, 2L)))
  }
}
