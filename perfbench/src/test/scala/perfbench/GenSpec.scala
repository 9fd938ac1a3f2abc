package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Generator determinism: one seed gives byte-identical fixtures and op
  * sequences, another seed gives different ones. */
class GenSpec extends AnyFunSuite {

  private def catalog(seed: Long) = {
    val rows = CatalogGen.assets(seed, 2000)
    (CatalogGen.csv(rows), CatalogGen.queries(seed, 64))
  }

  test("catalog table and query stream are a function of the seed") {
    assert(catalog(1) == catalog(1))
    val (csvA, qA) = catalog(1)
    val (csvB, qB) = catalog(2)
    assert(csvA != csvB)
    assert(qA != qB)
    // the kind order is fixed; only the terms depend on the seed
    assert(qA.map(_.kind) == qB.map(_.kind))
  }

  test("catalog rows are unique and the null column stays empty") {
    val rows = CatalogGen.assets(3, 5000)
    assert(rows.map(a => (a.source, a.experiment, a.member, a.table, a.variable, a.grid)).distinct.length == 5000)
    val header :: lines = CatalogGen.csv(rows).split("\n").toList
    val nullAt = header.split(",").indexOf("dcpp_init_year")
    assert(lines.forall(l => l.split(",", -1)(nullAt).isEmpty))
  }

  test("the in-memory search applies require_all_on over whole groups") {
    def a(src: String, exp: String, v: String) =
      CatalogGen.Asset("CMIP", "I", src, exp, "r1i1p1f1", "Amon", v, "gn", "v1", Vector("atmos"), s"$src/$exp/$v")
    val rows = Vector(a("A", "historical", "tas"), a("A", "ssp585", "tas"),
      a("B", "historical", "tas"), a("B", "historical", "pr"))
    val q = CatalogGen.Query("require_all_on",
      Seq("experiment_id" -> Seq("historical", "ssp585"), "variable_id" -> Seq("tas")), Seq("source_id"))
    assert(CatalogGen.select(rows, q).map(_.source).distinct == Seq("A"))
    val wildcard = CatalogGen.Query("w", Seq("variable_id" -> Seq("^t")), Nil)
    assert(CatalogGen.select(rows, wildcard).length == 3)
  }

  /** Relative path → SHA-256 of every file under `root`. */
  private def tree(root: Path): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      root.relativize(p).toString -> sha.map(b => f"$b%02x").mkString
    }.toMap
    finally walk.close()
  }

  private def storeFixture(seed: Long): Map[String, String] = {
    Files.createDirectories(Paths.get("target"))
    val dir = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "gen")
    StoreGen.stores(seed, dir.toString).foreach(StoreGen.encode)
    val out = tree(dir)
    Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    out
  }

  test("zarr fixture stores are byte-identical for a seed and differ across seeds") {
    val a = storeFixture(5)
    assert(a.keys.exists(_.endsWith(".zarray")) && a.keys.exists(_.endsWith("zarr.json")))
    assert(a == storeFixture(5))
    assert(a != storeFixture(6))
    assert(StoreGen.csv(StoreGen.stores(5, "d")) == StoreGen.csv(StoreGen.stores(5, "d")))
    assert(StoreGen.csv(StoreGen.stores(5, "d")) != StoreGen.csv(StoreGen.stores(6, "d")))
    assert(StoreGen.visits(5, 50) == StoreGen.visits(5, 50))
    assert(StoreGen.visits(5, 50) != StoreGen.visits(6, 50))
  }

  test("every group holds the same work: one v2 and one v3 asset per variable") {
    val stores = StoreGen.stores(9, "x")
    stores.groupBy(s => (s.group, s.variable)).values.foreach { ss =>
      assert(ss.map(_.format).sorted == Seq("zarr2", "zarr3"))
    }
    assert(stores.groupBy(_.group).values.map(_.map(_.cells).sum).toSet.size == 1)
  }

  test("closed-form sums match the encoded values") {
    val (n, sum) = StoreGen.expected(3072, 17)
    assert(n == 3072 && sum == (0L until 3072L).map(i => StoreGen.value(i, 17)).sum)
  }

  test("corpus shards are a function of the seed and carry what was planted") {
    val ev = CorpusGen.evalDocs(1, 50)
    val s1 = CorpusGen.shard(1, 3, 300, ev, 10, 5)
    assert(s1 == CorpusGen.shard(1, 3, 300, ev, 10, 5))
    assert(s1.docs != CorpusGen.shard(2, 3, 300, CorpusGen.evalDocs(2, 50), 10, 5).docs)
    assert(s1.docs.map(_.id).distinct.length == 300)
    val text = s1.docs.map(d => d.id -> d.text.split(' ').toVector).toMap
    s1.clusters.foreach { c =>
      val orig = text(c.head)
      c.tail.foreach { id =>
        val copy = text(id)
        assert(copy.length == orig.length && copy.zip(orig).count { case (x, y) => x != y } == 1)
      }
    }
    val evalGrams = ev.flatMap(_.text.split(' ').sliding(CorpusGen.EvalGram).map(_.mkString(" "))).toSet
    s1.contaminated.foreach { id =>
      assert(text(id).sliding(CorpusGen.EvalGram).exists(g => evalGrams.contains(g.mkString(" "))))
    }
  }
}
