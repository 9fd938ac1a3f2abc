package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.EsmCatalog
import graft.sources.{KerchunkIndex, ZarrDirectoryIndex, ZarrWriter}

/** `esm_session`: one long-lived notebook session over two catalogs.
  *
  *  - Queries: seeded searches of a CMIP6-shaped asset table of 10^5 rows,
  *    each followed by `keys` and by `getEntry` on one returned key. No
  *    asset is opened; the catalog layer does all the work, and every query
  *    scans the same table.
  *  - Loads: a search of a small catalog of zarr v2 and v3 stores, then
  *    `toDatasetDict`, then every row of the returned dataset is consumed,
  *    and one fresh store is written beside it. The catalog is 16 rows, so
  *    the sources layer (metadata, decode, join_new and union
  *    composition, the writer) does the work.
  *
  * A session is `open`, the eight query kinds once each, then one load: a
  * fixed order, so every seed does the same kinds of work; the seed picks
  * every name, value, format and query term. */
final class EsmSession(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import EsmSession._

  private var dir = ""
  private var rows: Vector[CatalogGen.Asset] = Vector.empty
  private var queries: Vector[CatalogGen.Query] = Vector.empty
  private var stores: Vector[StoreGen.Store] = Vector.empty
  private var visits: Vector[Int] = Vector.empty
  private var big: EsmCatalog = _
  private var zarr: EsmCatalog = _
  private var nQuery = 0
  private var nLoad = 0

  private val lengths = mutable.ArrayBuffer.empty[Long]
  private val answers = mutable.ArrayBuffer.empty[Answer]
  private val loaded = mutable.ArrayBuffer.empty[Loaded]
  private val written = mutable.ArrayBuffer.empty[StoreGen.Store]
  private var cellsRead = 0L
  private var cellsWritten = 0L

  def setup(d: String): Unit = {
    dir = d
    rows = CatalogGen.assets(seed, Rows)
    Workload.write(s"$dir/assets.csv", CatalogGen.csv(rows))
    Workload.write(s"$dir/catalog.json", CatalogGen.descriptor("assets.csv"))
    queries = CatalogGen.queries(seed, 1024)
    visits = StoreGen.visits(seed, 1024)
    stores = StoreGen.stores(seed, s"$dir/stores")
    stores.foreach(StoreGen.encode)
    Workload.write(s"$dir/zarr.csv", StoreGen.csv(stores))
    Workload.write(s"$dir/zarr.json", StoreGen.descriptor("zarr.csv"))
    open()
  }

  /** One query and one load of the small variable only: every code path
    * of the measured ops, at a fraction of a full load's cost. */
  def warmUp(): Unit = {
    load(StoreGen.Groups - 1, StoreGen.write(seed, 1000, s"$dir/writes"), Some("tas"))
    query(queries.last)
    cellsRead = 0; cellsWritten = 0
  }

  def sessionOps: Int = 10

  /** A session: `open`, the eight query kinds once each, one load. */
  def op(i: Int): Unit = (i % sessionOps) match {
    case 0 => tr.op("open")(open())
    case 9 =>
      val w = StoreGen.write(seed, nLoad, s"$dir/writes")
      val g = visits(nLoad % visits.length)
      nLoad += 1
      tr.op("load")(load(g, w))
    case _ =>
      val q = queries(nQuery % queries.length)
      nQuery += 1
      tr.op("query")(query(q))
  }

  private def open(): Unit = {
    big = tr.span("catalog.open") {
      val c = EsmCatalog.open(spark, s"$dir/catalog.json")
      lengths += c.length
      c
    }
    zarr = tr.span("catalog.open")(EsmCatalog.open(spark, s"$dir/zarr.json", storageOptions = Decode))
  }

  private def query(q: CatalogGen.Query): Unit = {
    val found = tr.span("catalog.search")(big.search(q.asMap,
      if (q.requireAllOn.isEmpty) None else Some(q.requireAllOn)))
    val keys = tr.span("catalog.keys")(found.keys)
    tr.note("catalog.keys.returned", keys.length)
    val pick = new Rng(seed + answers.length, "catalog.entry")
    val entryKey = if (keys.isEmpty) None else Some(keys(pick.int(keys.length)))
    val paths = entryKey.toSeq.flatMap { k =>
      tr.span("catalog.entry")(found.getEntry(k)).records.map(_("zstore").toString)
    }
    answers += Answer(q, keys, entryKey, paths)
  }

  private def load(g: Int, w: StoreGen.Store, variable: Option[String] = None): Unit = {
    val group = stores.filter(s => s.group == g && variable.forall(_ == s.variable))
    val found = tr.span("catalog.search")(zarr.search(Map(
      "source_id" -> group.head.source, "experiment_id" -> group.head.experiment) ++
      variable.map("variable_id" -> _)))
    val dsets = tr.span("catalog.to_dataset_dict")(found.toDatasetDict())
    val got = dsets.toSeq.sortBy(_._1).map { case (k, df) =>
      val r = tr.span("sources.read")(df.agg(count(lit(1)), sum(col("value"))).collect()(0))
      k -> (r.getLong(0), r.getDouble(1))
    }.toMap
    tr.note("sources.read.cells", got.values.map(_._1).sum)
    cellsRead += got.values.map(_._1).sum
    loaded += Loaded(group.head.key, variable, got)
    tr.span("sources.write")(writeStore(w))
    cellsWritten += w.cells
    written += w
  }

  /** The store's cells in the tidy (variable, dims, coords, value) shape
    * ZarrWriter takes, computed by Spark from the closed form. */
  private def frame(s: StoreGen.Store): DataFrame = {
    val id = col("id")
    spark.range(s.cells).select(
      lit(s.variable).as("variable"),
      array(lit("time"), lit("lat"), lit("lon")).as("dims"),
      array(floor(id / (s.ny * s.nx)), floor(id / s.nx) % s.ny, id % s.nx).as("coords"),
      ((id * 7 + s.salt) % 1000).cast("double").as("value"))
  }

  private def writeStore(s: StoreGen.Store): Unit = {
    val chunkBytes = StoreGen.ChunkTimes * s.ny * s.nx * 8L
    if (s.format == "zarr2") ZarrWriter.write(frame(s), s.path, maxChunkBytes = chunkBytes)
    else ZarrWriter.writeV3(frame(s), s.path, maxChunkBytes = chunkBytes,
      shardInnerChunks = StoreGen.ShardChunks, codec = "zstd")
  }

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val all = CatalogGen.keys(rows).length.toLong
    lengths.filter(_ != all).foreach(l => out += s"catalog length $l, expected $all")
    answers.foreach { a =>
      val sel = CatalogGen.select(rows, a.q)
      val want = CatalogGen.keys(sel)
      if (a.keys != want)
        out += s"${a.q.kind} ${a.q.terms}: ${a.keys.length} keys, expected ${want.length}"
      a.entryKey.foreach { k =>
        val paths = sel.filter(_.key == k).map(_.zstore).sorted
        if (a.entryPaths.sorted != paths)
          out += s"getEntry($k): ${a.entryPaths.length} records, expected ${paths.length}"
      }
    }
    loaded.foreach { l =>
      val want = stores.filter(s => s.key == l.key && l.variable.forall(_ == s.variable))
        .map(s => StoreGen.expected(s.cells, s.salt))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      if (l.datasets.keySet != Set(l.key)) out += s"load ${l.key}: datasets ${l.datasets.keySet}"
      l.datasets.get(l.key).filter(_ != want).foreach(g => out += s"load ${l.key}: $g, expected $want")
    }
    // every written store reads back through the library's own reader
    written.foreach { s =>
      val e = ZarrDirectoryIndex.read(spark, s.path)
      val r = KerchunkIndex.decodeCoords(KerchunkIndex.materializeChunks(e),
        KerchunkIndex.arrayMeta(e), KerchunkIndex.attrDims(e))
        .agg(count(lit(1)), sum(col("value"))).collect()(0)
      val got = (r.getLong(0), r.getDouble(1))
      val want = StoreGen.expected(s.cells, s.salt)
      if (got != want) out += s"written ${s.path}: $got, expected $want"
    }
    if (answers.isEmpty || loaded.isEmpty) out += "no query or no load completed"
    out.toSeq
  }

  /** Per op of kind `root`: the summed wall ms of its `spans`. */
  private def perOp(root: String, spans: String*): Seq[Double] = {
    val ops = tr.spans.filter(s => s.parent < 0 && s.name == root).map(_.op).toSet
    tr.spans.filter(s => ops.contains(s.op) && spans.contains(s.name)).groupBy(_.op).values
      .map(_.map(_.ms).sum).toSeq
  }

  /** A query's `search` + `keys`: the catalog's answer to a search. */
  private def queryMs: Seq[Double] = perOp("query", "catalog.search", "catalog.keys")

  def latencyMs: Seq[Double] = queryMs
  def headlineOp: String = "query"

  def throughput: (Double, Double) = {
    ((cellsRead + cellsWritten).toDouble, Workload.walls(tr, "load").sum / 1000.0)
  }

  def details: Seq[(String, Double, String, String)] = {
    val q = queryMs
    val tail = Stats.tail(q)
    def p50(span: String) = {
      val w = Workload.walls(tr, span)
      (Workload.p50(w), s"n=${w.length}")
    }
    val open = perOp("open", "catalog.open")
    val (entry, en) = p50("catalog.entry")
    val (dict, dn) = p50("catalog.to_dataset_dict")
    Seq(
      ("open_ms_p50", Workload.p50(open), "ms", s"n=${open.length}"),
      ("query_ms_p50", Workload.p50(q), "ms", s"n=${q.length}"),
      ("query_ms_tail", tail.map(_.value).getOrElse(Double.NaN), "ms",
        tail.map(t => f"p${t.percentile}%.1f n=${t.n}").getOrElse(s"undefined: n=${q.length} < 11")),
      ("entry_ms_p50", entry, "ms", en),
      ("dict_ms_p50", dict, "ms", dn),
      ("read_cells_per_s", cellsRead / (Workload.walls(tr, "sources.read").sum / 1000.0),
        "cells/s", s"cells=$cellsRead"),
      ("write_cells_per_s", cellsWritten / (Workload.walls(tr, "sources.write").sum / 1000.0),
        "cells/s", s"cells=$cellsWritten"),
    )
  }
}

object EsmSession {
  val Rows = 100000
  val Decode = Map("graft.kerchunk.decode" -> "coords")

  final case class Answer(q: CatalogGen.Query, keys: Seq[String], entryKey: Option[String],
                          entryPaths: Seq[String])
  final case class Loaded(key: String, variable: Option[String], datasets: Map[String, (Long, Double)])
}
