package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** The zarr catalog of `esm_session`: store layouts, their closed-form
  * contents, the seeded visit and write schedules, and an encoder that
  * writes the fixture stores straight from the closed form. The fixture is
  * written by this independent encoder, not by the library's ZarrWriter,
  * so the library's readers are checked against stores it did not write
  * (as they are in use) and the set-up stays cheap. Pure Scala; no Spark. */
object StoreGen {

  /** One asset: a (time, lat, lon) float64 variable of one member.
    * `format` is the catalog's per-row format, `zarr2` (zlib) or `zarr3`
    * (zstd, sharded). */
  final case class Store(group: Int, source: String, experiment: String, member: String,
                         variable: String, format: String, nt: Int, ny: Int, nx: Int, salt: Int, path: String) {
    def cells: Long = nt.toLong * ny * nx
    def key: String = s"$source.$experiment"
  }

  /** Cell value at C-order flat index `i`: small integers, so every sum is
    * exact in double precision whatever order Spark adds in. */
  def value(i: Long, salt: Int): Double = ((i * 7 + salt) % 1000).toDouble

  /** (count, sum) of a store's cells, from the closed form above. */
  def expected(cells: Long, salt: Int): (Long, Double) = {
    var s = 0.0
    var i = 0L
    while (i < cells) { s += value(i, salt); i += 1 }
    (cells, s)
  }

  val Ny = 16
  val Nx = 32
  val Members = 2
  /** Variable → time steps over the 16 x 32 grid. Every group holds a
    * small variable (3,072 cells per asset), whose reads are bound by
    * driver rounds, and a large one (24,576 cells per asset), bound by
    * decode, so every load does the same work whatever the seed. */
  val Variables: Vector[(String, Int)] = Vector("tas" -> 6, "pr" -> 48)
  val Groups = 4

  /** The fixture stores. Per group and variable one member is zarr v2 and
    * the other zarr v3; the seed picks which, and every name and value. */
  def stores(seed: Long, dir: String): Vector[Store] = {
    val rng = new Rng(seed, "stores.layout")
    val names = rng.sample(CatalogGen.sources(seed).map(_._1), Groups)
    val exps = CatalogGen.experiments.map(_._1)
    (0 until Groups).flatMap { g =>
      val exp = rng.pick(exps)
      Variables.flatMap { case (v, nt) =>
        val formats = rng.shuffle(Vector("zarr2", "zarr3"))
        (1 to Members).map { m =>
          val fmt = formats(m - 1)
          Store(g, names(g), exp, s"r${m}i1p1f1", v, fmt, nt, Ny, Nx, rng.int(1000),
            s"$dir/g$g-r$m-$v.$fmt")
        }
      }
    }.toVector
  }

  /** Groups in load order: a seeded, skewed sequence, so some groups are
    * loaded again and again and others rarely. */
  def visits(seed: Long, count: Int): Vector[Int] = {
    val rng = new Rng(seed, "stores.visits")
    Vector.fill(count)(if (rng.int(2) == 0) 0 else rng.int(Groups))
  }

  /** Time steps per chunk: 32 KiB float64 chunks over the 16 x 32 grid. */
  val ChunkTimes = 8
  /** Inner chunks per v3 shard. */
  val ShardChunks = 4

  private def put(path: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), bytes)
  }

  /** Time band `b` as little-endian float64, padded with the fill value
    * to a whole chunk as zarr writers do. */
  private def band(s: Store, b: Int): Array[Byte] = {
    val per = ChunkTimes * s.ny * s.nx
    val buf = ByteBuffer.allocate(per * 8).order(ByteOrder.LITTLE_ENDIAN)
    val first = b.toLong * per
    var k = 0
    while (k < per) {
      val i = first + k
      buf.putDouble(if (i < s.cells) value(i, s.salt) else 0.0)
      k += 1
    }
    buf.array()
  }

  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(1)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2)
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Writes store `s`: zarr v2 with zlib chunks, or zarr v3 with
    * zstd-compressed inner chunks in `sharding_indexed` shards. */
  def encode(s: Store): Unit = {
    val v = s"${s.path}/${s.variable}"
    val shape = s"[${s.nt}, ${s.ny}, ${s.nx}]"
    val bands = (s.nt + ChunkTimes - 1) / ChunkTimes
    if (s.format == "zarr2") {
      put(s"${s.path}/.zgroup", """{"zarr_format": 2}""".getBytes("UTF-8"))
      put(s"$v/.zarray", (s"""{"zarr_format": 2, "dtype": "<f8", "shape": $shape, """ +
        s""""chunks": [$ChunkTimes, ${s.ny}, ${s.nx}], "compressor": {"id": "zlib", "level": 1}, """ +
        """"filters": null, "order": "C", "fill_value": 0.0}""").getBytes("UTF-8"))
      put(s"$v/.zattrs", """{"_ARRAY_DIMENSIONS": ["time", "lat", "lon"]}""".getBytes("UTF-8"))
      (0 until bands).foreach(b => put(s"$v/$b.0.0", zlib(band(s, b))))
    } else {
      put(s"${s.path}/zarr.json", """{"zarr_format": 3, "node_type": "group"}""".getBytes("UTF-8"))
      val inner = """[{"name": "bytes", "configuration": {"endian": "little"}}, """ +
        """{"name": "zstd", "configuration": {"level": 1, "checksum": false}}]"""
      put(s"$v/zarr.json", (s"""{"zarr_format": 3, "node_type": "array", "shape": $shape, """ +
        """"data_type": "float64", "chunk_grid": {"name": "regular", "configuration": """ +
        s"""{"chunk_shape": [${ChunkTimes * ShardChunks}, ${s.ny}, ${s.nx}]}}, """ +
        """"chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}}, """ +
        """"fill_value": 0.0, "codecs": [{"name": "sharding_indexed", "configuration": """ +
        s"""{"chunk_shape": [$ChunkTimes, ${s.ny}, ${s.nx}], "codecs": $inner, """ +
        """"index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}}, """ +
        """{"name": "crc32c"}], "index_location": "end"}}], """ +
        """"dimension_names": ["time", "lat", "lon"]}""").getBytes("UTF-8"))
      (0 until (bands + ShardChunks - 1) / ShardChunks).foreach { sh =>
        val out = new java.io.ByteArrayOutputStream()
        val index = ByteBuffer.allocate(16 * ShardChunks + 4).order(ByteOrder.LITTLE_ENDIAN)
        (0 until ShardChunks).foreach { slot =>
          val b = sh * ShardChunks + slot
          if (b < bands) {
            val enc = com.github.luben.zstd.Zstd.compress(band(s, b), 1)
            index.putLong(out.size.toLong); index.putLong(enc.length.toLong)
            out.write(enc)
          } else { index.putLong(-1L); index.putLong(-1L) } // absent: fill
        }
        val crc = new java.util.zip.CRC32C()
        crc.update(index.array(), 0, 16 * ShardChunks)
        index.putInt(crc.getValue.toInt)
        out.write(index.array())
        put(s"$v/c/$sh/0/0", out.toByteArray)
      }
    }
  }

  /** Catalog CSV: one row per store, format chosen per row. */
  def csv(stores: Seq[Store]): String =
    ("source_id,experiment_id,member_id,variable_id,format,path" +:
      stores.map(s => s"${s.source},${s.experiment},${s.member},${s.variable},${s.format},${s.path}"))
      .mkString("", "\n", "\n")

  def descriptor(csvName: String): String =
    s"""{
       |  "esmcat_version": "0.1.0",
       |  "id": "perfbench-zarr",
       |  "catalog_file": "$csvName",
       |  "attributes": [{"column_name": "source_id"}, {"column_name": "experiment_id"},
       |                 {"column_name": "member_id"}, {"column_name": "variable_id"}],
       |  "assets": {"column_name": "path", "format_column_name": "format"},
       |  "aggregation_control": {
       |    "variable_column_name": "variable_id",
       |    "groupby_attrs": ["source_id", "experiment_id"],
       |    "aggregations": [
       |      {"type": "union", "attribute_name": "variable_id"},
       |      {"type": "join_new", "attribute_name": "member_id"}
       |    ]
       |  }
       |}
       |""".stripMargin

  /** The store written beside load `i`: 12,288 cells, v2 and v3 in
    * turn, seeded values. */
  def write(seed: Long, i: Int, dir: String): Store = {
    val fmt = if (i % 2 == 0) "zarr2" else "zarr3"
    Store(-1, "written", "w", s"w$i", "tas", fmt, 24, Ny, Nx, new Rng(seed + i, "stores.write").int(1000),
      s"$dir/w$i.$fmt")
  }
}
