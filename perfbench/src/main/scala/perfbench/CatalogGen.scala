package perfbench

/** The CMIP6-shaped asset table of `esm_session`, its seeded query
  * stream, and an in-memory evaluation of each query that the engine's
  * answers are checked against. Pure Scala: no Spark. */
object CatalogGen {

  val GroupBy: Seq[String] =
    Seq("activity_id", "institution_id", "source_id", "experiment_id", "table_id", "grid_label")
  val Columns: Seq[String] = Seq("activity_id", "institution_id", "source_id", "experiment_id",
    "member_id", "table_id", "variable_id", "grid_label", "dcpp_init_year", "version",
    "realms", "zstore")
  /** The tuple-literal column; searched by membership. */
  val Iterable = "realms"

  final case class Asset(activity: String, institution: String, source: String,
                         experiment: String, member: String, table: String, variable: String,
                         grid: String, version: String, realms: Vector[String], zstore: String) {
    /** Scalar cell by column name; `dcpp_init_year` is empty in every row. */
    def get(c: String): String = c match {
      case "activity_id"    => activity
      case "institution_id" => institution
      case "source_id"      => source
      case "experiment_id"  => experiment
      case "member_id"      => member
      case "table_id"       => table
      case "variable_id"    => variable
      case "grid_label"     => grid
      case "dcpp_init_year" => null
      case "version"        => version
      case "zstore"         => zstore
    }
    def key: String = GroupBy.map(get).mkString(".")
  }

  private val institutions = Vector("NCAR", "MPI-M", "IPSL", "NOAA-GFDL", "MIROC", "CSIRO",
    "CCCma", "NCC", "EC-Earth-Consortium", "MOHC", "CNRM-CERFACS", "INM", "BCC", "CAS",
    "NUIST", "AWI", "KIOST", "AS-RCEC", "E3SM-Project", "FIO-QLNM")
  private val modelStems = Vector("CESM", "MPI", "IPSL", "GFDL", "MIROC", "ACCESS", "CanESM",
    "NorESM", "EC-Earth", "UKESM", "CNRM", "INM", "BCC", "FGOALS", "NESM", "AWI", "KACE",
    "TaiESM", "E3SM", "FIO")
  private val modelSuffixes = Vector("1", "2", "2-LR", "2-HR", "1-0", "CM6", "ESM1", "ESM2", "MR", "LM")
  val experiments: Vector[(String, String)] = Vector(
    "historical" -> "CMIP", "piControl" -> "CMIP", "abrupt-4xCO2" -> "CMIP", "1pctCO2" -> "CMIP",
    "amip" -> "CMIP", "ssp126" -> "ScenarioMIP", "ssp245" -> "ScenarioMIP",
    "ssp370" -> "ScenarioMIP", "ssp585" -> "ScenarioMIP", "hist-GHG" -> "DAMIP",
    "hist-aer" -> "DAMIP", "lgm" -> "PMIP", "midHolocene" -> "PMIP", "dcppA-hindcast" -> "DCPP")
  val tables: Vector[(String, String, Vector[String])] = Vector(
    ("Amon", "atmos", Vector("tas", "pr", "psl", "ua", "va", "ta", "hus", "clt", "rsds", "rlut")),
    ("Omon", "ocean", Vector("tos", "so", "thetao", "zos", "uo", "vo")),
    ("Lmon", "land", Vector("mrso", "lai", "gpp", "tsl")),
    ("SImon", "seaIce", Vector("siconc", "sithick", "sivol")),
    ("day", "atmos", Vector("tasmax", "tasmin", "pr", "tas")),
    ("3hr", "atmos", Vector("tas", "pr", "huss")),
    ("AERmon", "aerosol", Vector("od550aer", "mmrbc", "mmrdust")),
    ("Ofx", "ocean", Vector("areacello", "deptho")))
  private val extraRealms = Vector("atmos", "land", "ocean", "seaIce", "aerosol", "landIce", "atmosChem")
  private val grids = Vector("gn", "gr", "gr1")

  /** The seeded model roster: (source_id, institution_id, grid labels). */
  def sources(seed: Long): Vector[(String, String, Vector[String])] = {
    val rng = new Rng(seed, "catalog.sources")
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (String, Vector[String])]
    while (seen.size < 60) {
      val i = rng.int(institutions.length)
      val name = s"${modelStems(i)}${rng.pick(Vector("", "-"))}${rng.pick(modelSuffixes)}"
      if (!seen.contains(name)) {
        val gs = if (rng.int(3) == 0) rng.sample(grids, 2) else Vector(rng.pick(grids))
        seen(name) = (institutions(i), gs)
      }
    }
    seen.toVector.map { case (s, (inst, gs)) => (s, inst, gs) }
  }

  /** `n` distinct assets; a row is unique on (source, experiment, member,
    * table, variable, grid). */
  def assets(seed: Long, n: Int): Vector[Asset] = {
    val rng = new Rng(seed, "catalog.assets")
    val roster = sources(seed)
    val seen = new java.util.HashSet[String](n * 2)
    val out = Vector.newBuilder[Asset]
    var made = 0
    while (made < n) {
      val (src, inst, gs) = rng.pick(roster)
      val (exp, act) = rng.pick(experiments)
      val (table, realm, vars) = rng.pick(tables)
      val variable = rng.pick(vars)
      val member = s"r${1 + rng.int(rng.pick(Vector(3, 10, 30)))}i1p1f${1 + rng.int(2)}"
      val grid = rng.pick(gs)
      val id = s"$src|$exp|$member|$table|$variable|$grid"
      if (seen.add(id)) {
        val realms = (realm +: rng.sample(extraRealms, rng.int(3))).distinct
        val version = f"v20${18 + rng.int(4)}%02d${1 + rng.int(12)}%02d${1 + rng.int(28)}%02d"
        out += Asset(act, inst, src, exp, member, table, variable, grid, version, realms,
          s"gs://cmip6/CMIP6/$act/$inst/$src/$exp/$member/$table/$variable/$grid/$version/")
        made += 1
      }
    }
    out.result()
  }

  /** CSV text of the asset table: empty `dcpp_init_year` cells (read back
    * as null) and python tuple literals in `realms`. */
  def csv(rows: Seq[Asset]): String = {
    val sb = new StringBuilder(rows.length * 220)
    sb.append(Columns.mkString(",")).append('\n')
    rows.foreach { a =>
      val realms = a.realms.map(r => s"'$r'").mkString("(", ", ", if (a.realms.length == 1) ",)" else ")")
      Columns.foreach { c =>
        c match {
          case "realms"         => sb.append('"').append(realms).append('"')
          case "dcpp_init_year" =>
          case other            => sb.append(a.get(other))
        }
        sb.append(if (c == Columns.last) '\n' else ',')
      }
    }
    sb.toString
  }

  /** The ESM collection descriptor pointing at `csvName` beside it. */
  def descriptor(csvName: String): String =
    s"""{
       |  "esmcat_version": "0.1.0",
       |  "id": "perfbench-cmip6",
       |  "description": "generated CMIP6-shaped asset table",
       |  "catalog_file": "$csvName",
       |  "attributes": [${Columns.filter(c => c != "zstore").map(c => s"""{"column_name": "$c", "vocabulary": ""}""").mkString(", ")}],
       |  "assets": {"column_name": "zstore", "format": "zarr"},
       |  "aggregation_control": {
       |    "variable_column_name": "variable_id",
       |    "groupby_attrs": [${GroupBy.map(g => s""""$g"""").mkString(", ")}],
       |    "aggregations": [
       |      {"type": "union", "attribute_name": "variable_id"},
       |      {"type": "join_new", "attribute_name": "member_id", "options": {"coords": "minimal", "compat": "override"}}
       |    ]
       |  }
       |}
       |""".stripMargin

  /** One catalog search: column → accepted values, plus require_all_on. */
  final case class Query(kind: String, terms: Seq[(String, Seq[String])], requireAllOn: Seq[String]) {
    def asMap: Map[String, Any] = terms.map { case (c, vs) => c -> (if (vs.length == 1) vs.head else vs) }.toMap
  }

  /** Query kinds, issued in this fixed order so that every seed runs the
    * same mix; the seed picks the terms. */
  val Kinds: Vector[String] = Vector("equality", "require_all_on", "iterable", "wildcard_source",
    "value_list", "regex_variable", "iterable_list", "list_and_regex")

  def queries(seed: Long, count: Int): Vector[Query] = {
    val rng = new Rng(seed, "catalog.queries")
    val roster = sources(seed)
    def src() = rng.pick(roster)._1
    def exp() = rng.pick(experiments)._1
    def one(kind: String): Query = kind match {
      case "equality" =>
        Query(kind, Seq("source_id" -> Seq(src()), "experiment_id" -> Seq(exp())), Nil)
      case "value_list" =>
        Query(kind, Seq("experiment_id" -> rng.sample(experiments.map(_._1), 2),
          "table_id" -> Seq("Amon"), "variable_id" -> rng.sample(tables(0)._3, 3)), Nil)
      case "wildcard_source" =>
        val stem = src().takeWhile(c => c != '-' && !c.isDigit)
        Query(kind, Seq("source_id" -> Seq(s"^$stem.*"), "table_id" -> Seq(rng.pick(tables)._1)), Nil)
      case "regex_variable" =>
        Query(kind, Seq("variable_id" -> Seq(rng.pick(Vector("^tas", "^ta", "^so$", "^pr$", "^mmr"))),
          "experiment_id" -> Seq(exp()), "member_id" -> Seq("r1i1p1f1")), Nil)
      case "require_all_on" =>
        Query(kind, Seq("experiment_id" -> Seq("historical", rng.pick(Vector("ssp245", "ssp585"))),
          "variable_id" -> rng.sample(Vector("tas", "pr", "psl"), 2), "table_id" -> Seq("Amon")),
          Seq("source_id", "member_id"))
      case "iterable" =>
        Query(kind, Seq(Iterable -> Seq(rng.pick(extraRealms)), "experiment_id" -> Seq(exp())), Nil)
      case "iterable_list" =>
        Query(kind, Seq(Iterable -> rng.sample(extraRealms, 2),
          "activity_id" -> Seq("ScenarioMIP"), "member_id" -> Seq("r1i1p1f1")), Nil)
      case "list_and_regex" =>
        Query(kind, Seq("source_id" -> Vector.fill(3)(src()).distinct, "grid_label" -> Seq("^gr")), Nil)
    }
    Vector.tabulate(count)(i => one(Kinds(i % Kinds.length)))
  }

  private def isPattern(v: String): Boolean = Seq('*', '?', '$', '^').exists(c => v.contains(c))

  /** A matcher for one query value on column `c`. */
  private def matcher(c: String, v: String): Asset => Boolean =
    if (c == Iterable) _.realms.contains(v)
    else if (isPattern(v)) {
      val p = java.util.regex.Pattern.compile(v)
      a => a.get(c) != null && p.matcher(a.get(c)).find()
    } else a => v == a.get(c)

  /** The assets a query selects, evaluated row by row. */
  def select(rows: IndexedSeq[Asset], q: Query): IndexedSeq[Asset] = {
    val terms = q.terms.map { case (c, vs) => vs.map(matcher(c, _)) }
    val base = rows.filter(a => terms.forall(_.exists(_(a))))
    if (q.requireAllOn.isEmpty) base
    else {
      // keep groups over require_all_on whose (remaining term) tuples cover
      // the whole product of the requested values, compared exactly
      val rest = q.terms.filterNot { case (c, _) => q.requireAllOn.contains(c) }.sortBy(_._1)
      val product = rest.foldLeft(Seq(Seq.empty[String])) { case (acc, (_, vs)) =>
        for (p <- acc; v <- vs.distinct) yield p :+ v
      }.toSet
      val keep = base.groupBy(a => q.requireAllOn.map(a.get)).filter { case (_, grp) =>
        val seen = grp.flatMap { a =>
          rest.foldLeft(Seq(Seq.empty[String])) { case (acc, (c, _)) =>
            val cells = if (c == Iterable) a.realms else Seq(a.get(c))
            for (p <- acc; v <- cells) yield p :+ v
          }
        }.toSet
        product.subsetOf(seen)
      }.keySet
      base.filter(a => keep.contains(q.requireAllOn.map(a.get)))
    }
  }

  /** Sorted distinct dataset keys of a set of assets. */
  def keys(rows: Seq[Asset]): Vector[String] = rows.map(_.key).distinct.sorted.toVector
}
