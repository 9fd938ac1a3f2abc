package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Starts a `local[nproc]` session, sets the workload up several times,
  * warms it up, runs its closed loop from this one thread in whole sessions
  * until `--seconds` have passed, checks every output, and prints one JSON
  * line last: the end-to-end metrics, or with `--trace 1` the per-layer
  * ones. Exits 1 when an output check fails. */
object Main {
  val SetupReps = 3

  val Spans: Seq[String] = Seq("catalog.open", "catalog.search", "catalog.keys", "catalog.entry",
    "catalog.to_dataset_dict", "sources.read", "sources.write", "operators.clean",
    "operators.decontaminate", "operators.bpe_encode", "operators.pack")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
    require(Workload.Names.contains(o.workload),
      s"unknown workload '${o.workload}'; one of ${Workload.Names.mkString(", ")}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    println(s"# workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    println(s"# nproc=$cpus heap_mb=${Runtime.getRuntime.maxMemory >> 20} spark=${spark.version} " +
      s"java=${System.getProperty("java.version")} session_s=${f"$sessionS%.3f"}")
    val code =
      try run(o, spark)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(o: Opts, spark: SparkSession): Int = {
    val tr = new Tracer(spark, o.trace)
    val wl = Workload(o.workload, spark, o.seed, tr)
    val setups = (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      wl.setup(s"${o.work}/fixture-$r")
      (System.nanoTime() - t) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    tr.reset()

    // whole sessions until --seconds have passed
    var attempted = 0
    var failed = 0
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    while (System.nanoTime() < deadline) (1 to wl.sessionOps).foreach { _ =>
      attempted += 1
      try wl.op(attempted - 1)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] op ${attempted - 1} failed: $e")
          e.printStackTrace()
      }
    }
    val loopS = o.seconds + (System.nanoTime() - deadline) / 1e9

    val c0 = System.nanoTime()
    val mismatches = wl.check()
    val checkS = (System.nanoTime() - c0) / 1e9
    mismatches.foreach(m => println(s"# MISMATCH $m"))
    val correct = mismatches.isEmpty

    println(s"# setup_s reps: ${setups.map(s => f"$s%.3f").mkString(" ")}; " +
      f"warmup_s=$warmS%.3f loop_s=$loopS%.3f check_s=$checkS%.3f")
    println(f"# op_failure_ratio ${failed.toDouble / attempted}%.4f fraction ($failed of $attempted)")
    wl.details.foreach { case (n, v, u, note) => println(s"# $n $v $u ($note)") }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val (units, secs) = wl.throughput
        Seq(("setup_s", Stats.median(setups), "s"),
          ("latency_ms_p50", Workload.p50(wl.latencyMs), "ms"),
          ("throughput_per_s", units / secs, "1/s"))
      } else layerMetrics(tr, wl.headlineOp)
    metrics.foreach { case (n, v, u) => println(s"# $n $v $u") }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    if (correct) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  /** Per-span counts from the traced ops, each per call. */
  def layerMetrics(tr: Tracer, headline: String): Seq[(String, Double, String)] = {
    val traced = tr.spans.filter(s => s.traced && s.parent >= 0)
    val bySpan: Map[Int, Seq[JobRec]] =
      tr.jobs.toSeq.groupBy(j => tr.spanOf(j).getOrElse(-1))
    val perSpan = Spans.flatMap { name =>
      val calls = traced.filter(_.name == name)
      val n = calls.length
      val jobs = calls.flatMap(c => bySpan.getOrElse(c.id, Nil))
      def per(x: Double) = if (n == 0) 0.0 else x / n
      val driver = calls.map { c =>
        Stats.driverMs(c.startMs, c.endMs, bySpan.getOrElse(c.id, Nil).map(j => (j.startMs, j.endMs)))
          .toDouble
      }.sum
      Seq(
        (s"$name.calls", n.toDouble, "count"),
        (s"$name.wall_ms", Workload.p50(calls.map(_.ms).toSeq), "ms"),
        (s"$name.jobs", per(jobs.length), "count"),
        (s"$name.tasks", per(jobs.map(_.tasks).sum), "count"),
        (s"$name.driver_ms", per(driver), "ms"),
        (s"$name.exec_ms", per(jobs.map(_.execMs).sum), "ms"),
        (s"$name.shuffle_bytes", per(jobs.map(_.shuffleBytes).sum), "bytes"),
        (s"$name.records_read", per(jobs.map(_.recordsRead).sum), "count"))
    }
    def total(name: String, f: JobRec => Long) =
      traced.filter(_.name == name).flatMap(c => bySpan.getOrElse(c.id, Nil)).map(f).sum.toDouble
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val roots = tr.spans.filter(s => s.parent < 0 && s.name == headline)
    val on = roots.filter(_.traced).map(_.ms).toSeq
    val off = roots.filterNot(_.traced).map(_.ms).toSeq
    perSpan ++ Seq(
      ("catalog.search.records_per_key",
        ratio(total("catalog.search", _.recordsRead) + total("catalog.keys", _.recordsRead),
          tr.notes.getOrElse("catalog.keys.returned", 0L).toDouble), "rows/key"),
      ("sources.read.cells_per_job",
        ratio(tr.notes.getOrElse("sources.read.cells", 0L).toDouble, total("sources.read", _ => 1L)),
        "cells/job"),
      ("trace.overhead_pct",
        if (on.isEmpty || off.isEmpty) 0.0 else (Stats.median(on) / Stats.median(off) - 1) * 100, "%"),
      ("trace.untagged_jobs", tr.untaggedJobs.toDouble, "count"),
      ("trace.drain_timeouts", tr.drainTimeouts.toDouble, "count"))
  }
}
