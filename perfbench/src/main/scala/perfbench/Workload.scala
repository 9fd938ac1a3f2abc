package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a seeded fixture and a closed loop of ops
  * issued by one client thread. */
trait Workload {
  /** Builds the seeded fixture under `dir`, including any library work a
    * user pays before the first op. Called several times, each with a
    * fresh `dir`; ops run on the last one. */
  def setup(dir: String): Unit

  /** Runs a few unmeasured ops so that JIT and code generation have
    * settled before the loop. */
  def warmUp(): Unit

  /** Ops in one session, the unit the loop repeats: every run measures
    * whole sessions, so every run does the same kinds of work. */
  def sessionOps: Int

  /** Runs op number `i` of the closed loop through `tr.op`. */
  def op(i: Int): Unit

  /** Compares every recorded output with the generator's answer, outside
    * the timed region; returns one line per mismatch. */
  def check(): Seq[String]

  /** Wall ms of each of the workload's interactive calls
    * (`latency_ms_p50`). */
  def latencyMs: Seq[Double]

  /** Units of data moved and the wall seconds of the ops that moved them
    * (`throughput_per_s`). */
  def throughput: (Double, Double)

  /** The workload's own named metrics: (name, value, unit, note). */
  def details: Seq[(String, Double, String, String)]

  /** The root-span name whose traced and untraced wall times give the
    * tracing overhead. */
  def headlineOp: String
}

object Workload {
  val Names: Seq[String] = Seq("esm_session", "corpus_prep")

  def apply(name: String, spark: SparkSession, seed: Long, tr: Tracer): Workload = name match {
    case "esm_session" => new EsmSession(spark, seed, tr)
    case "corpus_prep" => new CorpusPrep(spark, seed, tr)
  }

  def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }

  /** Wall ms of every successful span named `name`. */
  def walls(tr: Tracer, name: String): Seq[Double] = tr.spans.filter(_.name == name).map(_.ms).toSeq

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
