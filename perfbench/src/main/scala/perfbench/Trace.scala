package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call: an op's root span (`parent` = -1) or a call into a
  * library layer made while serving that op. Times are epoch ms, the clock
  * Spark stamps job events with; `ns` is the precise wall time. */
final case class Span(id: Int, op: Int, parent: Int, name: String, traced: Boolean,
                      startMs: Long, endMs: Long, ns: Long) {
  def ms: Double = ns / 1e6
}

/** What the listener saw of one job. */
final class JobRec(val id: Int, val startMs: Long, val tags: Set[String]) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var execMs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
}

/** Records the spans of every op and, for traced ops, the Spark jobs each
  * span caused.
  *
  * A traced op registers a listener and tags each of its layer calls with
  * `SparkSession.addTag`, which reaches SQL executions, and with the same
  * SparkContext job tag, which reaches every job; both are inherited by
  * threads the call starts, such as `toDatasetDict`'s pool. Then it drains
  * the listener and removes it. Spans and jobs stay in memory; the report
  * is built once at the end.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val notes = mutable.LinkedHashMap.empty[String, Long]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  /** Jobs of traced ops that `SparkSession.addTag` did not reach: jobs
    * Spark runs outside a SQL execution, such as RDD actions. They are
    * still attributed, through the SparkContext job tag. */
  var untaggedJobs = 0
  var drainTimeouts = 0

  private var nextId = 0
  private var opId = -1
  private var rootId = -1
  private var tracing = false
  private var listener: JobListener = _
  private val opsByName = mutable.HashMap.empty[String, Int]

  private def tagOf(spanId: Int) = s"perfbench-span-$spanId-x"

  /** Run one op as a root span and return its wall time in ms. When the
    * tracer is enabled, every other op of each name is traced, the first
    * one included, so a traced run also measures the same ops untraced. */
  def op(name: String)(body: => Unit): Double = {
    opId += 1
    val nth = opsByName.getOrElse(name, 0)
    opsByName(name) = nth + 1
    val traced = enabled && nth % 2 == 0
    if (traced) {
      listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
    }
    tracing = traced
    val id = nextId; nextId += 1
    rootId = id
    try timed(id, -1, name, traced)(body).ms
    finally {
      tracing = false
      rootId = -1
      if (traced) {
        drain(listener)
        spark.sparkContext.removeSparkListener(listener)
        collect(listener, id)
        listener = null
      }
    }
  }

  /** Adds `n` to a named count, in traced ops only: the counts that per-span
    * ratios such as rows examined per key returned are built from. */
  def note(key: String, n: Long): Unit =
    if (tracing) notes(key) = notes.getOrElse(key, 0L) + n

  /** Forgets everything recorded so far (the set-up's warm-up ops). */
  def reset(): Unit = {
    spans.clear(); jobs.clear(); notes.clear(); opsByName.clear()
    untaggedJobs = 0; drainTimeouts = 0
  }

  /** A call into a library layer, inside the current op. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    var out: Any = null
    if (tracing) {
      spark.addTag(tagOf(id))
      spark.sparkContext.addJobTag(tagOf(id))
      try timed(id, rootId, name, traced = true) { out = body }
      finally {
        spark.removeTag(tagOf(id))
        spark.sparkContext.removeJobTag(tagOf(id))
      }
    } else timed(id, rootId, name, traced = false) { out = body }
    out.asInstanceOf[T]
  }

  private def timed(id: Int, parent: Int, name: String, traced: Boolean)(body: => Unit): Span = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var ok = false
    try { body; ok = true }
    finally {
      val ns = System.nanoTime() - t0
      val s = Span(id, opId, parent, if (ok) name else s"$name.failed", traced, startMs,
        System.currentTimeMillis(), ns)
      spans += s
    }
    spans.last
  }

  /** Waits, with a bound, until every job the listener saw start has ended,
    * and until a marker job submitted now has ended too. The listener bus
    * delivers events in order, so the marker's end means every event of the
    * op's jobs has been delivered. */
  private def drain(l: JobListener): Unit = {
    val marker = s"perfbench-drain-${opId}-x"
    val sc = spark.sparkContext
    sc.addJobTag(marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.removeJobTag(marker)
    val deadline = System.nanoTime() + 30L * 1000000000L
    l.synchronized {
      while (!(l.markerEnded(marker) && l.allEnded) && System.nanoTime() < deadline)
        l.wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
      if (!(l.markerEnded(marker) && l.allEnded)) drainTimeouts += 1
    }
  }

  private def collect(l: JobListener, root: Int): Unit = {
    val opSpans = spans.filter(s => s.op == opId && s.parent == root).map(s => tagOf(s.id)).toSet
    l.synchronized {
      l.byId.values.filterNot(_.tags.exists(_.startsWith("perfbench-drain-"))).foreach { j =>
        // the session's form of a tag wraps the tag in a session prefix
        if (!j.tags.exists(t => opSpans.exists(s => t.contains(s) && t != s))) untaggedJobs += 1
        jobs += j
      }
    }
  }

  /** The layer spans a job belongs to, by its tags. */
  def spanOf(j: JobRec): Option[Int] = {
    val m = "perfbench-span-(\\d+)-x".r
    j.tags.iterator.flatMap(t => m.findFirstMatchIn(t).map(_.group(1).toInt)).toSeq.headOption
  }

  private final class JobListener extends SparkListener {
    val byId = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val ended = mutable.HashSet.empty[String]

    def markerEnded(m: String): Boolean = ended.contains(m)
    def allEnded: Boolean = byId.values.forall(_.endMs >= 0)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
      byId(e.jobId) = new JobRec(e.jobId, e.time, tags)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jid <- stageJob.get(e.stageId); j <- byId.get(jid)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.execMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.tags.filter(_.startsWith("perfbench-drain-")).foreach(ended += _)
      }
      notifyAll()
    }
  }
}
