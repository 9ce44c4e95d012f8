package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around the benchmark's own calls into graft's modules. Spans are
  * kept in memory and written when the run ends. With tracing off, `span`
  * only runs its body.
  *
  * While a span is open, its name is the Spark job group, so the
  * [[JobLedger]] can charge each job to the span that started it.
  */
object Trace {
  final case class Span(name: String, request: Int, kind: String, parent: String,
                        startNs: Long, endNs: Long)

  @volatile var on = false
  private var sc: SparkContext = _
  private var request = 0
  private var kind = ""
  private var stack: List[String] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def init(context: SparkContext): Unit = sc = context

  def group(req: Int): String = s"r$req"

  /** Runs one request's body under its own job group. */
  def request[T](req: Int, k: String)(f: => T): T = {
    request = req
    kind = k
    stack = Nil
    sc.setJobGroup(group(req), k)
    try span("request")(f) finally sc.clearJobGroup()
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.headOption.getOrElse("")
      val parentGroup = stack.headOption.fold(group(request))(p => s"${group(request)}/$p")
      stack = name :: stack
      sc.setJobGroup(s"${group(request)}/$name", kind)
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(name, request, kind, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setJobGroup(parentGroup, kind)
      }
    }

  /** A span whose interval is known only from inside graft (the engine's
    * per-superstep wall times), recorded as a child of the current span.
    */
  def addChild(name: String, startNs: Long, endNs: Long): Unit =
    if (on) spans += Span(name, request, kind, stack.headOption.getOrElse(""), startNs, endNs)
}

/** Per-job and per-stage counters from Spark's listener bus, registered
  * only for traced runs.
  */
object JobLedger {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long)
  final class StageAgg {
    var tasks = 0L; var taskMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  /** Counters summed over a set of jobs. */
  final case class Sum(jobs: Int, tasks: Long, taskS: Double, gcS: Double,
                       shuffleMb: Double, spillMb: Double, intervals: Seq[(Long, Long)])
}

final class JobLedger extends SparkListener {
  import JobLedger._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(e.jobId, g.getOrElse(""), e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(i.stageId, new StageAgg)
      a.tasks += i.numTasks
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters summed over the jobs whose group matches `p`. */
  def sum(p: String => Boolean): Sum = synchronized {
    val js = jobs.values.filter(j => p(j.group)).toSeq
    val ids = js.map(_.id).toSet
    val ss = stageJob.collect { case (s, j) if ids(j) => stages.get(s) }.flatten
    Sum(js.size, ss.map(_.tasks).sum, ss.map(_.taskMs).sum / 1e3, ss.map(_.gcMs).sum / 1e3,
      ss.map(_.shuffleBytes).sum / 1048576.0, ss.map(_.spillBytes).sum / 1048576.0,
      js.map(j => (j.startMs, j.endMs)))
  }

  def ofRequest(req: Int): Sum = {
    val g = Trace.group(req)
    sum(x => x == g || x.startsWith(g + "/"))
  }

  def ofSpan(req: Int, span: String): Sum = {
    val g = s"${Trace.group(req)}/$span"
    sum(_ == g)
  }
}

object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def unionLength(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((s0, e0) <- xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val s = math.max(s0, end)
      if (e0 > s) { covered += e0 - s; end = e0 }
    }
    covered
  }
}
