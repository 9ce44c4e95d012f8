package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.{BenchBridge, SparkSession}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The machine the benchmark runs on. */
object Host {
  /** CPU seconds the hypervisor gave to others while this machine's CPUs
    * wanted to run, summed over its CPUs since boot (0 where not reported).
    */
  def stealS(): Double = Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
    finally src.close()
  }.getOrElse(0.0)
}

/** One request as the caller saw it. */
final case class Rec(id: Int, kind: String, round: Int, traced: Boolean,
                     wallS: Double, stealS: Double, startMs: Long, endMs: Long, error: Option[String],
                     jobs: Int, leaked: Int, counts: Map[String, Double],
                     ledger: Option[JobLedger.Sum])

/** The benchmark's JVM side: one SparkSession at local[N], N = the cores
  * this process may use, and one caller in a closed loop that sends the
  * next request only when the previous one has returned and been checked.
  *
  * Run: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *        --bench <perfbench dir> --work <scratch dir> --launch-ms <epoch ms>
  *        [--smoke] [--record-check]
  * Prints one line `PERFBENCH_RESULT {json}`.
  */
object Main {
  /** graft.Bench's five headline calls, the requests of `graph_iterate`. */
  private val BenchKinds = Seq("lp_fixed5", "lp_converge", "cc_converge", "pagerank_10",
    "triangles")

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "42").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val smoke = flags("smoke")
    val bench = new File(opt("bench"))
    val work = new File(opt("work"))
    val launchMs = opt.get("launch-ms").map(_.toLong).getOrElse(mainMs)
    work.mkdirs()

    opt.get("oracle-sql-out").foreach { out =>
      val w = new PrintWriter(new File(out), "UTF-8")
      try w.print(GateSweep.listed(bench).map { g =>
        val sql = graft.SparkEntry.oracleSql(g).replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")
        s""""$g":"$sql""""
      }.mkString("{", ",\n", "}"))
      finally w.close()
      return
    }

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    Trace.init(spark.sparkContext)
    try {
      val pages = if (smoke) 600L else if (flags("record-check")) 200000L else 20000L
      def make(w: String, dir: File): Workload = w match {
        case "graph_iterate" => new GraphIterate(spark, dir, pages, seed)
        case "cli_pipeline" => new CliPipeline(spark, dir, pages, seed)
        case "gate_sweep" => new GateSweep(spark, bench, seed, smoke)
        case w => sys.error(s"unknown workload $w")
      }
      if (workload == "train") {
        // runs the timed workloads once each, so that the JVM can archive
        // the classes they load (run.py's class-data-sharing archive)
        for (w <- Seq("graph_iterate", "gate_sweep")) {
          val wl = make(w, new File(work, w))
          wl.prepare()
          wl.ready()
          wl.order(0).foreach(k => wl.check(k, wl.request(k)).foreach(e => sys.error(s"$k: $e")))
        }
        return
      }
      val wl = make(workload, work)
      if (smoke && workload != "gate_sweep") {
        val a = SeededPages.replica(spark, pages, SeededPages.DefaultSeed)
        val b = graft.sources.PagesSynth.pages(spark, pages)
        require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          "the seeded pages generator does not reproduce PagesSynth at the default seed")
      }
      if (flags("record-check")) {
        wl.prepare()
        val lines = wl.asInstanceOf[GraphIterate].recordCheck()
        lines.foreach { case (l, ok) => println((if (ok) "OK   " else "FAIL ") + l) }
        if (lines.exists(!_._2)) sys.exit(1)
      } else {
        val run = new Runner(spark, wl, cores, traced)
        val result = run.measure(seconds, (mainMs - launchMs) / 1e3, sparkStartS)
        if (traced) run.writeTrace(new File(work, s"trace-$workload.json"))
        println("PERFBENCH_RESULT " + result)
      }
    } finally spark.stop()
  }

  /** Drives one workload: set-up, warm-up round, timed rounds. */
  final class Runner(spark: SparkSession, wl: Workload, cores: Int, traced: Boolean) {
    private val sc = spark.sparkContext
    private val ledger = new JobLedger
    private val recs = mutable.ArrayBuffer.empty[Rec]
    private val firstJobs = mutable.Map.empty[String, Int]
    private var nextId = 0
    private var baseline = 0

    private def time[T](f: => T): (T, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
    }

    private def held(): Int =
      BenchBridge.cachedEntries(spark) + sc.getPersistentRDDs.size

    /** Drops everything cached and prepares graft's start state again. */
    private def reset(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      wl.ready()
      baseline = held()
    }

    private def one(kind: String, round: Int, tracing: Boolean): Rec = {
      nextId += 1
      val id = nextId
      Trace.on = tracing
      val steal0 = Host.stealS()
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      val out = Try(Trace.request(id, kind)(wl.request(kind)))
      val wall = (System.nanoTime() - ns0) / 1e9
      val steal = Host.stealS() - steal0
      val ms1 = System.currentTimeMillis()
      Trace.on = false
      BenchBridge.drainListeners(spark)
      val sum = if (tracing) Some(ledger.ofRequest(id)) else None
      val jobs = sum.map(_.jobs).getOrElse(sc.statusTracker.getJobIdsForGroup(Trace.group(id)).length)
      val leaked = held() - baseline
      val error = out match {
        case Failure(e) => Some(s"failed: $e")
        case Success(o) => Try(wl.check(kind, o)).fold(e => Some(s"check failed: $e"), identity)
      }
      val served = firstJobs.get(kind).filter(f => wl.jobsRepeat && jobs < f)
        .map(f => s"ran $jobs jobs, the first warm request ran $f: served from cache")
      if (round == 0) firstJobs(kind) = jobs
      val counts = out.toOption.map(_.counts).getOrElse(Map.empty)
      reset()
      val rec = Rec(id, kind, round, tracing, wall, steal, ms0, ms1, error.orElse(served), jobs, leaked,
        counts, sum)
      System.err.println(s"[perfbench] request $id $kind round $round: ${wall}s $jobs jobs " +
        s"$leaked left cached steal ${steal}s ${rec.error.getOrElse("ok")}")
      recs += rec
      rec
    }

    /** Whole rounds, at least `minRounds`, and as many as come nearest to
      * `seconds` of timed requests: another round runs while the time
      * left exceeds half a round.
      */
    private def window(seconds: Double, firstRound: Int, tracing: Boolean, minRounds: Int = 1): Int = {
      var round = firstRound
      var spent = 0.0
      var last = 0.0
      while (round - firstRound < minRounds || spent + last / 2 < seconds) {
        last = wl.order(round).map(k => one(k, round, tracing).wallS).sum
        spent += last
        round += 1
      }
      round - firstRound
    }

    def measure(seconds: Double, jvmStartS: Double, sparkStartS: Double): String = {
      if (traced) ledger.synchronized(sc.addSparkListener(ledger))
      Trace.on = traced
      val (_, prepareS) = time(wl.prepare())
      Trace.on = false
      val readyS = Stats.median((1 to 3).map(_ => time(reset())._2))
      val (_, warmupS) = time(window(0, 0, tracing = false))
      val setupS = jvmStartS + sparkStartS + prepareS + readyS + warmupS
      System.err.println(s"[perfbench] set-up ${setupS}s: jvm ${jvmStartS}s, spark ${sparkStartS}s, " +
        s"prepare ${prepareS}s, ready ${readyS}s, warm-up ${warmupS}s")
      val rounds = window(seconds, 1, tracing = false, minRounds = wl.minTimedRounds)
      // the traced round sits between two untraced ones, so the overhead
      // is measured against rounds about as far into the warm-up
      if (traced) {
        window(0, 1 + rounds, tracing = true)
        window(0, 2 + rounds, tracing = false)
      }

      val timed = recs.filter(r => r.round > 0 && r.round <= rounds).toSeq
      // the wall time of the median timed round
      val roundS = Stats.median(timed.groupBy(_.round).values.map(_.map(_.wallS).sum).toSeq)
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("request_geomean_s", math.exp(Stats.mean(wl.kinds.map(k =>
            math.log(Stats.median(timed.filter(_.kind == k).map(_.wallS)))))), "s"),
          ("requests_per_s",
            wl.kinds.size * timed.count(_.error.isEmpty).toDouble / timed.size / roundS, "1/s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
        else layerMetrics(recs.filter(r => r.round > 0 && !r.traced).toSeq,
          recs.filter(_.traced).toSeq, Seq(
          "session.jvm_start_s" -> jvmStartS, "session.spark_start_s" -> sparkStartS,
          "session.prepare_s" -> prepareS, "session.ready_s" -> readyS,
          "session.warmup_s" -> warmupS))
      val failed = recs.count(r => r.round > 0 && r.error.isDefined)
      val attempted = recs.count(_.round > 0)
      val body = metrics.map { case (n, v, u) =>
        s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
    }

    private def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString

    private def peakRssMb(): Double = {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0)
      finally src.close()
    }

    /** Self time of each layer: a span's length minus what its children cover. */
    private def selfTimes(req: Int): Map[String, Double] = {
      val spans = Trace.spans.filter(_.request == req).toSeq
      spans.groupBy(_.name).map { case (name, ss) =>
        name -> ss.map { s =>
          val kids = spans.filter(c => c.parent == s.name && c.startNs >= s.startNs && c.endNs <= s.endNs)
          (s.endNs - s.startNs - Intervals.unionLength(kids.map(c => (c.startNs, c.endNs)),
            s.startNs, s.endNs)) / 1e9
        }.sum
      }
    }

    private def layerMetrics(untraced: Seq[Rec], tr: Seq[Rec], session: Seq[(String, Double)])
        : Seq[(String, Double, String)] = {
      val sums = tr.flatMap(r => r.ledger.map(r -> _))
      def med(f: ((Rec, JobLedger.Sum)) => Double) = Stats.median(sums.map(f))
      val idle = sums.map { case (r, s) =>
        r.wallS - Intervals.unionLength(s.intervals, r.startMs, r.endMs) / 1e3 }
      val wallSum = tr.map(_.wallS).sum
      val self = tr.map(r => selfTimes(r.id))
      def share(layer: String) = self.map(_.getOrElse(layer, 0.0)).sum / wallSum
      val coverage = tr.zip(self).map { case (r, s) => 1 - s.getOrElse("request", r.wallS) / r.wallS }
      def medWall(rs: Seq[Rec], k: String) = Stats.median(rs.filter(_.kind == k).map(_.wallS))
      val overhead = Stats.median(wl.kinds.map(k => medWall(tr, k) / medWall(untraced, k))) - 1
      val all = untraced ++ tr
      def medKind(k: String)(f: Rec => Double) = Stats.median(all.filter(_.kind == k).map(f))
      val cli = wl.isInstanceOf[CliPipeline]
      val algoKinds = if (cli) Seq("cli_lp", "cli_cc") else BenchKinds
      val engines = if (cli) Seq("cli_lp" -> "cli_lp", "cli_cc" -> "cli_cc")
        else Seq("lp" -> "lp_converge", "cc" -> "cc_converge")
      val layers = Seq("build", "algo", "engine", "queries.define", "queries.plan",
        "queries.exec") ++ (if (cli) Seq("write", "measures") else Nil)
      // graph_iterate builds its edge table once, in set-up (request 0)
      val builds = (if (cli) tr.map(_.id) else Seq(0)).map(ledger.ofSpan(_, "build"))
      val engineReqs = all.filter(_.counts.contains("edge_supersteps"))
      val gateReqs = all.filterNot(r => (BenchKinds ++ Seq("cli_lp", "cli_cc")).contains(r.kind))
      session.map { case (n, v) => (n, v, "s") } ++ Seq(
        ("request.jobs", med(_._2.jobs), "count"),
        ("request.tasks", med(_._2.tasks.toDouble), "count"),
        ("request.task_s", med(_._2.taskS), "s"),
        ("request.gc_s", Stats.mean(sums.map(_._2.gcS)), "s"),
        ("request.shuffle_mb", med(_._2.shuffleMb), "MB"),
        ("request.spill_mb", med(_._2.spillMb), "MB"),
        ("request.util", med { case (r, s) => s.taskS / (r.wallS * cores) }, "ratio"),
        ("driver.idle_s", Stats.median(idle), "s"),
        ("driver.idle_share", idle.sum / wallSum, "ratio"),
        ("trace.overhead", overhead, "ratio"),
        ("host.steal_share", all.map(_.stealS).sum / (all.map(_.wallS).sum * cores), "ratio"),
        ("trace.span_coverage_min", if (coverage.isEmpty) 0.0 else coverage.min, "ratio"),
        ("layer.harness.share", share("request"), "ratio")) ++
        layers.map(l => (s"layer.$l.share", share(l), "ratio")) ++
        algoKinds.map(k => (s"algo.$k.jobs", medKind(k)(_.jobs.toDouble), "count")) ++
        algoKinds.map(k => (s"cache.leaked_entries.$k", medKind(k)(_.leaked.toDouble), "count")) ++
        engines.flatMap { case (name, k) => Seq(
          (s"engine.$name.iterations", medKind(k)(_.counts.getOrElse("iterations", 0.0)), "count"),
          (s"engine.$name.jobs_per_superstep", Stats.median(tr.filter(_.kind == k).map(r =>
            ledger.ofSpan(r.id, "algo").jobs / r.counts.getOrElse("iterations", 1.0))), "ratio")) } ++
        (if (cli) engines.map { case (name, k) =>
          (s"engine.$name.checkpoint_mb", medKind(k)(_.counts.getOrElse("checkpoint_mb", 0.0)), "MB") }
        else Nil) ++
        Seq(
          ("engine.superstep_edges_per_s",
            if (engineReqs.isEmpty) 0.0
            else engineReqs.map(_.counts("edge_supersteps")).sum / engineReqs.map(_.wallS).sum, "1/s"),
          ("build.jobs", Stats.median(builds.map(_.jobs.toDouble)), "count"),
          ("build.shuffle_mb", Stats.median(builds.map(_.shuffleMb)), "MB"),
          ("queries.jobs_p50", Stats.median(gateReqs.map(_.jobs.toDouble)), "count"),
          ("cache.leaked_entries.gates", Stats.median(gateReqs.map(_.leaked.toDouble)), "count")) ++
        (if (cli) Seq(("measures.summary_jobs", Stats.median(tr.filter(_.kind == "cli_lp").map(r =>
          ledger.ofSpan(r.id, "measures").jobs.toDouble)), "count")) else Nil)
    }

    /** Writes every span and every request's counters of the run. */
    def writeTrace(f: File): Unit = {
      val w = new PrintWriter(f, "UTF-8")
      try {
        w.println("{\"requests\":[")
        w.println(recs.map { r =>
          val s = r.ledger.map(l => s""","jobs_ledger":${l.jobs},"task_s":${l.taskS},""" +
            s""""shuffle_mb":${l.shuffleMb},"spill_mb":${l.spillMb},"gc_s":${l.gcS}""").getOrElse("")
          s"""{"id":${r.id},"kind":"${r.kind}","round":${r.round},"traced":${r.traced},""" +
            s""""wall_s":${r.wallS},"jobs":${r.jobs},"leaked":${r.leaked},"ok":${r.error.isEmpty}$s}"""
        }.mkString(",\n"))
        w.println("],\"spans\":[")
        w.println(Trace.spans.map(s =>
          s"""{"name":"${s.name}","request":${s.request},"kind":"${s.kind}",""" +
            s""""parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
          .mkString(",\n"))
        w.println("]}")
      } finally w.close()
    }
  }
}
