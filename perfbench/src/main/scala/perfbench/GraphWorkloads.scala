package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.engine.{Checkpointer, Superstep}
import graft.graph.GraphOps
import graft.measures.Measures
import graft.sources.TextExtract

/** What a timed request returned, plus counts it reports about itself. */
final case class Outcome(value: Any, counts: Map[String, Double] = Map.empty)

/** One workload: its inputs, the requests of one round, and the check
  * each request's output must pass.
  */
trait Workload {
  /** The kinds of request, one of each per round. */
  def kinds: Seq[String]
  /** The requests of round `round`, in the order the caller sends them. */
  def order(round: Int): Seq[String] = kinds
  /** Builds the inputs from the seed; idempotent. */
  def prepare(): Unit
  /** Brings graft to the state every request starts from (untimed). */
  def ready(): Unit = ()
  /** The timed call into graft. */
  def request(kind: String): Outcome
  /** None when the output is right, else what is wrong (untimed). */
  def check(kind: String, out: Outcome): Option[String]
  /** Whether every request of a kind must run at least the jobs its first
    * (warm-up) request ran; fewer means it was served from a cache.
    */
  def jobsRepeat: Boolean = true
  /** The fewest timed rounds, so each kind's median has that many samples. */
  def minTimedRounds: Int = 1
}

object GraphWork {
  /** Slots × supersteps of the engine-driven requests, the numerator of
    * `engine.superstep_edges_per_s`.
    */
  def counts(r: Superstep.Result, slots: Long): Map[String, Double] = Map(
    "iterations" -> r.iterations.toDouble,
    "edge_supersteps" -> slots.toDouble * r.iterations)

  /** Records the engine's supersteps as child spans ending at `endNs`. */
  def engineSpans(r: Superstep.Result, endNs: Long): Unit = {
    var t = endNs - r.metrics.map(_.wallMillis).sum * 1000000L
    for (m <- r.metrics) {
      Trace.addChild("engine", t, t + m.wallMillis * 1000000L)
      t += m.wallMillis * 1000000L
    }
  }

  def labelsOf(df: DataFrame): Array[(Long, Long)] =
    df.select(col("id"), col("label")).collect().map(r => (r.getLong(0), r.getLong(1)))

  def sameLabels(ref: GraphRef, got: Array[(Long, Long)], want: Array[Long]): Option[String] =
    ref.mismatch[Long](got, want, _ == _)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def sizeMb(f: File): Double =
    if (f.isDirectory) Option(f.listFiles).map(_.map(sizeMb).sum).getOrElse(0.0)
    else f.length / 1048576.0
}

/** `graph_iterate`: graft.Bench's five headline calls, round-robin, on
  * one prepared edge table. The edges come from a parquet file written in
  * set-up; before every request the edge table is prepared afresh, so no
  * request is served from what an earlier one left cached.
  */
final class GraphIterate(spark: SparkSession, work: File, pages: Long, seed: Long)
    extends Workload {
  import GraphWork._
  val kinds = Seq("lp_fixed5", "lp_converge", "cc_converge", "pagerank_10", "triangles")
  private val cores = spark.sparkContext.defaultParallelism
  private val edgePath = new File(work, "edges").getPath
  private var ref: GraphRef = _
  private var edges: DataFrame = _
  private var nNodes = 0L
  private val iters = collection.mutable.Map.empty[String, Int]
  private lazy val lp5Hash = ref.labelHash(ref.labelPropagation(5))
  private lazy val components = ref.components()
  private lazy val ranks = ref.pageRank(10)
  private lazy val triangleCount = ref.triangles()

  def prepare(): Unit = {
    Trace.span("build") {
      val (raw, _) = TextExtract.buildEdges(SeededPages.pages(spark, pages, seed))
      GraphOps.symmetrize(GraphOps.dropSelfLoops(raw)).write.mode("overwrite").parquet(edgePath)
    }
    ref = new GraphRef(spark.read.parquet(edgePath))
    nNodes = ref.n
  }

  override def ready(): Unit = {
    edges = GraphOps.prepareForGather(spark.read.parquet(edgePath), cores)
    edges.count()
  }

  def request(kind: String): Outcome = kind match {
    case "lp_fixed5" =>
      val h = Trace.span("algo") {
        LabelPropagation
          .runFixed(edges, 5, symmetric = true, packedArgmax = Some(true))
          .agg(bit_xor(xxhash64(col("id"), col("label")))).first().getLong(0)
      }
      Outcome(h, Map("edge_supersteps" -> ref.slots * 5.0))
    case "lp_converge" | "cc_converge" =>
      val r = Trace.span("algo") {
        val r = if (kind == "lp_converge")
          LabelPropagation.run(edges, nNodes, earlyStop = true, symmetric = true)
        else ConnectedComponents.run(edges, nNodes)
        engineSpans(r, System.nanoTime())
        r
      }
      Outcome(r, counts(r, ref.slots))
    case "pagerank_10" =>
      val ranks = Trace.span("algo") {
        val r = PageRank.runFixed(edges, iterations = 10, partitions = cores, symmetric = true)
        r.count()
        r
      }
      Outcome(ranks, Map("edge_supersteps" -> ref.slots * 10.0))
    case "triangles" =>
      Outcome(Trace.span("algo")(TriangleCount.countTriangles(edges)))
  }

  /** Iteration counts must repeat the first (warm-up) request's. */
  private def sameIters(kind: String, n: Int): Option[String] = {
    val want = iters.getOrElseUpdate(kind, n)
    if (n == want) None else Some(s"$n iterations, first run took $want")
  }

  def check(kind: String, out: Outcome): Option[String] = (kind, out.value) match {
    case ("lp_fixed5", h: Long) =>
      if (h == lp5Hash) None else Some(s"label hash $h, want $lp5Hash")
    case ("lp_converge", r: Superstep.Result) =>
      sameIters(kind, r.iterations).orElse(
        sameLabels(ref, labelsOf(r.labels), ref.labelPropagation(r.iterations)))
    case ("cc_converge", r: Superstep.Result) =>
      sameIters(kind, r.iterations).orElse(sameLabels(ref, labelsOf(r.labels), components))
    case ("pagerank_10", df: Dataset[_]) =>
      val got = df.select(col("id"), col("rank")).collect().map(r => (r.getLong(0), r.getDouble(1)))
      ref.mismatch[Double](got, ranks, (a, b) => math.abs(a - b) <= 1e-9 * math.abs(b))
    case ("triangles", t: Long) =>
      if (t == triangleCount) None else Some(s"$t triangles, want $triangleCount")
    case _ => Some(s"unexpected output ${out.value}")
  }

  /** The frozen bench's record for the default seed at 200,000 pages,
    * plus the label hash against the sequential reference.
    */
  def recordCheck(): Seq[(String, Boolean)] = {
    ready()
    val tri = TriangleCount.countTriangles(edges)
    val lp = LabelPropagation.run(edges, nNodes, earlyStop = true, symmetric = true)
    val cc = ConnectedComponents.run(edges, nNodes)
    val hash = LabelPropagation.runFixed(edges, 5, symmetric = true, packedArgmax = Some(true))
      .agg(bit_xor(xxhash64(col("id"), col("label")))).first().getLong(0)
    Seq(
      s"slots ${ref.slots}, record 2197570" -> (ref.slots == 2197570L),
      s"triangles $tri, record 11237" -> (tri == 11237L),
      s"lp iterations ${lp.iterations}, record 6" -> (lp.iterations == 6),
      s"cc iterations ${cc.iterations}, record 5" -> (cc.iterations == 5),
      s"lp_fixed5 label hash $hash, sequential reference $lp5Hash" -> (hash == lp5Hash))
  }
}

/** `cli_pipeline`: the CLI's `lp` and `cc` jobs (`graft.cli.Main`), made
  * of the same library calls in the same order: extract → dictionary →
  * symmetrize → partition + persist → run with a durable checkpoint every
  * superstep → write labels → summary. Each job starts from the pages
  * parquet written in set-up and a fresh output directory.
  */
final class CliPipeline(spark: SparkSession, work: File, pages: Long, seed: Long)
    extends Workload {
  import GraphWork._
  val kinds = Seq("cli_lp", "cli_cc")
  private val cores = spark.sparkContext.defaultParallelism
  private val pagesPath = new File(work, "pages").getPath
  private val out = new File(work, "cli_out")
  private var ref: GraphRef = _
  private val iters = collection.mutable.Map.empty[String, Int]
  private lazy val components = ref.components()

  def prepare(): Unit = {
    Trace.span("build") {
      SeededPages.pages(spark, pages, seed).write.mode("overwrite").parquet(pagesPath)
    }
    val (raw, _) = TextExtract.buildEdges(spark.read.parquet(pagesPath))
    ref = new GraphRef(GraphOps.symmetrize(GraphOps.dropSelfLoops(raw)))
  }

  override def ready(): Unit = deleteTree(out)

  def request(kind: String): Outcome = {
    val (edges, nNodes) = Trace.span("build") {
      val (raw, _) = TextExtract.buildEdges(spark.read.parquet(pagesPath))
      val edges = GraphOps.prepareForGather(
        GraphOps.symmetrize(GraphOps.dropSelfLoops(raw)), cores)
      val nNodes = GraphOps.vertices(edges).count()
      edges.count()
      (edges, nNodes)
    }
    val cp = new Checkpointer(new File(out, "checkpoints").getPath, spark)
    val algorithm = if (kind == "cli_lp") "lp" else "cc"
    require(cp.validatedLatest(algorithm).isEmpty, "fresh output directory expected")
    val r = Trace.span("algo") {
      val r = if (kind == "cli_lp")
        LabelPropagation.run(edges, nNodes, checkpointer = Some(cp),
          checkpointEvery = 1, maxIter = None, symmetric = true, tieBreakSeed = None)
      else ConnectedComponents.run(edges, nNodes, checkpointer = Some(cp),
          checkpointEvery = 1, maxIter = None)
      engineSpans(r, System.nanoTime())
      r
    }
    val labelsPath = new File(out, s"${algorithm}_labels").getPath
    Trace.span("write")(r.labels.write.mode("overwrite").parquet(labelsPath))
    val summary = Trace.span("measures") {
      if (kind == "cli_lp") (Measures.modularity(edges, r.labels), Measures.communityCount(r.labels))
      else (Double.NaN, Measures.communityCount(r.labels))
    }
    Outcome((r.iterations, labelsPath, summary),
      counts(r, ref.slots) + ("checkpoint_mb" -> sizeMb(new File(out, "checkpoints"))))
  }

  def check(kind: String, o: Outcome): Option[String] = o.value match {
    case (n: Int, path: String, (q: Double, c: Long)) =>
      val want = iters.getOrElseUpdate(kind, n)
      val got = labelsOf(spark.read.parquet(path))
      val labels = if (kind == "cli_lp") ref.labelPropagation(n) else components
      val communities = labels.distinct.length.toLong
      if (n != want) Some(s"$n iterations, first run took $want")
      else sameLabels(ref, got, labels).orElse(
        if (c != communities) Some(s"$c communities, want $communities")
        else if (kind == "cli_lp" && q != ref.modularity(labels))
          Some(s"modularity $q, want ${ref.modularity(labels)}")
        else None)
    case v => Some(s"unexpected output $v")
  }
}
