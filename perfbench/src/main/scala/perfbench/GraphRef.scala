package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import graft.sources.PagesSynth

/** The pages table for a benchmark seed. Seed 42 is `PagesSynth.pages`
  * itself; any other seed replaces the generator's link-target hash seed,
  * so the graph keeps the same degree law but has other links.
  */
object SeededPages {
  val DefaultSeed = 42L

  def pages(spark: SparkSession, n: Long, seed: Long): DataFrame =
    if (seed == DefaultSeed) PagesSynth.pages(spark, n) else replica(spark, n, seed)

  /** `PagesSynth.pages` with the target hash seed as a parameter (public
    * so the smoke test can check that seed 42 reproduces the original).
    */
  def replica(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    def target(k: Column): Column = {
      val u = pmod(xxhash64(id, k, lit(seed)), lit(1000000L)).cast("double") / 1000000.0
      least(floor(pow(u, PagesSynth.ZipfAlpha) * n).cast("long"), lit(n - 1))
    }
    val deg = lit(3) + pmod(xxhash64(id, lit(7L)), lit(PagesSynth.MaxExtraDegree.toLong)).cast("int")
    val targets = transform(sequence(lit(0), deg - 1), k => target(k))
    val anchors = array_join(
      transform(targets,
        (t, k) => concat(lit("<a href=\""), PagesSynth.urlOf(t), lit("\">link"),
          k.cast("string"), lit("</a>"))),
      "")
    val linkTexts = array_join(
      transform(sequence(lit(0), deg - 1), k => concat(lit("link"), k.cast("string"))),
      " ")
    val title = concat(lit("Page "), id.cast("string"))
    val nw = lit(5) + pmod(xxhash64(id, lit(13L)), lit(8L)).cast("int")
    val body = array_join(
      transform(sequence(lit(0), nw - 1),
        j => concat(lit("w"), pmod(xxhash64(id, j, lit(99L)), lit(500L)).cast("string"))),
      " ")
    val html = concat(
      lit("<html><head><title>"), title, lit("</title></head><body><p>"),
      body, lit("</p>"), anchors, lit("</body></html>"))
    val text = concat(title, lit(" "), body, lit(" "), linkTexts)
    spark.range(n).select(
      PagesSynth.urlOf(id).as("url"),
      timestamp_seconds(lit(PagesSynth.Epoch2026) + id).as("warc_ts"),
      encode(html, "UTF-8").as("html"),
      text.as("text"),
      element_at(array(lit("en"), lit("es"), lit("de"), lit("fr")),
        (id % 4).cast("int") + 1).as("lang"))
  }
}

/** Sequential reference results for a symmetrized edge table, computed on
  * the driver from the collected slots. Every graph request is checked
  * against these.
  */
final class GraphRef(edges: DataFrame) {
  private val rows = edges.select(col("src"), col("dst")).collect()
  val slots: Long = rows.length.toLong
  /** Vertex ids in ascending order; a vertex is its index here. */
  val ids: Array[Long] = rows.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
    .toArray.distinct.sorted
  val n: Int = ids.length
  private def ix(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  /** CSR adjacency: neighbours of v are adj(off(v) until off(v + 1)). */
  private val (off, adj) = {
    val src = rows.map(r => ix(r.getLong(0)))
    val dst = rows.map(r => ix(r.getLong(1)))
    val o = new Array[Int](n + 1)
    src.foreach(s => o(s + 1) += 1)
    for (i <- 0 until n) o(i + 1) += o(i)
    val fill = o.clone()
    val a = new Array[Int](src.length)
    for (k <- src.indices) { a(fill(src(k))) = dst(k); fill(src(k)) += 1 }
    (o, a)
  }
  private def degree(v: Int) = off(v + 1) - off(v)

  private val lpMemo = collection.mutable.Map.empty[Int, Array[Long]]

  /** Labels after `steps` synchronous supersteps: each vertex takes the
    * most frequent label among its neighbours, the smallest on ties.
    */
  def labelPropagation(steps: Int): Array[Long] = lpMemo.getOrElseUpdate(steps, {
    var labels = ids.clone()
    val counts = new java.util.HashMap[Long, Integer]()
    for (_ <- 0 until steps) {
      val next = new Array[Long](n)
      for (v <- 0 until n) {
        counts.clear()
        var best = Long.MaxValue; var bestCount = 0
        for (k <- off(v) until off(v + 1)) {
          val l = labels(adj(k))
          val c = counts.merge(l, 1, (a: Integer, b: Integer) => a + b)
          if (c > bestCount || (c == bestCount && l < best)) { best = l; bestCount = c }
        }
        next(v) = if (bestCount == 0) labels(v) else best
      }
      labels = next
    }
    labels
  })

  /** Component labels: the smallest vertex id in each component. */
  def components(): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var y = x
      while (parent(y) != r) { val p = parent(y); parent(y) = r; y = p }; r }
    for (v <- 0 until n; k <- off(v) until off(v + 1)) {
      val a = find(v); val b = find(adj(k))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    Array.tabulate(n)(v => ids(find(v)))
  }

  /** PageRank after `iterations` power steps on this dangler-free graph. */
  def pageRank(iterations: Int, damping: Double = 0.85): Array[Double] = {
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iterations) {
      val sums = new Array[Double](n)
      for (v <- 0 until n; k <- off(v) until off(v + 1)) sums(adj(k)) += rank(v) / degree(v)
      rank = sums.map(s => (1.0 - damping) / n + damping * s)
    }
    rank
  }

  def triangles(): Long = {
    def before(a: Int, b: Int) = degree(a) < degree(b) || (degree(a) == degree(b) && a < b)
    val out = Array.tabulate(n)(v => (off(v) until off(v + 1)).map(adj).filter(before(v, _)).toSet)
    var t = 0L
    for (u <- 0 until n; v <- out(u)) t += out(v).count(out(u).contains)
    t
  }

  /** The reference's modularity, in the same integer arithmetic as
    * `Measures.modularity`.
    */
  def modularity(labels: Array[Long]): Double = {
    var eIn = 0L
    for (v <- 0 until n; k <- off(v) until off(v + 1)) if (labels(v) == labels(adj(k))) eIn += 1
    val ks = new java.util.HashMap[Long, Array[Long]]()
    for (v <- 0 until n) {
      val a = ks.computeIfAbsent(labels(v), _ => new Array[Long](2))
      a(0) += degree(v); a(1) += degree(v).toLong * degree(v)
    }
    var per = 0L
    ks.values.forEach(a => per += a(0) * a(0) - a(1))
    val m2 = slots.toDouble
    (eIn - per / m2) / m2
  }

  /** The order-independent label hash `graft.Bench` reports:
    * bit_xor(xxhash64(id, label)).
    */
  def labelHash(labels: Array[Long]): Long = {
    var h = 0L
    for (v <- 0 until n) h ^= XXH64.hashLong(labels(v), XXH64.hashLong(ids(v), 42L))
    h
  }

  /** Compares collected (id, value) rows with `want`, indexed like `ids`. */
  def mismatch[T](got: Array[(Long, T)], want: Array[T], same: (T, T) => Boolean): Option[String] =
    if (got.length != n) Some(s"${got.length} vertices, want $n")
    else got.iterator.collectFirst {
      case (id, v) if { val i = ix(id); i < 0 || !same(v, want(i)) } => s"vertex $id has $v"
    }
}
