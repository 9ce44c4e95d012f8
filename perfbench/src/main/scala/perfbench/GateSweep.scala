package perfbench

import java.io.File
import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Row, SparkSession}

import scala.io.Source

/** `gate_sweep`: a fixed list of oracle-gated `SparkEntry.queries`, run
  * over the committed sf0.01 tables in an order set by the seed. Each
  * request defines the gate's DataFrame, forces its executed plan, and
  * collects its rows; the rows are checked against the DuckDB oracle's
  * (row count, canonical hash) recorded in `oracle.tsv`.
  */
final class GateSweep(spark: SparkSession, bench: File, seed: Long, smoke: Boolean)
    extends Workload {
  private val data = new File(bench, "data/sf0.01").getPath
  private val oracle: Map[String, (Long, String)] =
    GateSweep.lines(new File(bench, "oracle.tsv")).map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
  private val listed = GateSweep.listed(bench)
  val kinds: Seq[String] = if (smoke) listed.take(3) else listed
  /** Each round its own seeded order, so a gate's samples follow
    * different gates.
    */
  override def order(round: Int): Seq[String] =
    new scala.util.Random(seed * 1000 + round).shuffle(kinds)

  // A gate's first run may start jobs (file listing, schema reads) that
  // Spark's own session caches save later runs; the benchmark cannot drop
  // those, so job counts are not compared here.
  override def jobsRepeat = false

  // A gate of a few tenths of a second moves with every stall of a shared
  // machine; two passes, each in its own order, halve what one stall does.
  override def minTimedRounds = 2

  def prepare(): Unit = {
    val missing = listed.filterNot(oracle.contains) ++
      listed.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"gates without a query or an oracle record: $missing")
    require(new File(data).isDirectory, s"missing gate tables under $data")
  }

  def request(kind: String): Outcome = {
    val df = Trace.span("queries.define")(graft.SparkEntry.queries(kind)(spark, data))
    Trace.span("queries.plan")(df.queryExecution.executedPlan)
    val rows = Trace.span("queries.exec")(df.collect())
    Outcome((df.columns.toSeq, rows))
  }

  def check(kind: String, out: Outcome): Option[String] = out.value match {
    case (cols: Seq[String @unchecked], rows: Array[Row]) =>
      val got = Canon.digest(cols, rows.toSeq.map(_.toSeq))
      if (got == oracle(kind)) None else Some(s"(rows, hash) $got, oracle ${oracle(kind)}")
    case v => Some(s"unexpected output $v")
  }
}

object GateSweep {
  def lines(f: File): Seq[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
  }

  def listed(bench: File): Seq[String] = lines(new File(bench, "gates.txt"))
}

/** Canonical form of a result table, shared with `record_oracle.py`:
  * columns sorted by name; a value is NULL, true/false, an integer, a
  * fraction rounded half-even to 9 places with trailing zeros dropped, a
  * string, a UTC timestamp, or a bracketed list; a row joins its values
  * with '|'; the table is its rows sorted and joined with newlines, hashed
  * with SHA-256 (first 16 hex digits).
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => b.toString
    case i @ (_: Byte | _: Short | _: Int | _: Long) => i.toString
    case b: BigInt => b.toString
    case f: Float => fraction(f.toDouble)
    case d: Double => fraction(d)
    case d: JBigDecimal => decimal(d)
    case d: scala.math.BigDecimal => decimal(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => timestamp(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: java.time.Instant => timestamp(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ", ", "]")
    case r: Row => r.toSeq.map(value).mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${value(k)}: ${value(x)}" }.sorted.mkString("{", ", ", "}")
    case other => other.toString
  }

  private def fraction(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else decimal(new JBigDecimal(d))

  private def decimal(d: JBigDecimal): String = {
    val r = d.setScale(9, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  private def timestamp(t: LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  def digest(cols: Seq[String], rows: Seq[Seq[Any]]): (Long, String) = {
    val order = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => order.map(i => value(r(i))).mkString("|")).sorted
    val sha = MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
    (lines.size.toLong, sha.take(8).map("%02x".format(_)).mkString)
  }
}
