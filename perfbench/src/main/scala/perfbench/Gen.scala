package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generators. Every generated record is a pure function of
  * (seed, stream, index), so two runs with one seed see identical inputs
  * whatever order they draw them in, and the generator can recompute any
  * record when a correctness gate needs the expected target contents.
  *
  * Shapes follow the sf0.1 fixture tables: lineitem ~240 rows per ship
  * day, customer 15k rows, documents ~54 words from a 30-word vocabulary
  * plus a rare `dup` term.
  */
final class Gen(val seed: Long) {
  import Gen._

  def rng(stream: String, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ stream.hashCode.toLong) + index))

  /** The lineitem rows shipped on epoch day `day`. */
  def lineDay(day: Int): IndexedSeq[Line] = {
    val r = rng("line", day)
    val n = 220 + r.nextInt(41)
    (0 until n).map { i =>
      val q = (1 + r.nextInt(50)).toDouble
      Line(
        orderkey = day.toLong * 1000L + i / 4,
        linenumber = i % 4 + 1,
        partkey = r.nextInt(20000).toLong,
        suppkey = r.nextInt(1000).toLong,
        quantity = q,
        extendedprice = cents(q * (900.0 + r.nextInt(110000) / 100.0)),
        discount = r.nextInt(11) / 100.0,
        tax = r.nextInt(9) / 100.0,
        returnflag = ReturnFlags(r.nextInt(3)),
        linestatus = LineStatus(r.nextInt(2)),
        day = day)
    }
  }

  /** A changed version of `l`, drawn for simulated cycle `cycle`. */
  def lineUpdate(l: Line, cycle: Int): Line = {
    val r = rng("line-upd", cycle.toLong * 1000003L + l.orderkey * 8 + l.linenumber)
    val q = (1 + r.nextInt(50)).toDouble
    l.copy(quantity = q, extendedprice = cents(q * (900.0 + r.nextInt(110000) / 100.0)),
      discount = r.nextInt(11) / 100.0, returnflag = ReturnFlags(r.nextInt(3)))
  }

  def customer(key: Long, version: Int): Customer = {
    val r = rng("cust", key * 4099L + version)
    Customer(key, f"Customer#$key%09d", r.nextInt(25).toLong,
      cents(-999.99 + r.nextInt(1099999) / 100.0), Segments(r.nextInt(Segments.length)))
  }

  /** Document `id` of the corpus: ~54 words on average. */
  def document(id: Long): Doc = {
    val r = rng("doc", id)
    val n = 8 + r.nextInt(93)
    val words = (0 until n).map { _ =>
      if (r.nextInt(200) == 0) "dup" else Vocabulary(r.nextInt(Vocabulary.length))
    }
    Doc(id, words.mkString(" "))
  }
}

object Gen {
  /** The fixture corpus vocabulary (near-uniform), without its rare term. */
  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  val ReturnFlags = IndexedSeq("A", "N", "R")
  val LineStatus = IndexedSeq("O", "F")
  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The last ship day of the generated history (the fixture's). */
  val RefDay: Int = LocalDate.parse("2001-11-04").toEpochDay.toInt

  def cents(x: Double): Double = math.round(x * 100.0) / 100.0

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

final case class Line(
    orderkey: Long,
    linenumber: Int,
    partkey: Long,
    suppkey: Long,
    quantity: Double,
    extendedprice: Double,
    discount: Double,
    tax: Double,
    returnflag: String,
    linestatus: String,
    day: Int) {
  def key: Long = orderkey * 8 + linenumber
  def shipdate: java.sql.Timestamp =
    java.sql.Timestamp.valueOf(LocalDate.ofEpochDay(day.toLong).atStartOfDay())
}

final case class Customer(
    c_custkey: Long,
    c_name: String,
    c_nationkey: Long,
    c_acctbal: Double,
    c_mktsegment: String)

final case class Doc(doc_id: Long, text: String)
