package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The ten fixture tables the declared queries read, generated from the
  * seed at the sf0.01 row counts and with the fixture schemas and value
  * ranges FIXTURES.md documents.
  */
object FleetFixtures {
  val Lineitem = 60000
  val Orders = 15000
  val Customers = 1500
  val Parts = 2000
  val Suppliers = 100
  val Events = 10000
  val Documents = 500
  val Embeddings = 500
  val Dim = 64

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Colors = IndexedSeq("small", "red", "blue", "hot", "old", "large", "green", "dark")
  private val Things = IndexedSeq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
  private val Types = IndexedSeq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("view", "click", "signup", "purchase", "error")
  private val Langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")

  private def day(from: String, span: Int, r: java.util.SplittableRandom): Timestamp =
    Timestamp.valueOf(LocalDate.parse(from).plusDays(r.nextInt(span).toLong).atStartOfDay())

  /** Writes `<dir>/<table>.parquet` for every table. */
  def write(spark: SparkSession, gen: Gen, dir: String): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    def r(table: String) = gen.rng("fixture", table.hashCode.toLong)
    val int = IntegerType
    val long = LongType
    val str = StringType
    val dbl = DoubleType
    val ts = TimestampType
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })

    save("region", st("r_regionkey" -> int, "r_name" -> str),
      Regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", st("n_nationkey" -> int, "n_name" -> str, "n_regionkey" -> int),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val rc = r("customer")
    save("customer", st("c_custkey" -> long, "c_name" -> str, "c_nationkey" -> int,
      "c_acctbal" -> dbl, "c_mktsegment" -> str),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        Gen.cents(-999.99 + rc.nextInt(1099999) / 100.0), Gen.Segments(rc.nextInt(5)))))
    val rs = r("supplier")
    save("supplier", st("s_suppkey" -> long, "s_name" -> str, "s_nationkey" -> int, "s_acctbal" -> dbl),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        Gen.cents(-999.99 + rs.nextInt(1099999) / 100.0))))
    val rp = r("part")
    save("part", st("p_partkey" -> long, "p_name" -> str, "p_brand" -> str, "p_type" -> str,
      "p_size" -> int, "p_retailprice" -> dbl),
      (0 until Parts).map(i => Row(i.toLong, s"${Colors(rp.nextInt(8))} ${Things(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", Types(rp.nextInt(6)), 1 + rp.nextInt(50),
        Gen.cents(900.0 + (i % 1000) / 10.0))))
    val ro = r("orders")
    save("orders", st("o_orderkey" -> long, "o_custkey" -> long, "o_orderstatus" -> str,
      "o_totalprice" -> dbl, "o_orderdate" -> ts, "o_orderpriority" -> str),
      (0 until Orders).map(i => Row(i.toLong, ro.nextInt(Customers).toLong,
        Seq("O", "F", "P")(ro.nextInt(3)), Gen.cents(1000.0 + ro.nextInt(49900000) / 100.0),
        day("1995-01-01", 2404, ro), Priorities(ro.nextInt(5)))))
    val rl = r("lineitem")
    save("lineitem", st("l_orderkey" -> long, "l_partkey" -> long, "l_suppkey" -> long,
      "l_linenumber" -> int, "l_quantity" -> dbl, "l_extendedprice" -> dbl, "l_discount" -> dbl,
      "l_tax" -> dbl, "l_returnflag" -> str, "l_linestatus" -> str, "l_shipdate" -> ts),
      (0 until Lineitem).map { _ =>
        val q = (1 + rl.nextInt(50)).toDouble
        Row(rl.nextInt(Orders).toLong, rl.nextInt(Parts).toLong, rl.nextInt(Suppliers).toLong,
          1 + rl.nextInt(7), q, Gen.cents(q * (900.0 + rl.nextInt(10000) / 100.0)),
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, Gen.ReturnFlags(rl.nextInt(3)),
          Gen.LineStatus(rl.nextInt(2)), day("1995-01-02", 2499, rl))
      })
    val re = r("events")
    val start = LocalDateTime.parse("2024-01-01T00:00:00")
    save("events", st("event_id" -> long, "ts" -> ts, "user_id" -> long, "event_type" -> str,
      "value" -> dbl, "props" -> str),
      (0 until Events).map { i =>
        // ~4.3 minutes apart on average, in id order, as the fixture's are
        val at = start.plusNanos((i.toLong * 259000000000L) + re.nextInt(1000000) * 1000L)
        Row(i.toLong, Timestamp.valueOf(at), re.nextInt(150).toLong, EventTypes(re.nextInt(5)),
          Gen.cents(0.01 + re.nextInt(49000) / 100.0), s"""{"k": ${re.nextInt(100)}}""")
      })
    // documents: the corpus generator's word soup; every tenth document
    // is a near-copy of an earlier one, so the dedup operators have work
    val rd = r("documents")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Documents).foreach { i =>
      texts += (if (i > 0 && rd.nextInt(10) == 0) {
        val words = texts(rd.nextInt(i)).split(" ")
        words(rd.nextInt(words.length)) = "dup"
        words.mkString(" ")
      } else gen.document(i.toLong).text)
    }
    save("documents", st("doc_id" -> long, "text" -> str, "lang" -> str, "source" -> str, "n_chars" -> long),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Langs(rd.nextInt(Langs.length)), s"src${rd.nextInt(20)}", t.length.toLong)
      }.toSeq)
    // embeddings: ten labelled clusters of unit vectors
    val rv = r("embeddings")
    val centroids = (0 until 10).map(_ => (0 until Dim).map(_ => rv.nextDouble() * 2 - 1))
    save("embeddings", StructType(Seq(StructField("vec_id", long),
      StructField("embedding", ArrayType(FloatType)), StructField("label", int))),
      (0 until Embeddings).map { i =>
        val label = rv.nextInt(10)
        val v = centroids(label).map(_ + (rv.nextDouble() * 2 - 1) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), label)
      })
  }
}
