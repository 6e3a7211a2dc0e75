package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

class ScaleSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("saltedJoin produces the same rows as a plain join") {
    val li = Tables.lineitem(spark, GraftSpark.Sf0001).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, GraftSpark.Sf0001)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, Seq("l_orderkey")).count()
    val salted = Scale.saltedJoin(li, o, "l_orderkey", saltFactor = 8).count()
    assert(salted == plain)
  }

  test("bucketed join on the bucket key plans without a shuffle exchange") {
    val li = Tables.lineitem(spark, GraftSpark.Sf0001).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, GraftSpark.Sf0001).select("o_orderkey", "o_totalprice")
    Scale.writeBucketed(li, "li_bkt", "l_orderkey", 4)
    Scale.writeBucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"), "o_bkt", "l_orderkey", 4)
    val joined = spark.table("li_bkt").join(spark.table("o_bkt"), Seq("l_orderkey"))
    // disable broadcast so the join would otherwise shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("zValue interleaves bits (hand-computed) and orders by both dimensions") {
    val df = Seq((1L, 2L), (3L, 3L), (0L, 0L), (1023L, 1023L)).toDF("x", "y")
    val out = df.select(Scale.zValue(col("x"), col("y"), bits = 10)).collect()
      .map(_.getLong(0))
    // x=1 (bit0->pos0), y=2 (bit1->pos3): z = 1 + 8 = 9
    assert(out(0) == 9L)
    // x=3, y=3: positions 0,2 (x) + 1,3 (y) -> 0b1111 = 15
    assert(out(1) == 15L)
    assert(out(2) == 0L)
    assert(out(3) == (1L << 20) - 1) // all 20 bits set
  }

  test("writeZOrdered: every output file is a tight min-max box in BOTH dimensions") {
    val li = Tables.lineitem(spark, GraftSpark.Sf0001)
      .select(pmod(col("l_orderkey"), lit(256)).as("x"), pmod(col("l_partkey"), lit(256)).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    Scale.writeZOrdered(li, "x", "y", dir, numFiles = 8, bits = 8)
    val perFile = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(
        (max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"),
        count(lit(1)).as("n"))
      .collect()
    assert(perFile.length >= 4)
    // a random layout would give every file the full 0..255 span in both
    // dims; z-ordering must bound the PRODUCT of spans well below 256^2
    val avgArea = perFile.map(r => (r.getLong(1) + 1.0) * (r.getLong(2) + 1.0)).sum / perFile.length
    assert(avgArea < 256.0 * 256.0 / 2, s"avg box area $avgArea not tighter than half the domain")
    // rows survive the layout intact
    assert(spark.read.parquet(dir).count() == li.count())
  }

  test("skewReport surfaces the hot key with the salt factor that levels it") {
    import spark.implicits._
    // one key holds half the rows; 40 cold keys share the rest
    val rows = Seq.fill(400)(("hot", 1)) ++ (0 until 400).map(i => (s"k${i % 40}", 1))
    val out = Scale.skewReport(rows.toDF("k", "v"), "k", topK = 5, parts = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(out.head._1 == "hot" && out.head._2 == 400L)
    assert(math.abs(out.head._3 - 0.5) < 1e-6)
    assert(out.head._4 == 8L, s"salt ${out.head._4}") // ceil(0.5 * 16)
    out.tail.foreach { case (k, _, share, salt, _) =>
      assert(salt == 1L, s"cold key $k salted $salt")
      assert(share < 0.05)
    }
    assert(out.head._5 == 41L) // distinct keys
  }

  test("joinCardinalityReport: Σ n_l·n_r equals the ACTUAL join output size") {
    // left {a×3, b×2, c×1}, right {a×2, b×4, d×5} → matched keys only:
    // a = 3·2 = 6, b = 2·4 = 8, total 14 (c and d match nothing)
    val left = (Seq.fill(3)("a") ++ Seq.fill(2)("b") :+ "c").zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("lk", "lv")
    val right = (Seq.fill(2)("a") ++ Seq.fill(4)("b") ++ Seq.fill(5)("d")).zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("rk", "rv")
    val rep = Scale.joinCardinalityReport(left, right, "lk", "rk", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6)))
    assert(rep.map(_._1).toSeq == Seq("b", "a"), "ranked by pair contribution")
    assert(rep.map(t => t._1 -> t._4).toMap == Map("a" -> 6L, "b" -> 8L))
    val actual = left.join(right, col("lk") === col("rk")).count()
    assert(rep.head._6 == actual && actual == 14L,
      s"pre-flight said ${rep.head._6}, real join produced $actual")
    assert(rep.head._7 == 2L, "only matching keys count")
    // shares sum to 1 when topK covers every key; per-row n_l·n_r = pairs
    assert(math.abs(rep.map(_._5).sum - 1.0) < 1e-6)
    rep.foreach { case (_, nl, nr, pairs, _, _, _) => assert(nl * nr == pairs) }
  }

  test("joinCardinalityReport plan never shuffles or pairs the data rows") {
    val ev = Tables.events(spark, GraftSpark.Sf0001)
    val rep = Scale.joinCardinalityReport(ev, ev, "event_type", "event_type", topK = 5)
    val plan = rep.queryExecution.executedPlan.toString
    // the only join is between the two count frames (key-sized);
    // the quadratic pair frame itself must never materialize
    assert(!plan.contains("CartesianProduct"), plan)
    val est = rep.collect().head.getLong(5)
    val nTypes = ev.select("event_type").distinct().count()
    assert(est > (ev.count() / nTypes) * (ev.count() / nTypes), "quadratic blow-up surfaced")
  }

  test("bloomSemiReduce keeps every matching row and prunes most others") {
    import spark.implicits._
    val fact = (1L to 2000L).map(k => (k, s"f$k")).toDF("fk", "payload")
    val dim = Seq(10L, 20L, 30L, 40L, 50L).toDF("dk")
    val pruned = Scale.bloomSemiReduce(fact, "fk", dim, "dk",
      expectedItems = 1000L, numBits = 100000L)
    // superset of the true semi-join (no false negatives — the Bloom
    // contract), subset of the fact, and with these sizes ≈ exact
    val kept = pruned.select("fk").collect().map(_.getLong(0)).toSet
    assert(Set(10L, 20L, 30L, 40L, 50L).subsetOf(kept), "false negative!")
    assert(kept.size < 100, s"pruned only to ${kept.size} of 2000")
    // composed with the real join the result is exact despite any FPs
    val joined = pruned.join(dim, col("fk") === col("dk")).count()
    assert(joined == 5L)
  }

  test("bloomSemiReduce probes map-side: no shuffle above the fact scan") {
    import spark.implicits._
    // parquet-backed fact — a LocalRelation would eagerly fold the
    // filter away and hide the probe from the plan
    val fact = Tables.events(spark, GraftSpark.Sf0001)
    val dim = (1L to 10L).toDF("dk")
    val pruned = Scale.bloomSemiReduce(fact, "event_id", dim, "dk",
      expectedItems = 100L, numBits = 10000L)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pruning itself must not shuffle:\n$plan")
    assert(plan.contains("might_contain"), s"probe not in plan:\n$plan")
  }

  test("bloomSemiReduce validates sketch sizing") {
    import spark.implicits._
    val df = Seq(1L).toDF("k")
    intercept[IllegalArgumentException](
      Scale.bloomSemiReduce(df, "k", df, "k", expectedItems = 0L, numBits = 10L))
    intercept[IllegalArgumentException](
      Scale.bloomSemiReduce(df, "k", df, "k", expectedItems = 10L, numBits = 0L))
  }
}
