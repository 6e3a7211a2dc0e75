package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{FileLoads, Loads, Pipeline, Sanitize, Windows}
import graft.notify.Notifier
import graft.schema.{Ddl, SqlDialect, Validate}
import graft.sinks.JdbcUpsert
import graft.sources.Jdbc

/** Embedded in-memory Derby databases: the source and target systems. */
object Derby {
  val Driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
  val props: java.util.Properties = Jdbc.props("", "", Driver)
  private var counter = 0

  /** A fresh, empty in-memory database. */
  def create(prefix: String): String = synchronized {
    counter += 1
    s"jdbc:derby:memory:${prefix}_$counter;create=true"
  }

  def exec(url: String, sql: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try sql.foreach(c.createStatement().execute(_)) finally c.close()
  }

  /** Release an in-memory database (Derby signals success by throwing). */
  def drop(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () }

  val LineitemDdl: String =
    "(L_ORDERKEY BIGINT NOT NULL, L_LINENUMBER INT NOT NULL, L_PARTKEY BIGINT, " +
      "L_SUPPKEY BIGINT, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, L_DISCOUNT DOUBLE, " +
      "L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1), L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP, " +
      "PRIMARY KEY (L_ORDERKEY, L_LINENUMBER))"
}

/** Counts the notifications a pipeline sends while `counting` holds. */
final class CountingNotifier(counting: () => Boolean) extends Notifier {
  var successes = 0
  var failures = 0
  def success(pipeline: String, records: Long): Unit = if (counting()) successes += 1
  def failure(pipeline: String, error: Throwable): Unit = if (counting()) failures += 1
}

/** Lineitem rows as Spark rows, in the column order of the JDBC tables. */
object LineFrames {
  val Cols: Seq[String] = Seq("L_ORDERKEY", "L_LINENUMBER", "L_PARTKEY", "L_SUPPKEY",
    "L_QUANTITY", "L_EXTENDEDPRICE", "L_DISCOUNT", "L_TAX", "L_RETURNFLAG",
    "L_LINESTATUS", "L_SHIPDATE")

  def toDf(spark: org.apache.spark.sql.SparkSession, lines: Seq[Line]): DataFrame = {
    import spark.implicits._
    lines.map(l => (l.orderkey, l.linenumber, l.partkey, l.suppkey, l.quantity,
      l.extendedprice, l.discount, l.tax, l.returnflag, l.linestatus, l.shipdate))
      .toDF(Cols: _*)
  }
}

/** The reference's Method-2 day, back to back: each cycle the generator
  * advances the source by one simulated day, then one pipeline run
  * extracts the trailing 30-day window and lands it in a date-partitioned
  * lake and a Derby table, and merges the day's changed D365 customer
  * records into a parquet dimension.
  */
final class EtlDaily(ctx: Ctx) extends Workload {
  import EtlDaily._
  private val spark = ctx.spark
  private val gen = ctx.gen
  def primary: String = "pipeline"
  /** Four pipelines and their read-backs, ~10 s on a 4-core box.
    * Pipelines keep speeding up through a run, so their count must not
    * vary with the box's speed: with a turn of one pipeline, runs measured
    * three or four as the box drifted, and the three-pipeline runs read a
    * median ~15% higher.
    */
  def cycle: Int = 8
  def warm(): Unit = (1 to 4).foreach(_ => next().run())

  private var srcUrl: String = _
  private var tgtUrl: String = _
  private var dir: Path = _
  private var today = Gen.RefDay
  private var daysRun = 0
  /** The generator's record of the source table, by row key. */
  private val source = mutable.HashMap.empty[Long, Line]
  /** The generator's record of the D365 customer entity. */
  private val customers = mutable.HashMap.empty[Long, Customer]
  private var dimVersion = 0
  private var nextCustKey = 0L
  private val notifier = new CountingNotifier(() => ctx.tracer.measuring)
  private var pipelines = 0
  private var extracted = 0L
  private val lakeWrites = mutable.ArrayBuffer.empty[Fs.Written]
  private var lakeWriteStart = 0L

  private def lake = dir.resolve("lake").toString
  private def dim(v: Int) = dir.resolve(s"dim/v$v").toString
  private def pages(day: Int) = dir.resolve(s"d365/day=$day")

  def setup(d: Path): Unit = {
    Option(srcUrl).foreach(Derby.drop)
    Option(tgtUrl).foreach(Derby.drop)
    dir = d
    Files.createDirectories(dir)
    today = Gen.RefDay
    daysRun = 0
    source.clear()
    customers.clear()
    dimVersion = 0
    srcUrl = Derby.create("src")
    tgtUrl = Derby.create("tgt")
    Derby.exec(srcUrl, s"CREATE TABLE SRC_LINEITEM ${Derby.LineitemDdl}")
    val history = (today - SourceDays + 1 to today).flatMap(gen.lineDay)
    history.foreach(l => source(l.key) = l)
    insert(history)
    // the target's DDL is derived from the extract, as the reference's
    // create-table automation does; each run re-derives it to catch drift
    targetDdl = targetDdlOf(extract(LocalDate.ofEpochDay(today.toLong)))
    // JDBC statements carry no terminator
    // (Spark reports JDBC columns as nullable, so the key is declared here)
    Derby.exec(tgtUrl, targetDdl.stripSuffix(";"),
      "ALTER TABLE TGT_LINEITEM ALTER COLUMN L_ORDERKEY NOT NULL",
      "ALTER TABLE TGT_LINEITEM ALTER COLUMN L_LINENUMBER NOT NULL",
      "ALTER TABLE TGT_LINEITEM ADD PRIMARY KEY (L_ORDERKEY, L_LINENUMBER)")
    readPending = false
    (0L until Customers).foreach(k => customers(k) = gen.customer(k, 0))
    nextCustKey = Customers
    import spark.implicits._
    customers.values.toSeq.sortBy(_.c_custkey).toDF().coalesce(1).write.parquet(dim(0))
  }

  private def insert(lines: Seq[Line]): Unit = withSource { c =>
    val st = c.prepareStatement("INSERT INTO SRC_LINEITEM VALUES (?,?,?,?,?,?,?,?,?,?,?)")
    lines.foreach { l =>
      st.setLong(1, l.orderkey); st.setInt(2, l.linenumber); st.setLong(3, l.partkey)
      st.setLong(4, l.suppkey); st.setDouble(5, l.quantity); st.setDouble(6, l.extendedprice)
      st.setDouble(7, l.discount); st.setDouble(8, l.tax); st.setString(9, l.returnflag)
      st.setString(10, l.linestatus); st.setTimestamp(11, l.shipdate)
      st.addBatch()
    }
    st.executeBatch()
  }

  private def withSource[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(srcUrl)
    try {
      c.setAutoCommit(false)
      val r = f(c)
      c.commit()
      r
    } finally c.close()
  }

  /** Advance the source by one day: the day's new rows, the oldest day's
    * rows retired, ~1% of in-window rows updated, and the day's changed
    * customer records published as D365 page files.
    */
  private def advance(): Unit = {
    today += 1
    daysRun += 1
    val fresh = gen.lineDay(today)
    fresh.foreach(l => source(l.key) = l)
    insert(fresh)
    val retired = today - SourceDays
    withSource { c =>
      val st = c.prepareStatement("DELETE FROM SRC_LINEITEM WHERE L_SHIPDATE = ?")
      st.setTimestamp(1, java.sql.Timestamp.valueOf(LocalDate.ofEpochDay(retired.toLong).atStartOfDay()))
      st.executeUpdate()
    }
    source.filterInPlace((_, l) => l.day > retired)
    val r = gen.rng("daily-cycle", daysRun)
    val window = source.values.filter(_.day > today - WindowDays).toIndexedSeq.sortBy(_.key)
    val changed = window.filter(_ => r.nextInt(100) == 0).map(gen.lineUpdate(_, daysRun))
    withSource { c =>
      val st = c.prepareStatement("UPDATE SRC_LINEITEM SET L_QUANTITY = ?, L_EXTENDEDPRICE = ?, " +
        "L_DISCOUNT = ?, L_RETURNFLAG = ? WHERE L_ORDERKEY = ? AND L_LINENUMBER = ?")
      changed.foreach { l =>
        st.setDouble(1, l.quantity); st.setDouble(2, l.extendedprice); st.setDouble(3, l.discount)
        st.setString(4, l.returnflag); st.setLong(5, l.orderkey); st.setInt(6, l.linenumber)
        st.addBatch()
      }
      st.executeBatch()
    }
    changed.foreach(l => source(l.key) = l)
    // D365: ~1% of customers change, a few new ones arrive
    val updated = (0 until Customers.toInt / 100).map(_ => r.nextLong(nextCustKey)).distinct
      .map(k => gen.customer(k, daysRun))
    val added = (0 until 1 + r.nextInt(8)).map { _ => nextCustKey += 1; gen.customer(nextCustKey - 1, daysRun) }
    val records = updated ++ added
    records.foreach(c => customers(c.c_custkey) = c)
    val pageDir = pages(today)
    Files.createDirectories(pageDir)
    records.grouped(PageSize).zipWithIndex.foreach { case (page, i) =>
      Files.writeString(pageDir.resolve(f"page-$i%04d.jsonl"), page.map(json).mkString("", "\n", "\n"))
    }
  }
  private var targetDdl: String = _
  private var readPending = false

  /** The windowed, partitioned JDBC extract ending on `refDate`. */
  private def extract(refDate: LocalDate): DataFrame = {
    val cutoff = refDate.minusDays(WindowDays - 1L)
    Jdbc.readPartitioned(spark, srcUrl, "SRC_LINEITEM", Derby.props, "L_ORDERKEY",
      cutoff.toEpochDay * 1000L, refDate.toEpochDay * 1000L + 999L, JdbcPartitions)
      .filter(Windows.inWindow(col("L_SHIPDATE"), refDate, WindowDays - 1))
  }

  private def targetDdlOf(df: DataFrame): String =
    Ddl.schemaToDdl(Ddl.markNvarchar(df.schema, Ddl.nvarcharPromotions(df, "L_ORDERKEY")),
      "TGT_LINEITEM", SqlDialect.Postgres)

  /** The data-quality suite the extract must pass before it is loaded. */
  private def checks(cutoff: LocalDate) = Seq(
    Validate.Check("key_present", col("L_ORDERKEY").isNotNull && col("L_LINENUMBER").isNotNull),
    Validate.Check("quantity_range", col("L_QUANTITY").between(1, 50)),
    Validate.Check("discount_range", col("L_DISCOUNT").between(0.0, 0.1)),
    Validate.Check("in_window", col("L_SHIPDATE") >= lit(s"$cutoff 00:00:00").cast("timestamp")))

  private def json(c: Customer): String =
    s"""{"@odata.etag":"W/\\"${c.c_custkey}-$daysRun\\"","c_custkey":${c.c_custkey},""" +
      s""""c_name":"${c.c_name}","c_nationkey":${c.c_nationkey},""" +
      s""""c_acctbal":${c.c_acctbal},"c_mktsegment":"${c.c_mktsegment}"}"""

  /** Cycles alternate a pipeline run with a downstream read of the lake
    * window it refreshed.
    */
  def next(): Op =
    if (readPending) {
      readPending = false
      val cutoff = LocalDate.ofEpochDay((today - WindowDays + 1).toLong).toString
      Op("read", () => ctx.tracer.span("etl.lake_read")(FileLoads.readWindow(spark, lake, cutoff).count()))
    } else {
      readPending = true
      pipelineOp()
    }

  private def pipelineOp(): Op = {
    advance()
    val day = today
    val refDate = LocalDate.ofEpochDay(day.toLong)
    val cutoff = refDate.minusDays(WindowDays - 1L)
    Op("pipeline", () => {
      val pipeline = Pipeline(
        name = "etl_daily",
        extract = () => ctx.tracer.span("sources.extract_construct")(extract(refDate)),
        notifier = notifier)
        .transform(Sanitize.sanitizeInf)
      val landed = pipeline.run { df =>
        val failed = ctx.tracer.span("schema.validate")(Validate.run(df, checks(cutoff)).collect())
          .filterNot(_.getAs[Boolean]("passed")).map(_.getAs[String]("check"))
        if (failed.nonEmpty) throw new IllegalStateException(s"extract failed checks: ${failed.mkString(", ")}")
        val ddl = ctx.tracer.span("schema.ddl")(targetDdlOf(df))
        if (ddl != targetDdl) throw new IllegalStateException(s"target schema drifted:\n$ddl")
        lakeWriteStart = ctx.tracer.now()
        ctx.tracer.span("etl.lake_write")(FileLoads.refreshWindow(spark, df, "L_SHIPDATE", lake))
        // retention: the lake keeps the window, as the Derby target does
        Fs.dropPartitionsBefore(dir.resolve("lake"), "p_date", cutoff.toString)
        ctx.tracer.span("sources.jdbc_delete")(Jdbc.deleteWhere(tgtUrl, "TGT_LINEITEM",
          s"L_SHIPDATE < TIMESTAMP('$cutoff 00:00:00')", Derby.props))
        // one writer: concurrent MERGE writers deadlock in Derby
        ctx.tracer.span("sinks.upsert")(JdbcUpsert.write(df.coalesce(1), tgtUrl, "TGT_LINEITEM", "", "",
          Seq("L_ORDERKEY", "L_LINENUMBER"), dialect = "ansi"))
        val incoming = ctx.tracer.span("sources.extract_construct")(
          spark.read.format("graft-pages").option("path", pages(day).toString).load())
        ctx.tracer.span("etl.upsert_merge") {
          Loads.upsert(spark.read.parquet(dim(dimVersion)),
            Sanitize.dropColumns(incoming, "@odata.etag"), Seq("c_custkey"))
            .write.parquet(dim(dimVersion + 1))
        }
      }
      dimVersion += 1
      Fs.deleteTree(java.nio.file.Paths.get(dim(dimVersion - 1)))
      if (ctx.tracer.measuring) {
        pipelines += 1
        extracted += landed
      }
    }, inspect = () => lakeWrites += Fs.since(dir.resolve("lake"), lakeWriteStart))
  }

  def verify(): Unit = {
    val cutoff = LocalDate.ofEpochDay((today - WindowDays + 1).toLong)
    val expected = LineFrames.toDf(spark, source.values.filter(_.day > today - WindowDays).toSeq)
    Gates.requireSame("lake window", expected,
      FileLoads.readWindow(spark, lake, cutoff.toString), LineFrames.Cols)
    Gates.requireSame("derby target", expected,
      Jdbc.read(spark, tgtUrl, "TGT_LINEITEM", Derby.props), LineFrames.Cols)
    import spark.implicits._
    Gates.requireSame("d365 dimension", customers.values.toSeq.toDF(),
      spark.read.parquet(dim(dimVersion)), DimCols)
  }

  /** Plants a wrong row in one target, for the gate's own tests. */
  private[perfbench] def corrupt(target: String): Unit = target match {
    case "derby" => Derby.exec(tgtUrl, "UPDATE TGT_LINEITEM SET L_QUANTITY = L_QUANTITY + 1 " +
      s"WHERE L_ORDERKEY = (SELECT MAX(L_ORDERKEY) FROM TGT_LINEITEM)")
    case "lake" =>
      val day = LocalDate.ofEpochDay(today.toLong).toString
      FileLoads.refreshWindow(spark,
        FileLoads.readWindow(spark, lake, day).drop("p_date").limit(1).localCheckpoint(),
        "L_SHIPDATE", lake)
    case "dim" =>
      val bad = spark.read.parquet(dim(dimVersion)).limit(10).localCheckpoint()
      bad.write.parquet(dim(dimVersion + 1))
      dimVersion += 1
  }

  override def layerCounts(ops: Seq[(Long, Long)]): Map[String, Double] = {
    val rowsRead = Layers.jdbcRowsRead(ctx.tracer, ops).toDouble / math.max(1, pipelines)
    val written = lakeWrites.toSeq
    val n = math.max(1, written.size).toDouble
    val upsertCalls = math.max(1, Layers.calls(ctx.tracer, "sinks.upsert"))
    val upsertS = Layers.spanMeans(ctx.tracer).getOrElse("sinks.upsert", 0.0)
    val upsertRows = extracted.toDouble / upsertCalls
    Map(
      "sources.rows_read" -> rowsRead,
      "sources.read_amplification" -> (if (extracted > 0) rowsRead * pipelines / extracted else 0.0),
      "etl.lake_partitions_written" -> written.map(_.partitions).sum / n,
      "etl.lake_files_written" -> written.map(_.files).sum / n,
      "etl.lake_bytes_written" -> written.map(_.bytes).sum / n,
      "etl.lake_files_per_partition" -> Fs.filesPerPartition(dir.resolve("lake")),
      "sinks.upsert_rows" -> upsertRows,
      "sinks.upsert_rows_per_s" -> (if (upsertS > 0) upsertRows / upsertS else 0.0),
      "notify.success_calls" -> notifier.successes.toDouble / math.max(1, pipelines),
      "notify.failure_calls" -> notifier.failures.toDouble / math.max(1, pipelines))
  }
}

object EtlDaily {
  /** Days of history the source holds. */
  val SourceDays = 120
  /** The Method-2 window: the trailing 30 days are re-extracted daily. */
  val WindowDays = 30
  val JdbcPartitions = 4
  val Customers = 15000L
  val PageSize = 50
  val DimCols: Seq[String] = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
}
