package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{FaultyFs, GraftSpark}
import graft.etl.Tables

/** Crash matrices of one maintained-root erase: a crash at every
  * `rename` and `delete` call k of the erase (Spark's own output commit
  * included), then `breakRootLease` (the crashed eraser cannot release
  * its lease) and a clean rerun, must leave the rows of a fault-free
  * erase and no hidden dir. The root holds the sf0.001 documents in two
  * batches (even and odd ids); the victims {4, 6} sit in batch 0 only.
  */
class EraseCrashSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def keys = spark.createDataFrame(Seq(Tuple1(4L), Tuple1(6L))).toDF("doc_id")

  /** A root maintained over two source files, one batch each. */
  private def twoBatchRoot(maintain: (String, String, String) => Unit): String = {
    val tmp = Files.createTempDirectory("graft_ecrash").toString
    val src = s"$tmp/src"
    new File(src).mkdirs()
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    (0 to 1).foreach { i =>
      val scratch = s"$tmp/arrive$i"
      docs.filter(col("doc_id") % 2 === i).coalesce(1).write.parquet(scratch)
      val part = new File(scratch).listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, new File(s"$src/p$i.parquet").toPath)
      maintain(src, s"$tmp/index", s"$tmp/ckpt")
    }
    s"$tmp/index"
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Runs the matrix of `erase` over `root`; `state` reads what a serve
    * sees, compared with a fault-free erase of a copy.
    */
  private def matrix(root: String)(erase: String => Unit)(state: String => Seq[Seq[String]]): Unit = {
    val expected = {
      val dir = FaultyFs.copyTree(root)
      erase(dir)
      try state(dir) finally FaultyFs.deleteCopy(dir)
    }
    val t0 = System.nanoTime
    val n = FaultyFs.crashMatrix(spark, root)(erase) { dir =>
      Incremental.breakRootLease(spark, dir)
      erase(dir)
    } { (dir, what) =>
      assert(state(dir) == expected, what)
      assert(FaultyFs.hiddenDirs(new File(dir)).isEmpty, what)
    }
    info(f"$n crash points in ${(System.nanoTime - t0) / 1e9}%.1f s")
  }

  test("minhash erase: a crash at any rename or delete, then a clean rerun, " +
      "equals the fault-free erase") {
    val root = twoBatchRoot { (src, idx, ckpt) =>
      Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt, maxFilesPerTrigger = 1)
    }
    matrix(root)(dir => Incremental.eraseMinHashMaintained(spark, dir, keys).count()) { dir =>
      val ix = Incremental.readMinHashMaintained(spark, dir)
      Seq(rows(ix.buckets), rows(ix.sets))
    }
  }

  test("bm25 erase: a crash at any rename or delete, then a clean rerun, " +
      "equals the fault-free erase") {
    val root = twoBatchRoot { (src, idx, ckpt) =>
      Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text",
        checkpointPath = ckpt, maxFilesPerTrigger = 1)
    }
    matrix(root)(dir => Incremental.eraseBm25Maintained(spark, dir, keys).count()) { dir =>
      val ix = Incremental.readBm25Maintained(spark, dir)
      Seq(rows(ix.postings), rows(ix.terms), rows(ix.stats))
    }
  }
}
