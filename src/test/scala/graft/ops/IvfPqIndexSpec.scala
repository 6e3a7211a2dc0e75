package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.etl.Tables

class IvfPqIndexSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def key(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("q_id"), r.getAs[Int]("rank"), r.getAs[Long]("n_id"), r.getAs[Double]("sim"))

  test("build -> write -> read -> topK equals build -> topK exactly") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val q = emb.filter(col("vec_id") < 30)
    val built = IvfPqIndex.build(emb, "vec_id", "embedding",
      nlist = 8, numSubspaces = 8, numCodes = 16, lloydIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    IvfPqIndex.write(built, dir)
    val loaded = IvfPqIndex.read(spark, dir)

    assert(loaded.numCodes == built.numCodes)
    assert(loaded.residual == built.residual)
    assert(loaded.centroids.map(_._1).toSeq == built.centroids.map(_._1).toSeq)
    // exact double round-trip through the JSON sidecar
    built.centroids.zip(loaded.centroids).foreach { case ((_, a), (_, b)) =>
      assert(a.toSeq == b.toSeq)
    }
    assert(built.codebooks.length == loaded.codebooks.length)
    built.codebooks.zip(loaded.codebooks).foreach { case (a, b) =>
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) => assert(x.toSeq == y.toSeq) }
    }
    // lists round-trip (cluster partitioning preserved as a column)
    val l0 = built.lists.orderBy("n_id")
      .collect().map(r => (r.getAs[Long]("n_id"), r.getAs[Int]("cluster"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Double]("n_norm")))
    val l1 = loaded.lists.orderBy("n_id")
      .collect().map(r => (r.getAs[Long]("n_id"), r.getAs[Int]("cluster"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Double]("n_norm")))
    assert(l0.toSeq == l1.toSeq)
    // the written lists stay cluster-partitioned: a cluster filter prunes
    // partition dirs instead of reading every file
    val pruned = loaded.lists.filter(col("cluster") === 0).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(pruned).nonEmpty, pruned)

    val a = IvfPqIndex.topK(built, q, emb, "vec_id", "embedding", k = 5).collect().map(key).toSet
    val b = IvfPqIndex.topK(loaded, q, emb, "vec_id", "embedding", k = 5).collect().map(key).toSet
    assert(a == b && a.nonEmpty)
  }

  test("hash-sampled training still builds a usable index (full corpus encoded)") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val q = emb.filter(col("vec_id") < 30)
    val idx = IvfPqIndex.build(emb, "vec_id", "embedding",
      nlist = 8, trainSampleMod = 2)
    // every corpus row is encoded even though training saw ~half
    assert(idx.lists.count() == emb.count())
    val got = IvfPqIndex.topK(idx, q, emb, "vec_id", "embedding", k = 5, nprobe = 4)
    val rows = got.collect()
    assert(rows.length == 30 * 5)
    // recall vs exact top-5 stays useful with sampled training
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"sampled-training recall $recall < 0.3")
  }

  test("append encodes a batch with the existing model — equals building over the union") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val base = emb.filter(col("vec_id") < 80)
    val batch = emb.filter(col("vec_id") >= 80)
    val idx = IvfPqIndex.build(base, "vec_id", "embedding", nlist = 8)
    val appended = IvfPqIndex.append(idx, batch, "vec_id", "embedding")
    assert(appended.lists.count() == emb.count())
    // appended rows carry the SAME encoding the original build would give
    // them under this model: re-encode the full corpus with the idx model
    val reEnc = IvfPqIndex.append(idx.copy(lists = idx.lists.limit(0)),
      emb, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("n_id").collect()
      .map(r => (r.getAs[Long]("n_id"), r.getAs[Int]("cluster"),
        r.getAs[Seq[Int]]("codes"), r.getAs[Double]("n_norm"))).toSeq
    assert(rows(appended.lists) == rows(reEnc.lists))
    // and the appended index serves queries over the full corpus
    val q = emb.filter(col("vec_id") < 10)
    val got = IvfPqIndex.topK(appended, q, emb, "vec_id", "embedding", k = 3)
    assert(got.count() == 30)
  }

  test("an appended vector is immediately retrievable (planted-clone probe)") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val idx = IvfPqIndex.build(base, "vec_id", "embedding",
      nlist = 8, numSubspaces = 8, numCodes = 16)
    val appended = IvfPqIndex.append(idx, batch, "vec_id", "embedding")
    // probe with an exact CLONE of an appended batch vector under a new
    // id: the appended row must come back as the top hit at cosine 1
    val cloneSrc = batch.orderBy("vec_id").limit(1)
    val srcId = cloneSrc.collect().head.getLong(0)
    val probe = cloneSrc.withColumn("vec_id", lit(999999L))
    val corpus = emb // raw vectors for the rerank include the batch
    val top = IvfPqIndex.topK(appended, probe, corpus,
        "vec_id", "embedding", k = 1, nprobe = 8)
      .collect().head
    assert(top.getLong(1) == srcId, s"expected appended vector $srcId, got ${top.getLong(1)}")
    assert(top.getDouble(2) == 1.0, s"clone cosine ${top.getDouble(2)}")
  }

  test("an erased vector vanishes from top-k; every other row is unchanged") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val idx = IvfPqIndex.build(emb, "vec_id", "embedding",
      nlist = 8, numSubspaces = 8, numCodes = 16)
    // probe with an exact clone of vector 7: pre-erase top hit is 7 @ cos 1
    val cloneSrc = emb.filter(col("vec_id") === 7L)
    val probe = cloneSrc.withColumn("vec_id", lit(999999L))
    val before = IvfPqIndex.topK(idx, probe, emb,
      "vec_id", "embedding", k = 5, nprobe = 8).collect()
    assert(before.head.getLong(1) == 7L && before.head.getDouble(2) == 1.0)
    val erased = IvfPqIndex.erase(idx, Seq(7L).toDF("vec_id"))
    val after = IvfPqIndex.topK(erased, probe, emb,
      "vec_id", "embedding", k = 5, nprobe = 8).collect()
    assert(!after.map(_.getLong(1)).contains(7L), "erased id resurfaced")
    // the survivors are exactly before's ranks 2..5, shifted up one
    assert(after.map(r => (r.getLong(1), r.getDouble(2))).take(4).toSeq ==
      before.drop(1).map(r => (r.getLong(1), r.getDouble(2))).toSeq)
    intercept[IllegalArgumentException] {
      IvfPqIndex.erase(idx, emb.select("vec_id", "embedding"))
    }
  }

  test("frozen model misses a post-freeze-region clone; rebuildModel recovers it") {
    import spark.implicits._
    // region A (pre-freeze): support on dims 0-3 only, dims 4-7 EXACTLY 0,
    // four well-separated direction groups (ids 0-15, id i in group i%4 so
    // the first-nlist-ids seeding lands one seed per group), all norm
    // ~200. Every frozen centroid, every frozen codebook entry, and every
    // ADC term for a region-B query is then EXACTLY zero.
    val bases = Array(
      Array(200.0, 10.0, 1.0, 1.0), Array(1.0, 200.0, 10.0, 1.0),
      Array(1.0, 1.0, 200.0, 10.0), Array(10.0, 1.0, 1.0, 200.0))
    val a = (0L until 16L).map { i =>
      val g = (i % 4).toInt
      val v = bases(g).clone(); v((g + 2) % 4) += i * 0.25
      (i, v ++ Array(0.0, 0.0, 0.0, 0.0))
    }
    // region B (post-freeze drift): support on dims 4-7 only, twelve
    // distinct directions of norm EXACTLY 100 (permutations of (60, 80)).
    // Frozen serve: every candidate sim is exactly 0 (orthogonal regions,
    // all-zero codebook entries), so the k*fetchFactor=12 fetch cut fills
    // by id asc — the eight A rows of the two tie-probed clusters plus the
    // four lowest-id decoys. The largest-id clone can never survive it.
    val dirs = (for { i <- 0 until 4; j <- 0 until 4 if i != j } yield {
      val v = Array.fill(4)(0.0); v(i) = 60.0; v(j) = 80.0; v }).toIndexedSeq
    val decoys = dirs.take(11).zipWithIndex.map { case (d, i) =>
      (200L + i, Array(0.0, 0.0, 0.0, 0.0) ++ d) }
    val cloneVec = Array(0.0, 0.0, 0.0, 0.0) ++ dirs(11)
    val corpus = (a ++ decoys :+ (399L, cloneVec)).toDF("vec_id", "embedding")
    val frozen = IvfPqIndex.append(
      IvfPqIndex.build(corpus.filter(col("vec_id") < 100L), "vec_id", "embedding",
        nlist = 4, numSubspaces = 2, numCodes = 4),
      corpus.filter(col("vec_id") >= 100L), "vec_id", "embedding")
    val probe = Seq((500L, cloneVec)).toDF("vec_id", "embedding")
    // DRIFT: the exact clone (true cosine 1.0) is not retrieved
    val frozenTop = IvfPqIndex.topK(frozen, probe, corpus,
      "vec_id", "embedding", k = 3, nprobe = 2).collect()
    assert(!frozenTop.map(_.getLong(1)).contains(399L),
      s"frozen model unexpectedly found the clone: ${frozenTop.toSeq}")
    // REMEDY: retrain both quantizers from the served ids' raw vectors —
    // a centroid moves into region B (q·c > 0 for all B rows, and B's
    // norm-100 rows outrank the norm-200 A rows sharing their cluster),
    // so the whole region fits the cut and the exact rerank sees the clone
    val rebuilt = IvfPqIndex.rebuildModel(frozen, corpus, "vec_id", "embedding",
      nlist = 4, numSubspaces = 2, numCodes = 4)
    assert(rebuilt.lists.count() == frozen.lists.count())
    val rebuiltTop = IvfPqIndex.topK(rebuilt, probe, corpus,
      "vec_id", "embedding", k = 3, nprobe = 2).collect()
    assert(rebuiltTop.head.getLong(1) == 399L && rebuiltTop.head.getDouble(2) == 1.0,
      s"rebuilt model must recover the clone at rank 1: ${rebuiltTop.toSeq}")
    // the audit MEASURES the drift and the recovery
    def recall(ix: IvfPqIndex, label: String) =
      IvfPqIndex.recallAudit(ix, probe, corpus, "vec_id", "embedding",
        k = 3, nprobe = 2, label = label).collect().head.getAs[Double]("recall_at_k")
    val (rFrozen, rRebuilt) = (recall(frozen, "frozen"), recall(rebuilt, "rebuilt"))
    assert(rFrozen < rRebuilt, s"frozen $rFrozen !< rebuilt $rRebuilt")
    assert(rRebuilt >= 0.5, s"rebuilt recall $rRebuilt")
    // a served id missing from the rebuild corpus is LOUD, never a
    // silently thinner index
    val e = intercept[IllegalArgumentException](
      IvfPqIndex.rebuildModel(frozen, corpus.filter(col("vec_id") =!= 399L),
        "vec_id", "embedding", nlist = 4, numSubspaces = 2, numCodes = 4))
    assert(e.getMessage.contains("served"), e.getMessage)
  }

  test("rebuildModel ignores corpus rows the index never indexed (erased victims)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val idx = IvfPqIndex.build(emb.filter(col("vec_id") < 80), "vec_id", "embedding",
      nlist = 8, numSubspaces = 8, numCodes = 16)
    val erased = IvfPqIndex.erase(idx, Seq(7L).toDF("vec_id"))
    // the raw store still holds vector 7 — the rebuild must NOT resurrect it
    val rebuilt = IvfPqIndex.rebuildModel(erased, emb, "vec_id", "embedding",
      nlist = 8, numSubspaces = 8, numCodes = 16)
    assert(rebuilt.lists.filter(col("n_id") === 7L).count() == 0)
    assert(rebuilt.lists.count() == erased.lists.count())
  }

  test("ivfPqTopK composition equals explicit build + topK") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val q = emb.filter(col("vec_id") < 20)
    val composed = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 4).collect().map(key).toSet
    val idx = IvfPqIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val explicit = IvfPqIndex.topK(idx, q, emb, "vec_id", "embedding",
      k = 5, nprobe = 4).collect().map(key).toSet
    assert(composed == explicit && composed.nonEmpty)
  }
}
