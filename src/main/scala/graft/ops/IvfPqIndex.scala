package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{nearest_centroid, pq_adc, pq_encode, pq_lut, vec_dot, vec_norm}
import graft.sources.Parquet

/** A built IVF-PQ index: the state a 100 TB serving deployment persists
  * once and queries many times.
  *
  * - `lists` — the inverted lists: one row per corpus vector,
  *   (cluster, n_id, codes, n_norm). This is the ONLY corpus-sized part,
  *   and it is (numSubspaces + 2) ints/doubles wide, not dim-wide: the
  *   scan representation that makes ADC cheap.
  * - `centroids` / `codebooks` — driver-bounded model state
  *   (nlist × dim + numSubspaces × numCodes × dsub doubles) that rides
  *   into codegen as literals on the query side.
  *
  * [[IvfPqIndex.write]] persists the lists as cluster-partitioned parquet
  * (queries probe clusters → partition pruning skips unprobed lists on
  * read) and the model state as a JSON sidecar; [[IvfPqIndex.read]] loads
  * them back. Build → write → read → query equals build → query exactly
  * (deterministic training, exact JSON double round-trip via
  * `Double.toString`/`parseDouble`) — asserted in IvfPqIndexSpec.
  */
final case class IvfPqIndex(
    lists: DataFrame,
    centroids: Array[(Int, Array[Double])],
    codebooks: Array[Array[Array[Double]]],
    numCodes: Int,
    residual: Boolean)

object IvfPqIndex {

  /** Trains the IVF + PQ model and encodes the corpus into inverted lists
    * — the build half of [[Similarity.ivfPqTopK]] (identical maths; that
    * method now composes [[build]] + [[topK]]).
    *
    * `trainSampleMod > 1` trains BOTH quantizers on the deterministic hash
    * sample `xxhash64(id) % trainSampleMod == 0` while still encoding the
    * FULL corpus — the production pattern: k-means over billions of rows
    * adds nothing over k-means on a few hundred thousand, so the training
    * passes read 1/mod of the data (a map-side filter, no sort and no
    * shuffle) and only the single encode pass touches everything.
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      lloydIters: Int = 2,
      residual: Boolean = true,
      trainSampleMod: Int = 1): IvfPqIndex = {
    require(trainSampleMod >= 1, s"trainSampleMod must be >= 1: $trainSampleMod")
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    def sampled(df: DataFrame) =
      if (trainSampleMod == 1) df
      else df.filter(pmod(xxhash64(col("n_id")), lit(trainSampleMod.toLong)) === 0)
    val centroids = Similarity.trainIvfCentroids(sampled(c), nlist, lloydIters)
    val withEnc = residualEncode(c, centroids, residual)
    val codebooks = Similarity.trainPqCodebooks(
      sampled(withEnc.select(col("n_id"), col("enc_vec").as("n_vec"))),
      numSubspaces, numCodes, lloydIters)
    IvfPqIndex(toLists(withEnc, codebooks), centroids, codebooks, numCodes, residual)
  }

  /** Cluster assignment + (optional) residual re-centering for a
    * (n_id, n_vec) frame — the map-side encode prefix shared by [[build]]
    * and [[append]]. The cluster-indexed centroid matrix rides in as a
    * literal: the residual is a zip_with against
    * `element_at(matrix, cluster+1)` — no join, no shuffle between the
    * corpus scan and its encoded representation.
    */
  private def residualEncode(
      c: DataFrame,
      centroids: Array[(Int, Array[Double])],
      residual: Boolean): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val centroidMat = typedLit(sorted.map(_._2.toSeq).toSeq)
    val assigned = c.withColumn("cluster",
      nearest_centroid(col("n_vec"), sorted.map(_._2)))
    if (residual)
      assigned.withColumn("enc_vec",
        zip_with(col("n_vec"), element_at(centroidMat, col("cluster") + 1),
          (x, cc) => x.cast("double") - cc))
    else
      assigned.withColumn("enc_vec", col("n_vec"))
  }

  /** Inverted-list projection: (cluster, id, m ints, exact norm) — the
    * ONLY columns a 100 TB index persists per corpus row.
    */
  private def toLists(
      withEnc: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    withEnc
      .withColumn("codes", pq_encode(col("enc_vec"), codebooks))
      .withColumn("n_norm", vec_norm(col("n_vec")))
      .select("cluster", "n_id", "codes", "n_norm")

  /** Encodes a NEW batch of vectors with the index's existing model
    * (centroids + codebooks) and appends the rows to the inverted lists —
    * the daily-crawl maintenance shape: no retraining, one map-side encode
    * pass over the batch only, then a lists union. The model drifts only
    * as fast as the corpus distribution, so production rebuilds on a slow
    * cadence while appending fast; with a persisted index, write the
    * returned lists (or just the batch's) back with [[write]]'s layout.
    * Batch ids are the caller's responsibility to keep disjoint (same
    * contract as every load-append in `graft.etl.Loads`).
    */
  def append(
      index: IvfPqIndex,
      batch: DataFrame,
      idCol: String,
      vecCol: String): IvfPqIndex =
    index.copy(lists =
      index.lists.unionByName(encodeLists(index, batch, idCol, vecCol)))

  /** Encode a batch through the index's FROZEN model into inverted-list
    * rows (cluster, n_id, codes, n_norm) — the shared map-side pass of
    * [[append]] and the streaming maintainer
    * ([[graft.streaming.Incremental.streamIvfPqMaintain]]).
    */
  private[graft] def encodeLists(
      index: IvfPqIndex,
      batch: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val c = batch.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    toLists(residualEncode(c, index.centroids, index.residual), index.codebooks)
  }

  /** A stable fingerprint of the persisted MODEL (the sidecar bytes) —
    * the streaming maintainer stamps it so batch dirs encoded under one
    * model generation can never be silently served through a rebuilt
    * model's codebooks.
    */
  private[graft] def sidecarHash(
      conf: org.apache.hadoop.conf.Configuration, path: String): String = {
    val json = IndexSidecar.readJson(conf, path)
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Index ERASURE — the delete half of the maintenance pair beside
    * [[append]]: drop the given vector ids from the inverted lists (one
    * keys-only anti-join), model FROZEN — the centroids/codebooks keep
    * serving, exactly as [[append]] encodes through them without
    * retraining. Erased ids can never resurface: candidates come only
    * from the lists, and the exact rerank scores candidates only. On the
    * persisted cluster-partitioned layout, writing back rewrites only the
    * clusters that lost members (partition-pruned, the [[write]] layout's
    * point). Asserted in IvfPqIndexSpec by erasing a planted clone: it
    * vanishes from top-k and every other row is unchanged.
    */
  def erase(index: IvfPqIndex, ids: DataFrame): IvfPqIndex = {
    require(ids.columns.length == 1,
      s"ids must be a single key column, got ${ids.columns.toSeq}")
    // reselect: a USING join (even anti) moves the key column first
    index.copy(lists =
      index.lists.join(ids.toDF("n_id"), Seq("n_id"), "left_anti")
        .select(index.lists.columns.map(col).toIndexedSeq: _*))
  }

  /** MODEL REBUILD — the retrain half of the rebuild-cadence contract
    * ([[append]]/the streaming maintainer encode through a FROZEN model;
    * as the corpus drifts, coarse-probe and ADC selectivity decay). This
    * retrains BOTH quantizers from the raw vectors of exactly the ids the
    * index currently serves and re-encodes them — the IVF-PQ counterpart
    * of [[SimJoinIndex.rebuildFromSets]], except the PQ codes are lossy so
    * the raw vectors must come back from the companion `corpus` (the same
    * store [[topK]]'s exact rerank reads; a serving system always keeps
    * it). Ids the index serves but the corpus lacks would be SILENTLY
    * dropped from the rebuilt lists, so that is a loud error; corpus rows
    * the index never indexed (e.g. erased victims still present in the
    * raw store) are ignored. Measure the drift that motivates a rebuild
    * with [[recallAudit]]; persist the result with [[write]] to a FRESH
    * root (never over a maintained root — its batch dirs hold codes of
    * the old generation; see
    * [[graft.streaming.Incremental.rebuildIvfPqMaintained]]).
    */
  def rebuildModel(
      index: IvfPqIndex,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      lloydIters: Int = 2,
      residual: Boolean = true,
      trainSampleMod: Int = 1): IvfPqIndex = {
    val served = index.lists.select(col("n_id")).distinct()
    // pin ONE snapshot of the served-universe restriction: training makes
    // several passes (Lloyd rounds × two quantizers) plus the full encode,
    // and each would otherwise re-run the corpus-sized semi-join
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(served, Seq("n_id"), "left_semi")
      .localCheckpoint()
    val nServed = served.count()
    // rows AND distinct ids in one aggregate: a duplicated corpus id and
    // a missing served id must each fail on their own — a plain row-count
    // compare would let one cancel the other and corrupt silently
    val cov = c.agg(count(lit(1)).as("rows"),
      countDistinct(col("n_id")).as("ids")).head()
    val (nCorpus, nIds) = (cov.getLong(0), cov.getLong(1))
    require(nIds == nServed,
      s"rebuild corpus covers $nIds of $nServed served ids: a served id " +
        "missing from the raw-vector store would silently vanish from " +
        "the rebuilt lists — reconcile the stores first " +
        "(maintained_roots_consistency is the audit)")
    require(nCorpus == nIds,
      s"rebuild corpus has $nCorpus rows for $nIds ids: duplicated corpus " +
        "ids would encode a vector twice in the rebuilt lists")
    build(c, "n_id", "n_vec",
      nlist, numSubspaces, numCodes, lloydIters, residual, trainSampleMod)
  }

  /** RECALL-DRIFT AUDIT: recall@k of this index's [[topK]] serve against
    * brute-force exact cosine ground truth — computed over the ids the
    * index actually serves, so the number isolates MODEL quality (probe
    * misses + ADC ranking error at the fetch cut) from corpus coverage.
    * This is the `knn_recall_audit` methodology extended to any built,
    * loaded, or stream-maintained index: run it on a maintained root on
    * the rebuild cadence and the frozen model's decay becomes a measured
    * number instead of a hope (the [[SimJoinIndex.pruneAudit]]
    * convention); run it again on the [[rebuildModel]] result to see the
    * recovery. One row: (model, n_truth, n_hits, recall_at_k). The brute
    * force side is corpus-sized BY PURPOSE — audit cadence, not serve
    * path.
    */
  def recallAudit(
      index: IvfPqIndex,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 8,
      fetchFactor: Int = 4,
      label: String = "frozen"): DataFrame =
    recallAudits(Seq(label -> index), queries, corpus, idCol, vecCol,
      k, nprobe, fetchFactor)

  /** [[recallAudit]] over SEVERAL indexes serving the SAME id universe —
    * the fleet form for the rebuild cadence (frozen maintained root vs
    * its rebuilt generation): the corpus-sized brute-force ground truth
    * is computed ONCE and every index pays only its own (pruned) serve.
    * Requires a genuinely shared universe (checked by one count each —
    * differing universes would make recalls incomparable AND silently
    * attribute coverage gaps to model quality). One row per label.
    */
  def recallAudits(
      indexes: Seq[(String, IvfPqIndex)],
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 8,
      fetchFactor: Int = 4): DataFrame = {
    require(indexes.nonEmpty, "at least one (label, index) is required")
    val served = indexes.head._2.lists.select(col("n_id")).distinct()
      .localCheckpoint() // anchors the shared universe + the semi-join
    val nServed = served.count()
    val indexed = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(served, Seq("n_id"), "left_semi")
    // the corpus-sized brute-force ground truth and the (bounded)
    // universe checks are independent of each other — overlap them
    // (guide §2.6) instead of letting the executors idle behind the
    // check counts; the exact leg is ALWAYS awaited before a failed
    // check rethrows (error containment, the knn_recall_audit convention)
    val Seq(exactOpt, _) = Concurrent.awaitAll[Option[DataFrame]](
      Seq(
        () => Some(Similarity
          .bruteForceTopK(
            queries.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")),
            indexed, "n_id", "n_vec", k)
          .select(col("q_id"), col("n_id"))
          // |Q| × k rows; feeds every denominator + hit probe
          .localCheckpoint()),
        () => {
          indexes.drop(1).foreach { case (label, ix) =>
            // one aggregate answers both halves of the old two-count
            // check: |ids| and |ids ∩ served| of the other index's
            // universe
            val r = ix.lists.select(col("n_id")).distinct()
              .join(served.withColumn("__s", lit(1)), Seq("n_id"), "left")
              .agg(count(lit(1)).as("__n"), count(col("__s")).as("__shared"))
              .head()
            val (nOtherTotal, nOther) = (r.getLong(0), r.getLong(1))
            require(nOther == nServed && nOtherTotal == nServed,
              s"index '$label' serves a different id universe than " +
                s"'${indexes.head._1}' ($nOther shared of $nServed): recalls " +
                "against one ground truth would be incomparable")
          }
          None
        }),
      _.foreach(Checkpoints.free))
    val exact = exactOpt.get
    val denom = exact.agg(count(lit(1)).cast("double").as("__n"))
    indexes.map { case (label, ix) =>
      topK(ix, queries, corpus, idCol, vecCol, k, nprobe, fetchFactor)
        .select(col("q_id"), col("n_id"))
        .join(exact, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(denom))
        .select(
          lit(label).as("model"),
          col("__n").cast("bigint").as("n_truth"),
          col("n_hits"),
          round(col("n_hits") / col("__n"), 4).as("recall_at_k"))
    }.reduce(_ unionByName _)
  }

  /** ADC search over a built (or loaded) index, exact-reranked against the
    * raw corpus vectors — the query half of [[Similarity.ivfPqTopK]].
    * `corpus` supplies the raw vectors for the rerank (a serving system
    * keeps them alongside the index; only the ≤ |Q| × k × fetchFactor
    * candidate ids ever join against it, broadcast).
    */
  def topK(
      index: IvfPqIndex,
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 8,
      fetchFactor: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", vec_norm(col("q_vec")))
      .withColumn("lut", pq_lut(col("q_vec"), index.codebooks))

    // probe selection rides the LITERAL centroid matrix through a
    // generator (posexplode), not a join: the per-query nlist-row fanout
    // is pure map-side compute — no BroadcastNestedLoopJoin anywhere in
    // a serve plan (pos in the sorted literal IS the cluster id, the
    // same indexing residualEncode uses for element_at)
    val sortedCentroids = index.centroids.sortBy(_._1)
    val centroidMat = typedLit(sortedCentroids.map(_._2.toSeq).toSeq)
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("__sim").desc, col("cluster").asc)
    val probes = q
      .select(col("q_id"), col("lut"), col("q_norm"), col("q_vec"),
        posexplode(centroidMat).as(Seq("cluster", "c_vec")))
      .withColumn("__qdotc", vec_dot(col("q_vec"), col("c_vec")))
      .withColumn("__sim", col("__qdotc") / (col("q_norm") * vec_norm(col("c_vec"))))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("q_id"), col("lut"), col("q_norm"), col("cluster"), col("__qdotc"))

    // ADC over probed lists only: each corpus row lives in ONE cluster, so
    // a (q, n) pair appears at most once — no dedup needed. The exact-norm
    // denominator is clamped so an all-zero corpus vector cannot emit
    // NaN/Inf sims that pollute candidate ordering before the rerank.
    val approxDot =
      if (index.residual) col("__qdotc") + pq_adc(col("lut"), col("codes"), index.numCodes)
      else pq_adc(col("lut"), col("codes"), index.numCodes)
    val adc = index.lists.join(broadcast(probes), Seq("cluster"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", approxDot /
        (col("q_norm") * greatest(col("n_norm"), lit(1e-12))))
    val cands = Similarity.topKPerQuery(adc, math.max(k * fetchFactor, k))
      .select("q_id", "n_id")

    val candQ = cands.join(broadcast(q.select("q_id", "q_vec", "q_norm")), Seq("q_id"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val exact = c.withColumn("n_norm", vec_norm(col("n_vec")))
      .join(broadcast(candQ), Seq("n_id"))
      .withColumn("sim",
        round(vec_dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 4))
    Similarity.topKPerQuery(exact, k)
  }

  /** Persists the index: inverted lists as cluster-partitioned parquet
    * (probe-time partition pruning), model state as `_graft_index.json`.
    * Paths resolve through the Hadoop `FileSystem` API, so the index
    * round-trips on local paths and object-store URIs (s3a://…) alike.
    */
  def write(index: IvfPqIndex, path: String): Unit = {
    // same maintained-root guard as [[read]]: writing the static layout
    // over a stream-maintained root leaves the stale lists_batch_* dirs
    // in place, so the maintained reader would double-serve every
    // streamed vector (and resurrect erased ones) — and the sidecar
    // round-trips byte-identically, so the model-generation stamp can't
    // catch this entry point
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(
      index.lists.sparkSession.sparkContext.hadoopConfiguration)
    require(!graft.streaming.MaintainedRoot.isMaintained(fs, root),
      s"$path is a stream-maintained ivfpq root (batch-commit markers " +
        "present): writing the static layout over it would leave stale " +
        "batch dirs double-serving — write to a fresh root")
    index.lists.write.mode("overwrite").partitionBy("cluster")
      .parquet(new org.apache.hadoop.fs.Path(path, "lists").toString)
    def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
    def dbls(xs: Array[Double]) = arr(xs.map(_.toString))
    IndexSidecar.write(
      index.lists.sparkSession.sparkContext.hadoopConfiguration, path,
      s"""{"numCodes":${index.numCodes},"residual":${index.residual},""" +
        s""""centroids":${arr(index.centroids.sortBy(_._1).map(c => dbls(c._2)))},""" +
        s""""codebooks":${arr(index.codebooks.map(cb => arr(cb.map(dbls))))}}""")
  }

  /** Loads a persisted index. The hand-rolled parser accepts exactly what
    * [[write]] emits (flat nested double arrays) — not general JSON.
    *
    * Refuses a STREAM-MAINTAINED root
    * ([[graft.streaming.Incremental.streamIvfPqMaintain]] batch markers
    * present): a plain read would serve only the base `lists/` and every
    * streamed vector would be silently unretrievable — use
    * `Incremental.readIvfPqMaintained` there (which passes
    * `allowMaintained` internally).
    */
  def read(spark: SparkSession, path: String): IvfPqIndex =
    read(spark, path, allowMaintained = false)

  private[graft] def read(
      spark: SparkSession, path: String, allowMaintained: Boolean): IvfPqIndex = {
    if (!allowMaintained) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!graft.streaming.MaintainedRoot.isMaintained(fs, root),
        s"$path is a stream-maintained ivfpq root (batch-commit markers " +
          "present): a plain read would silently drop every streamed " +
          "vector — read it with Incremental.readIvfPqMaintained")
    }
    val lists = Parquet.read(spark, new org.apache.hadoop.fs.Path(path, "lists").toString)
      .select("cluster", "n_id", "codes", "n_norm")
    val json = IndexSidecar.readJson(spark.sparkContext.hadoopConfiguration, path)
    def field(name: String): String = IndexSidecar.field(json, name, path)
    val numCodes = IndexSidecar.intField(json, "numCodes", path)
    val residual = field("residual").startsWith("true")
    // parse a nested [[..],[..]] structure into leaf double arrays by
    // tracking bracket depth; leafDepth 2 = centroids, 3 = codebooks
    def parseNested(s: String, leafDepth: Int): (Array[Array[Double]], Int) = {
      val out = Array.newBuilder[Array[Double]]
      var depth = 0
      var i = 0
      var leafStart = -1
      var done = false
      while (!done) {
        s.charAt(i) match {
          case '[' =>
            depth += 1
            if (depth == leafDepth) leafStart = i + 1
          case ']' =>
            if (depth == leafDepth && leafStart >= 0) {
              val body = s.substring(leafStart, i).trim
              out += (if (body.isEmpty) Array.empty[Double]
                      else body.split(",").map(_.trim.toDouble))
              leafStart = -1
            }
            depth -= 1
            if (depth == 0) done = true
          case _ => ()
        }
        i += 1
      }
      (out.result(), i)
    }
    val (centFlat, _) = parseNested(field("centroids"), 2)
    val centroids = centFlat.zipWithIndex.map { case (v, i) => (i, v) }
    // codebooks: split the depth-3 structure at depth-1 boundaries
    val cbStr = field("codebooks")
    val cbOuter = Array.newBuilder[Array[Array[Double]]]
    var depth = 0
    var i = 0
    var start = -1
    var done = false
    while (!done) {
      cbStr.charAt(i) match {
        case '[' =>
          depth += 1
          if (depth == 2) start = i
        case ']' =>
          if (depth == 2) {
            cbOuter += parseNested(cbStr.substring(start, i + 1), 2)._1
            start = -1
          }
          depth -= 1
          if (depth == 0) done = true
        case _ => ()
      }
      i += 1
    }
    IvfPqIndex(lists, centroids, cbOuter.result(), numCodes, residual)
  }
}
