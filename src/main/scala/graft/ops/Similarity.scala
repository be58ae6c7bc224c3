package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.gen.SyntheticRepoFiles.mix
import graft.util.KernelRun.inRun

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`Array[Float]`).
 *
 *  - Baseline: brute-force cosine top-k as a broadcast-join + window rank —
 *    exact, and the correctness oracle for the approximate paths.
 *  - Scale path: random-hyperplane LSH buckets (probing the query's bucket
 *    and its 1-bit-flip neighbors) so the candidate set is a tiny fraction
 *    of the corpus; exact cosine re-rank inside candidates.
 *
 * Dot products use the built-in `zip_with`/`aggregate` higher-order
 * functions (codegen'd) — no UDF in the hot path.
 */
object Similarity {

  /** Cosine similarity as a Column over two ARRAY<FLOAT> columns — the
    * native codegen'd [[graft.functions.CosineSimilarity]] expression
    * (higher-order `aggregate`/`zip_with` would be CodegenFallback: per-row
    * interpreted lambdas that fence whole-stage codegen around every ANN
    * scoring join). Bit-equal to [[cosine]]. */
  def cosineCol(a: Column, b: Column): Column = graft.functions.CosineSimilarity.of(a, b)

  /** Scala-side cosine (for typed paths and oracles); double accumulation in
    * array order, matching cosineCol's evaluation order (bit-equal —
    * CosineSimilaritySpec). Zero-norm inputs return 0.0, not NaN: Spark
    * orders NaN ABOVE every real number, so a NaN similarity would rank a
    * zero vector at the TOP of every ANN result — "no similarity" is the
    * only rank-safe convention. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    // same convention as CosineMath.cosine: unequal lengths are a clear
    // error in BOTH kernels, never a truncated/garbage score
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"cosine_similarity: embedding lengths differ (${a.length} vs ${b.length})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim). */
  private def planeComponent(seed: Long, plane: Int, dim: Int): Double = {
    val h = mix(seed, plane.toLong, dim.toLong)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }

  /** Sign signature of a vector against `planes` seeded hyperplanes. */
  def hyperplaneSignature(v: Array[Float], planes: Int, seed: Long): Long = {
    var sig = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * planeComponent(seed, p, i); i += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /**
   * Exact brute-force top-k: queries x corpus cosine, ranked per query with
   * a deterministic tie-break on corpus id. The query side is expected to be
   * small -> broadcast, so the corpus is scanned exactly once with no shuffle
   * except the final per-query top-k aggregation.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "vec_id", qVec: String = "embedding",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineCol(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /**
   * LSH-bucketed ANN top-k (the scale path): corpus vectors are hashed into
   * 2^planes buckets once; each query probes its own bucket plus all
   * single-bit-flip neighbor buckets, candidates are exact-cosine re-ranked.
   * Recall < 1 by construction; verified against bruteForceTopK in tests.
   */
  def lshTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 8, seed: Long = 31L,
              qId: String = "vec_id", qVec: String = "embedding",
              cId: String = "vec_id", cVec: String = "embedding",
              probeAll: Boolean = false): DataFrame = {
    import spark.implicits._
    val c = corpus.select(col(cId).cast("long").as("neighbor_id"), col(cVec).as("cv"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (id, v, hyperplaneSignature(v.toArray, planes, seed)) }
      .toDF("neighbor_id", "cv", "bucket")

    // probeAll probes every one of the 2^planes buckets — the candidate set
    // becomes the whole corpus, so the result is provably EXACT top-k (the
    // DuckDB-oracle configuration, certifying signature/bucket-join/re-rank
    // end-to-end); default probing = own bucket + 1-bit flips (the ANN path).
    val q = queries.select(col(qId).cast("long").as("query_id"), col(qVec).as("qv"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        val sig = hyperplaneSignature(v.toArray, planes, seed)
        val probes =
          if (probeAll) (0L until (1L << planes)).toSeq
          else (sig +: (0 until planes).map(b => sig ^ (1L << b))).distinct
        probes.map(s => (id, v, s))
      }
      .toDF("query_id", "qv", "bucket")

    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineCol(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  // ------------------------------------------------------------------ IVF

  /**
   * Deterministic distributed k-means coarse quantizer for IVF search.
   * Init: the `k` corpus vectors with the smallest mix(seed, id) hash
   * (pseudo-random, reproducible at any parallelism). Each iteration is one
   * narrow assignment pass against BROADCAST centroids plus one combinable
   * per-cluster mean (reduceGroups => map-side partial aggregation) — both
   * 100 TB-able; only the k x dim centroid table ever reaches the driver
   * (model parameters, not data).
   * The iterations keep their own loop, not [[graft.util.KernelRun.loop]]:
   * k-means' state is the centroid array it collects, not a frame.
   */
  def trainCentroids(spark: SparkSession, corpus: DataFrame, k: Int, iters: Int = 4,
                     seed: Long = 47L, cId: String = "vec_id", cVec: String = "embedding"): Array[Array[Float]] =
    inRun(spark, "kmeans") { run =>
    import spark.implicits._
    val base = run.cache(corpus.select(col(cId).cast("long").as("id"), col(cVec).as("v")))
      .as[(Long, Seq[Float])]
    var centroids: Array[Array[Float]] = base
      .map { case (id, v) => (mix(seed, id), id, v) }
      .orderBy($"_1", $"_2").limit(k)
      .collect().map(_._3.toArray)
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      centroids = base
        .map { case (_, v) => (nearestCentroid(v.toArray, bc.value)._1, (v.map(_.toDouble), 1L)) }
        .groupByKey(_._1)
        .mapValues(_._2)
        .reduceGroups((a, b) => (a._1.zip(b._1).map(t => t._1 + t._2), a._2 + b._2))
        .map { case (c, (sum, n)) => (c, sum.map(s => (s / n).toFloat)) }
        .collect().sortBy(_._1).map(_._2.toArray)
      bc.destroy()
    }
    centroids
  }

  /** (argmin cluster, cosine-to-it) of `v` against the centroid array;
    * ties break to the lower cluster index. */
  def nearestCentroid(v: Array[Float], centroids: Array[Array[Float]]): (Int, Double) = {
    var best = 0; var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val s = cosine(v, centroids(c))
      if (s > bestSim) { bestSim = s; best = c }
      c += 1
    }
    (best, bestSim)
  }

  /** Top-`nprobe` nearest centroid indices for a query vector. */
  def probeList(v: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Seq[Int] =
    centroids.indices
      .map(c => (cosine(v, centroids(c)), c))
      .sortBy { case (s, c) => (-s, c) }
      .take(nprobe).map(_._2)

  /**
   * IVF ANN top-k (the second scale path next to [[lshTopK]]): the corpus is
   * partitioned ONCE into `nlist` inverted lists by nearest k-means
   * centroid; each query probes its `nprobe` nearest lists and candidates
   * are exact-cosine re-ranked. `nprobe = nlist` degenerates to EXACT
   * brute-force (every list probed — the DuckDB-oracle configuration);
   * `nprobe << nlist` is the 100 TB path: the equi-join on `cluster`
   * touches nprobe/nlist of the corpus per query.
   */
  def ivfTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, kmeansIters: Int = 4, seed: Long = 47L,
              qId: String = "vec_id", qVec: String = "embedding",
              cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    import spark.implicits._
    val centroids = trainCentroids(spark, corpus, nlist, kmeansIters, seed, cId, cVec)
    val bc = spark.sparkContext.broadcast(centroids)

    val lists = corpus.select(col(cId).cast("long").as("neighbor_id"), col(cVec).as("cv"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (id, v, nearestCentroid(v.toArray, bc.value)._1) }
      .toDF("neighbor_id", "cv", "cluster")

    val q = queries.select(col(qId).cast("long").as("query_id"), col(qVec).as("qv"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) => probeList(v.toArray, bc.value, nprobe).map(c => (id, v, c)) }
      .toDF("query_id", "qv", "cluster")

    val scored = lists.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineCol(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  // --------------------------------------------------------- persisted IVF

  /** Shared exact-cosine re-rank tail: window top-k per query. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
  }

  /**
   * Build and PERSIST an IVF index. At 100 TB the k-means fit and the
   * corpus assignment pass must run ONCE and be amortized over every future
   * query batch — re-quantizing per call (what [[ivfTopK]] does) is a test
   * convenience, not a serving shape. The inverted lists land as parquet
   * PARTITIONED BY cluster, so serving a probe reads only the probed list
   * directories off disk (partition pruning), not just nprobe/nlist of the
   * rows after a full scan.
   *
   * Layout: `<dir>/centroids` (cluster, centroid — k x dim, the model
   * parameters), `<dir>/lists` (neighbor_id, cv; partition col `cluster`).
   */
  def writeIvfIndex(spark: SparkSession, corpus: DataFrame, dir: String,
                    nlist: Int = 16, kmeansIters: Int = 4, seed: Long = 47L,
                    cId: String = "vec_id", cVec: String = "embedding"): Unit = {
    import spark.implicits._
    val centroids = trainCentroids(spark, corpus, nlist, kmeansIters, seed, cId, cVec)
    val bc = spark.sparkContext.broadcast(centroids)
    spark.createDataset(centroids.toSeq.zipWithIndex.map { case (v, c) => (c, v.toSeq) })
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    corpus.select(col(cId).cast("long").as("neighbor_id"), col(cVec).as("cv"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (id, v, nearestCentroid(v.toArray, bc.value)._1) }
      .toDF("neighbor_id", "cv", "cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/lists")
    bc.destroy()
  }

  /**
   * Serve top-k from a persisted IVF index ([[writeIvfIndex]]): only the
   * k x dim centroid table reaches the driver; each query probes its
   * `nprobe` nearest lists. The broadcast join on the `cluster` PARTITION
   * column triggers dynamic partition pruning — the executed plan scans
   * only the probed list directories (see PLANS.md: `dynamicpruning` in the
   * scan's PartitionFilters). `nprobe = nlist` is exact (every list read).
   */
  def ivfTopKIndexed(spark: SparkSession, queries: DataFrame, indexDir: String, k: Int,
                     nprobe: Int = 4, qId: String = "vec_id", qVec: String = "embedding"): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cluster").cast("int"), col("centroid"))
      .as[(Int, Seq[Float])].collect().sortBy(_._1).map(_._2.toArray)
    val bc = spark.sparkContext.broadcast(centroids)
    val lists = spark.read.parquet(s"$indexDir/lists")
      .select(col("neighbor_id"), col("cv"), col("cluster").cast("int").as("cluster"))
    val q = queries.select(col(qId).cast("long").as("query_id"), col(qVec).as("qv"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, v) => probeList(v.toArray, bc.value, nprobe).map(c => (id, v, c)) }
      .toDF("query_id", "qv", "cluster")
    val scored = lists.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineCol(col("qv"), col("cv")))
    rankTopK(scored, k)
  }

  /** Vector L2 norms (explode-free Column path). */
  def norms(embeddings: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol),
      round(sqrt(aggregate(col(vecCol), lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
        .as("norm"))
}
