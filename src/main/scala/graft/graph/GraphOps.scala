package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import graft.functions.MaxCountMinLabel
import graft.util.{BoundedCollect, KernelRun, Releasable, SameCount, Steps, SuperstepMetric}
import graft.util.KernelRun.{inRun, keptRows, CodegenConf, KernelConf, WidthKey}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, KnownNotNull, XXH64}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.Partitioner
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/**
 * Link-graph kernels over a generic Long-id edge table `(src, dst)`,
 * expressed as iterative DataFrame joins + aggregations under Catalyst
 * (north_star: no GraphX/RDD kernels). The reference delegates these
 * analytics to Neo4j after export; here they are native (SURVEY §2.9).
 *
 * Scale decisions:
 *  - edges are hash-repartitioned by `src` ONCE and persisted; every
 *    superstep's rank/label join then reuses that exchange, so the per-
 *    iteration cost is one shuffle of the (small) vertex-state table plus
 *    the aggregation — not a re-shuffle of the edge table;
 *  - lineage is cut every `checkpointEvery` supersteps via localCheckpoint
 *    (plan-size blowup, SURVEY §4.3-1) and optionally persisted to a
 *    checkpoint dir with a manifest for mid-convergence resume;
 *  - skew is handled explicitly, not by AQE (the iterative kernels run with
 *    AQE off): hub keys are salted over sub-keys (`HubSalt`), and triangle
 *    counting uses degree-ordered orientation so hub vertices don't
 *    quadratically explode wedges;
 *  - every kernel runs in one [[KernelRun]] (`graft.util`), which sets the
 *    kernels' conf ([[KernelRun.KernelConf]]), frees what the kernel kept
 *    and runs the supersteps of PageRank, CC, LP, HITS, BFS, k-core and
 *    SCC's color and backward phases ([[KernelRun.loop]]). The rows a
 *    result reads are handed to it: PageRank's, CC's and LP's `release()`
 *    frees them; the other results leave them to the context cleaner.
 */
object GraphOps {

  /** Deterministic dense Long ids for string vertices: the distinct ids in
    * sorted order (a null id first, as SQL's ascending order puts it),
    * numbered by zipWithIndex — distributed, stable across partitionings.
    * The distinct, the sort and the numbering run on the ids' internal
    * strings, compared by their bytes as Spark compares strings, so they
    * generate no aggregate, sort or encoder code of their own. The frame is
    * sized for the planner by one count of its rows. */
  def vertexDictionary(spark: SparkSession, ids: DataFrame): DataFrame = {
    implicit val byBytes: Ordering[UTF8String] = (a, b) => a.compareTo(b)
    val indexed = ids.select(col(ids.columns.head).cast("string")).queryExecution.toRdd
      .map(r => Option(r.getUTF8String(0)).map(_.clone()))
      .distinct()
      .sortBy(identity)
      .zipWithIndex()
      .map { case (v, i) => InternalRow(v.orNull, i) }
    Bridge.dataFrame(spark, indexed,
      StructType(Seq(StructField("vid", StringType), StructField("id", LongType, nullable = false))),
      Some(BigInt(indexed.count())))
  }

  /** Map a string edge table to Long ids using one dictionary for both ends.
    * The dictionary is built from one explode of both ends, under the
    * [[graft.util.CodegenPolicy]], and caches nothing: a later read of it re-reads the
    * sorted ids from the sort's shuffle output. */
  def indexEdges(spark: SparkSession, edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, DataFrame) =
    inRun(spark, "index", CodegenConf) { _ =>
      val dict = vertexDictionary(spark, edges.select(explode(array(col(srcCol), col(dstCol))).as("v")))
      val (s, d) = (dict.as("s"), dict.as("d"))
      val e = edges
        .join(s, edges(srcCol) === col("s.vid"))
        .join(d, edges(dstCol) === col("d.vid"))
        .select(col("s.id").as("src"), col("d.id").as("dst"))
      (e, dict)
    }

  // ------------------------------------------------------------------ PageRank

  /** `ranks` reads the run's last state, local-checkpoint rows the result
    * frees with `release()`. */
  final case class PageRankResult(ranks: DataFrame, metrics: Seq[SuperstepMetric], supersteps: Int)(
      free: () => Unit) extends Releasable(free)

  /**
   * Iterative PageRank: rank = (1-d)/N + d * (sum of contributions
   * [+ dangling mass / N when redistributeDangling]). Converges to the
   * standard per-vertex scores (allclose 1e-6 against a naive oracle —
   * float summation order is the only divergence source, SURVEY §7.4-2).
   *
   * Execution shape (the part that must scale): dangling redistribution
   * needs a global scalar every superstep, and ANY in-plan scalar derived
   * from the rank chain either costs a driver action per superstep or
   * doubles the logical plan per superstep (both measured as the dominant,
   * non-parallelizing cost at N cores). Instead the scalar is carried as a
   * SENTINEL VERTEX in the state itself — the classic dangling-supernode
   * (lumping) construction expressed as static weighted edges:
   *
   *   state: x(v) per vertex plus x(S) = m, with rank_t = x_t + d*m_t;
   *   edges: u->v weight 1/deg(u); S->v weight d*w(v) where
   *          w(v) = sum_{u->v} 1/deg(u); u->S weight 1/n for dangling u;
   *          S->S weight |D|*d/n; v->v weight 0 for every v (S included),
   *          so every state row receives a contribution;
   *   step:  agg(v) = sum_{(u,v) in E'} x(u)*weight;
   *          x'(v) = (1-d)/n + d*agg(v) for real v, x'(S) = agg(S).
   *
   * One join + one aggregation per superstep, a strictly LINEAR lazy plan
   * chain, no broadcast but the static edge table's (only when it is
   * small), zero driver round-trips between checkpoint boundaries — k
   * supersteps plan once and run as one job.
   *
   * Reserved id: `Long.MinValue` is the dangling supernode's sentinel and
   * must not appear as a real vertex id when `redistributeDangling` is on
   * (guarded with a require, at zero extra jobs).
   *
   * @param tol       stop when the conservative bound on max |rank delta|
   *                  across a checkpoint block is < tol (checked at
   *                  boundaries only); <=0 = fixed iteration count.
   * @param checkpointDir directory for resumable state, written at every
   *                  checkpoint boundary; a run whose dir already holds a
   *                  checkpoint at a superstep <= `iterations` continues
   *                  from it instead of starting fresh.
   * @param stopFlag  path of a cooperative STOP marker: the run ends at the
   *                  next checkpoint boundary if the file exists and was
   *                  modified at/after `stopAfterMs`.
   * @param stopAfterMs markers modified before this epoch-ms watermark are
   *                  stale and ignored (0 = honor any marker). Callers that
   *                  pass their own invocation time get race-free semantics:
   *                  a stop issued any time after launch is honored, and
   *                  concurrent runs can't swallow each other's stop
   *                  requests by deleting the marker.
   */
  def pageRank(spark: SparkSession, edges: DataFrame, iterations: Int,
               damping: Double = 0.85, redistributeDangling: Boolean = true,
               tol: Double = 0.0, checkpointEvery: Int = 5,
               checkpointDir: Option[String] = None,
               stopFlag: Option[String] = None, stopAfterMs: Long = 0L,
               stopSeqSeen: Long = -1L,
               restart: Option[DataFrame] = None,
               weightCol: Option[String] = None): PageRankResult =
    inRun(spark, "pagerank", KernelConf, checkpointDir, stopFlag, stopAfterMs, stopSeqSeen) { run =>
    import spark.implicits._

    // Sentinel id for the dangling supernode (below any dense vertex id).
    val Sent = Long.MinValue

    // The edge table is read from the source once and laid out by src in
    // ONE exchange, kept as internal rows; the rest of the set-up is RDD
    // operations over them, which generate no code of their own. Every
    // src's edges share a partition, so each partition counts its own srcs'
    // out-degrees and weighs their edges without a join. A row with a NULL
    // end is no edge, and a NULL end no vertex.
    val bySrc = run.keep(edges.select(Seq($"src".cast("long"), $"dst".cast("long")) ++
      weightCol.map(col(_).cast("double")): _*)
      .repartition(run.confWidth, $"src").queryExecution.toRdd.map(_.copy()))
    def wt(r: InternalRow) = if (weightCol.isEmpty) 1.0 else r.getDouble(2)
    def isEdge(r: InternalRow) = !r.isNullAt(0) && !r.isNullAt(1)
    // every end of one partition's rows, with the out-degree and out-weight
    // of its srcs (exact, as each src's edges share the partition)
    def degrees(rows: Iterator[InternalRow]) = {
      val deg = scala.collection.mutable.LongMap.empty[(Long, Double)]
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          val (n, w) = deg.getOrElse(r.getLong(0), (0L, 0.0))
          deg(r.getLong(0)) = if (isEdge(r)) (n + 1, w + wt(r)) else (n, w)
        }
        if (!r.isNullAt(1) && !deg.contains(r.getLong(1))) deg(r.getLong(1)) = (0L, 0.0)
      }
      deg
    }

    // ONE reduction gives every vertex with its out-degree (0 = dangling)
    // and out-weight: the vertex set, the transition normalizer, the
    // dangling set and the hub fan-out widths all read this table.
    val vdeg = run.keep(bySrc.mapPartitions(degrees(_).iterator)
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2), run.confWidth))
    // ONE job for the vertex count, the reserved-id guard, the edge count
    // (the sum of out-degrees), |{v : outDeg > 0}| (⇒ |D| = n − it) and the
    // largest out-degree (are there real hubs). Long.MinValue is the
    // dangling supernode's sentinel id; a caller graph containing it as a
    // REAL vertex would silently merge with the supernode and corrupt every
    // rank.
    val (n, hasSent, edgeCount, nSrc, maxOutDeg) = vdeg.aggregate((0L, false, 0L, 0L, 0L))(
      { case ((n, s, e, k, m), (id, (out, _))) => (n + 1, s || id == Sent, e + out, k + math.min(out, 1L), math.max(m, out)) },
      { case (a, b) => (a._1 + b._1, a._2 || b._2, a._3 + b._3, a._4 + b._4, math.max(a._5, b._5)) })
    // degenerate-input guard: an empty edge table would otherwise seed every
    // rank with 1.0/0 = Infinity/NaN — fail with a clear error instead
    require(n > 0, "pageRank: the edge table is empty (no vertices)")
    if (redistributeDangling)
      require(!hasSent, s"pageRank(redistributeDangling=true) reserves vertex id ${Sent} " +
        "for the dangling supernode; the input graph contains it")
    val shufflePartitions = kernelPartitions(run.confWidth, edgeCount)
    // every aggregation exchange in the loop must match the static
    // edge/state layout's width, or EnsureRequirements inserts an extra
    // per-superstep exchange to reconcile the two (measured on the 48k-edge
    // mined graph: agg at 32 vs layout at 8)
    run.width(shufflePartitions)
    val salt = HubSalt(shufflePartitions, edgeCount)
    val haveRealHubs = maxOutDeg > salt.threshold

    // Personalized restart: the (1-d) teleport mass concentrates on a seed
    // set (uniform over the seeds present in the graph) instead of 1/n
    // everywhere — random-walk-with-restart relevance from the seeds. The
    // dangling-supernode construction lumps dangling mass back UNIFORMLY,
    // which is the wrong restart distribution for PPR, so the two are
    // mutually exclusive here (dangling walkers simply evaporate, the
    // redistributeDangling=false semantic).
    require(restart.isEmpty || !redistributeDangling,
      "personalized restart requires redistributeDangling=false")
    val seeds = restart.map { s =>
      val vertices = Bridge.dataFrame(spark, vdeg.map(v => InternalRow(v._1)), idSchema)
      val sv = run.cache(s.select(col("id").cast("long").as("id")).distinct()
        .join(vertices, Seq("id"), "left_semi"))
      val ns = sv.count()
      require(ns > 0, "pageRank restart: no seed id is present in the graph")
      (sv, 1.0 / ns)
    }

    // Explicit hub salting (north_star: "salted ... edge partitions with
    // explicit skew handling for hub artifacts"). A single src key's edges
    // all hash to ONE partition of the per-superstep join; the dangling
    // supernode has ~|V| out-edges and a hub artifact (junit/lodash) can
    // carry a constant fraction of all edges, so without salting one task
    // owns them all — measured as a 7.2s-vs-0.78s-median straggler at
    // build time on a 10M-edge graph. Srcs whose out-degree exceeds
    // edges/partitions get a salt derived from dst, splitting their edges
    // across up to `shufflePartitions` sub-keys (nsalt, 1 for non-hubs),
    // and the state side replicates only hub rows. Every edge takes its
    // src's nsalt where it takes its weight; the sentinel's out-degree is
    // ~|V|, bounded above by n.
    def nsalt(outDeg: Long) = if (outDeg > salt.threshold) salt.nsalt(outDeg) else 1
    val sentSalt = salt.nsalt(n)
    val haveHubs = haveRealHubs || (redistributeDangling && sentSalt > 1)

    if (weightCol.isDefined) {
      // zero/negative/NULL weights would silently corrupt the distribution
      // (wsum<=0 divides to Inf/negative mass; NULL rows drop their edge's
      // mass from both w and wsum) — fail with a clear error. Counts the
      // NULLs and takes the least other weight in one job.
      val (nNull, minW) = bySrc.aggregate((0L, Double.PositiveInfinity))(
        (a, r) => if (r.isNullAt(2)) (a._1 + 1, a._2) else (a._1, math.min(a._2, r.getDouble(2))),
        (a, b) => (a._1 + b._1, math.min(a._2, b._2)))
      require(nNull == 0, s"pageRank(weightCol): $nNull edges have NULL weight")
      require(minW > 0, s"pageRank(weightCol): weights must be > 0, found $minW")
    }
    // Static weighted transition edges E' (see Scaladoc): (src, dst, w,
    // nsalt) rows, each edge weighed by its src's out-degree or out-weight
    // from its own partition of the kept edges, a pass each read repeats.
    // The sentinel's in-edges sum their weights by dst.
    val realEdges = bySrc.mapPartitions { it =>
      val rows = it.toArray
      val deg = degrees(rows.iterator)
      rows.iterator.filter(isEdge).map { r =>
        val (outDeg, wsum) = deg(r.getLong(0))
        (r.getLong(0), r.getLong(1), if (weightCol.isEmpty) 1.0 / outDeg else wt(r) / wsum, nsalt(outDeg))
      }
    }
    val eW = if (!redistributeDangling) realEdges else {
      val sentinelOut = realEdges.map(e => (e._2, e._3)).reduceByKey(_ + _)
        .map { case (dst, win) => (Sent, dst, damping * win, sentSalt) }
      val nDangling = n - nSrc
      val toSent = vdeg.filter(_._2._1 == 0).map(v => (v._1, Sent, 1.0 / n, 1))
      val selfSent = spark.sparkContext.parallelize(Seq((Sent, Sent, damping * nDangling.toDouble / n, sentSalt)), 1)
      realEdges.union(sentinelOut).union(toSent).union(selfSent)
    }

    // Every id that owns a state row (sentinel included) with its nsalt.
    val vertexSalt = vdeg.map { case (id, (outDeg, _)) => (id, nsalt(outDeg)) }
      .union(spark.sparkContext.parallelize(if (redistributeDangling) Seq((Sent, sentSalt)) else Nil, 1))

    // Each of those ids also gets a self-edge of weight 0, so every id
    // receives a contribution each superstep, and one superstep's
    // aggregation IS the next state: no join with the vertex set, so no
    // shuffled join with its two input pipelines and its build. What the
    // state carries beside x rides on the self-edge as the id's own value:
    // on hubby graphs its nsalt (`dnsalt`, the loop's fan-out width), with a
    // personalized restart its teleport mass p (`dp`, 0 off-seed). Other
    // edges carry the neutral 1 and 0, and the aggregation takes the max.
    // Hub-free graphs skip the salt machinery entirely (no generator in the
    // hot path).
    val selfEdges = seeds match {
      case None          => vertexSalt.map { case (id, ns) => (id, ns, 0.0) }
      case Some((sv, p)) => vertexSalt.leftOuterJoin(sv.queryExecution.toRdd.map(r => (r.getLong(0), p)))
        .map { case (id, (ns, pv)) => (id, ns, pv.getOrElse(0.0)) }
    }
    val eRows = eW.map { case (s, d, w, ns) => (s, d, w, ns, 1, 0.0) }
      .union(selfEdges.map { case (id, ns, p) => (id, id, 0.0, ns, ns, p) })
      .map { case (s, d, w, ns, dns, dp) =>
        InternalRow.fromSeq(Seq[Any](s, d, w) ++ (if (haveHubs) Seq(HubSalt.key(d, ns), dns) else Nil) ++
          (if (seeds.isDefined) Seq(dp) else Nil))
      }
    val eWS = Bridge.dataFrame(spark, eRows,
      StructType(Seq("src", "dst").map(StructField(_, LongType, nullable = false)) ++
        Seq(StructField("w", DoubleType, nullable = false)) ++
        (if (haveHubs) Seq("salt", "dnsalt").map(StructField(_, IntegerType, nullable = false)) else Nil) ++
        (if (seeds.isDefined) Seq(StructField("dp", DoubleType, nullable = false)) else Nil)),
      Some(BigInt(eRows.count())))
    val eSide = run.joinSide(eWS, shufflePartitions, if (haveHubs) Seq("src", "salt") else Seq("src"))

    // State: x(v) per vertex plus x(Sent) = m; rank_t = x_t + d*m_t, and on
    // hubby graphs the vertex's nsalt (the hub fan-out width, 1 for
    // non-hubs), with a personalized restart its p: the loop's hub fan-out
    // is a plain generator over a state column, and the update reads p off
    // the state — the former per-superstep broadcast(hubs) join + hint grew
    // the chained plan's analysis cost superlinearly (measured 144→438 ms of
    // pure driver time per lazily-chained superstep on the mined graph, vs
    // 16-26 ms hub-free). Every column is declared never NULL, so every
    // block's first superstep reads the same kind of state. Checkpoints
    // carry column "x" (sentinel row included) and may also carry nsalt and
    // p, which a resumed run drops and re-derives.
    val carried = (if (haveHubs) Seq("dnsalt" -> "nsalt") else Nil) ++ (if (seeds.isDefined) Seq("dp" -> "p") else Nil)
    val stateExtra = carried.map(c => col(c._2))
    // Every id that owns a state row, laid out by id, with its nsalt on
    // hubby graphs: what the start state is built over.
    val idRows = run.keep(laidOutBy(vertexSalt.map { case (id, ns) =>
      (id, if (haveHubs) InternalRow(id, ns) else InternalRow(id))
    }, shufflePartitions))
    val ids = Bridge.dataFrame(spark, idRows, StructType(idSchema ++
      (if (haveHubs) Seq(StructField("nsalt", IntegerType, nullable = false)) else Nil)), hashedBy = Seq("id"))
    def start(restored: Option[DataFrame]) = restored match {
      case None if seeds.isEmpty =>
        // uniform starts at 1/n (the sentinel at 0): kept rows over the id
        // rows, laid out as they are, materialized by their count
        val x0 = run.handOff(idRows.map { r =>
          val x = if (r.getLong(0) == Sent) 0.0 else 1.0 / n
          if (haveHubs) InternalRow(r.getLong(0), x, r.getInt(1)) else InternalRow(r.getLong(0), x)
        }.localCheckpoint())
        x0.count()
        Bridge.dataFrame(spark, x0, StructType(Seq(idSchema.head, StructField("x", DoubleType, nullable = false)) ++
          ids.schema.drop(1)), hashedBy = Seq("id"))
      case _ =>
        val allIds = seeds.fold(ids) { case (sv, p) =>
          ids.join(sv.withColumn("p", lit(p)), Seq("id"), "left").withColumn("p", coalesce($"p", lit(0.0)))
        }
        (restored match {
          case Some(s) if carried.isEmpty => s.select($"id", $"x")
          case Some(s) => s.select($"id", $"x").join(allIds.select($"id" +: stateExtra: _*), Seq("id"))
          // PPR starts AT the restart distribution (the walk's stationary
          // point under d=0)
          case None => allIds.select(Seq($"id", $"p".as("x")) ++ stateExtra: _*)
        }).select(($"id" +: $"x" +: stateExtra).map(c => notNull(c).as(c.toString)): _*)
          .repartition(shufflePartitions, $"id")
          .localCheckpoint(true)
    }

    // One join + one aggregation; supersteps between checkpoint boundaries
    // chain LAZILY (no localCheckpoint, no toRdd, no action — each of those
    // costs 0.3-1.3s of serial driver time per superstep, measured). The
    // chain is strictly linear: state enters exactly once, so a k-step block
    // is a size-O(k) logical plan that Catalyst analyzes once, and the
    // boundary's eager localCheckpoint runs it as ONE job while still
    // guarding the cross-block lineage blowup fixed in 8d12bfb.
    // Hub rows fan out to their nsalt sub-keys (non-hubs emit salt 0 only).
    // restart term: uniform keeps the EXACT op sequence rounds 1-4 shipped
    // ((1-d)/n as one literal); personalized reads p off the state
    val restartTerm = if (seeds.isDefined) lit(1.0 - damping) * $"p" else lit((1.0 - damping) / n)
    def step(state: DataFrame) =
      state
        .select(Seq($"id".as("src"), $"x") ++ (if (haveHubs) Seq(HubSalt.fanOut($"nsalt")) else Nil): _*)
        .join(eSide, if (haveHubs) Seq("src", "salt") else Seq("src"))
        .groupBy($"dst".as("id"))
        .agg(sum($"x" * $"w").as("c"), carried.map { case (e, c) => max(col(e)).as(c) }: _*)
        .select(Seq($"id", notNull(when($"id" === Sent, $"c").otherwise(restartTerm + lit(damping) * $"c")).as("x")) ++
          carried.map { case (_, c) => notNull(col(c)).as(c) }: _*)

    // With tol > 0: a conservative bound on the block's max |rank delta|,
    // max|Δrank| <= max|Δx| + d*|Δm|, ends the run once it is below tol.
    var maxDelta = Double.NaN
    def converged(prev: Option[DataFrame], state: DataFrame) = tol > 0 && prev.exists { p =>
      val d = state.join(p.withColumnRenamed("x", "px"), Seq("id"))
        .agg(max(when($"id" =!= Sent, abs($"x" - $"px"))).as("dx"),
          max(when($"id" === Sent, abs($"x" - $"px"))).as("dm"))
        .first()
      // max() over zero matching rows is null — treat as a zero delta
      // (e.g. a sentinel-free graph has no id===Sent rows)
      val dx = if (d.isNullAt(0)) 0.0 else d.getDouble(0)
      val dm = if (d.isNullAt(1)) 0.0 else d.getDouble(1)
      maxDelta = dx + (if (redistributeDangling) damping * dm else 0.0)
      maxDelta < tol
    }

    // Block width stays at checkpointEvery even when no tol/checkpoint/stop
    // is requested: running q14's 8 (or q36's 10) supersteps as ONE deep job
    // was MEASURED ~10% slower than 5-step blocks (3 runs each) — the
    // mid-chain materialization buys better stage scheduling than the
    // saved job costs.
    val Steps(state, metrics, steps, _) = run.loop(iterations, checkpointEvery, edgeCount,
      shufflePartitions, start, step, converged, maxDelta)

    // rank = x + d*m; m is the final state's sentinel row, read off its kept
    // rows, and a UDF carries it into the ranks' plan, so that plan
    // generates the same code whatever m is
    val ranks =
      if (!redistributeDangling) state.select($"id", $"x".as("rank"))
      else {
        val m = keptRows(state).get.filter(_.getLong(0) == Sent).map(_.getDouble(1)).first()
        state.filter($"id" =!= Sent).select($"id", ($"x" + lit(damping) * udf(() => m).apply()).as("rank"))
      }
    PageRankResult(ranks, metrics, steps)(run.release)
  }

  /** The internal rows of an edge table's `src` and `dst` cast to Long,
    * then `extra`: what a kernel's set-up reduces as RDD operations, which
    * generate no code beyond this scan. The rows are the plan's reused
    * buffers: read their fields, do not keep them. */
  private def edgeRows(edges: DataFrame, extra: Column*): RDD[InternalRow] =
    edges.select(Seq(col("src").cast("long"), col("dst").cast("long")) ++ extra: _*).queryExecution.toRdd

  /** `rows` keyed by a never-NULL Long, laid out as an exchange by that
    * key at width `p` leaves them: each row in the partition Spark's hash
    * partitioning gives its key. A frame over them declares that layout
    * (`Bridge.dataFrame`'s `hashedBy`), so a join or aggregation by the key
    * plans no exchange, and the layout generates no code. */
  private def laidOutBy(keyed: RDD[(Long, InternalRow)], p: Int): RDD[InternalRow] = {
    val partitionId = HashPartitioning(Seq(BoundReference(0, LongType, nullable = false)), p).partitionIdExpression
    keyed.partitionBy(new Partitioner {
      def numPartitions: Int = p
      def getPartition(key: Any): Int = partitionId.eval(InternalRow(key)).asInstanceOf[Int]
    }).values
  }

  /** One partition's `(src, dst)` rows, each pair once: every repeat of a
    * pair shares its partition when the rows are laid out by src. */
  private def distinctPairs(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val adjacency = scala.collection.mutable.LongMap.empty[scala.collection.mutable.LongMap[Unit]]
    rows.foreach(r => adjacency.getOrElseUpdate(r.getLong(0), scala.collection.mutable.LongMap.empty[Unit])(r.getLong(1)) = ())
    adjacency.iterator.flatMap { case (s, ds) => ds.keysIterator.map(InternalRow(s, _)) }
  }

  /** A local `(src, nsalt)` frame of collected hubs. */
  private def hubFrame(spark: SparkSession, hubs: Seq[(Long, Int)]): DataFrame =
    Bridge.localFrame(spark, hubs.map { case (v, n) => InternalRow(v, n) },
      StructType(Seq(StructField("src", LongType, nullable = false), StructField("nsalt", IntegerType, nullable = false))))

  /** A never-NULL Long `id` column. */
  private val idSchema = StructType(Seq(StructField("id", LongType, nullable = false)))

  /** Never-NULL Long `src` and `dst` columns. */
  private val edgeSchema = StructType(Seq("src", "dst").map(StructField(_, LongType, nullable = false)))

  /** `c`, declared never NULL, for a column the kernel knows holds no NULL:
    * plans then carry no NULL checks or inferred NULL filters for it. */
  private def notNull(c: Column): Column = Bridge.column(KnownNotNull(Bridge.expression(c)))

  /** The hub-salting policy of PageRank, CC and LP. A join of at most
    * [[EdgesPerPartition]] rows, one partition's budget, has no hubs: no key
    * of it can hold more work than a partition is sized for, so it plans
    * the hub-free shape whatever its degrees are. In a larger join, a key
    * whose degree is over `threshold` = max(1000, rows/P/4) for `rows` join
    * rows at width P is a hub: its rows split over nsalt = least(P,
    * deg/threshold + 1) sub-keys. The many-rows side of the join takes the
    * sub-key pmod(hash(dst), nsalt), and the one-row-per-key side is
    * replicated over 0 .. nsalt-1. Non-hubs have nsalt 1. */
  private final case class HubSalt(partitions: Int, rows: Long) {
    val salts: Boolean = rows > EdgesPerPartition
    val threshold: Long = if (salts) math.max(1000L, rows / partitions / 4) else Long.MaxValue
    def nsalt(deg: Long): Int = math.min(partitions.toLong, deg / threshold + 1L).toInt
  }
  private object HubSalt {
    def key(nsalt: Column): Column = pmod(hash(col("dst")), nsalt)
    /** The same sub-key for a row's `dst` (Spark's `hash` is Murmur3 with
      * seed 42). */
    def key(dst: Long, nsalt: Int): Int = Math.floorMod(Murmur3_x86_32.hashLong(dst, 42), nsalt)
    def fanOut(nsalt: Column): Column = explode(sequence(lit(0), nsalt - 1)).as("salt")
  }

  /** Kernel partition count: the configured shuffle partitions, scaled DOWN
    * for SMALL graphs (~150k edges per partition, floor 8). Guide §2.2 sizes
    * partitions by work volume (100 MB–1 GB each), not core count; the old
    * 10k-edge budget (~160 KB/partition) made every kernel stage overhead-
    * bound on sub-10M-edge graphs — re-measured with a budget sweep (warm
    * runs at sf0.1): CC 10.6 s → 6.8 s and PageRank 6.7 s → 5.6 s going
    * 10k → 150k, with the round-1 CC contraction job alone dropping
    * 3.3 s → 1.5 s. 150k edges ≈ 2.4 MB is still well below the guide's
    * floor, so this moves TOWARD principled sizing, not past it. The
    * configured value always wins once the graph is big (100 TB ⇒ the
    * cap), so the large-scale plan is unchanged. */
  private[graph] def kernelPartitions(conf: Int, edgeCount: Long): Int =
    // never EXCEED the configured value (a 4-core box configured to 4 stays
    // at 4); below it, floor at 8 so tiny graphs keep some parallelism
    math.min(conf.toLong, math.max(8L, edgeCount / EdgesPerPartition + 1L)).toInt

  /** The edges [[kernelPartitions]] budgets for one partition. */
  private val EdgesPerPartition = 150000L

  /** The loop-free, deduplicated Long edge table of HITS, SCC, BFS and
    * random walks. One count of the loop-free input rows (repeats
    * included, as LP sizes) sets the kernel width; ONE exchange lays them
    * out by src at it, and each partition drops its repeats. The rows are
    * kept until the run closes and counted, which sizes them for the
    * planner; RDD work, it generates no code. A NULL end is no edge. */
  private def edgeTable(run: KernelRun, edges: DataFrame): EdgeTable = {
    val pairs = edgeRows(edges).flatMap(r =>
      if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(0) == r.getLong(1)) None else Some((r.getLong(0), r.getLong(1))))
    val p = kernelPartitions(run.confWidth, pairs.count())
    run.width(p)
    val laid = run.keep(laidOutBy(pairs.map { case (s, d) => (s, InternalRow(s, d)) }, p).mapPartitions(distinctPairs))
    new EdgeTable(run, laid, laid.count())
  }

  /** `count` loop-free edges ([[edgeTable]]) as `rows` laid out by src
    * at the kernel width `partitions`. */
  private final class EdgeTable(run: KernelRun, rows: RDD[InternalRow], val count: Long) {
    def partitions: Int = rows.getNumPartitions
    /** The rows, sized for the planner: what a broadcast of them reads. */
    val table: DataFrame = Bridge.dataFrame(run.spark, rows, edgeSchema, Some(BigInt(count)))
    /** The same rows declared laid out by src: a join or aggregation by
      * src plans no exchange. */
    val bySrc: DataFrame = Bridge.dataFrame(run.spark, rows, edgeSchema, Some(BigInt(count)), Seq("src"))
    /** Every end once, with their count: rows persisted until the run
      * closes (a lazy result recomputes them), laid out by id by a distinct. */
    def vertices: (DataFrame, Long) = {
      val ids = table.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
      val rows = run.keep(ids.queryExecution.toRdd.map(_.copy()))
      val n = rows.count()
      (Bridge.dataFrame(run.spark, rows, ids.schema, Some(BigInt(n)), Seq("id")), n)
    }
  }

  // ------------------------------------------------- connected components

  /**
   * Connected components by alternating large-star / small-star contraction
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14). Exact (north_rule: components match exactly): converges to
   * star graphs rooted at each component's minimum vertex id in O(log n)
   * rounds.
   *
   * Why not min-label propagation with pointer jumping: that formulation
   * self-joins the label table on `label`, and as components coalesce the
   * giant component's label becomes a single hot key holding a constant
   * fraction of ALL rows — an unsplittable straggler at 100x scale. Here
   * every shuffle keys on the *vertex* id, so per-task work is bounded by
   * max vertex degree (hub-bounded), never by component size, and degree
   * hot-spots aggregate map-side (min is combinable).
   */
  /** `stopped = true` means a cooperative STOP ended the run BEFORE
    * convergence: `components` is the partially-contracted state (valid to
    * resume from, NOT final component assignments). `components` reads
    * local-checkpoint rows the result frees with `release()`. */
  final case class CcResult(components: DataFrame, metrics: Seq[SuperstepMetric], rounds: Int,
                            stopped: Boolean = false)(free: () => Unit) extends Releasable(free)

  def connectedComponents(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsResult(spark, edges, maxIter).components

  /** @param checkpointDir resumable state, same contract as [[pageRank]]'s:
    *                 a run whose dir holds a contracted edge set at a round
    *                 <= `maxIter` continues from it.
    * @param stopFlag cooperative STOP marker (same watermark semantics as
    *                 [[pageRank]]): the run ends at the next checkpoint
    *                 boundary, resumable through the same `checkpointDir`;
    *                 a stopped run's result carries `stopped = true` and
    *                 PARTIAL component labels. */
  def connectedComponentsResult(spark: SparkSession, edges: DataFrame, maxIter: Int = 50,
                                checkpointEvery: Int = 5, checkpointDir: Option[String] = None,
                                stopFlag: Option[String] = None, stopAfterMs: Long = 0L,
                                stopSeqSeen: Long = -1L): CcResult =
    inRun(spark, "cc", KernelConf, checkpointDir, stopFlag, stopAfterMs, stopSeqSeen) { run =>
    import spark.implicits._
    // The loop-free start edges and the vertex set the labels are read
    // over are RDD operations over the edges' internal rows, which generate
    // no code beyond the scan.
    val rows = edgeRows(edges)

    // The star-round equi-joins are hinted shuffled-hash (guide §3.1): the
    // build sides (mins / withMin) hold ONE row per src key, so a
    // per-partition hash table always fits, and the streamed sym/dir side
    // skips its per-round O(E log E) sort entirely. The hint also pins the
    // strategy: left to per-round size estimates, the same join switched
    // among broadcast, shuffled-hash and sort-merge from round to round.
    //
    // large-star: every neighbor v > u links to m = min(N(u) ∪ {u});
    // keeps (u, m) links implicit via the next small-star round.
    //
    // Hot-root salting: as contraction proceeds, the star root of a giant
    // component accumulates a neighborhood proportional to component size, so
    // the sym ⨝ mins equi-join fans out O(|C|) rows under ONE src key — the
    // min-agg combines map-side, but the join output doesn't. `hubs`
    // (src, nsalt), refreshed from the materialized state at each block
    // boundary, splits a hot key's sym rows across nsalt sub-keys by
    // hash(dst) and replicates the (one-row-per-hub) mins side, mirroring
    // the pageRank salting scheme. Hub-free rounds skip the machinery.
    def largeStar(sym: DataFrame, mins: DataFrame, hubs: Option[DataFrame]): DataFrame = {
      // no distinct here: duplicates are collapsed by the small-star round
      // that always follows — saves a full edge-set shuffle per round
      hubs match {
        case None =>
          sym.join(mins.hint("shuffle_hash"), Seq("src"))
            .filter($"dst" > $"src")
            .select($"dst".as("src"), $"m".as("dst"))
        case Some(h) =>
          val symS = sym.join(broadcast(h), Seq("src"), "left")
            .select($"src", $"dst", HubSalt.key(coalesce($"nsalt", lit(1))).as("salt"))
          val minsR = mins.join(broadcast(h), Seq("src"), "left")
            .select($"src", $"m", HubSalt.fanOut(coalesce($"nsalt", lit(1))))
          symS.join(minsR.hint("shuffle_hash"), Seq("src", "salt"))
            .filter($"dst" > $"src")
            .select($"dst".as("src"), $"m".as("dst"))
      }
    }

    // A hub snapshot: a bounded collect of the round's hub degrees (they sum
    // to 2E, so #keys with deg > thr <= 2E/thr, at most 4*roundP rows since
    // thr >= E/(2*roundP) — partition-bounded at any scale, the IVF-centroid
    // size class), then a local frame the per-round broadcast builds from
    // with zero extra distributed jobs. sym's kept rows are laid out by src,
    // so each partition counts its own srcs' degrees: no shuffle, and no
    // generated code, whatever the round's threshold. A round too small to
    // salt ([[HubSalt]]) takes no snapshot and runs no job for it.
    def hubSnapshot(sym: DataFrame, salt: HubSalt, nEdges: Long): Option[DataFrame] = if (!salt.salts) None else {
      val thr = salt.threshold
      val hubs = keptRows(sym).get.mapPartitions { it =>
        val deg = scala.collection.mutable.HashMap.empty[Long, Long]
        it.foreach(r => deg(r.getLong(0)) = deg.getOrElse(r.getLong(0), 0L) + 1L)
        deg.iterator.collect { case (v, d) if d > thr => (v, salt.nsalt(d)) }
      }
      val rows = BoundedCollect(hubs, 2L * nEdges / thr, s"2E / hubThreshold (2 * $nEdges / $thr)")
      if (rows.isEmpty) None else Some(hubFrame(spark, rows.toSeq))
    }

    // small-star: orient every edge high->low; every low neighbor (and u
    // itself) links to m = min(N(u) ∪ {u}). Each joined row emits both of
    // its links; u's own link repeats once per neighbor and collapses in
    // the distinct's map-side aggregation (dir is clustered by u), so
    // withMin is aggregated once and feeds only the join.
    def smallStar(e: DataFrame, width: Int): DataFrame = {
      // ONE exchange lays out dir by src for both its readers, the min
      // aggregation and the join: two exchanges (the aggregation's own,
      // after a map-side partial) computed the large-star join twice
      val dir = e.filter($"src" =!= $"dst")
        .select(greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
        .repartition(width, $"src")
      val withMin = dir.groupBy($"src").agg(min($"dst").as("m"))
      dir.join(withMin.hint("shuffle_hash"), Seq("src"))
        .select(explode(array(struct($"dst".as("src"), $"m".as("dst")),
          struct($"src", $"m".as("dst")))).as("l"))
        .select($"l.src", $"l.dst")
        .filter($"src" =!= $"dst")
        .distinct()
    }

    // Every round reads the same kind of edge state, so every round plans
    // the same filters and null checks and runs round 1's generated code:
    // the state never holds a NULL (the input's `src =!= dst` drops them
    // and a star round derives none), and the projection leaves behind the
    // constraints of whatever plan built the state. Without it the first
    // rounds' nullability and constraints drift with the input's.
    def edgeState(df: DataFrame): DataFrame =
      df.select(notNull($"src").as("src"), notNull($"dst").as("dst"))

    // Each round's state is cut LAZILY and its convergence digest is the
    // round's first action on it (r4 ask #3): that one job both CACHES the
    // round's partitions (truncating lineage for the next round) and
    // computes the digest (and it materializes sym en route: its exchange
    // stage runs before the join stage inside the same job). Lazily
    // chaining CC rounds the way pageRank chains supersteps was MEASURED 3x
    // slower at sf0.1 (48s -> 147s): pageRank's per-superstep plan is
    // LINEAR (state enters exactly once), but a star round references its
    // input several times (sym feeds both the join and the min-agg; dir
    // feeds both sides of smallStar), so an unmaterialized previous round
    // re-executes once per reference — a multiplicative blowup per chained
    // round that ReuseExchange only partly collapses.
    //
    // Converged when the edge set is unchanged: the digest is the row count
    // and the xor of xxhash64(src, dst) over the state's kept rows
    // (order-independent and overflow-free), reduced without generated
    // code; the previous round's digest is remembered, not recomputed (one
    // job per round). An empty start state digests as (0, 0), so it
    // converges at once.
    def digest(e: DataFrame) = keptRows(e).get.aggregate((0L, 0L))(
      (a, r) => (a._1 + 1L, a._2 ^ XXH64.hashLong(r.getLong(1), XXH64.hashLong(r.getLong(0), 42L))),
      (a, b) => (a._1 + b._1, a._2 ^ b._2))
    var dPrev = (0L, 0L)

    // The start state is the loop-free input as it is: every round shuffles
    // its input by src anyway, and round 1's distinct collapses repeated
    // edges. Like every round's state it is materialized by its digest.
    var edgePartitions = 0
    def start(restored: Option[DataFrame]) = {
      val e = restored.fold(Bridge.dataFrame(spark, rows.flatMap(r =>
        if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(0) == r.getLong(1)) None
        else Some(InternalRow(r.getLong(0), r.getLong(1)))).localCheckpoint(), edgeSchema))(
        edgeState(_).localCheckpoint(false))
      edgePartitions = keptRows(e).fold(0)(_.getNumPartitions)
      e
    }

    // null = no snapshot yet (round 1 probes eagerly); None = probed, hub-free
    var hubsForRound: Option[DataFrame] = null
    // what follows once a round's state is built: it takes the next round's
    // hub snapshot and releases its sym
    var afterBuilt: () => Unit = () => ()
    def step(e: DataFrame) = {
      // The hub table must be refreshed from the CURRENT state each round —
      // hot roots are EMERGENT in CC: a giant component's root accumulates a
      // neighborhood proportional to |C| as contraction proceeds. Degrees
      // are counted over sym's kept rows, partition by partition
      // ([[hubSnapshot]]): a degree aggregation with its own exchange was a
      // full extra O(2E) shuffle per round — measured ~15% of round wall
      // time at sf0.1.
      val nEdges = dPrev._1
      // CONTRACTION-AWARE partitioning (r4 ask #3): star contraction shrinks
      // the edge set geometrically (sf0.1: 590k -> 208k -> 50k in two
      // rounds), but a fixed 32-way layout keeps paying full per-stage
      // scheduling + shuffle-file overhead on the tiny tail rounds —
      // measured ~40% of q15 wall time (15.9s at 32 partitions vs 9.9s at
      // 8 for identical rounds). Each round re-sizes the shuffle
      // width from the edge count the convergence digest already computed
      // (zero extra jobs); kernelPartitions never EXCEEDS the configured
      // value, so at 100 TB the conf cap always wins and the plan is
      // unchanged — only the contracted tail narrows.
      val roundP = kernelPartitions(run.confWidth, nEdges)
      run.width(roundP)
      val salt = HubSalt(roundP, 2L * nEdges)
      // ONE exchange of the symmetrized table serves BOTH consumers (guide
      // §2.4): the min aggregation and the large-star join each need sym
      // clustered by src. It is kept for the round, because the hub
      // snapshot's collect, a separate job, also reads it: an unkept sym was
      // shuffled once per job that read it. Its rows keep the exchange's
      // layout.
      val sym = e.filter($"src" =!= $"dst")
        .select(explode(array(struct($"src", $"dst"), struct($"dst".as("src"), $"src".as("dst")))).as("p"))
        .select($"p.src", $"p.dst")
        .repartition(roundP, $"src")
        .localCheckpoint(false)
      val mins = sym.groupBy($"src").agg(least(min($"dst"), first($"src")).as("m"))
      // Hub table freshness: round 1 collects its snapshot eagerly (which
      // materializes sym — the input graph's junit/lodash hubs must be
      // salted from the very first join) and hands the same rows to round 2;
      // later rounds use the snapshot collected from the PREVIOUS round's
      // kept sym once the round's state is built. The lag is one round and
      // salting is semantically NEUTRAL (any nsalt assignment yields the
      // same join rows), so only balance can lag, never results — and it
      // removes the per-round eager probe job that was ~0.5 s/round of pure
      // probe cost at sf0.1. Every round's hub table is such a local
      // snapshot, so rounds with the same hub state plan the same shape.
      val firstRound = hubsForRound == null
      val hubs = if (firstRound) hubSnapshot(sym, salt, nEdges) else hubsForRound
      afterBuilt = () => {
        hubsForRound = if (firstRound) hubs else hubSnapshot(sym, salt, nEdges)
        run.free(sym)
      }
      edgeState(smallStar(largeStar(sym, mins, hubs), roundP))
    }

    def converged(prev: Option[DataFrame], e: DataFrame) = {
      val d = digest(e)
      afterBuilt()
      val same = d == dPrev
      dPrev = d
      same
    }

    val Steps(e, metrics, rounds, stopped) = run.loop(maxIter, checkpointEvery, dPrev._1,
      edgePartitions, start, step, converged, chain = false)

    // At the fixpoint every edge points v -> root(min id of v's component);
    // roots and isolated vertices label themselves. (A stopped run's labels
    // are the PARTIAL contraction — flagged via `stopped`.) The labels are
    // one RDD join of the vertex set (every non-NULL end of the input) with
    // the last state's rows, kept rows materialized by their count and
    // handed to the result; nothing the result reads is registered in the
    // session's cache, so a caller that drops the result (the
    // `connectedComponents` facade) leaves them to the context cleaner.
    val labels = run.handOff(rows.flatMap(r => Seq(0, 1).collect { case i if !r.isNullAt(i) => (r.getLong(i), ()) })
      .distinct()
      .leftOuterJoin(keptRows(e).get.map(r => (r.getLong(0), r.getLong(1))))
      .map { case (id, (_, c)) => InternalRow(id, c.getOrElse(id)) }
      .localCheckpoint())
    labels.count()
    run.free(e)
    val components = Bridge.dataFrame(spark, labels,
      StructType(Seq("id", "component").map(StructField(_, LongType, nullable = false))))
    CcResult(components, metrics, rounds, stopped)(run.release)
  }

  // ------------------------------------------------------ label propagation

  /**
   * Synchronous label propagation (community detection): each superstep every
   * vertex adopts the most frequent label among its in-neighbors on the
   * symmetrized graph, ties broken deterministically by (count desc, label
   * asc) — SURVEY §7.4-6. Fixed iteration count => exactly reproducible.
   * Every Long is a valid vertex id: the winner aggregate
   * ([[MaxCountMinLabel]]) compares labels and never negates them.
   */
  /** `supersteps < iterations` after a cooperative STOP: `labels` is the
    * valid k-superstep result, resumable to the full target. `labels` reads
    * the run's last state, as [[PageRankResult]]'s `ranks` do. */
  final case class LpResult(labels: DataFrame, metrics: Seq[SuperstepMetric], supersteps: Int)(
      free: () => Unit) extends Releasable(free)

  def labelPropagation(spark: SparkSession, edges: DataFrame, iterations: Int): DataFrame =
    labelPropagationResult(spark, edges, iterations).labels

  /** @param checkpointDir resumable state, same contract as [[pageRank]]'s:
    *                 a run whose dir holds a label snapshot at a superstep
    *                 <= `iterations` continues from it.
    * @param stopFlag cooperative STOP marker (same watermark semantics as
    *                 [[pageRank]]): the run ends at the next checkpoint
    *                 boundary with `supersteps < iterations`, resumable
    *                 through the same `checkpointDir`. */
  def labelPropagationResult(spark: SparkSession, edges: DataFrame, iterations: Int,
                             checkpointEvery: Int = 5, checkpointDir: Option[String] = None,
                             stopFlag: Option[String] = None, stopAfterMs: Long = 0L,
                             stopSeqSeen: Long = -1L): LpResult =
    inRun(spark, "lp", KernelConf, checkpointDir, stopFlag, stopAfterMs, stopSeqSeen) { run =>
    import spark.implicits._
    // The set-up is RDD operations over the edges' internal rows, which
    // generate no code of their own, and ONE exchange that lays out the
    // deduplicated, symmetrized edges by src. A row with a NULL end is no
    // edge.
    val pairs = edgeRows(edges).flatMap(r =>
      if (r.isNullAt(0) || r.isNullAt(1)) None else Some((r.getLong(0), r.getLong(1))))
    // The raw count of the symmetrized edges (two per edge) only SIZES
    // partitions (kernelPartitions), so the pre-dedup figure is fine — and
    // it needs no deduped table first.
    val edgeCount = 2 * pairs.count()
    val shufflePartitions = kernelPartitions(run.confWidth, edgeCount)
    // aggregation exchanges inside the loop must match the edge layout's
    // width, or EnsureRequirements inserts an extra per-superstep exchange
    // to reconcile them
    run.width(shufflePartitions)

    // Repartition by src first, then dedup: all duplicates of a pair share
    // the src key, so each partition drops its own repeats, with no second
    // exchange (guide §2.4: two operations keyed the same way share one
    // exchange). The rows are kept in that layout, so every vertex's edges
    // (= every distinct sym src = every distinct sym dst) share a partition.
    val sym = run.keep(Bridge.dataFrame(spark, pairs.flatMap { case (s, d) => Iterator(InternalRow(s, d), InternalRow(d, s)) },
      edgeSchema).repartition(shufflePartitions, $"src").queryExecution.toRdd.mapPartitions(distinctPairs))
    // each src of one partition's rows with its degree
    def degrees(rows: Iterator[InternalRow]) = {
      val deg = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach(r => deg(r.getLong(0)) = deg.getOrElse(r.getLong(0), 0L) + 1L)
      deg
    }

    // Hub salting, same scheme as pageRank: a symmetrized hub's adjacency
    // otherwise sits in ONE partition of every superstep's join. ONE job
    // over the kept rows gives the table's size and its hubs (their degrees
    // sum to at most E, so #hubs <= E/threshold).
    val salt = HubSalt(shufflePartitions, edgeCount)
    val (symCount, hubList) = sym.mapPartitions { it =>
      val deg = degrees(it)
      Iterator((deg.valuesIterator.sum, deg.iterator.collect { case (v, d) if d > salt.threshold => (v, salt.nsalt(d)) }.toList))
    }.reduce((a, b) => (a._1 + b._1, a._2 ++ b._2))
    require(hubList.size <= edgeCount / salt.threshold,
      s"${hubList.size} hubs exceed their bound E / hubThreshold ($edgeCount / ${salt.threshold})")
    val haveHubs = hubList.nonEmpty
    val lpHubs = hubFrame(spark, hubList)

    // The adjacency every superstep joins: on hubby graphs each edge also
    // carries its salt (0 for a non-hub's edges).
    val hubSalt = hubList.toMap
    val keys = if (haveHubs) Seq("src", "salt") else Seq("src")
    def symTable(hashedBy: Seq[String]) = Bridge.dataFrame(spark, sym, edgeSchema, Some(BigInt(symCount)), hashedBy)
    val symSide =
      if (!haveHubs) run.joinSide(symTable(Nil), shufflePartitions, keys, Some(symTable(keys)))
      else run.joinSide(Bridge.dataFrame(spark, sym.map(r => InternalRow(r.getLong(0), r.getLong(1),
          HubSalt.key(r.getLong(1), hubSalt.getOrElse(r.getLong(0), 1)))),
        StructType(edgeSchema :+ StructField("salt", IntegerType, nullable = false)), Some(BigInt(symCount))),
        shufflePartitions, keys)

    // The start state, every vertex labeled with itself, kept rows
    // materialized by their count.
    def start(restored: Option[DataFrame]) = restored.fold {
      val labels = run.handOff(sym.mapPartitions(degrees(_).keysIterator.map(id => InternalRow(id, id))).localCheckpoint())
      labels.count()
      Bridge.dataFrame(spark, labels, StructType(Seq("id", "label").map(StructField(_, LongType, nullable = false))))
    }(_.localCheckpoint(true))

    // supersteps chain lazily between boundaries, cut+materialized only at
    // checkpoints — same fixed-cost reasoning as pageRank
    def step(labels: DataFrame) = {
      val saltedLabels =
        if (!haveHubs) labels.withColumnRenamed("id", "src")
        else labels.join(broadcast(lpHubs.withColumnRenamed("src", "id")), Seq("id"), "left")
          .select($"id".as("src"), $"label", HubSalt.fanOut(coalesce($"nsalt", lit(1))))
      // ONE exchange serves both aggregation levels: repartition the message
      // stream by id, then groupBy(id, label) AND groupBy(id) both run
      // in place (hashpartitioning(id) satisfies either clustering) — the
      // direct groupBy(id, label) route paid a second full exchange to get
      // from (id, label) hash space to id hash space (guide §2.4).
      val msgs = saltedLabels
        .join(symSide, keys)
        .select($"dst".as("id"), $"label")
        .repartition(shufflePartitions, $"id")
      val counts = msgs.groupBy($"id", $"label").agg(count(lit(1)).as("cnt"))
      // winner = (count desc, label asc): a combinable aggregate over a
      // two-Long buffer (map-side partial agg, no per-superstep sort), so it
      // is a hash aggregate inside the superstep's pipeline.
      //
      // The winners table IS the next label state: sym is symmetrized, so
      // every vertex (= every distinct sym.src = every distinct sym.dst)
      // receives at least one message each superstep and `winners` covers
      // the exact vertex set — the former labels⨝winners left-join (whose
      // coalesce could never fire) re-referenced `labels` a second time per
      // superstep, turning the lazily-chained block into a 2^k-subtree plan
      // (measured: the 3-superstep q18 block job alone was 7-8.5 s at
      // sf0.1; linear chaining is the pageRank lesson, guide §1.2-1).
      //
      // The winner is never NULL, and saying so keeps NULL checks out of the
      // next superstep's code.
      counts.groupBy($"id").agg(MaxCountMinLabel.of($"cnt", $"label").as("label"))
    }
    val Steps(labels, metrics, steps, _) = run.loop(iterations, checkpointEvery, edgeCount,
      shufflePartitions, start, step)
    LpResult(labels.select($"id", $"label"), metrics, steps)(run.release)
  }

  // ------------------------------------------------------------- triangles

  /**
   * Exact triangle counting with degree-ordered orientation: each undirected
   * edge is oriented from the endpoint with the lower (degree, id) to the
   * higher, so every wedge is enumerated exactly once from its lowest-degree
   * corner — hub vertices never explode quadratically (SURVEY §4.3-2).
   * Returns (total, perVertex(id, triangles)).
   */
  def triangleCount(spark: SparkSession, edges: DataFrame): (Long, DataFrame) = {
    // nothing is cached: a caller that also consumes the per-vertex frame
    // re-runs the close over the same set-up, which beats leaving the close
    // persisted for the session's lifetime. The total counts the close's
    // rows as an RDD, so no count aggregate is planned or generated after
    // the close.
    val (total, close) = inRun(spark, "triangles", KernelConf) { _ =>
      val close = trianglesPlan(spark, edges, sized = true)
      (close.queryExecution.toRdd.count(), close)
    }
    (total, perVertexFrom(spark, close))
  }

  /** Per-vertex triangle counts WITHOUT the eager total — a lazy plan, no
    * job forced, so callers that only want the frame (q17) don't pay the
    * count action. */
  def trianglesPerVertex(spark: SparkSession, edges: DataFrame): DataFrame =
    perVertexFrom(spark, trianglesPlan(spark, edges, sized = false))

  private def perVertexFrom(spark: SparkSession, triangles: DataFrame): DataFrame = {
    import spark.implicits._
    triangles.select(explode(array($"a", $"x", $"y")).as("id"))
      .groupBy($"id").agg(count(lit(1)).as("triangles"))
  }

  /** Value-canonical undirected simple edge set `(u < v)`, deduped. Shared
    * by the clustering coefficient and k-core peeling. Both ends are
    * declared never NULL (the `src =!= dst` filter drops a row with a NULL
    * end): a plan that reads the set several times then infers no NULL
    * filter on one read that another lacks, so every read is the same plan
    * and shares one exchange. */
  private[graph] def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(notNull(least(col("src"), col("dst"))).as("u"), notNull(greatest(col("src"), col("dst"))).as("v"))
      .distinct()

  /**
   * The oriented-wedge triangle close as a lazy plan of rows (a, x, y) —
   * one row per triangle, corner-canonical. Only the close is planned: the
   * set-up is RDD operations over the edges' internal rows, which generate
   * no code, in two exchanges at the session's width:
   *  - both directions of every loop-free edge, laid out by their first
   *    end: each vertex's distinct neighbors, and so its degree, are in one
   *    partition, and so are the undirected pairs `(u < v)` it is the low
   *    end of;
   *  - each vertex's degree sent to its neighbors: a vertex w receives one
   *    message per neighbor, so it knows its own degree too, and orients
   *    each of its edges from the lower (degree, id) end to the higher. Its
   *    out-neighbors x < y pair into the wedges (w, x, y) it is the low
   *    corner of.
   * The close joins the wedges with the pairs on (x, y). With `sized`, the
   * pairs are counted (one job), and the close broadcasts them when they
   * fit the broadcast threshold; otherwise, and always without `sized`, it
   * is a shuffled hash join that builds on the pairs.
   */
  private def trianglesPlan(spark: SparkSession, edges: DataFrame, sized: Boolean): DataFrame = {
    val part = new org.apache.spark.HashPartitioner(spark.conf.get(WidthKey, "32").toInt)
    val neighbors = edgeRows(edges)
      .flatMap(r => if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(0) == r.getLong(1)) Iterator.empty
        else Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .partitionBy(part)
      .mapPartitions { it =>
        val adj = scala.collection.mutable.LongMap.empty[scala.collection.mutable.LongMap[Unit]]
        it.foreach { case (v, w) => adj.getOrElseUpdate(v, scala.collection.mutable.LongMap.empty[Unit])(w) = () }
        adj.iterator.map { case (v, ws) => (v, ws.keys.toArray) }
      }
    val pairs = neighbors.flatMap { case (v, ws) => ws.iterator.filter(_ > v).map(w => InternalRow(v, w)) }
    val wedges = neighbors.flatMap { case (v, ws) => ws.iterator.map(w => (w, (v, ws.length))) }
      .partitionBy(part)
      .mapPartitions { it =>
        val in = scala.collection.mutable.LongMap.empty[scala.collection.mutable.ArrayBuffer[(Long, Int)]]
        it.foreach { case (w, m) => in.getOrElseUpdate(w, scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]) += m }
        in.iterator.flatMap { case (w, ms) =>
          val dw = ms.length
          val out = ms.iterator.collect { case (v, dv) if dw < dv || (dw == dv && w < v) => v }.toArray.sorted
          for (i <- out.indices.iterator; j <- (i + 1 until out.length).iterator) yield InternalRow(w, out(i), out(j))
        }
      }
    val pairCount = if (sized) Some(BigInt(pairs.count())) else None
    val closing = Bridge.dataFrame(spark, pairs,
      StructType(Seq("x", "y").map(StructField(_, LongType, nullable = false))), pairCount)
    val close =
      if (pairCount.isDefined && closing.queryExecution.optimizedPlan.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold)
        broadcast(closing)
      else closing.hint("shuffle_hash")
    Bridge.dataFrame(spark, wedges, StructType(Seq("a", "x", "y").map(StructField(_, LongType, nullable = false))))
      .join(close, Seq("x", "y"))
      .select(col("a"), col("x"), col("y"))
  }

  /**
   * Local clustering coefficient per vertex over the undirected simple
   * graph: `lcc(v) = 2·T(v) / (d(v)·(d(v)−1))`, with `T` from the degree-
   * oriented triangle close (so hubs don't enumerate quadratic wedge sets)
   * and `d` the undirected distinct degree. Vertices with `d < 2` get 0.
   *
   * The degree aggregation is one map-side-combined pass over the
   * undirected edge set ([[undirected]]) beside the triangle close. The
   * per-vertex join keys on `id` — never on anything degree-correlated —
   * so the 100 TB shape is the triangle close's (its cost dominates).
   * Returns `(id, degree, triangles, lcc)` with `lcc` unrounded (query
   * faces round for cross-engine hashing).
   */
  def clusteringCoefficient(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val und = undirected(edges)
    val deg = und.select($"u".as("id")).union(und.select($"v".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("degree"))
    val tri = trianglesPerVertex(spark, edges)
    deg.join(tri, Seq("id"), "left")
      .select($"id", $"degree", coalesce($"triangles", lit(0L)).as("triangles"),
        when($"degree" >= 2,
          lit(2.0) * coalesce($"triangles", lit(0L)) / ($"degree" * ($"degree" - lit(1.0))))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /**
   * Minimum-hop distances from a seed set along DIRECTED edges, bounded at
   * `maxHops` (frontier BFS). The reference runs reachability traversals in
   * Neo4j after export (SURVEY §2.9); here the frontier expansion is native.
   *
   * Scale shape: the loop-free edges are laid out by `src` once
   * ([[edgeTable]]); each hop is then ONE join against that
   * layout (the frontier — the small side — moves to the edges), a
   * distinct, and an anti-join against the settled table, all keyed on
   * vertex id. The settled `(id, dist)` table — O(V), no adjacency — is
   * the loop's state, cut lazily every hop; its count is the hop's one
   * action, which materializes it and detects an empty frontier (an
   * unchanged count). `maxHops` hard-bounds the loop.
   *
   * Returns `(id: long, dist: int)` for every vertex within `maxHops` of a
   * seed, as kept rows (local-checkpoint blocks, O(V) rows) that are not
   * registered in the session's cache; the loop frees each hop's table
   * once the next is built, and the run frees the edge table.
   */
  def shortestPaths(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                    maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    inRun(spark, "bfs", KernelConf) { run =>
      import spark.implicits._
      val e = edgeTable(run, edges)
      val settled = new SameCount
      var hop = 0
      // by-name semi-join (the frontier — small side — moves to the fixed
      // edge layout); df("col") references would trip ambiguous-self-join
      // detection at hop 2, where the frontier's lineage includes the edges.
      // Coalesced: a union has all its inputs' partitions.
      def expand(s: DataFrame) = {
        hop += 1
        s.union(e.bySrc.join(s.filter($"dist" === hop - 1).select($"id".as("src")), Seq("src"), "left_semi")
          .select($"dst".as("id")).distinct()
          .join(s, Seq("id"), "left_anti")
          .withColumn("dist", lit(hop))).coalesce(e.partitions)
      }
      run.loop(maxHops, 1, e.count, e.partitions,
        _ => seeds.select(col("id").cast("long").as("id")).distinct().withColumn("dist", lit(0)).localCheckpoint(false),
        expand, settled, chain = false).state
    }
  }

  /**
   * k-core: the maximal subgraph in which every vertex has undirected
   * degree >= k, by iterative peeling. Returns `(id, core_degree)` for the
   * surviving vertices with their degree INSIDE the core.
   *
   * Scale shape: each peel round is one map-side-combined degree
   * aggregation plus two semi-joins keyed on the endpoint ids; the edge
   * set only ever SHRINKS, so round cost decreases monotonically.
   * The edge set is the loop's state, cut lazily every round, and its
   * count is the round's one action: it materializes the round and is the
   * convergence test — every vertex present in `und` has >= 1 edge, so an
   * unchanged edge count implies an unchanged vertex set (no second
   * probe). Peel depth tracks the graph's degeneracy ordering width and is
   * small on real link graphs (3 rounds on the sf0.01 mined-shape graph);
   * `maxRounds` is a backstop bound, mirroring connectedComponents'
   * maxIter. The core is returned as kept rows, not registered in the
   * session's cache.
   */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame =
    kCoreResult(spark, edges, k, maxRounds)._1

  /** kCore plus the number of peel rounds it took to converge (face-honesty
    * evidence: the q62 oracle unrolls a fixed round count, so tests assert
    * convergence within it). */
  def kCoreResult(spark: SparkSession, edges: DataFrame, k: Int,
                  maxRounds: Int = 50): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    inRun(spark, "kcore", KernelConf) { run =>
      import spark.implicits._
      val nEdges = new SameCount
      // the edge set only shrinks: each round is sized from the last count
      def roundWidth = kernelPartitions(run.confWidth, nEdges.rows)
      def peel(state: DataFrame) = {
        // with no declared layout: over the checkpoint's, the two joins' same
        // survivor subtree was not reused (two aggregations and broadcasts)
        val und = Bridge.dataFrame(spark, keptRows(state).get, state.schema, Some(BigInt(nEdges.rows)))
        run.width(roundWidth)
        val surv = und.select($"u".as("x")).union(und.select($"v".as("x")))
          .groupBy($"x").agg(count(lit(1)).as("c"))
          .filter($"c" >= k).select($"x")
        und.join(surv.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
          .join(surv.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
      }
      val peeled = run.loop(maxRounds, 1, nEdges.rows, roundWidth,
        _ => undirected(edges).localCheckpoint(false), peel, nEdges, chain = false)
      val und = run.own(peeled.state)
      val core = run.handOff(und.select($"u".as("id")).union(und.select($"v".as("id")))
        .groupBy($"id").agg(count(lit(1)).as("core_degree"))
        .filter($"core_degree" >= k)
        .localCheckpoint(false))
      core.count()
      (core, peeled.step)
    }
  }

  /**
   * HITS hubs-and-authorities (Kleinberg): power iteration of
   * `a_i(v) = Σ_{u→v} h_{i-1}(u)`, `h_i(u) = Σ_{u→v} a_i(v)`, run
   * UN-normalized and L1-normalized once at the end. Skipping the per-step
   * normalization is what makes the loop a strictly LINEAR lazy chain
   * (each state is referenced exactly once by the next, like the PageRank
   * supersteps) — per-step norms would re-reference every state twice
   * (once for the sum, once for the divide) and force a materialization
   * per half-step. Magnitudes grow like λ_max^i of AᵀA; at float64 range
   * (1e308) that bounds ~150 iterations even on a degree-10^4 graph, far
   * past HITS convergence (~10) — asserted finite at the end.
   *
   * Scale shape: the loop-free edge table ([[edgeTable]]) is the
   * join side of both half-steps, pinned once ([[KernelRun.joinSide]]) by
   * src (the a-step's key and the table's own layout) and by dst (the
   * h-step's); every half-step is one join + one map-side-combined sum
   * keyed on a vertex id. The loop's state is the authority vector, so it
   * enters each superstep once: the start state is a_1 = Aᵀ·1, superstep i
   * takes a_i to a_{i+1} through h_i, and h is the one half-step after the
   * last. Lineage cut every `checkpointEvery` supersteps and at the last.
   * Returns `(id, hub, authority)` unrounded (query faces round).
   */
  def hits(spark: SparkSession, edges: DataFrame, iterations: Int,
           checkpointEvery: Int = 4): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    inRun(spark, "hits", KernelConf) { run =>
      import spark.implicits._
      val e = edgeTable(run, edges)
      require(e.count > 0, "hits: the edge table is empty")
      val eBySrc = run.joinSide(e.table, e.partitions, Seq("src"), Some(e.bySrc))
      val eByDst = run.joinSide(e.table, e.partitions, Seq("dst"))
      val (verts, _) = e.vertices

      // a-step: h flows src→dst (join keyed src, agg keyed dst)
      def authority(h: DataFrame) = verts
        .join(h.select($"id".as("src"), $"h").join(eBySrc, Seq("src"))
          .groupBy($"dst".as("id")).agg(sum($"h").as("s")), Seq("id"), "left")
        .select($"id", coalesce($"s", lit(0.0)).as("a"))
      // h-step: a flows dst→src (join keyed dst, agg keyed src)
      def hub(a: DataFrame) = verts
        .join(a.select($"id".as("dst"), $"a").join(eByDst, Seq("dst"))
          .groupBy($"src".as("id")).agg(sum($"a").as("s")), Seq("id"), "left")
        .select($"id", coalesce($"s", lit(0.0)).as("h"))
      val a = run.loop(iterations - 1, checkpointEvery, e.count, e.partitions,
        _ => authority(verts.withColumn("h", lit(1.0))), a => authority(hub(a))).state
      val h = run.handOff(hub(a).localCheckpoint(true))
      // single L1 normalization at the end; both sums in one tiny job each
      val normA = a.agg(sum($"a")).as[Double].head()
      val normH = h.agg(sum($"h")).as[Double].head()
      require(!normA.isInfinite && !normH.isInfinite,
        s"hits: magnitudes overflowed after $iterations iterations; normalize in blocks")
      require(normA > 0 && normH > 0, "hits: zero total authority/hub mass")
      a.join(h, Seq("id"))
        .select($"id", ($"h" / normH).as("hub"), ($"a" / normA).as("authority"))
    }
  }

  /**
   * Deterministic random-walk corpus generation (the DeepWalk/node2vec
   * input layer): `walksPerVertex` walks of `walkLen` steps from every
   * vertex, step choice CONTENT-ADDRESSED — neighbor index =
   * `md5(seed:walk:step) mod outdeg` over the dst-sorted adjacency — so
   * the same graph yields the identical walk corpus on any cluster size,
   * any engine, any run (the q52 reproducible-sampling property applied
   * to graph traversal; seeded per-partition RNGs are none of those).
   * Walks stop early at a vertex with no out-edges.
   *
   * Scale shape: the positional adjacency `(src, idx, dst)` is built once
   * over the loop-free edges' src layout ([[edgeTable]]: one
   * windowed sort per src partition, no exchange); each step is then two
   * joins keyed on the CURRENT vertex id (degree lookup + positional
   * lookup), emitting one row per live walk. Hub vertices hold many walks
   * at once but each walk is one probe row — fan-IN, not fan-out. Steps
   * materialize per level as kept rows handed to the result, not
   * registered in the session's cache. Every level is part of the result,
   * so the walk keeps a loop of its own: on [[KernelRun.loop]] a step's
   * state would have to carry every level before it, so each step would
   * rewrite the whole walk table, O(walkLen²) rows. Returns
   * `(seed, walk, step, vertex)`.
   */
  def randomWalks(spark: SparkSession, edges: DataFrame, walkLen: Int,
                  walksPerVertex: Int = 1): DataFrame = {
    require(walkLen >= 1 && walksPerVertex >= 1,
      "walkLen and walksPerVertex must be >= 1")
    inRun(spark, "walks", KernelConf) { run =>
      import spark.implicits._
      val e = edgeTable(run, edges).bySrc
      val w = Window.partitionBy($"src").orderBy($"dst")
      val adj = run.cache(e.select($"src", $"dst", (row_number().over(w) - 1).cast("long").as("idx")))
      val deg = run.cache(e.groupBy($"src").agg(count(lit(1)).as("outdeg")))
      adj.count(); deg.count()

      val verts = e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct()
      val start = run.handOff(verts
        .crossJoin(spark.range(walksPerVertex.toLong).select($"id".cast("int").as("walk")))
        .select($"id".as("seed"), $"walk", lit(0).as("step"), $"id".as("vertex"))
        .localCheckpoint(false))
      start.count()

      def stepHash(seed: Column, walk: Column, step: Int): Column =
        conv(substring(md5(concat(seed.cast("string"), lit(":"),
          walk.cast("string"), lit(":"), lit(step.toString)).cast("binary")), 1, 15), 16, 10)
          .cast("long")

      val levels = scala.collection.mutable.ArrayBuffer[DataFrame](start)
      var cur = start
      var t = 1
      var drained = false
      while (t <= walkLen && !drained) {
        val next = run.handOff(cur.select($"seed", $"walk", $"vertex".as("src"))
          .join(deg, Seq("src"))
          .withColumn("idx", pmod(stepHash($"seed", $"walk", t), $"outdeg"))
          .join(adj, Seq("src", "idx"))
          .select($"seed", $"walk", lit(t).as("step"), $"dst".as("vertex"))
          .localCheckpoint(false))
        if (next.count() == 0L) { run.free(next); drained = true }
        else { levels += next; cur = next }
        t += 1
      }
      levels.reduce(_.unionByName(_))
    }
  }

  /**
   * Node similarity (the Neo4j GDS nodeSimilarity shape): neighbor-set
   * Jaccard `|N(u)∩N(v)| / |N(u)∪N(v)|` over UNDIRECTED neighborhoods,
   * for every pair sharing at least `minIntersection` neighbors, keeping
   * pairs with similarity >= `minSimilarity`.
   *
   * Pairs are enumerated through their SHARED neighbors (a self-join of
   * the adjacency on the neighbor id, u < v canonical), so only co-
   * adjacent pairs ever materialize — never the V² cross product. The
   * enumeration fans out quadratically in each neighbor's DEGREE (a hub's
   * neighborhood induces deg² candidate rows), the same shape as the
   * triangle close's wedge step; the intersection count is a combinable
   * agg keyed on the (u, v) pair, and degrees join back on each endpoint.
   * For hub-heavy graphs cap the enumeration upstream (degree threshold)
   * exactly as the LSH paths cap buckets; the q71 face runs uncapped on
   * the mined-shape graph (max degree 42).
   */
  def nodeSimilarity(spark: SparkSession, edges: DataFrame,
                     minIntersection: Int = 1,
                     minSimilarity: Double = 0.0): DataFrame = {
    import spark.implicits._
    // lazy like trianglesPerVertex: every consumer of the und-distinct
    // subtree resolves to one materialized exchange via AQE stage reuse
    // within the single consuming action (q61 evidence), so no persist —
    // and no session-lifetime cache to leak
    val und = undirected(edges)
    // symmetric adjacency: (vertex, neighbor) both directions
    val adj = und.select($"u".as("id"), $"v".as("nb"))
      .union(und.select($"v".as("id"), $"u".as("nb")))
    val deg = adj.groupBy($"id").agg(count(lit(1)).as("deg"))
    // co-neighbor pairs from each shared neighbor, value-canonical u < v
    val a1 = adj.select($"nb", $"id".as("u"))
    val a2 = adj.select($"nb".as("nb2"), $"id".as("v"))
    val inter = a1.join(a2, a1("nb") === a2("nb2") && a1("u") < a2("v"))
      .groupBy($"u", $"v").agg(count(lit(1)).as("common"))
      .filter($"common" >= minIntersection)
    val sim = inter
      .join(deg.select($"id".as("u"), $"deg".as("du")), Seq("u"))
      .join(deg.select($"id".as("v"), $"deg".as("dv")), Seq("v"))
      .select($"u", $"v", $"common",
        ($"common" / ($"du" + $"dv" - $"common")).as("jaccard"))
    val out = if (minSimilarity > 0.0) sim.filter($"jaccard" >= minSimilarity) else sim
    out.select($"u", $"v", $"common", $"jaccard")
  }

  /**
   * Strongly connected components via the distributed coloring algorithm
   * (Orzan): per outer round, (1) TRIM vertices with no live in- or
   * out-edges as singleton SCCs, (2) propagate the max-ancestor color
   * forward to fixpoint, (3) collect each color root's SCC by backward
   * reachability INSIDE its color class (on-path vertices provably share
   * the root's color), then peel the assigned vertices and repeat. Labels
   * are canonicalized to the MIN member id at the end (engine-neutral).
   *
   * Scale notes: every phase is a vertex-keyed join/aggregation over the
   * live edge set, which only SHRINKS; trim drains the DAG tail en masse
   * (on dependency-graph shapes most vertices leave through trim, not
   * coloring). Inner loops materialize per round with lineage cuts — the
   * CC lesson: star/propagation rounds reference their input more than
   * once, so lazy chaining re-executes. The color and backward loops run
   * on [[KernelRun.loop]] without `chain` (each state cut lazily, its count
   * the iteration's one action), joining edge sides pinned once per outer
   * round ([[KernelRun.joinSide]]). The outer and trim loops stay
   * hand-written until the trim is rewritten: a trim round peels the edge
   * and vertex tables together and appends to the assigned parts, state
   * the loop's single frame does not carry. Outer rounds are bounded by the
   * condensation's longest root-blocked chain; real link graphs peel in a
   * handful because every color class with its root inside resolves each
   * round. Cycle detection (`scc size > 1`) is the dependency-graph use
   * case this serves. The result is kept rows, materialized once and
   * handed to the caller; the run frees every intermediate table, on
   * success and on failure.
   */
  /** Per-phase iteration counts of an SCC run (probe/evidence surface). */
  final case class SccStats(outerRounds: Int, trimRounds: Int, colorIters: Int,
                            backIters: Int, trimmedVerts: Long, coloredVerts: Long)

  def stronglyConnectedComponents(spark: SparkSession, edges: DataFrame,
                                  maxOuter: Int = 100,
                                  maxColorIters: Int = 500): DataFrame =
    sccResult(spark, edges, maxOuter, maxColorIters)._1

  def sccResult(spark: SparkSession, edges: DataFrame,
                maxOuter: Int = 100,
                maxColorIters: Int = 500): (DataFrame, SccStats) = {
    import spark.implicits._
    var trimRounds = 0; var colorIters = 0; var backIters = 0
    var trimmedVerts = 0L; var coloredVerts = 0L
    inRun(spark, "scc", KernelConf) { run =>
      val table = edgeTable(run, edges)
      val p = table.partitions
      // the live edges by src; a superseded set is freed once the next is built
      var e = table.bySrc
      def peelEdges(next: DataFrame): Unit = {
        val built = run.own(next.select($"src", $"dst").repartition(p, $"src").localCheckpoint(true))
        run.free(e)
        e = built
      }
      var (verts, nv) = table.vertices
      val assignedParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
      var outer = 0
      while (nv > 0 && outer < maxOuter) {
        // (1) trim TO FIXPOINT: no live out-edges OR no live in-edges ->
        // singleton SCC. On dependency-graph shapes the overwhelming
        // majority of vertices leave here (sf0.01 face: 23,516
        // of 23,808 through 10 trim rounds; coloring then touches 292),
        // so iterating the cheap trim before any coloring collapses the
        // expensive phase onto the small cyclic core — 33 s vs ~8 min
        // with one-trim-per-outer-round, measured.
        //
        // Round shape (r6): ONE endpoint-tag aggregation decides the whole
        // round — a vertex SURVIVES iff it has both a live out-edge and a
        // live in-edge; everything else in `verts` (including vertices the
        // previous peel left edge-less) is a singleton SCC. The survivor
        // table IS the next vertex set (endpoints of e are always a subset
        // of verts) and the trimmed part is a lazy anti-join of two
        // checkpointed frames, scanned once in the final assemble. The
        // src-side peel join rides e's hash(src) layout exchange-free.
        // (A driver-known-size broadcast peel was tried here and REJECTED:
        // two per-round broadcast builds added ~0.3 s/round of driver
        // latency at probe scale, and the rounds small enough to qualify
        // are the cheap tail anyway — guide §1.1's empirical loop.)
        var trimming = true
        while (trimming && nv > 0) {
          val survPlan = e.select($"src".as("id"), lit(1).as("o"), lit(0).as("i"))
            .union(e.select($"dst".as("id"), lit(0).as("o"), lit(1).as("i")))
            .groupBy($"id").agg(max($"o").as("o"), max($"i").as("i"))
            .filter($"o" === 1 && $"i" === 1)
            .select($"id")
          run.explain("trim round", survPlan)
          val surv = run.own(survPlan.localCheckpoint(true))
          val nSurv = surv.count()
          val nTrim = nv - nSurv
          if (nTrim == 0) trimming = false
          else {
            trimRounds += 1; trimmedVerts += nTrim
            assignedParts += verts.join(surv, Seq("id"), "left_anti")
              .select($"id", $"id".as("scc"))
            verts = surv
            nv = nSurv
            peelEdges(e.join(surv.select($"id".as("src")), Seq("src"), "left_semi")
              .join(surv.select($"id".as("dst")), Seq("dst"), "left_semi"))
          }
        }
        if (nv > 0) {
          val colorSide = run.joinSide(e, p, Seq("src"), Some(e))
          val backSide = run.joinSide(e, p, Seq("dst"))
          // (2) forward max-ancestor coloring to fixpoint; a state row is
          // (id, color, whether the step that made it raised the color)
          def color(c: DataFrame) = {
            val contrib = c.select($"id".as("src"), $"color")
              .join(colorSide, Seq("src"))
              .groupBy($"dst".as("id")).agg(max($"color").as("mc"))
            c.join(contrib, Seq("id"), "left")
              .select($"id",
                greatest($"color", coalesce($"mc", $"color")).as("color"),
                (coalesce($"mc", $"color") > $"color").as("ch"))
          }
          var changed = 0L
          val colored = run.loop(maxColorIters, 1, table.count, p,
            _ => verts.select($"id", $"id".as("color"), lit(true).as("ch")).localCheckpoint(false), color,
            (_, c) => { changed = keptRows(c).get.filter(_.getBoolean(2)).count(); changed == 0 }, chain = false)
          val colors = run.own(colored.state).select($"id", $"color")
          colorIters += colored.step
          require(changed == 0, s"scc: color propagation did not converge in $maxColorIters rounds")
          // (3) backward collection inside color classes, from the roots.
          // The state is the cumulative member table, each row tagged with
          // the step that reached it, so a step expands the last step's
          // rows (coalesced as BFS's); the loop ends at the first step that
          // reaches no vertex.
          var k = 0
          def collect(m: DataFrame) = {
            k += 1
            m.union(m.filter($"it" === k - 1).select($"id".as("dst"), $"scc")
              .join(backSide, Seq("dst"))
              .select($"src".as("id"), $"scc").distinct()
              .join(colors, Seq("id"))
              .filter($"color" === $"scc")
              .select($"id", $"scc")
              .join(m, Seq("id"), "left_anti")
              .withColumn("it", lit(k))).coalesce(p)
          }
          val reached = new SameCount
          val collected = run.loop(Int.MaxValue, 1, table.count, p,
            _ => colors.filter($"id" === $"color").select($"id", $"color".as("scc"), lit(0).as("it"))
              .localCheckpoint(false), collect, reached, chain = false)
          val members = run.own(collected.state).select($"id", $"scc")
          backIters += collected.step - 1
          coloredVerts += reached.rows
          assignedParts += members
          verts = run.own(verts.join(members, Seq("id"), "left_anti").localCheckpoint(true))
          nv -= reached.rows // members is a subset of verts and distinct
          peelEdges(e.join(members.select($"id".as("src")), Seq("src"), "left_anti")
            .join(members.select($"id".as("dst")), Seq("dst"), "left_anti"))
          Seq(colorSide, backSide).foreach(_.unpersist(false))
        }
        outer += 1
      }
      require(nv == 0, s"scc: did not peel the graph in $maxOuter outer rounds")
      val stats = SccStats(outer, trimRounds, colorIters, backIters, trimmedVerts, coloredVerts)
      // empty edge table (or self-loops only): no vertices, empty result
      if (assignedParts.isEmpty) (Seq.empty[(Long, Long)].toDF("id", "scc"), stats)
      else {
        // canonicalize: min member id per component
        val assigned = assignedParts.reduce(_.unionByName(_))
        val relabel = assigned.groupBy($"scc").agg(min($"id").as("mid"))
        (run.handOff(assigned.join(relabel, Seq("scc")).select($"id", $"mid".as("scc")).localCheckpoint(true)), stats)
      }
    }
  }

  /**
   * Bipartite co-occurrence projection: from `(groupCol, itemCol)`
   * membership rows, build the item-item graph where an edge `(a < b,
   * cooc)` counts the groups containing BOTH items, kept at
   * `cooc >= minSupport`. This is how co-dependency / co-purchase graphs
   * are CONSTRUCTED from raw fact tables (the input layer for the §2.9
   * kernels).
   *
   * Shape: dedup membership, then a self-join keyed on the GROUP id — the
   * same wedge step as the triangle close, fanning out quadratically in a
   * group's SIZE, never in the item count — and one combinable count agg
   * keyed on the (a, b) pair. Mega-groups (a group containing half the
   * catalog) are the skew risk at 100 TB: `maxGroupSize` drops them with
   * a logged count, the capBuckets discipline from the LSH paths (a
   * group that large carries no co-occurrence signal anyway).
   */
  def coOccurrenceProjection(spark: SparkSession, facts: DataFrame,
                             groupCol: String, itemCol: String,
                             minSupport: Long = 1L,
                             maxGroupSize: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val m = facts.select(col(groupCol).cast("long").as("g"), col(itemCol).cast("long").as("item"))
      .distinct()
    // uncapped default: no group-size aggregation, no semi-join — the cap
    // machinery only enters the plan when a cap is actually set
    val kept = if (maxGroupSize == Int.MaxValue) m else {
      val sized = m.groupBy($"g").agg(count(lit(1)).as("sz"))
      // logged drops, the capBuckets discipline: silent truncation reads
      // as "covered everything" when it didn't
      val over = sized.filter($"sz" > maxGroupSize)
        .agg(count(lit(1)).as("n"), max($"sz").as("largest")).first()
      if (over.getLong(0) > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"coOccurrenceProjection: dropping ${over.getLong(0)} groups over " +
            s"maxGroupSize=$maxGroupSize items (largest ${over.get(1)})")
      m.join(sized.filter($"sz" <= maxGroupSize).select($"g"), Seq("g"), "left_semi")
    }
    val a1 = kept.select($"g", $"item".as("a"))
    val a2 = kept.select($"g".as("g2"), $"item".as("b"))
    a1.join(a2, a1("g") === a2("g2") && a1("a") < a2("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("cooc"))
      .filter($"cooc" >= minSupport)
  }

  /** In/out degree per vertex of a directed edge table. ONE exchange
    * (guide §2.4): tagging each endpoint occurrence and summing both tags in
    * a single map-side-combined aggregation replaces the former
    * two-aggregations-plus-full-outer-join shape (3 exchanges). A vertex
    * missing on one side sums that tag's zeros — identical to the old
    * coalesce(.., 0). */
  def degrees(edges: DataFrame): DataFrame = {
    edges.select(col("src").as("id"), lit(1L).as("o"), lit(0L).as("i"))
      .union(edges.select(col("dst").as("id"), lit(0L).as("o"), lit(1L).as("i")))
      .groupBy(col("id"))
      .agg(sum(col("o")).as("outDegree"), sum(col("i")).as("inDegree"))
  }
}
