package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel
import graft.util.{BoundedCollect, CodegenPolicy, Fs}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.Bridge

/** Per-superstep lineage/metrics row (north_rule: "checkpointed every k
  * supersteps with per-partition lineage and metrics").
  *
  * Block attribution: supersteps between checkpoint boundaries chain lazily,
  * so a non-boundary row's `millis` measures only driver-side plan
  * construction (~ms) while the boundary row (`boundary=true`) absorbs its
  * whole block's execution. Per-row times are therefore meaningful only at
  * boundaries; their SUM over a run is always the true loop time. */
final case class SuperstepMetric(kernel: String, superstep: Int, millis: Long,
                                 edgesScanned: Long, partitions: Int, maxDelta: Double,
                                 boundary: Boolean = true)

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
 *  - AQE handles residual skew; triangle counting uses degree-ordered
 *    orientation so hub vertices don't quadratically explode wedges.
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
    * [[CodegenPolicy]], and caches nothing: a later read of it re-reads the
    * sorted ids from the sort's shuffle output. */
  def indexEdges(spark: SparkSession, edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, DataFrame) =
    CodegenPolicy(spark) {
      val dict = vertexDictionary(spark, edges.select(explode(array(col(srcCol), col(dstCol))).as("v")))
      val (s, d) = (dict.as("s"), dict.as("d"))
      val e = edges
        .join(s, edges(srcCol) === col("s.vid"))
        .join(d, edges(dstCol) === col("d.vid"))
        .select(col("s.id").as("src"), col("d.id").as("dst"))
      (e, dict)
    }

  // ------------------------------------------------------------------ PageRank

  final case class PageRankResult(ranks: DataFrame, metrics: Seq[SuperstepMetric], supersteps: Int)

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
   *          S->S weight |D|*d/n;
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
    inRun(spark, "pagerank", checkpointDir, stopFlag, stopAfterMs, stopSeqSeen) { run =>
    import spark.implicits._

    // Sentinel id for the dangling supernode (below any dense vertex id).
    val Sent = Long.MinValue

    // The edge table, read from the source once. It is laid out at the
    // configured width: the kernel's own width is sized from the edge count,
    // which the vertex statistics below deliver.
    run.width(run.confWidth)
    val e = run.cache((weightCol match {
      // weighted arm: transition probability becomes wt/sum(wt) per src —
      // duplicate (src, dst) rows are MULTI-EDGES and sum their weight
      case Some(wc) => edges.select($"src".cast("long"), $"dst".cast("long"),
        col(wc).cast("double").as("wt"))
      case None => edges.select($"src".cast("long"), $"dst".cast("long"))
    }).repartition(run.confWidth, $"src"))

    // ONE aggregation over both endpoints gives every vertex with its
    // out-degree (0 = dangling) and, weighted, its out-weight: the vertex
    // set, the transition normalizer, the dangling set and the hub fan-out
    // widths all read this table.
    val isSrc = $"pos" === 0
    val ends = e.select(Seq(posexplode(array($"src", $"dst")).as(Seq("pos", "id"))) ++
      weightCol.map(_ => $"wt"): _*)
    val vdeg = run.cache(weightCol match {
      case Some(_) => ends.groupBy($"id").agg(sum(when(isSrc, 1L).otherwise(0L)).as("outDeg"),
        sum(when(isSrc, $"wt")).as("wsum"))
      case None => ends.groupBy($"id").agg(sum(when(isSrc, 1L).otherwise(0L)).as("outDeg"))
    })
    val vertices = vdeg.select($"id")
    // ONE job — which also materializes the edge cache — for the vertex
    // count, the reserved-id guard, the edge count (the sum of out-degrees),
    // |{v : outDeg > 0}| (⇒ |D| = n − it) and the largest out-degree (are
    // there real hubs). Long.MinValue is the dangling supernode's sentinel
    // id; a caller graph containing it as a REAL vertex would silently merge
    // with the supernode and corrupt every rank.
    val vStats = vdeg.agg(count(lit(1)), max($"id" === Sent), sum($"outDeg"),
      sum(when($"outDeg" > 0, 1L).otherwise(0L)), max($"outDeg")).first()
    val n = vStats.getLong(0)
    // degenerate-input guard: an empty edge table would otherwise seed every
    // rank with 1.0/0 = Infinity/NaN — fail with a clear error instead
    require(n > 0, "pageRank: the edge table is empty (no vertices)")
    if (redistributeDangling)
      require(vStats.isNullAt(1) || !vStats.getBoolean(1),
        s"pageRank(redistributeDangling=true) reserves vertex id ${Sent} " +
          "for the dangling supernode; the input graph contains it")
    val edgeCount = vStats.getLong(2)
    val nSrc = vStats.getLong(3)
    val shufflePartitions = kernelPartitions(run.confWidth, edgeCount)
    // every aggregation exchange in the loop must match the static
    // edge/state layout's width, or EnsureRequirements inserts an extra
    // per-superstep exchange to reconcile the two (measured on the 48k-edge
    // mined graph: agg at 32 vs layout at 8)
    run.width(shufflePartitions)
    val hubThreshold = math.max(1000L, edgeCount / shufflePartitions / 4)
    val haveRealHubs = vStats.getLong(4) > hubThreshold

    // Personalized restart: the (1-d) teleport mass concentrates on a seed
    // set (uniform over the seeds present in the graph) instead of 1/n
    // everywhere — random-walk-with-restart relevance from the seeds. The
    // dangling-supernode construction lumps dangling mass back UNIFORMLY,
    // which is the wrong restart distribution for PPR, so the two are
    // mutually exclusive here (dangling walkers simply evaporate, the
    // redistributeDangling=false semantic).
    require(restart.isEmpty || !redistributeDangling,
      "personalized restart requires redistributeDangling=false")
    val pFrame = restart.map { s =>
      val sv = run.cache(s.select(col("id").cast("long").as("id")).distinct()
        .join(vertices, Seq("id"), "left_semi"))
      val ns = sv.count()
      require(ns > 0, "pageRank restart: no seed id is present in the graph")
      sv.withColumn("p", lit(1.0 / ns))
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
    // and the state side replicates only hub rows. Hub degrees come
    // straight from the degree table, so every edge carries its src's nsalt
    // out of the join that gives it its weight; the sentinel's out-degree
    // is ~|V|, bounded above by n.
    val nsalt = when($"outDeg" > hubThreshold, least(lit(shufflePartitions.toLong),
      ($"outDeg" / hubThreshold) + 1L).cast("int")).otherwise(1)
    val sentSalt = math.min(shufflePartitions.toLong, n / hubThreshold + 1L).toInt
    val haveHubs = haveRealHubs || (redistributeDangling && sentSalt > 1)
    def withSalt(cols: Column*)(nsaltCol: Column): Seq[Column] =
      if (haveHubs) cols :+ nsaltCol.as("nsalt") else cols

    if (weightCol.isDefined) {
      // zero/negative/NULL weights would silently corrupt the distribution
      // (wsum<=0 divides to Inf/negative mass; NULL rows drop their edge's
      // mass from both w and wsum) — fail with a clear error. min() skips
      // NULLs, so count them explicitly in the same job.
      val wRow = e.agg(min($"wt"), sum(when($"wt".isNull, 1L).otherwise(0L))).first()
      val nNull = wRow.getLong(1)
      require(nNull == 0, s"pageRank(weightCol): $nNull edges have NULL weight")
      require(!wRow.isNullAt(0) && wRow.getDouble(0) > 0,
        s"pageRank(weightCol): weights must be > 0, found ${wRow.get(0)}")
    }
    // Static weighted transition edges E' (see Scaladoc): built once,
    // hash-partitioned by src once, reused by every superstep's join. The
    // inner join keeps exactly the vertices with out-edges.
    val w = weightCol.fold(lit(1.0) / $"outDeg")(_ => $"wt" / $"wsum")
    val realEdges = e.join(vdeg.withColumnRenamed("id", "src"), Seq("src"))
      .select(withSalt($"src", $"dst", w.as("w"))(nsalt): _*)
    val eW = (if (!redistributeDangling) realEdges else {
      val wIn = realEdges.groupBy($"dst").agg(sum($"w").as("win"))
      val sentinelOut = wIn.select(withSalt(lit(Sent).as("src"), $"dst",
        (lit(damping) * $"win").as("w"))(lit(sentSalt)): _*)
      val nDangling = n - nSrc
      val toSent = vdeg.filter($"outDeg" === 0)
        .select(withSalt($"id".as("src"), lit(Sent).as("dst"), lit(1.0 / n).as("w"))(lit(1)): _*)
      val selfSent = Seq((Sent, Sent, damping * nDangling.toDouble / n, sentSalt))
        .toDF("src", "dst", "w", "nsalt").select(withSalt($"src", $"dst", $"w")($"nsalt"): _*)
      realEdges.unionByName(sentinelOut).unionByName(toSent).unionByName(selfSent)
    })

    // CSR-style adjacency: partitions hash-bucketed by (src[, salt]) and
    // SORTED once at build time. The cached sort order survives in
    // InMemoryTableScan, so each superstep's sort-merge join re-sorts only
    // the (|V|-sized) state side, never the edge table. Columnar persist
    // (not localCheckpoint — a row-format RDD scan of the edge leaf was
    // measured ~1 s/block slower at sf0.1); the LINEAGE under this cache is
    // kept small by the caller-side checkpoint of mined inputs
    // (Queries.indexedPpEdges), so per-superstep analysis stays O(k).
    // Hub-free graphs skip the salt machinery entirely (no generator in the
    // hot path). The salt is never NULL (nsalt >= 1), and saying so keeps
    // a NULL filter off the table's side of every superstep's join.
    val eWS = run.cache(if (!haveHubs) eW.withColumn("salt", lit(0))
      .repartition(shufflePartitions, $"src")
      .sortWithinPartitions($"src")
    else eW.select($"src", $"dst", $"w", notNull(pmod(hash($"dst"), $"nsalt")).as("salt"))
      .repartition(shufflePartitions, $"src", $"salt")
      .sortWithinPartitions($"src", $"salt"))
    // Built before the loop, so its real size is known: every superstep
    // joins it the same way, broadcast when it fits the session's broadcast
    // threshold and left to the planner's sort-merge join otherwise. Left to
    // per-superstep estimates, the first superstep of a block broadcast
    // whichever side looked smaller and planned different code.
    eWS.count()
    val eSide =
      if (eWS.queryExecution.optimizedPlan.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold)
        broadcast(eWS)
      else eWS

    // Every id that owns a state row each superstep (sentinel included).
    // With a personalized restart the frame also carries p (the per-vertex
    // teleport mass, 0 off-seed) so each superstep's update reads it from
    // this static sorted leaf — no extra join in the loop. On hubby graphs
    // it ALSO carries nsalt (the hub fan-out width, 1 for non-hubs): the
    // state inherits it through each superstep's update, so the loop's hub
    // fan-out is a plain generator over a state column — the former
    // per-superstep broadcast(hubs) join + hint grew the chained plan's
    // analysis cost superlinearly (measured 144→438 ms of pure driver time
    // per lazily-chained superstep on the mined graph, vs 16-26 ms hub-free).
    val (ids, sentRow) =
      if (!haveHubs) (vertices, Seq(Sent).toDF("id"))
      else (vdeg.select($"id", nsalt.as("nsalt")), Seq((Sent, sentSalt)).toDF("id", "nsalt"))
    val allIdsBase = if (redistributeDangling) ids.unionByName(sentRow) else ids
    val allIds = run.cache((pFrame match {
      case Some(p) => allIdsBase.join(p, Seq("id"), "left")
        .withColumn("p", coalesce($"p", lit(0.0)))
      case None => allIdsBase
    }).repartition(shufflePartitions, $"id")
      .sortWithinPartitions($"id"))
    // no count action: the state-init localCheckpoint below scans every
    // allIds partition and materializes this cache in the same job

    // State: x(v) per vertex plus x(Sent) = m; rank_t = x_t + d*m_t.
    // Checkpoints carry column "x" (sentinel row included) and may also
    // carry nsalt, which a resumed run drops and re-derives.
    val resumed = run.restorePoint(iterations)
    var state = (resumed match {
      case Some((_, s)) =>
        if (!haveHubs) s.select($"id", $"x")
        else s.select($"id", $"x").join(allIds.select($"id", $"nsalt"), Seq("id"))
      case None => pFrame match {
        // PPR starts AT the restart distribution (the walk's stationary
        // point under d=0); uniform starts at 1/n as before
        case Some(_) =>
          if (haveHubs) allIds.select($"id", $"p".as("x"), $"nsalt")
          else allIds.select($"id", $"p".as("x"))
        case None =>
          val x0 = when($"id" === Sent, lit(0.0)).otherwise(lit(1.0 / n))
          if (haveHubs) allIds.select($"id", x0.as("x"), $"nsalt")
          else allIds.select($"id", x0.as("x"))
      }
    }).repartition(shufflePartitions, $"id")
      .localCheckpoint(true)
    var prevBoundary = state

    val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetric]
    val edgePartitions = eWS.rdd.getNumPartitions
    var step = resumed.fold(0)(_._1)
    var converged = false

    // Block width stays at checkpointEvery even when no tol/checkpoint/stop
    // is requested: running q14's 8 (or q36's 10) supersteps as ONE deep job
    // was MEASURED ~10% slower than 5-step blocks (3 runs each) — the
    // mid-chain materialization buys better stage scheduling than the
    // saved job costs.
    while (step < iterations && !converged) {
      val t0 = System.nanoTime()
      // One join + one aggregation; supersteps between checkpoint boundaries
      // chain LAZILY (no localCheckpoint, no toRdd, no action — each of
      // those costs 0.3-1.3s of serial driver time per superstep, measured).
      // The chain is strictly linear: state enters exactly once, so a k-step
      // block is a size-O(k) logical plan that Catalyst analyzes once, and
      // the boundary's eager localCheckpoint runs it as ONE job while still
      // guarding the cross-block lineage blowup fixed in 8d12bfb.
      // Hub rows fan out to their nsalt sub-keys (non-hubs emit salt 0 only);
      // nsalt is a STATE column (inherited from the allIds leaf), so the
      // fan-out is a plain generator — no per-superstep broadcast join, the
      // chain stays linear and its plans stay O(k).
      val salted =
        if (!haveHubs) state.select($"id".as("src"), $"x")
        else state.select($"id".as("src"), $"x",
          explode(sequence(lit(0), $"nsalt" - 1)).as("salt"))
      val agg = salted
        .join(eSide, if (haveHubs) Seq("src", "salt") else Seq("src"))
        .select($"dst".as("id"), ($"x" * $"w").as("c"))
        .groupBy($"id").agg(sum($"c").as("c"))
      step += 1
      val atCheckpoint = step % checkpointEvery == 0 || step == iterations
      // restart term: uniform keeps the EXACT op sequence rounds 1-4 shipped
      // ((1-d)/n as one literal); personalized reads p off the allIds leaf
      val restartTerm = pFrame match {
        case Some(_) => lit(1.0 - damping) * $"p"
        case None    => lit((1.0 - damping) / n)
      }
      val xNext = when($"id" === Sent, coalesce($"c", lit(0.0)))
        .otherwise(restartTerm + lit(damping) * coalesce($"c", lit(0.0)))
        .as("x")
      val chained = allIds
        .join(agg, Seq("id"), "left")
        .select(Seq($"id", xNext) ++ (if (haveHubs) Seq($"nsalt") else Nil): _*)
      if (atCheckpoint) run.explain("boundary block", chained)
      val newState = if (atCheckpoint) chained.localCheckpoint(true) else chained
      var maxDelta = Double.NaN
      if (atCheckpoint) {
        if (tol > 0) {
          // conservative bound across the whole block: max|Δrank| <= max|Δx| + d*|Δm|
          val d = newState.join(prevBoundary.withColumnRenamed("x", "px"), Seq("id"))
            .agg(max(when($"id" =!= Sent, abs($"x" - $"px"))).as("dx"),
              max(when($"id" === Sent, abs($"x" - $"px"))).as("dm"))
            .first()
          // max() over zero matching rows is null — treat as a zero delta
          // (e.g. a sentinel-free graph has no id===Sent rows)
          val dx = if (d.isNullAt(0)) 0.0 else d.getDouble(0)
          val dm = if (d.isNullAt(1)) 0.0 else d.getDouble(1)
          maxDelta = dx + (if (redistributeDangling) damping * dm else 0.0)
          if (maxDelta < tol) converged = true
        }
        prevBoundary = newState
        if (run.boundary(step, newState)) converged = true
      }
      state = newState
      metrics += SuperstepMetric("pagerank", step, (System.nanoTime() - t0) / 1000000L,
        edgeCount, edgePartitions, maxDelta, boundary = atCheckpoint)
    }

    // rank = x + d*m; m is the materialized final state's sentinel row,
    // joined onto every real row when the ranks are read (no job here)
    val ranks =
      if (!redistributeDangling) state.select($"id", $"x".as("rank"))
      else state.filter($"id" =!= Sent)
        .crossJoin(broadcast(state.filter($"id" === Sent).select($"x".as("m"))))
        .select($"id", ($"x" + lit(damping) * $"m").as("rank"))
    PageRankResult(ranks, metrics.toSeq, step)
  }

  /** `c`, declared never NULL, for a column the kernel knows holds no NULL:
    * plans then carry no NULL checks or inferred NULL filters for it. */
  private def notNull(c: Column): Column = Bridge.column(KnownNotNull(Bridge.expression(c)))

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
    math.min(conf.toLong, math.max(8L, edgeCount / 150000L + 1L)).toInt

  /** Monotonic sequence number recorded in a STOP marker payload
    * (`"<epochMs> seq=<n>"`), if present. Kernel launchers capture it at
    * command entry; a later marker is then honored iff its seq is HIGHER —
    * a pure counter comparison with no wall-clock in it, which closes the
    * residual both-clocks-behind case of the timestamp watermark. */
  def stopMarkerSeq(spark: SparkSession, path: String): Option[Long] =
    Fs.read(spark, path).flatMap(parseMarkerSeq)

  private def parseMarkerSeq(payload: String): Option[Long] =
    payload.trim.split("\\s+").collectFirst { case t if t.startsWith("seq=") => t.drop(4) }
      .flatMap(t => scala.util.Try(t.toLong).toOption)

  /** True iff `path` exists and records a STOP request newer than the
    * launch watermark. Two freshness channels, most-robust first:
    *
    *  1. SEQUENCE: if the payload carries `seq=<n>` AND the launcher
    *     captured the seq it saw at entry (`seqSeen >= 0`), the stop is
    *     honored iff `n > seqSeen` — a monotonic counter comparison with no
    *     clock dependency at all (closes the both-clocks-behind residual of
    *     the timestamp scheme).
    *  2. TIMESTAMP (fallback for seq-less markers or legacy callers):
    *     freshness is the MAX of the payload timestamp (epoch-ms or ISO
    *     instant, written by the stopping node) and the FS mtime — the max
    *     means a stop survives EITHER a coarse/fileserver-stamped mtime
    *     (payload rescues it) or a lagging stopping-node clock (mtime
    *     rescues it).
    *
    * Any races with a concurrent marker delete (exists/read/stat TOCTOU)
    * read as "no stop" — a vanished marker means the request was withdrawn,
    * never a crash. */
  private def fsModifiedSince(spark: SparkSession, path: String, sinceMs: Long,
                              seqSeen: Long = -1L): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && {
        val payload = Fs.read(spark, path).map(_.trim)
        payload.flatMap(parseMarkerSeq) match {
          case Some(seq) if seqSeen >= 0L => seq > seqSeen
          case _ =>
            val payloadMs = payload.flatMap { s =>
              val head = s.split("\\s+").headOption.getOrElse(s)
              scala.util.Try(head.toLong).toOption
                .orElse(scala.util.Try(java.time.Instant.parse(head).toEpochMilli).toOption)
            }
            math.max(payloadMs.getOrElse(Long.MinValue),
              fs.getFileStatus(p).getModificationTime) >= sinceMs
        }
      }
    } catch { case _: java.io.IOException => false }

  /** Latest checkpointed superstep in `dir` for `kernel`, if any. */
  def latestCheckpoint(spark: SparkSession, dir: String, kernel: String = "pagerank"): Option[Int] =
    Fs.read(spark, s"$dir/$kernel/LATEST").map(_.trim.toInt)

  private def writeCheckpoint(spark: SparkSession, dir: String, kernel: String,
                              step: Int, state: DataFrame): Unit = {
    val path = s"$dir/$kernel/superstep=$step"
    state.write.mode("overwrite").parquet(path)
    val rows = state.count()
    val manifest =
      s"""{"kernel": "$kernel", "superstep": $step, "rows": $rows, "partitions": ${state.rdd.getNumPartitions}}"""
    Fs.write(spark, s"$dir/$kernel/MANIFEST-$step.json", manifest)
    Fs.write(spark, s"$dir/$kernel/LATEST", step.toString)
  }

  // ------------------------------------------------------------ run scope

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val WidthKey = "spark.sql.shuffle.partitions"

  /** The configured shuffle width that kernels size themselves against. */
  private def confPartitions(spark: SparkSession): Int = spark.conf.get(WidthKey, "32").toInt

  /**
   * One iterative-kernel run: the session conf it changes and the frames it
   * caches, restored and released in ONE place. Opening the scope saves
   * four keys and sets three of them:
   *  - AQE off: AQE re-plans every superstep, and its partition coalescing
   *    breaks the co-partitioning reuse between the state and the static
   *    edge layout (measured 3x slower with it on);
   *  - the two keys of [[CodegenPolicy]]: with stage ids in class names one
   *    `kernels` benchmark cycle needed about 360 codegen cache entries, so
   *    every cycle recompiled all of them and ran freshly loaded,
   *    still-interpreted classes.
   * The kernel sets its shuffle width through [[width]]. Closing restores
   * all four keys and unpersists every frame registered through [[cache]],
   * on success and on failure alike; a frame the returned result still
   * reads is persisted outside the scope instead.
   *
   * The resumable kernels (PageRank, CC, LP) also take their checkpoint and
   * STOP-marker settings from the scope: [[restorePoint]] is where a run
   * continues from, [[boundary]] is their shared checkpoint-then-stop step.
   */
  private final class KernelRun(spark: SparkSession, kernel: String,
                                checkpointDir: Option[String], stopFlag: Option[String],
                                stopAfterMs: Long, stopSeqSeen: Long) {
    private val restoreConf = CodegenPolicy.save(spark, Seq(AqeKey, WidthKey) ++ CodegenPolicy.Keys)
    private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val confWidth: Int = confPartitions(spark)
    (AqeKey +: CodegenPolicy.Keys).foreach(spark.conf.set(_, "false"))

    /** Kernel-internal shuffle width for every exchange the loop plans. */
    def width(p: Int): Unit = spark.conf.set(WidthKey, p.toLong)

    /** Persist `df` until the run ends. */
    def cache(df: DataFrame): DataFrame = {
      frames += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** The latest checkpoint in `checkpointDir` at a step <= `target`. */
    def restorePoint(target: Int): Option[(Int, DataFrame)] =
      for (dir <- checkpointDir; step <- latestCheckpoint(spark, dir, kernel) if step <= target)
        yield (step, spark.read.parquet(s"$dir/$kernel/superstep=$step"))

    private var explained = false

    /** With `GRAFT_KERNEL_EXPLAIN` set, prints the formatted physical plan of
      * the first frame passed here — each kernel passes its boundary block
      * or round — to stderr: the shape the kernel really executes, dumped
      * from inside it without touching the hot path. Later calls print
      * nothing. */
    def explain(what: String, df: DataFrame): Unit =
      if (!explained && sys.env.contains("GRAFT_KERNEL_EXPLAIN")) {
        explained = true
        Console.err.println(s"=== $kernel $what plan ===\n" +
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      }

    /** Checkpoint `state` (when a dir is set), then report whether a STOP
      * marker asks the run to end at this boundary — the reference's `stop`
      * (Task.java:207-217) as a cooperative cancel that leaves the run
      * resumable from any node sharing the FS; markers older than the
      * caller's watermark are stale and ignored. */
    def boundary(step: Int, state: DataFrame): Boolean = {
      checkpointDir.foreach(dir => writeCheckpoint(spark, dir, kernel, step, state))
      stopFlag.exists(f => fsModifiedSince(spark, f, stopAfterMs, stopSeqSeen))
    }

    def close(): Unit = {
      // newest first: uncaching a frame re-plans every still-registered,
      // never-built cache derived from it
      frames.reverseIterator.foreach(_.unpersist(false))
      restoreConf()
    }
  }

  private def inRun[T](spark: SparkSession, kernel: String,
                       checkpointDir: Option[String] = None, stopFlag: Option[String] = None,
                       stopAfterMs: Long = 0L, stopSeqSeen: Long = -1L)(body: KernelRun => T): T = {
    val run = new KernelRun(spark, kernel, checkpointDir, stopFlag, stopAfterMs, stopSeqSeen)
    try body(run) finally run.close()
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
    * resume from, NOT final component assignments). `components` reads the
    * vertex set and the last round's edge state, both kept by the run: the
    * caller frees them with [[release]] once it has consumed the labels;
    * until then they live for the session. */
  final case class CcResult(components: DataFrame, metrics: Seq[SuperstepMetric], rounds: Int,
                            stopped: Boolean = false)(unpersistKept: () => Unit) {
    /** Unpersists what this run kept. `components` must not be used
      * afterwards. */
    def release(): Unit = unpersistKept()
  }

  /** The rows behind a locally checkpointed or persisted-row frame. */
  private def keptRows(df: DataFrame): RDD[_] =
    df.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd }
      .getOrElse(throw new IllegalArgumentException("not a frame over kept rows"))

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
    inRun(spark, "cc", checkpointDir, stopFlag, stopAfterMs, stopSeqSeen) { run =>
    import spark.implicits._
    // cache the raw projection: the vertex set and the start state both
    // read the source ONCE; released below once both are materialized
    val input = run.cache(edges.select($"src".cast("long"), $"dst".cast("long")))
    // persisted outside the run scope: the result's labels read it after
    // the run returns, until the caller releases the result
    val vertices = input.select(explode(array($"src", $"dst")).as("id"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    vertices.count()

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
            .select($"src", $"dst", pmod(hash($"dst"), coalesce($"nsalt", lit(1))).as("salt"))
          val minsR = mins.join(broadcast(h), Seq("src"), "left")
            .select($"src", $"m",
              explode(sequence(lit(0), coalesce($"nsalt", lit(1)) - 1)).as("salt"))
          symS.join(minsR.hint("shuffle_hash"), Seq("src", "salt"))
            .filter($"dst" > $"src")
            .select($"dst".as("src"), $"m".as("dst"))
      }
    }

    // A hub snapshot: a bounded collect of the round's hub degrees (they sum
    // to 2E, so #keys with deg > thr <= 2E/thr, at most 4*roundP rows since
    // thr >= E/(2*roundP) — partition-bounded at any scale, the IVF-centroid
    // size class), then a local frame the per-round broadcast builds from
    // with zero extra distributed jobs.
    def hubSnapshot(hubTable: DataFrame, nEdges: Long, thr: Long): Option[DataFrame] = {
      val rows = BoundedCollect(hubTable.as[(Long, Int)], 2L * nEdges / thr,
        s"2E / hubThreshold (2 * $nEdges / $thr)")
      if (rows.isEmpty) None else Some(rows.toSeq.toDF("src", "nsalt"))
    }

    // small-star: orient every edge high->low; every low neighbor (and u
    // itself) links to m = min(N(u) ∪ {u}). Each joined row emits both of
    // its links; u's own link repeats once per neighbor and collapses in
    // the distinct's map-side aggregation (dir is clustered by u), so
    // withMin is aggregated once and feeds only the join.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.filter($"src" =!= $"dst")
        .select(greatest($"src", $"dst").as("src"), least($"src", $"dst").as("dst"))
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

    // The start state is the loop-free input as it is: every round shuffles
    // its input by src anyway, and round 1's distinct collapses repeated
    // edges. Like every round's state it is materialized by its digest.
    val resumed = run.restorePoint(maxIter)
    var e = edgeState(resumed.fold(input.filter($"src" =!= $"dst"))(_._2))
      .localCheckpoint(false)
    val edgePartitions = e.rdd.getNumPartitions

    val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetric]
    var iter = resumed.fold(0)(_._1)
    var stoppedEarly = false
    // null = no snapshot yet (round 1 probes eagerly); None = probed, hub-free
    var hubsForRound: Option[DataFrame] = null
    // converged when the edge set is unchanged (order-independent,
    // overflow-free digest — ANSI mode forbids wrapping sums); the previous
    // round's digest is remembered, not recomputed (one agg job per round),
    // and its row count also tells an empty start state
    def digest(df: DataFrame) = df
      .agg(count(lit(1)), expr("coalesce(bit_xor(xxhash64(src, dst)), 0L)")).first()
    var dPrev = digest(e)
    var done = dPrev.getLong(0) == 0L
    input.unpersist(false)
    // Each round materializes eagerly (localCheckpoint) before the next
    // starts. Lazily chaining CC rounds the way pageRank chains supersteps
    // was MEASURED 3x slower at sf0.1 (48s -> 147s): pageRank's
    // per-superstep plan is LINEAR (state enters exactly once), but a star
    // round references its input several times (sym feeds both the join and
    // the min-agg; dir feeds both sides of smallStar), so an unmaterialized
    // previous round re-executes once per reference — a multiplicative
    // blowup per chained round that ReuseExchange only partly collapses.
    while (iter < maxIter && !done && !stoppedEarly) {
      val t0 = System.nanoTime()
      // ONE combinable aggregation per round serves BOTH large-star's min
      // table and the hub detector: sym.groupBy(src) yields m = min(N(u) ∪
      // {u}) and the symmetric degree in the same pass (the hub table must
      // be refreshed from the CURRENT state each round — hot roots are
      // EMERGENT in CC: a giant component's root accumulates a neighborhood
      // proportional to |C| as contraction proceeds). A separate degree job
      // here was a full extra O(2E) shuffle per round — measured ~15% of
      // round wall time at sf0.1.
      val nEdges = dPrev.getLong(0)
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
      val hubThreshold = math.max(1000L, 2L * nEdges / roundP / 4)
      // ONE exchange of the symmetrized table serves BOTH consumers (guide
      // §2.4): the min/degree aggregation and the large-star join each need
      // sym clustered by src. It is cached for the round, because the
      // aggregation also feeds the hub snapshot's collect, a separate job:
      // an uncached sym was shuffled once per job that read it.
      val sym = run.cache(e.filter($"src" =!= $"dst")
        .select(explode(array(struct($"src", $"dst"), struct($"dst".as("src"), $"src".as("dst")))).as("p"))
        .select($"p.src", $"p.dst")
        .repartition(roundP, $"src"))
      val minsDeg = sym.groupBy($"src")
        .agg(least(min($"dst"), first($"src")).as("m"), count(lit(1)).as("deg"))
      val hubTable = minsDeg.filter($"deg" > hubThreshold)
        .select($"src", least(lit(roundP.toLong), ($"deg" / hubThreshold) + 1L)
          .cast("int").as("nsalt"))
      // Hub table freshness: round 1 collects its snapshot eagerly (which
      // materializes sym — the input graph's junit/lodash hubs must be
      // salted from the very first join) and hands the same rows to round 2;
      // later rounds use the snapshot collected from the PREVIOUS round's
      // cached sym below. The lag is one round and salting is semantically
      // NEUTRAL (any nsalt assignment yields the same join rows), so only
      // balance can lag, never results — and it removes the per-round eager
      // probe job that was ~0.5 s/round of pure probe cost at sf0.1. Every
      // round's hub table is such a local snapshot, so rounds with the same
      // hub state plan the same shape.
      val firstRound = hubsForRound == null
      val hubs = if (firstRound) hubSnapshot(hubTable, nEdges, hubThreshold) else hubsForRound
      // LAZY localCheckpoint + digest in ONE action (r4 ask #3): the digest
      // aggregation is the round's first action on `next`, so it both
      // CACHES the round's partitions (truncating lineage for the next
      // round) and computes the convergence digest in the same job — one
      // action per round instead of the former eager-materialize-then-
      // digest pair (and it materializes sym en route: its exchange stage
      // runs before the join stage inside the same job). The next
      // round's multiple references to `e` then read the cache exactly as
      // before (the round-3 eager-vs-lazy trap was about chaining
      // UNmaterialized rounds; here every round is still fully materialized
      // before the next starts, just by the digest job).
      val round = edgeState(smallStar(largeStar(sym, minsDeg.select($"src", $"m"), hubs)))
      run.explain("round", round)
      val next = round.localCheckpoint(false)
      val dNext = digest(next)
      hubsForRound = if (firstRound) hubs else hubSnapshot(hubTable, nEdges, hubThreshold)
      sym.unpersist(false)
      // the superseded state: nothing reads it once the next round is built
      Bridge.free(keptRows(e))
      done = dNext == dPrev
      dPrev = dNext
      e = next
      iter += 1
      if (iter % checkpointEvery == 0 && !done) stoppedEarly = run.boundary(iter, e)
      metrics += SuperstepMetric("cc", iter, (System.nanoTime() - t0) / 1000000L,
        dNext.getLong(0), edgePartitions, Double.NaN)
    }

    // At the fixpoint every edge points v -> root(min id of v's component);
    // roots and isolated vertices label themselves. (A stopped run's labels
    // are the PARTIAL contraction — flagged via `stopped`.)
    val components = vertices
      .join(e.select($"src".as("id"), $"dst".as("c")), Seq("id"), "left")
      .select($"id", coalesce($"c", $"id").as("component"))
    val lastState = keptRows(e)
    CcResult(components, metrics.toSeq, iter, stopped = stoppedEarly) { () =>
      vertices.unpersist(false)
      Bridge.free(lastState)
    }
  }

  // ------------------------------------------------------ label propagation

  /**
   * Synchronous label propagation (community detection): each superstep every
   * vertex adopts the most frequent label among its in-neighbors on the
   * symmetrized graph, ties broken deterministically by (count desc, label
   * asc) — SURVEY §7.4-6. Fixed iteration count => exactly reproducible.
   */
  /** `supersteps < iterations` after a cooperative STOP: `labels` is the
    * valid k-superstep result, resumable to the full target. */
  final case class LpResult(labels: DataFrame, metrics: Seq[SuperstepMetric], supersteps: Int)

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
    inRun(spark, "lp", checkpointDir, stopFlag, stopAfterMs, stopSeqSeen) { run =>
    import spark.implicits._
    // sizing count + reserved-id guard in ONE job over the raw (pre-distinct)
    // union: the winner aggregate below negates labels
    // (max(struct(cnt, -label))), and negating Long.MinValue overflows — so
    // that id (never a legitimate dense vertex id) is rejected up front
    // rather than silently mis-ranked. The raw count only SIZES partitions
    // (kernelPartitions), so the pre-dedup figure is fine — and it avoids
    // materializing a separate distinct-ed table just to count it.
    val symRaw = edges.select($"src".cast("long"), $"dst".cast("long"))
      .union(edges.select($"dst".cast("long").as("src"), $"src".cast("long").as("dst")))
    val eStats = symRaw.agg(count(lit(1)),
      max($"src" === Long.MinValue || $"dst" === Long.MinValue)).first()
    val edgeCount = eStats.getLong(0)
    require(eStats.isNullAt(1) || !eStats.getBoolean(1),
      s"labelPropagation reserves vertex id ${Long.MinValue} (label negation " +
        "in the tie-break aggregate would overflow); the input graph contains it")
    val shufflePartitions = kernelPartitions(run.confWidth, edgeCount)
    // aggregation exchanges inside the loop must match the edge layout's
    // width, or EnsureRequirements inserts an extra per-superstep exchange
    // to reconcile them
    run.width(shufflePartitions)

    // ONE exchange builds the deduped, src-partitioned, src-sorted layout:
    // repartition by src first, then dedup — hashpartitioning(src) satisfies
    // the (src, dst) clustering the dedup aggregate needs (all duplicates of
    // a pair share the src key), so the distinct runs in place with no
    // second exchange (guide §2.4: two operations keyed the same way share
    // one exchange).
    val sym0 = run.cache(symRaw
      .repartition(shufflePartitions, $"src")
      .dropDuplicates("src", "dst")
      .sortWithinPartitions($"src"))

    // Hub salting, same scheme as pageRank: a symmetrized hub's adjacency
    // otherwise sits in ONE partition of every superstep's join. The degree
    // aggregation reads the already-partitioned sym0 layout (exchange
    // reuse: groupBy(src) over hashpartitioning(src) shuffles nothing).
    val hubThreshold = math.max(1000L, edgeCount / shufflePartitions / 4)
    val lpHubs = run.cache(sym0.groupBy($"src").agg(count(lit(1)).as("deg"))
      .filter($"deg" > hubThreshold)
      .select($"src", least(lit(shufflePartitions.toLong),
        ($"deg" / hubThreshold) + 1L).cast("int").as("nsalt")))
    val haveHubs = lpHubs.count() > 0

    // hub-free graphs reuse the sym0 layout as-is (no second shuffle+cache);
    // hubby graphs re-layout once with the salt key
    val sym = (if (!haveHubs) sym0.withColumn("salt", lit(0))
    else run.cache(sym0.join(broadcast(lpHubs), Seq("src"), "left")
      .select($"src", $"dst", pmod(hash($"dst"), coalesce($"nsalt", lit(1))).as("salt"))
      .repartition(shufflePartitions, $"src", $"salt")
      .sortWithinPartitions($"src", $"salt")))
    val edgePartitions = sym.rdd.getNumPartitions
    if (haveHubs) { sym.count(); sym0.unpersist(false) }

    val vertices = sym.select($"src".as("id")).distinct()
    val resumed = run.restorePoint(iterations)
    var labels = resumed.fold(vertices.withColumn("label", $"id"))(_._2)
      .localCheckpoint(true)

    val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetric]
    var iter = resumed.fold(0)(_._1)
    var stoppedEarly = false
    while (iter < iterations && !stoppedEarly) {
      val t0 = System.nanoTime()
      val saltedLabels =
        if (!haveHubs) labels.withColumnRenamed("id", "src")
        else labels.join(broadcast(lpHubs.withColumnRenamed("src", "id")), Seq("id"), "left")
          .select($"id".as("src"), $"label",
            explode(sequence(lit(0), coalesce($"nsalt", lit(1)) - 1)).as("salt"))
      // ONE exchange serves both aggregation levels: repartition the message
      // stream by id, then groupBy(id, label) AND groupBy(id) both run
      // in place (hashpartitioning(id) satisfies either clustering) — the
      // direct groupBy(id, label) route paid a second full exchange to get
      // from (id, label) hash space to id hash space (guide §2.4).
      val msgs = saltedLabels
        .join(sym, if (haveHubs) Seq("src", "salt") else Seq("src"))
        .select($"dst".as("id"), $"label")
        .repartition(shufflePartitions, $"id")
      val counts = msgs.groupBy($"id", $"label").agg(count(lit(1)).as("cnt"))
      // winner = (count desc, label asc): a combinable max-of-struct
      // aggregate (map-side partial agg, no per-superstep window sort);
      // -label flips the tie-break to ascending under lexicographic max.
      //
      // The winners table IS the next label state: sym is symmetrized, so
      // every vertex (= every distinct sym.src = every distinct sym.dst)
      // receives at least one message each superstep and `winners` covers
      // the exact vertex set — the former labels⨝winners left-join (whose
      // coalesce could never fire) re-referenced `labels` a second time per
      // superstep, turning the lazily-chained block into a 2^k-subtree plan
      // (measured: the 3-superstep q18 block job alone was 7-8.5 s at
      // sf0.1; linear chaining is the pageRank lesson, guide §1.2-1).
      val winners = counts.groupBy($"id")
        .agg(max(struct($"cnt", (-$"label").as("nl"))).as("m"))
        .select($"id", (-$"m.nl").as("label"))
      iter += 1
      // supersteps chained lazily between boundaries, cut+materialized only
      // at checkpoints — same fixed-cost reasoning as pageRank
      val atCheckpoint = iter % checkpointEvery == 0 || iter == iterations
      if (atCheckpoint) run.explain("boundary block", winners)
      labels = if (atCheckpoint) winners.localCheckpoint(true) else winners
      if (atCheckpoint && iter != iterations) stoppedEarly = run.boundary(iter, labels)
      metrics += SuperstepMetric("lp", iter, (System.nanoTime() - t0) / 1000000L,
        edgeCount, edgePartitions, Double.NaN, boundary = atCheckpoint)
    }
    LpResult(labels.select($"id", $"label"), metrics.toSeq, iter)
  }

  // ------------------------------------------------------------- triangles

  /**
   * Exact triangle counting with degree-ordered orientation: each undirected
   * edge is oriented from the endpoint with the lower (degree, id) to the
   * higher, so every wedge is enumerated exactly once from its lowest-degree
   * corner — hub vertices never explode quadratically (SURVEY §4.3-2).
   * Returns (total, perVertex(id, triangles)).
   */
  def triangleCount(spark: SparkSession, edges: DataFrame): (Long, DataFrame) =
    // nothing is cached: a caller that also consumes the per-vertex frame
    // re-runs the close, which beats leaving the close persisted for the
    // session's lifetime
    (inRun(spark, "triangles")(_ => trianglesPlan(spark, edges).count()), trianglesPerVertex(spark, edges))

  /** Per-vertex triangle counts WITHOUT the eager total — a lazy plan, no
    * job forced, so callers that only want the frame (q17) don't pay the
    * count action. Identical subtrees (the `und` distinct, the oriented
    * join) are deduplicated by Catalyst's ReuseExchange within the single
    * consuming action, so no persist is needed on this path. */
  def trianglesPerVertex(spark: SparkSession, edges: DataFrame): DataFrame =
    perVertexFrom(spark, trianglesPlan(spark, edges))

  private def perVertexFrom(spark: SparkSession, triangles: DataFrame): DataFrame = {
    import spark.implicits._
    triangles.select(explode(array($"a", $"x", $"y")).as("id"))
      .groupBy($"id").agg(count(lit(1)).as("triangles"))
  }

  /** Value-canonical undirected simple edge set `(u < v)`, deduped. Shared
    * by the triangle close, clustering coefficient, and k-core peeling. */
  private[graph] def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** The oriented-wedge triangle close as a pure lazy plan of rows
    * (a, x, y) — one row per triangle, corner-canonical. */
  private def trianglesPlan(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val und = undirected(edges)

    val deg = und.select($"u".as("id")).union(und.select($"v".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))

    // Orient by (degree, id).
    val oriented = und
      .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("id", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u").otherwise($"v").as("a"),
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v").otherwise($"u").as("b"))

    // Wedges from the low-(degree,id) corner, pair canonicalized by value so
    // the close is a pure equi-join against the value-canonical undirected
    // set — an OR-of-orientations predicate here would degrade to a nested-
    // loop join (O(wedges x edges)); the equi-join is O(wedges).
    val e1 = oriented.select($"a", $"b".as("x"))
    val e2 = oriented.select($"a".as("aa"), $"b".as("y"))
    val wedges = e1.join(e2, e1("a") === e2("aa") && e1("x") < e2("y"))
      .select($"a", $"x", $"y")
    val closing = und.select($"u".as("x"), $"v".as("y"))
    wedges.join(closing, Seq("x", "y"))
      .select($"a", $"x", $"y")
  }

  /**
   * Local clustering coefficient per vertex over the undirected simple
   * graph: `lcc(v) = 2·T(v) / (d(v)·(d(v)−1))`, with `T` from the degree-
   * oriented triangle close (so hubs don't enumerate quadratic wedge sets)
   * and `d` the undirected distinct degree. Vertices with `d < 2` get 0.
   *
   * The degree aggregation is one extra map-side-combined pass over the
   * same `und` subtree the triangle plan builds; within the single
   * consuming action Catalyst's ReuseExchange dedups the shared scan. The
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
   * Scale shape: the edge table is hash-partitioned by `src` once and
   * persisted; each hop is then ONE join against that fixed layout (the
   * frontier — the small side — moves to the edges), a distinct, and an
   * anti-join against the settled-distance table, all keyed on vertex id.
   * The settled table holds exactly `(id, dist)` — no adjacency — so its
   * footprint is O(V) independent of edge count, and each hop issues
   * exactly one action (the count that both materializes the grown table
   * and detects an empty frontier — no separate isEmpty probe). `maxHops`
   * hard-bounds the loop.
   *
   * Returns `(id: long, dist: int)` for every vertex within `maxHops` of a
   * seed; the frame is left persisted (it IS the result, O(V) rows).
   */
  def shortestPaths(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                    maxHops: Int): DataFrame = {
    import spark.implicits._
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter($"src" =!= $"dst").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val p = kernelPartitions(confPartitions(spark), e.count())
    val eP = e.repartition(p, $"src").persist(StorageLevel.MEMORY_AND_DISK)

    var settled = seeds.select(col("id").cast("long").as("id")).distinct()
      .withColumn("dist", lit(0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var settledCount = settled.count()
    var frontier = settled.select($"id")
    var hop = 1
    var done = settledCount == 0L
    while (hop <= maxHops && !done) {
      // by-name semi-join (the frontier — small side — moves to the fixed
      // edge layout); df("col") references would trip ambiguous-self-join
      // detection at hop 2, where the frontier's lineage includes eP
      val next = eP.join(frontier.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
      val grown = settled.union(next).persist(StorageLevel.MEMORY_AND_DISK)
      val n = grown.count()
      settled.unpersist()
      settled = grown
      if (n == settledCount) done = true
      else {
        settledCount = n
        // read the persisted grown table, not the join plan, for the next hop
        frontier = grown.filter($"dist" === lit(hop)).select($"id")
      }
      hop += 1
    }
    eP.unpersist()
    e.unpersist()
    settled
  }

  /**
   * k-core: the maximal subgraph in which every vertex has undirected
   * degree >= k, by iterative peeling. Returns `(id, core_degree)` for the
   * surviving vertices with their degree INSIDE the core.
   *
   * Scale shape: each peel round is one map-side-combined degree
   * aggregation plus two semi-joins keyed on the endpoint ids; the edge
   * set only ever SHRINKS, so round cost decreases monotonically.
   * Convergence is read off the edge count from the SAME action that
   * materializes the round — every vertex present in `und` has >= 1 edge,
   * so an unchanged edge count implies an unchanged vertex set (no second
   * probe). Peel depth tracks the graph's degeneracy ordering width and is
   * small on real link graphs (3 rounds on the sf0.01 mined-shape graph);
   * `maxRounds` is a backstop bound, mirroring connectedComponents'
   * maxIter.
   */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame =
    kCoreResult(spark, edges, k, maxRounds)._1

  /** kCore plus the number of peel rounds it took to converge (face-honesty
    * evidence: the q62 oracle unrolls a fixed round count, so tests assert
    * convergence within it). */
  def kCoreResult(spark: SparkSession, edges: DataFrame, k: Int,
                  maxRounds: Int = 50): (DataFrame, Int) = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    var und = undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    var nEdges = und.count()
    var rounds = 0
    var converged = nEdges == 0L
    while (!converged && rounds < maxRounds) {
      val deg = und.select($"u".as("x")).union(und.select($"v".as("x")))
        .groupBy($"x").agg(count(lit(1)).as("c"))
      val surv = deg.filter($"c" >= k).select($"x")
      val next = und
        .join(surv.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = next.count()
      und.unpersist()
      und = next
      rounds += 1
      if (n == nEdges) converged = true
      nEdges = n
    }
    val core = und.select($"u".as("id")).union(und.select($"v".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("core_degree"))
      .filter($"core_degree" >= k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    core.count()
    und.unpersist()
    (core, rounds)
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
   * Scale shape: TWO static edge copies, partitioned by dst (the a-step's
   * join key) and by src (the h-step's), each paid once; every half-step
   * is then one co-partitioned join + one map-side-combined sum keyed on a
   * vertex id. Lineage cut every `checkpointEvery` full steps.
   * Returns `(id, hub, authority)` unrounded (query faces round).
   */
  def hits(spark: SparkSession, edges: DataFrame, iterations: Int,
           checkpointEvery: Int = 4): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    inRun(spark, "hits") { run =>
      import spark.implicits._
      val eRaw = run.cache(edges.select($"src".cast("long"), $"dst".cast("long"))
        .filter($"src" =!= $"dst").distinct())
      val p = kernelPartitions(run.confWidth, eRaw.count())
      // kernel-width aggregation exchanges (AQE is off here, so nothing else
      // narrows them)
      run.width(p)
      val eBySrc = run.cache(eRaw.repartition(p, $"src"))
      val eByDst = run.cache(eRaw.repartition(p, $"dst"))
      eBySrc.count(); eByDst.count()
      // derive verts from the materialized copy, then release the raw scan
      val verts = run.cache(eBySrc.select($"src".as("id")).union(eBySrc.select($"dst".as("id")))
        .distinct().repartition(p, $"id"))
      require(verts.count() > 0, "hits: the edge table is empty")
      eRaw.unpersist(false)

      var h = verts.withColumn("h", lit(1.0))
      var a: DataFrame = null
      for (i <- 1 to iterations) {
        // a-step: h flows src→dst (join keyed src, agg keyed dst)
        val contribA = h.select($"id".as("src"), $"h")
          .join(eBySrc, Seq("src"))
          .groupBy($"dst".as("id")).agg(sum($"h").as("s"))
        a = verts.join(contribA, Seq("id"), "left")
          .select($"id", coalesce($"s", lit(0.0)).as("a"))
        if (i % checkpointEvery == 0 || i == iterations) a = a.localCheckpoint(true)
        // h-step: a flows dst→src (join keyed dst, agg keyed src)
        val contribH = a.select($"id".as("dst"), $"a")
          .join(eByDst, Seq("dst"))
          .groupBy($"src".as("id")).agg(sum($"a").as("s"))
        h = verts.join(contribH, Seq("id"), "left")
          .select($"id", coalesce($"s", lit(0.0)).as("h"))
        if (i % checkpointEvery == 0 || i == iterations) {
          run.explain("boundary block", h)
          h = h.localCheckpoint(true)
        }
      }
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
   * (one windowed sort per src partition — per-vertex width, not global)
   * and partitioned by src; each step is then two joins keyed on the
   * CURRENT vertex id (degree lookup + positional lookup), emitting one
   * row per live walk. Hub vertices hold many walks at once but each walk
   * is one probe row — fan-IN, not fan-out. Steps materialize per level
   * (each level feeds both the next step and the output union).
   * Returns `(seed, walk, step, vertex)`.
   */
  def randomWalks(spark: SparkSession, edges: DataFrame, walkLen: Int,
                  walksPerVertex: Int = 1): DataFrame = {
    import spark.implicits._
    require(walkLen >= 1 && walksPerVertex >= 1,
      "walkLen and walksPerVertex must be >= 1")
    val e = edges.select($"src".cast("long"), $"dst".cast("long"))
      .filter($"src" =!= $"dst").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val p = kernelPartitions(confPartitions(spark), e.count())
    val w = Window.partitionBy($"src").orderBy($"dst")
    val adj = e.select($"src", $"dst", (row_number().over(w) - 1).cast("long").as("idx"))
      .repartition(p, $"src").persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      .repartition(p, $"src").persist(StorageLevel.MEMORY_AND_DISK)
    adj.count(); deg.count()

    val verts = e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct()
    val start = verts
      .crossJoin(spark.range(walksPerVertex.toLong).select($"id".cast("int").as("walk")))
      .select($"id".as("seed"), $"walk", lit(0).as("step"), $"id".as("vertex"))
      .persist(StorageLevel.MEMORY_AND_DISK)
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
      val next = cur.select($"seed", $"walk", $"vertex".as("src"))
        .join(deg, Seq("src"))
        .withColumn("idx", pmod(stepHash($"seed", $"walk", t), $"outdeg"))
        .join(adj, Seq("src", "idx"))
        .select($"seed", $"walk", lit(t).as("step"), $"dst".as("vertex"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (next.count() == 0L) { next.unpersist(); drained = true }
      else { levels += next; cur = next }
      t += 1
    }
    // every level is materialized, so the lookup tables can go now; the
    // level frames themselves stay persisted (they ARE the result)
    val out = levels.reduce(_.unionByName(_))
    e.unpersist(false); adj.unpersist(false); deg.unpersist(false)
    out
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
   * once, so lazy chaining re-executes. Outer rounds are bounded by the
   * condensation's longest root-blocked chain; real link graphs peel in a
   * handful because every color class with its root inside resolves each
   * round. Cycle detection (`scc size > 1`) is the dependency-graph use
   * case this serves.
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
    inRun(spark, "scc") { run =>
      var e = edges.select($"src".cast("long"), $"dst".cast("long"))
        .filter($"src" =!= $"dst").distinct()
        .localCheckpoint(true)
      val p = kernelPartitions(run.confWidth, e.count())
      // kernel-width aggregation/join exchanges (AQE is off here)
      run.width(p)
      e = e.repartition(p, $"src").localCheckpoint(true)
      var verts = e.select($"src".as("id")).union(e.select($"dst".as("id")))
        .distinct().localCheckpoint(true)
      var nv = verts.count()
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
        // checkpointed frames, scanned once in the final assemble. Replaces
        // the old two-distincts + double-anti-join round: one map-side-
        // combined tag exchange instead of two distinct exchanges over e's
        // endpoints, no per-round verts materialization, and the src-side
        // peel join rides e's checkpointed hash(src) layout exchange-free.
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
          val surv = survPlan.localCheckpoint(true)
          val nSurv = surv.count()
          val nTrim = nv - nSurv
          if (nTrim == 0) trimming = false
          else {
            trimRounds += 1; trimmedVerts += nTrim
            assignedParts += verts.join(surv, Seq("id"), "left_anti")
              .select($"id", $"id".as("scc"))
            verts = surv
            nv = nSurv
            e = e.join(surv.select($"id".as("src")), Seq("src"), "left_semi")
              .join(surv.select($"id".as("dst")), Seq("dst"), "left_semi")
              .select($"src", $"dst")
              .repartition(p, $"src").localCheckpoint(true)
          }
        }
        if (nv > 0) {
          // (2) forward max-ancestor coloring to fixpoint
          var colors = verts.select($"id", $"id".as("color")).localCheckpoint(true)
          var changed = 1L
          var it = 0
          while (changed > 0 && it < maxColorIters) {
            val contrib = colors.select($"id".as("src"), $"color")
              .join(e, Seq("src"))
              .groupBy($"dst".as("id")).agg(max($"color").as("mc"))
            val nc = colors.join(contrib, Seq("id"), "left")
              .select($"id",
                greatest($"color", coalesce($"mc", $"color")).as("color"),
                (coalesce($"mc", $"color") > $"color").as("ch"))
              .localCheckpoint(true)
            changed = nc.filter($"ch").count()
            colors = nc.select($"id", $"color")
            it += 1; colorIters += 1
          }
          require(changed == 0, s"scc: color propagation did not converge in $maxColorIters rounds")
          // (3) backward collection inside color classes, from the roots.
          // `members` stays a LAZY union over the checkpointed frontier
          // parts (r6): every part is already materialized, so the per-
          // iteration union job and the final count job both drop out —
          // the visited-set anti-join re-shuffles the union either way,
          // and the colored total is the sum of driver-known frontier
          // counts.
          val roots = colors.filter($"id" === $"color")
            .select($"id", $"color".as("scc")).localCheckpoint(true)
          var members = roots
          var frontier = roots
          var live = frontier.count()
          var nColored = live
          while (live > 0) {
            val next = frontier.select($"id".as("dst"), $"scc")
              .join(e, Seq("dst"))
              .select($"src".as("id"), $"scc").distinct()
              .join(colors, Seq("id"))
              .filter($"color" === $"scc")
              .select($"id", $"scc")
              .join(members, Seq("id"), "left_anti")
              .localCheckpoint(true)
            live = next.count()
            if (live > 0) {
              backIters += 1
              nColored += live
              members = members.union(next)
              frontier = next
            }
          }
          coloredVerts += nColored
          assignedParts += members
          verts = verts.join(members, Seq("id"), "left_anti").localCheckpoint(true)
          nv -= nColored // members is a subset of verts and distinct
          e = e.join(members.select($"id".as("src")), Seq("src"), "left_anti")
            .join(members.select($"id".as("dst")), Seq("dst"), "left_anti")
            .select($"src", $"dst")
            .repartition(p, $"src").localCheckpoint(true)
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
        (assigned.join(relabel, Seq("scc")).select($"id", $"mid".as("scc")), stats)
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
