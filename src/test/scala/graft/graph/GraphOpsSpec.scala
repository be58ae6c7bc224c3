package graft.graph

import graft.SparkTestHarness
import org.scalatest.funsuite.AnyFunSuite

/**
 * Graph kernels vs naive single-threaded oracles (SURVEY §5.2-3; north_rule:
 * PageRank allclose 1e-6, components/labels exact, triangle counts exact).
 */
class GraphOpsSpec extends AnyFunSuite {

  lazy val spark = SparkTestHarness.spark
  import spark.implicits._

  /** Deterministic scale-free-ish digraph: 250 vertices, ~1200 edges with hubs. */
  val edges: Seq[(Long, Long)] = {
    val n = 250
    (for (i <- 0 until 1500) yield {
      val h = SyntheticGraph.mix(42L, i.toLong)
      val src = (Math.floorMod(h, n.toLong)).toInt
      val u = ((h >>> 11).toDouble / (1L << 53).toDouble)
      val dst = math.min(n - 1, (u * u * u * n).toInt) // Zipf-ish hubs
      (src.toLong, dst.toLong)
    }).filter { case (s, d) => s != d }.distinct
  }
  // plus an isolated 3-cycle and a dangling chain to exercise edge cases
  val extraEdges = Seq((300L, 301L), (301L, 302L), (302L, 300L), (310L, 311L))
  lazy val edgeDf = (edges ++ extraEdges).toDF("src", "dst")

  val allEdges = edges ++ extraEdges
  val vertices: Seq[Long] = allEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted

  test("PageRank matches naive oracle within 1e-6") {
    val iters = 30
    val result = GraphOps.pageRank(spark, edgeDf, iters, damping = 0.85,
      redistributeDangling = true, checkpointEvery = 7)
    val got = result.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val expected = NaiveGraph.pageRank(allEdges, vertices, iters, 0.85, dangling = true)
    assert(got.keySet == expected.keySet)
    for ((v, r) <- expected) assert(math.abs(got(v) - r) < 1e-6, s"vertex $v: ${got(v)} vs $r")
    assert(result.metrics.size == iters)
    assert(result.metrics.forall(_.edgesScanned == allEdges.size))
  }

  test("PageRank without dangling redistribution matches its oracle") {
    val result = GraphOps.pageRank(spark, edgeDf, 10, redistributeDangling = false)
    val got = result.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = NaiveGraph.pageRank(allEdges, vertices, 10, 0.85, dangling = false)
    for ((v, r) <- expected) assert(math.abs(got(v) - r) < 1e-6)
  }

  test("PageRank kill-and-resume from checkpoint equals uninterrupted run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val full = GraphOps.pageRank(spark, edgeDf, 12, checkpointEvery = 4, checkpointDir = Some(dir))
    val a = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // a second call with the same dir resumes from the *latest* checkpoint
    // (12) -> zero extra steps
    val resumed = GraphOps.pageRank(spark, edgeDf, 12, checkpointEvery = 4, checkpointDir = Some(dir))
    assert(resumed.supersteps == 12)
    // "kill" after superstep 8 (a checkpoint boundary): a run killed there
    // leaves LATEST at 8, and the next call with the dir continues from it
    graft.util.Fs.write(spark, s"$dir/pagerank/LATEST", "8")
    val cont = GraphOps.pageRank(spark, edgeDf, 12, checkpointEvery = 4, checkpointDir = Some(dir))
    assert(cont.metrics.map(_.superstep) == Seq(9, 10, 11, 12))
    val b = cont.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    for ((v, r) <- a) assert(math.abs(b(v) - r) < 1e-12, s"resume drift at $v")
  }

  test("connected components exact") {
    val got = GraphOps.connectedComponents(spark, edgeDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = NaiveGraph.connectedComponents(allEdges, vertices)
    assert(got == expected)
    // the isolated 3-cycle is its own component
    assert(got(301L) == 300L && got(302L) == 300L)
  }

  test("connected components kill-and-resume from checkpoint is exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val full = GraphOps.connectedComponentsResult(spark, edgeDf,
      checkpointEvery = 1, checkpointDir = Some(dir))
    assert(full.metrics.nonEmpty && full.metrics.forall(_.kernel == "cc"))
    val a = full.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == NaiveGraph.connectedComponents(allEdges, vertices))
    // a second call with the same dir resumes through LATEST
    val resumed = GraphOps.connectedComponentsResult(spark, edgeDf, checkpointDir = Some(dir))
    assert(resumed.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == a)
    // "kill" after round 1: resume from the on-disk contracted edge set
    graft.util.Fs.write(spark, s"$dir/cc/LATEST", "1")
    val cont = GraphOps.connectedComponentsResult(spark, edgeDf, checkpointDir = Some(dir))
    assert(cont.metrics.head.superstep == 2)
    val b = cont.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("label propagation kill-and-resume from checkpoint is exact") {
    val iters = 4
    val dir = java.nio.file.Files.createTempDirectory("graft-lp-ckpt").toString
    val full = GraphOps.labelPropagationResult(spark, edgeDf, iters,
      checkpointEvery = 2, checkpointDir = Some(dir))
    assert(full.metrics.size == iters && full.metrics.forall(_.kernel == "lp"))
    // "kill" after superstep 2 (the last checkpoint written): a second call
    // with the same dir continues to the same fixed point
    val resumed = GraphOps.labelPropagationResult(spark, edgeDf, iters,
      checkpointEvery = 2, checkpointDir = Some(dir))
    val a = full.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = resumed.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(resumed.supersteps == iters)
    assert(resumed.metrics.map(_.superstep) == Seq(3, 4))
  }

  test("label propagation exact vs naive sync oracle") {
    val iters = 4
    val got = GraphOps.labelPropagation(spark, edgeDf, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = NaiveGraph.labelPropagation(allEdges, vertices, iters)
    assert(got == expected)
  }

  test("stop flag halts PageRank at a checkpoint boundary; clearing it resumes to target") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stop").toString
    val flag = s"$dir/STOP"
    graft.util.Fs.write(spark, flag, "requested")
    val stopped = GraphOps.pageRank(spark, edgeDf, 12, checkpointEvery = 4,
      checkpointDir = Some(s"$dir/ck"), stopFlag = Some(flag))
    assert(stopped.supersteps == 4) // ended at the first boundary, checkpointed
    graft.util.Fs.delete(spark, flag)
    val resumed = GraphOps.pageRank(spark, edgeDf, 12, checkpointEvery = 4,
      checkpointDir = Some(s"$dir/ck"), stopFlag = Some(flag))
    assert(resumed.supersteps == 12)
    val full = GraphOps.pageRank(spark, edgeDf, 12, checkpointEvery = 4)
    val a = full.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = resumed.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((v, r) <- a) assert(math.abs(b(v) - r) < 1e-12, s"stop/resume drift at $v")
  }

  test("stop flag halts CC and LP at checkpoint boundaries; resume completes exactly") {
    // CC: pre-existing marker (stopAfterMs=0 honors any) stops after the
    // first checkpointed round; result is flagged PARTIAL, resume finishes
    val dir = java.nio.file.Files.createTempDirectory("graft-stop-cclp").toString
    val flag = s"$dir/STOP"
    graft.util.Fs.write(spark, flag, "requested")
    val ccStopped = GraphOps.connectedComponentsResult(spark, edgeDf, checkpointEvery = 1,
      checkpointDir = Some(s"$dir/cc"), stopFlag = Some(flag))
    assert(ccStopped.stopped && ccStopped.rounds == 1)
    graft.util.Fs.delete(spark, flag)
    val ccResumed = GraphOps.connectedComponentsResult(spark, edgeDf, checkpointEvery = 1,
      checkpointDir = Some(s"$dir/cc"), stopFlag = Some(flag))
    assert(!ccResumed.stopped)
    val direct = GraphOps.connectedComponents(spark, edgeDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStop = ccResumed.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStop == direct)
    // LP: stop at the first intermediate boundary, resume to the target,
    // labels equal the uninterrupted run exactly
    graft.util.Fs.write(spark, flag, "requested")
    val lpStopped = GraphOps.labelPropagationResult(spark, edgeDf, 6, checkpointEvery = 2,
      checkpointDir = Some(s"$dir/lp"), stopFlag = Some(flag))
    assert(lpStopped.supersteps == 2)
    graft.util.Fs.delete(spark, flag)
    val lpResumed = GraphOps.labelPropagationResult(spark, edgeDf, 6, checkpointEvery = 2,
      checkpointDir = Some(s"$dir/lp"), stopFlag = Some(flag))
    assert(lpResumed.supersteps == 6)
    val lpDirect = GraphOps.labelPropagation(spark, edgeDf, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpVia = lpResumed.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpVia == lpDirect)
  }

  test("stop marker seq channel is clock-free: skewed marker with higher seq stops; seen seq does not") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stop-seq").toString
    val flag = s"$dir/STOP"
    // Marker written by a node whose clock is ANCIENT (payload epoch-ms ~0)
    // while the runner's watermark is in the future — the timestamp channel
    // would call this stale on both counts (both-clocks-behind). The seq
    // channel honors it purely by counter: seq=1 > seqSeen=0.
    graft.util.Fs.write(spark, flag, "12345 seq=1")
    val stopped = GraphOps.pageRank(spark, edgeDf, 12, checkpointEvery = 4,
      checkpointDir = Some(s"$dir/ck1"), stopFlag = Some(flag),
      stopAfterMs = System.currentTimeMillis() + 3600L * 1000, stopSeqSeen = 0L)
    assert(stopped.supersteps == 4, "higher-seq marker must stop regardless of clocks")
    // A marker whose seq the launcher already SAW at entry must NOT stop the
    // run, even though stopAfterMs=0 + a fresh mtime would under timestamps.
    val ignored = GraphOps.pageRank(spark, edgeDf, 8, checkpointEvery = 4,
      checkpointDir = Some(s"$dir/ck2"), stopFlag = Some(flag),
      stopAfterMs = 0L, stopSeqSeen = 1L)
    assert(ignored.supersteps == 8, "already-seen seq must be ignored")
    // seq-less legacy markers keep the timestamp semantics
    graft.util.Fs.write(spark, flag, "requested")
    val legacy = GraphOps.pageRank(spark, edgeDf, 8, checkpointEvery = 4,
      checkpointDir = Some(s"$dir/ck3"), stopFlag = Some(flag),
      stopAfterMs = 0L, stopSeqSeen = 5L)
    assert(legacy.supersteps == 4, "seq-less marker falls back to the timestamp channel")
  }

  test("kernels restore session conf and release their caches, on success and on failure") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.join.preferSortMergeJoin")
    def conf = keys.map(k => k -> spark.conf.getOption(k))
    val widthWas = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "12")
    try {
      val before = conf
      val runs: Seq[(String, () => Any)] = Seq(
        "pagerank" -> (() => GraphOps.pageRank(spark, edgeDf, 6)),
        "cc" -> (() => GraphOps.connectedComponentsResult(spark, edgeDf)),
        "lp" -> (() => GraphOps.labelPropagationResult(spark, edgeDf, 3)),
        "hits" -> (() => GraphOps.hits(spark, edgeDf, 3)),
        "scc" -> (() => GraphOps.sccResult(spark, edgeDf)))
      for ((name, run) <- runs) {
        run()
        assert(conf == before, s"$name changed the session conf")
      }
      // a failed require must not leave the run's persisted frames behind
      val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
      val failing: Seq[(String, () => Any)] = Seq(
        "pagerank" -> (() => GraphOps.pageRank(spark, empty, 3)),
        "hits" -> (() => GraphOps.hits(spark, empty, 3)))
      for ((name, run) <- failing) {
        val cached = spark.sparkContext.getPersistentRDDs.keySet
        intercept[IllegalArgumentException](run())
        val left = spark.sparkContext.getPersistentRDDs.keySet -- cached
        assert(left.isEmpty, s"failed $name left persisted RDDs $left")
        assert(conf == before, s"failed $name changed the session conf")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", widthWas)
  }

  test("PageRank with redistribution conserves probability mass") {
    val result = GraphOps.pageRank(spark, edgeDf, 15)
    val sum = result.ranks.agg(org.apache.spark.sql.functions.sum("rank"))
      .collect()(0).getDouble(0)
    assert(math.abs(sum - 1.0) < 1e-9, s"mass drifted: $sum")
  }

  test("hub-salted paths stay exact: PageRank + LP on a >threshold-degree hub graph") {
    // vertex 0 has out-degree 1500 > the 1000-edge salt threshold, so the
    // kernels take the salted join path (non-hub graphs take the fast path)
    val hubEdges: Seq[(Long, Long)] =
      (1L to 1500L).map(v => (0L, v)) ++ // hub fan-out
        (1L to 1500L).map(v => (v, (v % 50) + 1501L)) ++ // mid layer
        Seq((1552L, 0L)) // cycle back so the graph is strongly-ish connected
    val hubDf = hubEdges.toDF("src", "dst")
    val hubVerts = hubEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted

    val pr = GraphOps.pageRank(spark, hubDf, 12)
    val prGot = pr.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prExp = NaiveGraph.pageRank(hubEdges, hubVerts, 12, 0.85, dangling = true)
    assert(prGot.keySet == prExp.keySet)
    for ((v, r) <- prExp) assert(math.abs(prGot(v) - r) < 1e-6, s"vertex $v")

    val lpGot = GraphOps.labelPropagation(spark, hubDf, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpExp = NaiveGraph.labelPropagation(hubEdges, hubVerts, 3)
    assert(lpGot == lpExp)
  }

  test("triangle count exact") {
    val (total, perVertex) = GraphOps.triangleCount(spark, edgeDf)
    val (expTotal, expPer) = NaiveGraph.triangles(allEdges)
    assert(total == expTotal)
    val got = perVertex.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expPer)
    assert(got(300L) == 1 && got(301L) == 1 && got(302L) == 1) // the planted 3-cycle
    // the lazy per-vertex path (no eager count job) yields the same frame
    val lazyGot = GraphOps.trianglesPerVertex(spark, edgeDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lazyGot == expPer)
  }

  test("degenerate inputs: empty graph errors clearly or returns empty, never NaN") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    // pageRank would otherwise seed ranks with 1.0/0 — must be a clear error
    val e = intercept[IllegalArgumentException](GraphOps.pageRank(spark, empty, 3))
    assert(e.getMessage.contains("empty"))
    // CC / LP / triangles / degrees: empty in, empty out, no crash
    assert(GraphOps.connectedComponents(spark, empty).count() == 0)
    assert(GraphOps.labelPropagation(spark, empty, 3).count() == 0)
    val (t0, pv) = GraphOps.triangleCount(spark, empty)
    assert(t0 == 0 && pv.count() == 0)
    assert(GraphOps.degrees(empty).count() == 0)
  }

  test("degrees") {
    val got = GraphOps.degrees(edgeDf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val outExp = allEdges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val inExp = allEdges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    for (v <- vertices)
      assert(got(v) == (outExp.getOrElse(v, 0L), inExp.getOrElse(v, 0L)))
  }

  test("vertex dictionary is dense, deterministic, order-stable") {
    val dict1 = GraphOps.vertexDictionary(spark, Seq("b", "a", "c", "a").toDF("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dict1 == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
  }
}

/**
 * Exactness of the SALTED kernel arms: the regular spec graphs stay under
 * the 1000-degree hub floor, so their runs never enter the hub-salting
 * branches (those are perf-probed by CcProbe/LpProbe but must also be
 * CORRECT). This graph has a 1500-out-degree hub (vertex 0), which exceeds
 * hubThreshold = max(1000, |E|/partitions/4) at the test harness's 8
 * shuffle partitions, so PageRank's salted fan-out, LP's salted adjacency,
 * and CC's emergent-hot-root large-star arm all engage by construction.
 */
class SaltedKernelSpec extends AnyFunSuite {

  lazy val spark = SparkTestHarness.spark
  import spark.implicits._

  val hubEdges: Seq[(Long, Long)] = {
    val spokes = (1 to 1500).map(i => (0L, i.toLong))
    val back = (1 to 1500 by 3).map(i => (i.toLong, 0L))
    val web = for (i <- 0 until 900) yield {
      val h = SyntheticGraph.mix(77L, i.toLong)
      (1L + Math.floorMod(h, 1500L), 1L + Math.floorMod(SyntheticGraph.mix(h, 3L), 1500L))
    }
    (spokes ++ back ++ web).filter { case (s, d) => s != d }.distinct
  }
  lazy val hubDf = hubEdges.toDF("src", "dst")
  val hubVertices: Seq[Long] = hubEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted

  test("PageRank (dangling supernode + hub salting) matches naive oracle within 1e-6") {
    val got = GraphOps.pageRank(spark, hubDf, 15, redistributeDangling = true)
      .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = NaiveGraph.pageRank(hubEdges, hubVertices, 15, 0.85, dangling = true)
    assert(got.keySet == expected.keySet)
    for ((v, r) <- expected) assert(math.abs(got(v) - r) < 1e-6, s"vertex $v: ${got(v)} vs $r")
  }

  test("connected components (salted large-star) exact on the hub graph") {
    val got = GraphOps.connectedComponents(spark, hubDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == NaiveGraph.connectedComponents(hubEdges, hubVertices))
  }

  test("label propagation (salted adjacency) exact on the hub graph") {
    val got = GraphOps.labelPropagation(spark, hubDf, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == NaiveGraph.labelPropagation(hubEdges, hubVertices, 4))
  }
}

class FrontierKernelSpec extends AnyFunSuite {

  lazy val spark = SparkTestHarness.spark
  import spark.implicits._

  // same deterministic scale-free-ish digraph + isolated-cycle/dangling
  // extras as GraphOpsSpec, rebuilt here (specs stay self-contained)
  val allEdges: Seq[(Long, Long)] = {
    val n = 250
    val core = (for (i <- 0 until 1500) yield {
      val h = SyntheticGraph.mix(42L, i.toLong)
      val src = Math.floorMod(h, n.toLong).toInt
      val u = ((h >>> 11).toDouble / (1L << 53).toDouble)
      val dst = math.min(n - 1, (u * u * u * n).toInt)
      (src.toLong, dst.toLong)
    }).filter { case (s, d) => s != d }.distinct
    core ++ Seq((300L, 301L), (301L, 302L), (302L, 300L), (310L, 311L))
  }
  lazy val edgeDf = allEdges.toDF("src", "dst")
  val vertices: Seq[Long] = allEdges.flatMap(e => Seq(e._1, e._2)).distinct.sorted

  test("bounded-hop BFS exact vs naive frontier expansion") {
    val seeds = vertices.filter(_ % 5 == 0)
    val seedDf = seeds.toDF("id")
    for (h <- Seq(0, 1, 3)) {
      val got = GraphOps.shortestPaths(spark, edgeDf, seedDf, maxHops = h)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == NaiveGraph.bfs(allEdges, seeds, h), s"maxHops=$h")
    }
  }

  test("BFS early-exits once the frontier drains; unreachable vertices absent") {
    // seed only the isolated 3-cycle: BFS must stop after covering it and
    // never reach the main component even with a huge hop budget
    val got = GraphOps.shortestPaths(spark, edgeDf, Seq(300L).toDF("id"), maxHops = 100)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(300L -> 0, 301L -> 1, 302L -> 2))
  }

  test("clustering coefficient matches naive per-vertex ratio") {
    val got = GraphOps.clusteringCoefficient(spark, edgeDf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val expected = NaiveGraph.clusteringCoefficient(allEdges)
    assert(got.keySet == expected.keySet)
    for ((v, (d, t, l)) <- expected) {
      val (gd, gt, gl) = got(v)
      assert(gd == d && gt == t, s"vertex $v: deg/tri ($gd,$gt) vs ($d,$t)")
      assert(math.abs(gl - l) < 1e-12, s"vertex $v: lcc $gl vs $l")
    }
  }

  test("k-core exact vs naive peel, and converges within the oracle face's unrolled rounds") {
    for (k <- Seq(2, 3, 4)) {
      val (coreDf, rounds) = GraphOps.kCoreResult(spark, edgeDf, k)
      val got = coreDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == NaiveGraph.kCore(allEdges, k), s"k=$k")
      assert(rounds <= graft.queries.Queries.KCoreFaceRounds,
        s"k=$k peeled in $rounds rounds, face unrolls ${graft.queries.Queries.KCoreFaceRounds}")
    }
  }

  test("k-core of a graph with no k-core is empty") {
    // a pure path graph has max undirected degree 2 -> 3-core is empty
    val path = (0L until 10L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("src", "dst")
    assert(GraphOps.kCore(spark, path, k = 3).isEmpty)
  }

  test("HITS matches naive power iteration within 1e-9 (non-checkpoint and checkpoint cadences)") {
    val expected = NaiveGraph.hits(allEdges, vertices, 8)
    for (ck <- Seq(3, 4)) {
      val got = GraphOps.hits(spark, edgeDf, iterations = 8, checkpointEvery = ck)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(got.keySet == expected.keySet)
      for ((v, (eh, ea)) <- expected) {
        assert(math.abs(got(v)._1 - eh) < 1e-9, s"hub $v (ck=$ck): ${got(v)._1} vs $eh")
        assert(math.abs(got(v)._2 - ea) < 1e-9, s"auth $v (ck=$ck): ${got(v)._2} vs $ea")
      }
    }
  }

  test("personalized PageRank concentrates on the restart distribution; matches naive within 1e-9") {
    val seeds = vertices.filter(_ % 7 == 0)
    val got = GraphOps.pageRank(spark, edgeDf, 10, redistributeDangling = false,
        restart = Some(seeds.toDF("id")))
      .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = NaiveGraph.personalizedPageRank(allEdges, vertices, seeds.toSet, 10, 0.85)
    assert(got.keySet == expected.keySet)
    for ((v, r) <- expected) assert(math.abs(got(v) - r) < 1e-9, s"vertex $v: ${got(v)} vs $r")
    // vertices unreachable from any seed get rank EXACTLY 0 (the dangling
    // pair 310->311 is seed-free under %7 and has no inbound path)
    assert(got(310L) == 0.0 && got(311L) == 0.0)
  }

  test("random walks: exact vs a naive md5 walker; dangling stops; deterministic under repartition") {
    val got = GraphOps.randomWalks(spark, edgeDf, walkLen = 3, walksPerVertex = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val expected = NaiveGraph.randomWalks(allEdges, vertices, walkLen = 3, walksPerVertex = 2)
    assert(got == expected)
    // walk from dangling 311 has only its step-0 row
    assert(got.filter(w => w._1 == 311L && w._2 == 0) == Set((311L, 0, 0, 311L)))
    // content-addressed: identical corpus under a different partitioning
    val got2 = GraphOps.randomWalks(spark, edgeDf.repartition(13), walkLen = 3, walksPerVertex = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(got2 == got)
  }

  test("node similarity: exact neighbor-set Jaccard vs naive; thresholds filter") {
    val got = GraphOps.nodeSimilarity(spark, edgeDf, minIntersection = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val expected = NaiveGraph.nodeSimilarity(allEdges, 2)
    assert(got.keySet == expected.keySet)
    for ((k, (c, j)) <- expected) {
      assert(got(k)._1 == c, s"pair $k common")
      assert(got(k)._2 == j, s"pair $k jaccard ${got(k)._2} vs $j") // integer-ratio doubles: bit-equal
    }
    // minSimilarity keeps only pairs at or above the bar (bar set just
    // under the strongest pair so the filtered set is provably non-empty)
    val bar = expected.values.map(_._2).max * 0.9
    val hi = GraphOps.nodeSimilarity(spark, edgeDf, 2, minSimilarity = bar)
      .collect().map(r => r.getDouble(3))
    assert(hi.nonEmpty && hi.forall(_ >= bar))
    assert(hi.length == expected.values.count(_._2 >= bar))
  }

  test("SCC exact vs Tarjan: scale-free graph + planted cycles + pure DAG") {
    // the base graph plus a planted long cycle through fresh vertices
    val cycle = (400L to 409L).sliding(2).map(s => (s(0), s(1))).toSeq :+ (409L, 400L)
    val g = allEdges ++ cycle
    val got = GraphOps.stronglyConnectedComponents(spark, g.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = NaiveGraph.tarjanScc(g)
    assert(got == expected)
    // the planted 10-cycle is one component labeled by its min member
    assert((400L to 409L).forall(v => got(v) == 400L))
    // a pure DAG is all singletons (trim should drain it without coloring)
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val dagScc = GraphOps.stronglyConnectedComponents(spark, dag)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dagScc == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("co-occurrence projection: exact counts, support threshold, mega-group cap") {
    val facts = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),            // group 10: pairs (1,2)(1,3)(2,3)
      (11L, 1L), (11L, 2L),                        // (1,2) again -> cooc 2
      (12L, 2L), (12L, 3L), (12L, 2L),             // dup membership row dedups
      (13L, 7L)                                    // singleton group: no pairs
    ).toDF("g", "item")
    val got = GraphOps.coOccurrenceProjection(spark, facts, "g", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 2L))
    val sup = GraphOps.coOccurrenceProjection(spark, facts, "g", "item", minSupport = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sup == Map((1L, 2L) -> 2L, (2L, 3L) -> 2L))
    // a mega-group over the cap contributes nothing; small groups unaffected
    val withMega = facts.union((1L to 50L).map(i => (99L, i)).toDF("g", "item"))
    val capped = GraphOps.coOccurrenceProjection(spark, withMega, "g", "item",
        maxGroupSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == got)
  }

  test("weighted PageRank matches naive within 1e-9; uniform weights equal the unweighted kernel; bad weights rejected") {
    val wEdges = allEdges.map { case (s, d) => (s, d, ((s * 3 + d) % 7 + 1).toDouble) }
    val got = GraphOps.pageRank(spark, wEdges.toDF("src", "dst", "wt"), 10,
        redistributeDangling = false, weightCol = Some("wt"))
      .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = NaiveGraph.weightedPageRank(wEdges, vertices, 10, 0.85)
    for ((v, r) <- expected) assert(math.abs(got(v) - r) < 1e-9, s"vertex $v: ${got(v)} vs $r")
    // all-equal weights reduce to the uniform 1/outdeg transition
    val uni = GraphOps.pageRank(spark,
        allEdges.map(e => (e._1, e._2, 2.5)).toDF("src", "dst", "wt"), 6,
        redistributeDangling = false, weightCol = Some("wt"))
      .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = GraphOps.pageRank(spark, edgeDf, 6, redistributeDangling = false)
      .ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((v, r) <- plain) assert(math.abs(uni(v) - r) < 1e-12, s"vertex $v uniform-weight parity")
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(spark, Seq((1L, 2L, 0.0)).toDF("src", "dst", "wt"), 2,
        redistributeDangling = false, weightCol = Some("wt"))
    }
  }

  test("SCC trim fixpoint: pendant chain into a cycle drains one vertex per round, every vertex assigned exactly once") {
    // 1->2->...->8 feeds the 3-cycle {9,10,11}; plus a disconnected 2-cycle
    // {20,21}. The chain head loses its last in-edge only after its
    // predecessor trims, so the trim loop must iterate to fixpoint (8
    // rounds) before coloring touches the two cycles. Exercises the r6
    // single-aggregation round + semi-join peel.
    val chain = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
    val g = chain ++ Seq((8L, 9L), (9L, 10L), (10L, 11L), (11L, 9L), (20L, 21L), (21L, 20L))
    val (scc, stats) = GraphOps.sccResult(spark, g.toDF("src", "dst"))
    val got = scc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == NaiveGraph.tarjanScc(g))
    assert((9L to 11L).forall(v => got(v) == 9L) && got(20L) == 20L && got(21L) == 20L)
    assert(stats.trimmedVerts == 8 && stats.coloredVerts == 5, s"stats $stats")
    assert(stats.trimRounds == 8, s"one chain vertex per round: $stats")
    assert(got.size == 13) // assigned exactly once: no duplicates in the union
  }

  test("SCC degenerate inputs: empty edge table and self-loops-only both yield empty results") {
    assert(GraphOps.stronglyConnectedComponents(spark,
      Seq.empty[(Long, Long)].toDF("src", "dst")).isEmpty)
    assert(GraphOps.stronglyConnectedComponents(spark,
      Seq((5L, 5L)).toDF("src", "dst")).isEmpty)
  }

  test("weighted PageRank rejects NULL weights with a clear message") {
    val e = Seq((Some(1.0), 1L, 2L), (None, 2L, 3L))
      .map { case (w, s, d) => (s, d, w) }.toDF("src", "dst", "wt")
    val ex = intercept[IllegalArgumentException] {
      GraphOps.pageRank(spark, e, 2, redistributeDangling = false, weightCol = Some("wt"))
    }
    assert(ex.getMessage.contains("NULL weight"))
  }

  test("personalized restart rejects the dangling-supernode arm and empty seed sets") {
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(spark, edgeDf, 2, redistributeDangling = true,
        restart = Some(Seq(0L).toDF("id")))
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(spark, edgeDf, 2, redistributeDangling = false,
        restart = Some(Seq(999999L).toDF("id"))) // not a graph vertex
    }
  }
}

object SyntheticGraph {
  def mix(parts: Long*): Long = graft.gen.SyntheticRepoFiles.mix(parts: _*)
}

/** Naive single-threaded reference implementations. */
object NaiveGraph {

  def pageRank(edges: Seq[(Long, Long)], vertices: Seq[Long], iters: Int,
               d: Double, dangling: Boolean): Map[Long, Double] = {
    val n = vertices.size
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val inEdges = edges.groupBy(_._2)
    var ranks = vertices.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val danglingMass = if (dangling) vertices.filter(v => !out.contains(v)).map(ranks).sum / n else 0.0
      ranks = vertices.map { v =>
        val contrib = inEdges.getOrElse(v, Seq.empty).map { case (s, _) => ranks(s) / out(s) }.sum
        v -> ((1.0 - d) / n + d * (contrib + danglingMass))
      }.toMap
    }
    ranks
  }

  def connectedComponents(edges: Seq[(Long, Long)], vertices: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  def labelPropagation(edges: Seq[(Long, Long)], vertices: Seq[Long], iters: Int): Map[Long, Long] = {
    val sym = (edges ++ edges.map(_.swap)).distinct
    val inN = sym.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var labels = vertices.map(v => v -> v).toMap
    for (_ <- 0 until iters) {
      labels = vertices.map { v =>
        inN.get(v) match {
          case None => v -> labels(v)
          case Some(ns) =>
            val counts = ns.map(labels).groupBy(identity).view.mapValues(_.size).toSeq
            val best = counts.minBy { case (l, c) => (-c, l) }._1
            v -> best
        }
      }.toMap
    }
    labels
  }

  def hits(edges: Seq[(Long, Long)], vertices: Seq[Long], iters: Int): Map[Long, (Double, Double)] = {
    val e = edges.filter(x => x._1 != x._2).distinct
    var h = vertices.map(_ -> 1.0).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to iters) {
      a = vertices.map(v => v -> e.filter(_._2 == v).map(x => h(x._1)).sum).toMap
      h = vertices.map(v => v -> e.filter(_._1 == v).map(x => a(x._2)).sum).toMap
    }
    val (na, nh) = (a.values.sum, h.values.sum)
    vertices.map(v => v -> (h(v) / nh, a(v) / na)).toMap
  }

  def weightedPageRank(edges: Seq[(Long, Long, Double)], vertices: Seq[Long],
                       iters: Int, d: Double): Map[Long, Double] = {
    val n = vertices.size
    val wsum = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val inEdges = edges.groupBy(_._2)
    var ranks = vertices.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      ranks = vertices.map { v =>
        val contrib = inEdges.getOrElse(v, Seq.empty)
          .map { case (s, _, w) => ranks(s) * (w / wsum(s)) }.sum
        v -> ((1.0 - d) / n + d * contrib)
      }.toMap
    }
    ranks
  }

  def personalizedPageRank(edges: Seq[(Long, Long)], vertices: Seq[Long], seeds: Set[Long],
                           iters: Int, d: Double): Map[Long, Double] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val inEdges = edges.groupBy(_._2)
    val p = vertices.map(v => v -> (if (seeds(v)) 1.0 / seeds.size else 0.0)).toMap
    var ranks = p
    for (_ <- 0 until iters) {
      ranks = vertices.map { v =>
        val contrib = inEdges.getOrElse(v, Seq.empty).map { case (s, _) => ranks(s) / out(s) }.sum
        v -> ((1.0 - d) * p(v) + d * contrib)
      }.toMap
    }
    ranks
  }

  def randomWalks(edges: Seq[(Long, Long)], vertices: Seq[Long], walkLen: Int,
                  walksPerVertex: Int): Set[(Long, Int, Int, Long)] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    val out = scala.collection.mutable.Set.empty[(Long, Int, Int, Long)]
    for (seed <- vertices; w <- 0 until walksPerVertex) {
      var v = seed
      out += ((seed, w, 0, v))
      var t = 1
      var alive = true
      while (t <= walkLen && alive) {
        adj.get(v) match {
          case Some(ns) =>
            v = ns((h60(s"$seed:$w:$t") % ns.size).toInt)
            out += ((seed, w, t, v))
          case None => alive = false
        }
        t += 1
      }
    }
    out.toSet
  }

  def nodeSimilarity(edges: Seq[(Long, Long)], minIntersection: Int): Map[(Long, Long), (Long, Double)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vs = nbrs.keys.toSeq.sorted
    (for {
      i <- vs.indices; j <- (i + 1) until vs.length
      u = vs(i); v = vs(j)
      common = nbrs(u).intersect(nbrs(v)).size if common >= minIntersection
    } yield (u, v) -> (common.toLong,
      common.toDouble / (nbrs(u).size + nbrs(v).size - common))).toMap
  }

  /** Iterative Tarjan (explicit stack — the spec graph is deep), min-member labels. */
  def tarjanScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.filter(x => x._1 != x._2).distinct
    val vs = e.flatMap(x => Seq(x._1, x._2)).distinct
    val adj = e.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayDeque.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- vs if !index.contains(root)) {
      // frames: (vertex, iterator over neighbors)
      val frames = scala.collection.mutable.ArrayDeque((root, adj.getOrElse(root, Seq.empty).iterator))
      index(root) = counter; low(root) = counter; counter += 1
      stack.prepend(root); onStack += root
      while (frames.nonEmpty) {
        val (v, it) = frames.head
        if (it.hasNext) {
          val w = it.next()
          if (!index.contains(w)) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.prepend(w); onStack += w
            frames.prepend((w, adj.getOrElse(w, Seq.empty).iterator))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          frames.removeHead()
          if (frames.nonEmpty) {
            val parent = frames.head._1
            low(parent) = math.min(low(parent), low(v))
          }
          if (low(v) == index(v)) {
            val membs = scala.collection.mutable.ListBuffer.empty[Long]
            var w = -1L
            while ({ w = stack.removeHead(); onStack -= w; membs += w; w != v }) ()
            val label = membs.min
            membs.foreach(m => comp(m) = label)
          }
        }
      }
    }
    comp.toMap
  }

  def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Map[Long, Int] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.distinct.map(_ -> 0).toMap
    var frontier = seeds.distinct
    for (h <- 1 to maxHops if frontier.nonEmpty) {
      val next = frontier.flatMap(v => adj.getOrElse(v, Seq.empty)).distinct
        .filterNot(dist.contains)
      dist = dist ++ next.map(_ -> h)
      frontier = next
    }
    dist
  }

  def clusteringCoefficient(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (_, per) = triangles(edges)
    deg.map { case (v, d) =>
      val t = per.getOrElse(v, 0L)
      v -> (d, t, if (d >= 2) 2.0 * t / (d * (d - 1.0)) else 0.0)
    }
  }

  def kCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var changed = true
    while (changed) {
      val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity).view.mapValues(_.size).toMap
      val surv = deg.filter(_._2 >= k).keySet
      val next = und.filter(e => surv(e._1) && surv(e._2))
      changed = next.size != und.size
      und = next
    }
    (und.map(_._1) ++ und.map(_._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= k)
  }

  def triangles(edges: Seq[(Long, Long)]): (Long, Map[Long, Long]) = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vs = adj.keys.toSeq.sorted
    var total = 0L
    val per = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (u, v) <- und
      w <- adj(u).intersect(adj(v)) if w > v
    } {
      total += 1
      per(u) += 1; per(v) += 1; per(w) += 1
    }
    (total, per.toMap)
  }
}
