package graft.tools

import graft.gen.SyntheticRepoFiles.mix
import graft.graph.GraphOps
import graft.model._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable

/**
 * Skew and scale probe for one engine target. Runs the target once under a
 * private job group and reports the group's structural work — jobs, stages,
 * tasks, shuffle write — plus per-stage task durations, whose max/median
 * within a heavy stage is the straggler measure ("no straggler" = < 4), and
 * its generated code: the run starts from an empty codegen cache, so
 * `compiles` is every class it compiled and `entries` the classes the
 * cache holds after it. The two are equal when the run's working set fits
 * the cache (`spark.sql.codegen.cache.maxEntries`, 100 by default); fewer
 * entries than compiles means the run evicted classes and compiled them
 * again. Identical input gives identical job/stage/task counts, so they can
 * be compared across runs where wall time on a shared host cannot.
 *
 * Usage: runMain graft.tools.Probe <target> <cores> <size>
 *   target  pagerank | cc | lp | scc | resolve | dedup
 *   size    millions of rows: edges of the hub graph (graph targets), AP
 *           edges (resolve) or docs (dedup); or, for graph targets,
 *           `sf:<dir>` to run on `Queries.derivedEdges(dir)`
 */
object Probe {

  /** One probe run: the job group's job count, each completed stage's
    * shuffle write and each stage's task durations (sorted), the classes
    * compiled for generated code from an empty cache and the cache's entries
    * after the run (the whole JVM's counts, so a concurrent query elsewhere
    * adds to them), and the target's own summary line. */
  final case class Report(wallSec: Double, jobs: Int, stageShuffleBytes: Map[Int, Long],
                          stageTaskMs: Map[Int, Vector[Long]], compiles: Long, entries: Long,
                          summary: String) {
    def stages: Int = stageShuffleBytes.size
    def tasks: Int = stageTaskMs.valuesIterator.map(_.size).sum
    def shuffleWriteBytes: Long = stageShuffleBytes.values.sum
    /** The eight stages with the most summed task time, heaviest first. */
    def heavy: Seq[(Int, Vector[Long])] = stageTaskMs.toSeq.sortBy(-_._2.sum).take(8)
  }

  /** `m` edges over m/20 vertices (average degree 20): every tenth edge
    * points at vertex 0 (a junit/lodash-style hub), the rest at u²-skewed
    * targets, so one giant component forms around a 10%-in-degree hub. */
  private def hubGraph(spark: SparkSession, m: Long): DataFrame = {
    import spark.implicits._
    val n = math.max(2L, m / 20)
    spark.range(m).map { i =>
      val h = mix(11L, i)
      val u = (mix(h, 5L) >>> 11).toDouble / (1L << 53).toDouble
      (Math.floorMod(h, n), if (i % 10 == 0) 0L else math.min(n - 1, (u * u * n).toLong))
    }.toDF("src", "dst")
  }

  def run(spark: SparkSession, target: String, size: String): Report = {
    import spark.implicits._
    def rows = (size.toDouble * 1e6).toLong
    def graph =
      if (size.startsWith("sf:")) graft.queries.Queries.derivedEdges(spark, size.drop(3))
      else hubGraph(spark, rows)
    measure(spark)(target match {
      case "pagerank" =>
        val r = GraphOps.pageRank(spark, graph, iterations = 6)
        val n = r.ranks.count()
        r.release()
        _ => s"vertices=$n supersteps=${r.supersteps} perStepMs=${r.metrics.map(_.millis).mkString(",")}"
      case "cc" =>
        val r = GraphOps.connectedComponentsResult(spark, graph)
        val n = r.components.count()
        val c = r.components.select($"component").distinct().count()
        r.release()
        _ => s"vertices=$n components=$c rounds=${r.rounds}"
      case "lp" =>
        val r = GraphOps.labelPropagationResult(spark, graph, 3)
        val n = r.labels.count()
        val l = r.labels.select($"label").distinct().count()
        r.release()
        _ => s"vertices=$n labels=$l supersteps=3"
      case "scc" =>
        val (scc, s) = GraphOps.sccResult(spark, graph)
        val n = scc.count()
        _ => s"vertices=$n outer=${s.outerRounds} trimRounds=${s.trimRounds} colorIters=${s.colorIters} " +
          s"backIters=${s.backIters} trimmed=${s.trimmedVerts} colored=${s.coloredVerts}"
      case "resolve" =>
        val aa = graft.resolve.ResolveJob.run(spark, hubCorpus(spark, rows), artifacts(spark)).aaEdges.count()
        _ => s"apEdges=$rows aaEdges=$aa"
      case "dedup" => dedup(spark, rows)
      case other => throw new IllegalArgumentException(
        s"unknown target '$other' (pagerank | cc | lp | scc | resolve | dedup)")
    })
  }

  private val Packages = 50000L

  /** AP edges where one package+spec key carries 10% of all edges (the
    * junit analogue); the rest spread uniformly over [[Packages]]. */
  private def hubCorpus(spark: SparkSession, m: Long) = {
    import spark.implicits._
    spark.range(m).map { i =>
      val pkg = if (i % 10 == 0) 0L else 1L + Math.floorMod(mix(3L, i), Packages - 1)
      ApEdge(s"npm:src$i:1.0.0", s"npm:pkg$pkg", "npm", ">=1.0.0", resolved = false, Map.empty)
    }
  }

  private def artifacts(spark: SparkSession) = {
    import spark.implicits._
    spark.range(Packages).flatMap { p =>
      Seq("1.0.0", "1.5.0", "2.0.0").map(v =>
        ArtifactRow(s"npm:pkg$p:$v", s"npm:pkg$p", v, VersionCompare.key(v), Map.empty))
    }
  }

  /** MinHash near-dup detection over mostly-unique ~200-char docs where 5
    * per mille repeat their block's first doc. Its verify stage must shuffle
    * in proportion to the candidates; the counterfactual is what
    * materializing every doc's shingle set would write (docs x shingles x 8 B). */
  private def dedup(spark: SparkSession, docs: Long): Report => String = graft.util.KernelRun.inRun(spark, "probe") { run =>
    import spark.implicits._
    val corpus = run.cache(spark.range(docs).map { boxed =>
      val i = boxed.longValue
      val base = if (i % 1000 < 5 && i % 1000 > 0) i - i % 1000 else i
      val sb = new StringBuilder(220)
      var w = 0
      while (w < 25) { sb.append("w").append(mix(base, w.toLong) & 0xFFFFFF).append(' '); w += 1 }
      (i, sb.toString)
    }.toDF("doc_id", "text"))
    val nDocs = corpus.count()
    val nPairs = graft.ops.Dedup.minhashNearDups(spark, corpus, "doc_id", "text", threshold = 0.7).count()
    val sample = corpus.limit(1000).as[(Long, String)].collect()
    val avgShingles = sample.map(d => graft.ops.Dedup.shingles(d._2).size).sum.toDouble / sample.length
    val corpusBytes = (nDocs * avgShingles * 8).toLong
    r => {
      val largest = r.stageShuffleBytes.values.maxOption.getOrElse(0L)
      f"docs=$nDocs nearDupPairs=$nPairs largest stage shuffle ${largest / 1e6}%.1fMB vs " +
        f"full-corpus shingle counterfactual ${corpusBytes / 1e6}%.1fMB (ratio ${largest.toDouble / corpusBytes}%.3f)"
    }
  }

  /** Runs `body` under a fresh job group with a [[Work]] listener attached
    * and an empty codegen cache, drains the listener bus, then reads the
    * listener and removes it. `body` returns its summary as a function of
    * the finished report. */
  private def measure(spark: SparkSession)(body: => Report => String): Report = {
    val sc = spark.sparkContext
    val work = new Work(s"graft-probe-${java.util.UUID.randomUUID}")
    sc.addSparkListener(work)
    try {
      sc.setJobGroup(work.group, "graft.tools.Probe")
      Bridge.invalidateCodegenCache()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val summarize = try body finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val entries = Bridge.codegenCacheEntries
      Bridge.drainListenerBus(sc)
      val r = Report(wall, work.jobs, work.stageShuffle.toMap,
        work.taskMs.view.mapValues(_.sorted.toVector).toMap, compiles, entries, "")
      r.copy(summary = summarize(r))
    } finally sc.removeSparkListener(work)
  }

  /** Per-stage task durations and shuffle write of the jobs in `group`.
    * Events arrive on the bus's single dispatch thread; the fields are read
    * only after [[Bridge.drainListenerBus]] has returned. */
  private final class Work(val group: String) extends SparkListener {
    var jobs = 0
    private val ours = mutable.Set.empty[Int]
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stageShuffle = mutable.Map.empty[Int, Long]

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group) {
        jobs += 1; ours ++= j.stageIds
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (ours(s.stageInfo.stageId))
        stageShuffle(s.stageInfo.stageId) = s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (ours(t.stageId) && t.taskInfo != null)
        taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Probe <pagerank|cc|lp|scc|resolve|dedup> <cores> <sizeM | sf:<dir>>")
    val Array(target, cores, size) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // skew must be carried by the engine's own salting, not AQE's skew split
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      // shuffle/spill files on tmpfs unless the deployment names its local dirs
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val r = run(spark, target, size)
      println(f"PROBE $target cores=$cores size=$size wall=${r.wallSec}%.1fs jobs=${r.jobs} " +
        f"stages=${r.stages} tasks=${r.tasks} shuffleMB=${r.shuffleWriteBytes / 1e6}%.1f compiles=${r.compiles} entries=${r.entries}")
      var worst = 0.0
      r.heavy.foreach { case (stage, ds) =>
        val med = math.max(1L, ds(ds.length / 2))
        val ratio = ds.last.toDouble / med
        if (ds.sum > 2000 && ratio > worst) worst = ratio // only stages with real work
        println(f"stage=$stage tasks=${ds.length} sumMs=${ds.sum} medianMs=$med maxMs=${ds.last} max/median=$ratio%.2f")
      }
      println(f"worst heavy-stage max/median = $worst%.2f (target < 4)")
      println(r.summary)
    } finally spark.stop()
  }
}
