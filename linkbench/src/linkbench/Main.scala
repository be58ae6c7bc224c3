package linkbench

import graft.cli.Cli
import graft.graph.GraphOps
import graft.mine.{MineJob, Mined}
import graft.resolve.ResolveJob
import graft.sources.RepoFileSource
import graft.util.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import scala.collection.mutable

/** Order-independent, duplicate-sensitive table digest: row count, xor and
  * 32-bit-chunk sum of `xxhash64` over every column (maps as sorted entries). */
final case class Digest(rows: Long, xor: Long, sum: Long) {
  override def toString: String = f"$rows:$xor%016x:$sum%x"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => sort_array(map_entries(col(f.name)))
        case _          => col(f.name)
      }
    }
    val h = col("h")
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)), coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)))
      .first()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 20, trace: Boolean = false,
                      work: String = "", out: String = "", spans: String = "", cpus: Int = 4,
                      expected: String = "", record: Seq[Long] = Nil)

/**
 * The benchmark program: builds one workload's input from the seed, runs
 * warm-up cycles (part of set-up), then timed cycles for the requested
 * number of seconds, checks every output, and writes a JSON result.
 */
object Main {

  // Input sizes. Changing one invalidates the recorded digests in
  // expected.json, which are keyed by the size string.
  val CorpusPkgsPerEco = 200
  val GraphVertices = 1 << 11
  val GraphEdges = 40000L
  val PageRankSteps = 10
  val LpSteps = 5
  val WarmupCycles = 1

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList, Opts())
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("linkbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try new Run(spark, o).run() finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def parse(a: List[String], o: Opts): Opts = a match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t     => parse(t, o.copy(work = v))
    case "--out" :: v :: t      => parse(t, o.copy(out = v))
    case "--spans" :: v :: t    => parse(t, o.copy(spans = v))
    case "--cpus" :: v :: t     => parse(t, o.copy(cpus = v.toInt))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case "--record" :: v :: t   => parse(t, o.copy(record = v.split(",").toSeq.map(_.toLong)))
    case Nil                    => o
    case x :: _                 => throw new IllegalArgumentException(s"unknown option $x")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
}

/** One operation's outcome: a call into a layer plus the check of its output. */
final case class Outcome(cycle: Int, op: String, ok: Boolean, note: String)

final class Run(spark: SparkSession, o: Opts) {
  import Main._
  import spark.implicits._

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val tracer = new Tracer(spark, o.trace)
  private val outcomes = mutable.ArrayBuffer.empty[Outcome]
  /** per-cycle layer facts (counts) reported as per-layer metrics */
  private val facts = mutable.Map.empty[(Int, String), Double]
  /** digests of the first cycle, for --record and the cross-cycle check */
  private val firstDigests = mutable.LinkedHashMap.empty[String, String]
  private var keepRdds = Set.empty[Int]

  private val corpus = Gen.Corpus(CorpusPkgsPerEco, o.seed)
  private val graph = Gen.Graph(GraphVertices, GraphEdges, o.seed)
  private val corpusDir = s"${o.work}/corpus"
  private val edgesDir = s"${o.work}/edges"
  private val storeDir = s"${o.work}/store"
  private var edges: DataFrame = _
  private var inputRows = 0L

  private val sizeKey = o.workload match {
    case "kernels" => s"vertices=$GraphVertices,edges=$GraphEdges"
    case _         => s"pkgsPerEco=$CorpusPkgsPerEco"
  }
  private lazy val expected: Map[String, String] = Expected.load(o.expected, o.workload, sizeKey, o.seed)

  private def verify(name: String, cycle: Int)(checks: (String, Boolean)*): Unit = {
    val bad = checks.filterNot(_._2).map(_._1)
    outcomes += Outcome(cycle, name, bad.isEmpty, bad.mkString("; "))
  }

  /** A digest check: against the recorded value for this seed when there is
    * one, else against the first cycle of this run. */
  private def digestCheck(table: String, d: Digest): (String, Boolean) = {
    val v = d.toString
    val first = firstDigests.getOrElseUpdate(table, v)
    expected.get(table) match {
      case Some(e) => (s"$table digest $v != recorded $e", v == e)
      case None    => (s"$table digest $v != first cycle $first", v == first)
    }
  }

  // ------------------------------------------------------------ workloads

  private def writeInputs(): Unit = o.workload match {
    case "kernels" => Gen.edgeTable(spark, graph).write.mode("overwrite").parquet(edgesDir)
    case _         => Gen.corpus(spark, corpus).write.mode("overwrite").parquet(corpusDir)
  }

  /** Reads the inputs that stay for the whole run. */
  private def openInputs(): Unit = if (o.workload == "kernels") {
    edges = spark.read.parquet(edgesDir).localCheckpoint(true)
    keepRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  private def inputDigest(): (String, Digest) = o.workload match {
    case "kernels" => ("input.edges", Digest.of(edges))
    case _         => ("input.corpus", Digest.of(spark.read.parquet(corpusDir)))
  }

  private def cycle(c: Int): Unit = o.workload match {
    case "ingest"  => ingestCycle(c)
    case "kernels" => kernelsCycle(c)
    case "store"   => storeCycle(c)
    case w         => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def ingestCycle(c: Int): Unit = {
    val files = tracer.span("sources", c)(RepoFileSource.read(spark, s"parquet:$corpusDir"))
    verify("sources", c)(("columns", files.columns.toSeq == RepoFileSource.Columns))

    val (mined, md) = tracer.span("mine", c) {
      val m = MineJob.run(spark, files)
      (m, scala.collection.immutable.ListMap(minedTables(m).map { case (n, df) => n -> Digest.of(df) }: _*))
    }
    val parsed = mined.parsed.count()
    val quarantined = md("quarantine").rows
    val (manifests, malformed) = Gen.manifestCounts(corpus)
    val badSha = mined.parsed.select($"repo", $"path", $"commit", $"contentSha")
      .join(MineJob.contentInvariants(files), Seq("repo", "path", "commit"))
      .agg(count(lit(1)), sum(when($"contentSha" =!= $"content_sha", 1).otherwise(0))).first()
    facts((c, "mine.manifests")) = (parsed + quarantined).toDouble
    facts((c, "mine.quarantined")) = quarantined.toDouble
    verify("mine", c)(md.toSeq.map { case (n, d) => digestCheck(n, d) } ++ Seq(
      (s"manifests ${parsed + quarantined} != generated $manifests", parsed + quarantined == manifests),
      (s"quarantined $quarantined != malformed $malformed", quarantined == malformed),
      (s"contentSha joined ${badSha.getLong(0)} of $parsed rows", badSha.getLong(0) == parsed),
      (s"contentSha != sha2(content) on ${badSha.get(1)} rows", badSha.isNullAt(1) || badSha.getLong(1) == 0L)): _*)

    val aa = tracer.span("resolve", c)(Digest.of(ResolveJob.run(spark, mined.apEdges, mined.artifacts).aaEdges.toDF()))
    facts((c, "resolve.aa_per_ap")) = aa.rows.toDouble / md("ap_edges").rows
    verify("resolve", c)(digestCheck("aa_edges", aa))

    val ix = tracer.span("graph.index", c) {
      val (e, _) = GraphOps.indexEdges(spark, mined.ppEdges.toDF(), "srcPackageId", "dstPackageId")
      Digest.of(e)
    }
    verify("graph.index", c)(digestCheck("indexed_pp_edges", ix),
      (s"indexed ${ix.rows} != pp ${md("pp_edges").rows} edges", ix.rows == md("pp_edges").rows))
  }

  private def minedTables(m: Mined): Seq[(String, DataFrame)] = Seq(
    "packages" -> m.packages.toDF(), "artifacts" -> m.artifacts.toDF(), "ap_edges" -> m.apEdges.toDF(),
    "pp_edges" -> m.ppEdges.toDF(), "quarantine" -> m.quarantine.toDF())

  /** Kernel outputs of one cycle, kept compact until the end-of-run check. */
  private final case class KernelOut(cycle: Int, ranks: Array[(Long, Double)], cc: Array[(Long, Long)],
                                     lp: Array[(Long, Long)], triangles: Long)
  private val kernelOuts = mutable.ArrayBuffer.empty[KernelOut]

  private def kernelsCycle(c: Int): Unit = {
    val ranks = tracer.span("graph.pagerank", c) {
      val r = GraphOps.pageRank(spark, edges, PageRankSteps)
      facts((c, "graph.pagerank.supersteps")) = r.metrics.size.toDouble
      r.ranks.as[(Long, Double)].collect()
    }
    val cc = tracer.span("graph.cc", c) {
      val r = GraphOps.connectedComponentsResult(spark, edges)
      facts((c, "graph.cc.supersteps")) = r.metrics.size.toDouble
      r.components.select($"id", $"component").as[(Long, Long)].collect()
    }
    val lp = tracer.span("graph.lp", c) {
      val r = GraphOps.labelPropagationResult(spark, edges, LpSteps)
      facts((c, "graph.lp.supersteps")) = r.metrics.size.toDouble
      r.labels.select($"id", $"label").as[(Long, Long)].collect()
    }
    val tri = tracer.span("graph.triangles", c)(GraphOps.triangleCount(spark, edges)._1)
    kernelOuts += KernelOut(c, ranks, cc, lp, tri)
  }

  /** Checks every cycle's kernel outputs against the in-memory reference. */
  private def checkKernels(): Unit = if (kernelOuts.nonEmpty) {
    val rows = edges.as[(Long, Long)].collect()
    val ref = new Reference(rows.map(_._1.toInt), rows.map(_._2.toInt), GraphVertices)
    val pr = ref.pageRank(PageRankSteps)
    val cc = ref.components()
    val lp = ref.labelPropagation(LpSteps)
    val tri = ref.triangles()
    val ids = (0 until GraphVertices).filter(ref.present)
    val top20 = ids.sortBy(v => (-pr(v), v)).take(20)
    for (k <- kernelOuts) {
      val c = k.cycle
      val got = k.ranks.toMap
      val mass = k.ranks.iterator.map(_._2).sum
      val maxErr = ids.iterator.map(v => math.abs(got.getOrElse(v.toLong, Double.NaN) - pr(v))).max
      val gotTop = k.ranks.sortBy { case (v, r) => (-r, v) }.take(20).map(_._1.toInt).toSeq
      // ids whose reference ranks are within float noise may swap places
      val topOk = gotTop.zip(top20).forall { case (a, b) => a == b || math.abs(pr(a) - pr(b)) < 1e-12 }
      verify("graph.pagerank", c)(
        (s"ranks for ${got.size} of ${ref.vertexCount} vertices", got.size == ref.vertexCount),
        (s"rank mass $mass", math.abs(mass - 1.0) < 1e-6),
        (s"max |rank - reference| $maxErr", maxErr < 1e-9),
        (s"top-20 ${gotTop.mkString(",")} != ${top20.mkString(",")}", topOk))
      val label = k.cc.toMap
      val edgeCut = rows.count { case (s, d) => label.get(s) != label.get(d) }
      val notMin = ids.count(v => !label.get(v.toLong).contains(cc(v).toLong))
      verify("graph.cc", c)(
        (s"labels for ${label.size} of ${ref.vertexCount} vertices", label.size == ref.vertexCount),
        (s"$edgeCut edges join two labels", edgeCut == 0),
        (s"$notMin labels are not their component's minimum id", notMin == 0))
      val lpGot = k.lp.toMap
      val lpBad = ids.count(v => !lpGot.get(v.toLong).contains(lp(v).toLong))
      verify("graph.lp", c)(
        (s"labels for ${lpGot.size} of ${ref.vertexCount} vertices", lpGot.size == ref.vertexCount),
        (s"$lpBad labels differ from the reference", lpBad == 0))
      verify("graph.triangles", c)((s"triangles ${k.triangles} != reference $tri", k.triangles == tri))
    }
    kernelOuts.clear()
  }

  private val cliSteps: Seq[(String, Array[String])] = Seq(
    "delete" -> Array.empty[String], "mine-from" -> Array(s"parquet:$corpusDir"), "parse" -> Array.empty[String],
    "pagerank" -> Array("20"), "components" -> Array.empty[String], "labelprop" -> Array("10"))

  private def storeCycle(c: Int): Unit = {
    for ((cmd, args) <- cliSteps) {
      tracer.span(s"cli.$cmd", c)(Console.withOut(System.err)(Cli.run(spark, cmd, storeDir, args)))
      if (cmd == "delete") verify("cli.delete", c)(("store still exists", !Fs.exists(spark, storeDir)))
    }
    def table(t: String) = digestCheck(t, Digest.of(spark.read.parquet(s"$storeDir/$t")))
    verify("cli.mine-from", c)(Seq("packages", "artifacts", "pp_edges", "quarantine").map(table): _*)
    verify("cli.parse", c)(Seq("ap_edges", "aa_edges").map(table): _*)
    val pr = spark.read.parquet(s"$storeDir/pagerank").agg(count(lit(1)), sum($"rank")).first()
    val vertices = spark.read.parquet(s"$storeDir/pp_edges")
      .select(explode(array($"srcPackageId", $"dstPackageId"))).distinct().count()
    verify("cli.pagerank", c)(
      (s"ranks for ${pr.getLong(0)} of $vertices vertices", pr.getLong(0) == vertices),
      (s"rank mass ${pr.getDouble(1)}", math.abs(pr.getDouble(1) - 1.0) < 1e-6))
    verify("cli.components", c)(table("components"))
    verify("cli.labelprop", c)(table("labels"))
  }

  /** Drops every cached table and persisted RDD the cycle left behind, so the
    * next cycle measures the work and not a cache hit. */
  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keepRdds.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  // ------------------------------------------------------------------ run

  def run(): Boolean = {
    if (o.record.nonEmpty) return record()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val genT = System.nanoTime()
    writeInputs()
    val genS = (System.nanoTime() - genT) / 1e9
    openInputs()
    val (inputName, inputD) = inputDigest()
    inputRows = inputD.rows
    firstDigests(inputName) = inputD.toString
    expected.get(inputName).foreach { e =>
      verify("input", -1)((s"$inputName digest $inputD != recorded $e", inputD.toString == e))
    }
    log("inputs opened")
    val warmT = System.nanoTime()
    for (w <- 1 to WarmupCycles) { runCycle(-w); clearCaches() }
    val warmS = (System.nanoTime() - warmT) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"set-up done in $setupS%.1f s: session $sessionS%.1f s, warm-up $warmS%.1f s")

    val t0 = System.nanoTime()
    var c = 0
    var last = 0.0
    // at least one timed cycle; another only if it should end near the deadline
    while (!failedHard && (c == 0 || (System.nanoTime() - t0) / 1e9 + last / 2 < o.seconds)) {
      val t = System.nanoTime()
      runCycle(c)
      last = (System.nanoTime() - t) / 1e9
      log(f"cycle $c done in $last%.2f s: " + tracer.spans.filter(s => s.cycle == c && s.name != "cycle")
        .map(s => f"${s.name} ${s.seconds}%.2f").mkString(", "))
      clearCaches()
      c += 1
    }
    checkKernels()
    tracer.drain()
    log("checks done")
    report(setupS, sessionS, genS, warmS)
    outcomes.forall(_.ok)
  }

  private var failedHard = false

  private def log(msg: String): Unit = System.err.println(f"linkbench: ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s: $msg")

  private def runCycle(c: Int): Unit =
    try tracer.span("cycle", c)(cycle(c))
    catch {
      case e: Throwable =>
        failedHard = true
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"cycle $c failed: $msg")
        e.printStackTrace(System.err)
        outcomes += Outcome(c, "cycle", ok = false, msg)
    }

  /** One sample per timed cycle: the sum of `f` over the cycle's spans that
    * `keep` selects. */
  private def samples(keep: Span => Boolean, f: Span => Double = _.seconds): Seq[Double] =
    tracer.spans.filter(s => s.cycle >= 0 && keep(s)).groupBy(_.cycle).values.map(_.map(f).sum).toSeq

  private def stepSamples(names: String*): Seq[Double] = samples(s => names.contains(s.name))

  /** A cycle's engine work is its layer calls, without the output checks. */
  private def isLayerCall(s: Span): Boolean = s.name != "cycle"

  private def report(setupS: Double, sessionS: Double, genS: Double, warmS: Double): Unit = {
    val cycles = samples(isLayerCall)
    val rssMb = peakRssMb()
    val attempted = math.max(1, outcomes.size)
    val failed = outcomes.count(!_.ok)
    val detail = mutable.ArrayBuffer.empty[(String, Double, String, Int)]
    def timing(name: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      detail += ((name, median(xs), "s", xs.size))
      // a percentile only where at least ten samples lie beyond it
      if (xs.size * 0.1 >= 10) detail += ((name + ".p90", xs.sorted.apply((xs.size * 0.9).toInt), "s", xs.size))
    }
    detail += (("setup_s", setupS, "s", 1))
    timing("cycle_s", cycles)
    timing("cycle_cpu_s", samples(isLayerCall, _.cpuSeconds))
    val manifests = Gen.manifestCounts(corpus)._1.toDouble
    o.workload match {
      case "ingest" =>
        val ing = stepSamples("sources", "mine", "resolve")
        timing("ingest_s", ing)
        detail += (("manifests_per_s", manifests / median(ing), "1/s", ing.size))
      case "store" =>
        val ing = stepSamples("cli.mine-from", "cli.parse")
        timing("ingest_s", ing)
        detail += (("manifests_per_s", manifests / median(ing), "1/s", ing.size))
        timing("pagerank_s", stepSamples("cli.pagerank"))
        timing("components_s", stepSamples("cli.components"))
        timing("labelprop_s", stepSamples("cli.labelprop"))
      case _ =>
        val pr = stepSamples("graph.pagerank")
        timing("pagerank_s", pr)
        timing("components_s", stepSamples("graph.cc"))
        timing("labelprop_s", stepSamples("graph.lp"))
        timing("triangles_s", stepSamples("graph.triangles"))
        detail += (("pagerank_edges_per_s", inputRows.toDouble * PageRankSteps / median(pr), "1/s", pr.size))
    }
    detail += (("failed_ratio", failed.toDouble / attempted, "ratio", attempted))
    detail += (("peak_rss_mb", rssMb, "MB", 1))
    detail += (("setup.session_s", sessionS, "s", 1))
    detail += (("setup.generate_s", genS, "s", 1))
    detail += (("setup.warmup_s", warmS, "s", WarmupCycles))
    for (name <- facts.keys.map(_._2).toSeq.distinct.sorted)
      detail += ((name, fact(name), if (name.endsWith("aa_per_ap")) "ratio" else "count", cycles.size))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(("setup_s", setupS, "s"), ("cycle_s", median(cycles), "s"))
      else layerMetrics() :+ (("trace.cycle_s", median(cycles), "s"))

    val js = new StringBuilder
    js ++= s"""{"workload":${str(o.workload)},"seed":${o.seed},"trace":${if (o.trace) 1 else 0},"""
    js ++= s""""sizes":${str(sizeKey)},"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"""
    js ++= metrics.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("\"metrics\":{", ",", "},")
    js ++= detail.map { case (n, v, u, k) => s"""{"name":${str(n)},"value":${num(v)},"unit":${str(u)},"samples":$k}""" }
      .mkString("\"detail\":[", ",", "],")
    js ++= outcomes.filterNot(_.ok).map(f => s"""{"cycle":${f.cycle},"op":${str(f.op)},"note":${str(f.note)}}""")
      .mkString("\"failures\":[", ",", "],")
    js ++= firstDigests.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("\"digests\":{", ",", "}}")
    Fs.write(spark, o.out, js.toString)
    if (o.trace && o.spans.nonEmpty) Fs.write(spark, o.spans, tracer.spansJson)
  }

  /** Median over timed cycles of a per-cycle fact; 0 when never recorded. */
  private def fact(name: String): Double = {
    val xs = facts.collect { case ((c, n), v) if c >= 0 && n == name => v }.toSeq
    if (xs.isEmpty) 0.0 else median(xs)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  // ------------------------------------------------------------ per layer

  private val genericLayers = Seq("sources", "mine", "resolve", "graph.index",
    "graph.pagerank", "graph.cc", "graph.lp", "graph.triangles")

  /** Every per-layer metric, as the median over timed cycles of its
    * per-cycle value. Layers the workload does not call read 0; the `cli.*`
    * layers are reported by the store workload only. */
  private def layerMetrics(): Seq[(String, Double, String)] = {
    def perCycle(layer: String)(f: Span => Double): Double = {
      val xs = samples(_.name == layer, f)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val mb = 1048576.0
    val generic = genericLayers.flatMap { l =>
      val p = perCycle(l) _
      Seq(
        (s"$l.wall_s", p(_.seconds), "s"),
        (s"$l.self_s", p(tracer.selfSeconds), "s"),
        (s"$l.jobs", p(s => tracer.counters(s).jobs), "count"),
        (s"$l.stages", p(s => tracer.counters(s).stages), "count"),
        (s"$l.tasks", p(s => tracer.counters(s).tasks), "count"),
        (s"$l.driver_gap_s", p(tracer.driverGapSeconds), "s"),
        (s"$l.executor_cpu_s", p(s => tracer.counters(s).cpuNs / 1e9), "s"),
        (s"$l.shuffle_write_mb", p(s => tracer.counters(s).shuffleWrite / mb), "MB"),
        (s"$l.shuffle_read_mb", p(s => tracer.counters(s).shuffleRead / mb), "MB"),
        (s"$l.spill_mb", p(s => tracer.counters(s).spill / mb), "MB"),
        (s"$l.task_skew", p(tracer.taskSkew), "ratio"),
        (s"$l.cache_left_mb", p(_.cacheLeftMb), "MB"))
    }
    val extra = Seq(
      ("mine.manifests", fact("mine.manifests"), "count"),
      ("mine.quarantined", fact("mine.quarantined"), "count"),
      ("resolve.aa_per_ap", fact("resolve.aa_per_ap"), "ratio"),
      ("graph.pagerank.supersteps", fact("graph.pagerank.supersteps"), "count"),
      ("graph.cc.supersteps", fact("graph.cc.supersteps"), "count"),
      ("graph.lp.supersteps", fact("graph.lp.supersteps"), "count"))
    val cli = if (o.workload != "store") Nil else cliSteps.map(_._1).flatMap { cmd =>
      val p = perCycle(s"cli.$cmd") _
      Seq(
        (s"cli.$cmd.wall_s", p(_.seconds), "s"),
        (s"cli.$cmd.jobs", p(s => tracer.counters(s).jobs), "count"),
        (s"cli.$cmd.driver_gap_s", p(tracer.driverGapSeconds), "s"),
        (s"cli.$cmd.output_mb", p(s => tracer.counters(s).output / mb), "MB"))
    }
    generic ++ extra ++ cli
  }

  // --------------------------------------------------------------- record

  /** Writes the input digest of each seed and, except for kernels, the
    * output digests of one untimed cycle, for expected.json. */
  private def record(): Boolean = {
    val all = o.record.map { seed =>
      val r = new Run(spark, o.copy(seed = seed, record = Nil, expected = ""))
      val ok = r.recordOne()
      clearCaches()
      s"${str(seed.toString)}:" + r.firstDigests.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}") ->
        ok
    }
    Fs.write(spark, o.out, s"""{"workload":${str(o.workload)},"sizes":${str(sizeKey)},"seeds":""" +
      all.map(_._1).mkString("{", ",", "}") + "}")
    all.forall(_._2)
  }

  private def recordOne(): Boolean = {
    writeInputs(); openInputs()
    val (n, d) = inputDigest(); firstDigests(n) = d.toString
    // kernel outputs are checked against the in-memory reference instead
    if (o.workload != "kernels") runCycle(0)
    outcomes.foreach(f => if (!f.ok) System.err.println(s"seed ${o.seed}: ${f.op} failed: ${f.note}"))
    outcomes.forall(_.ok)
  }
}

/** Digests recorded per workload, input size and seed (expected.json). */
object Expected {
  def load(path: String, workload: String, sizes: String, seed: Long): Map[String, String] = {
    val f = new java.io.File(path)
    if (path.isEmpty || !f.exists()) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val node = Option(root.get(workload)).flatMap(w => Option(w.get(sizes))).flatMap(s => Option(s.get(seed.toString)))
      node.map { n =>
        val it = n.properties().iterator(); val m = mutable.Map.empty[String, String]
        while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText() }
        m.toMap
      }.getOrElse(Map.empty)
    }
  }
}
