package graft.cli

import graft.gen.SyntheticRepoFiles
import graft.graph.GraphOps
import graft.mine.MineJob
import graft.model._
import graft.resolve.ResolveJob
import graft.util.{Fs, KernelRun, SuperstepMetric}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Durable graph store: the engine's replacement for the reference's Neo4j
 * database — four parquet tables (packages, artifacts, ap_edges, aa_edges)
 * plus pp_edges and a quarantine table, with the same upsert semantics
 * (MERGE-by-id with mined-beats-prototype precedence; AP edges appended
 * duplicate-tolerant; AA edges MERGE-deduplicated).
 */
object GraphStore {

  /** Write the mined tables, honoring the store's `dgm.linkage` mode the way
    * the reference builds per-linkage (`Neo4jDatabaseController.java:103-131`:
    * PP mode creates only dependentOnPP edges; AP/AA modes create only
    * dependentOn edges). `linkage=None` (unconfigured) writes the superset.
    * A skipped table is simply not written (mining builds the AP and PP
    * edges either way: the prototype stubs and resolve read them). */
  def write(spark: SparkSession, dir: String, mined: graft.mine.Mined,
            mode: SaveMode = SaveMode.Overwrite, linkage: Option[String] = None): Unit = {
    mined.packages.write.mode(mode).parquet(s"$dir/packages")
    mined.artifacts.write.mode(mode).parquet(s"$dir/artifacts")
    if (linkage.forall(l => l == "ap" || l == "aa"))
      mined.apEdges.write.mode(mode).parquet(s"$dir/ap_edges")
    if (linkage.forall(_ == "pp"))
      mined.ppEdges.write.mode(mode).parquet(s"$dir/pp_edges")
    mined.quarantine.write.mode(mode).parquet(s"$dir/quarantine")
  }

  def readPackages(spark: SparkSession, dir: String): Dataset[PackageRow] = {
    import spark.implicits._; spark.read.parquet(s"$dir/packages").as[PackageRow]
  }
  def readArtifacts(spark: SparkSession, dir: String): Dataset[ArtifactRow] = {
    import spark.implicits._; spark.read.parquet(s"$dir/artifacts").as[ArtifactRow]
  }
  def readApEdges(spark: SparkSession, dir: String): Dataset[ApEdge] = {
    import spark.implicits._; spark.read.parquet(s"$dir/ap_edges").as[ApEdge]
  }

  /** MERGE packages: stored rows survive unless the incoming row is mined and
    * the stored one is a prototype (the reference's name != 'Prototype
    * Package' guard, `Neo4jDatabaseController.java:143-146`). */
  def mergePackages(spark: SparkSession, stored: Dataset[PackageRow],
                    incoming: Dataset[PackageRow]): Dataset[PackageRow] = {
    import spark.implicits._
    stored.unionByName(incoming)
      .groupByKey(_.id)
      .reduceGroups((a, b) => if (a.isPrototype && !b.isPrototype) b else if (!a.isPrototype) a else b)
      .map(_._2)
  }
}

/**
 * Per-store configuration, the analogue of the reference's
 * `system.properties` + `config` command (`Utilities/CommandUtilities
 * .java:62-124`). Stored as `key=value` lines in `<store>/CONFIG` through the
 * Hadoop FileSystem. Only reference-meaningful keys are accepted.
 */
object CliConfig {
  /** Validate one property, mirroring `CommandUtilities.checkProp`. */
  def check(key: String, value: String): Boolean = key match {
    case "dgm.limit" | "dgm.offset" | "dgm.parallel" =>
      try value.toInt >= 0 catch { case _: NumberFormatException => false }
    case "dgm.linkage" => Set("pp", "ap", "aa").contains(value)
    case "dgm.repo"    => Set("maven", "npm", "pypi", "nuget").contains(value)
    case _             => false
  }

  def readAll(spark: SparkSession, dir: String): Map[String, String] =
    Fs.read(spark, s"$dir/CONFIG").getOrElse("").linesIterator
      .map(_.trim).filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

  def set(spark: SparkSession, dir: String, key: String, value: String): Unit = {
    require(check(key, value), s"invalid config: $key=$value")
    val all = readAll(spark, dir) + (key -> value)
    Fs.write(spark, s"$dir/CONFIG", all.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }
}

/**
 * spark-submit entry points mirroring the reference's CLI commands
 * (`Application/Commands/`, `Application/Task.java:186-217`, SURVEY §3):
 * start, parse (AA resolution), update (incremental delta), export (id list),
 * import-ids, status, logs, config, delete. The reference's `stop` command
 * kills a live miner thread (`Task.java:207-217`); batch mine/parse jobs are
 * stopped by killing the spark-submit itself, and long ITERATIVE runs get a
 * cooperative analogue: `stop` writes a STOP marker on the store FS that
 * `pagerank` polls at checkpoint boundaries, ending the run checkpointed and
 * resumable — works across nodes that share the store filesystem.
 *
 * Usage: spark-submit --class graft.cli.Cli ... <command> <storeDir> [args...]
 *   start      <storeDir> [packagesPerEco]    — mine the synthetic corpus, write the store;
 *                                               auto-chains `parse` when dgm.linkage=aa
 *                                               (reference `MinerScheduler.java:160-162`)
 *   mine-from  <storeDir> <sourceSpec>        — mine an external repo-file table
 *                                               (table:<cat.db.t> | parquet:|orc:|avro:<path>)
 *   parse      <storeDir>                     — AP->AA resolution over the store
 *   update     <storeDir> [packagesPerEco]    — delta mine + re-resolve (J2/J3)
 *   pagerank   <storeDir> [iters]             — resumable PageRank over the linkage graph
 *                                               (checkpoints keyed by graph fingerprint)
 *   components <storeDir>                     — resumable connected components → components/
 *   labelprop  <storeDir> [iters]             — resumable label propagation → labels/
 *   stop       <storeDir>                     — cooperative cancel: a running `pagerank`/
 *                                               `components`/`labelprop` ends at its next
 *                                               checkpoint boundary (resumable)
 *   status     <storeDir>                     — last-run stage metrics + table counts
 *   logs       <storeDir> [n]                 — quarantine report (dedup-counted), or row n detail
 *   config     <storeDir> [key value]         — get/set store config (dgm.linkage etc.)
 *   export     <storeDir> <outFile>           — one package id per line (S8)
 *   import-ids <storeDir> <file> [off] [lim]  — file-based id scan with paging (S5)
 *   delete     <storeDir>                     — drop all tables
 */
object Cli {

  def main(args: Array[String]): Unit = {
    val cmd = args(0); val dir = args(1)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cmd, dir, args.drop(2))
    finally spark.stop()
  }

  /** Graph table follows the store's linkage: PP when present; an
    * aa-linkage store (which has no pp_edges under per-linkage builds)
    * analyzes the artifact-level AA graph instead. */
  private def graphTable(spark: SparkSession, dir: String): (String, String, String) =
    if (Fs.exists(spark, s"$dir/pp_edges")) ("pp_edges", "srcPackageId", "dstPackageId")
    else if (Fs.exists(spark, s"$dir/aa_edges")) ("aa_edges", "srcArtifactId", "dstArtifactId")
    else throw new IllegalStateException(s"no pp_edges or aa_edges table in $dir — run `start` first")

  /** One kernel command's launch over the store's linkage graph. */
  private final case class KernelLaunch(spark: SparkSession, dir: String, edges: DataFrame,
                                        dict: DataFrame, checkpointDir: String, stopFlag: String,
                                        stopAfterMs: Long, stopSeqSeen: Long) {
    /** Write `frame`'s `column` keyed by package id to `table`, if one is
      * given, and the run's superstep metrics. */
    def publish(frame: DataFrame, column: String, table: Option[String], metrics: Seq[SuperstepMetric]): Unit = {
      table.foreach(t => frame.join(dict, Seq("id")).select(col("vid").as("package_id"), col(column))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t"))
      graft.Metrics.write(spark, dir, Seq.empty, metrics)
    }
  }

  /**
   * Launches a resumable kernel command. Checkpoints land in a directory
   * named by `ckptName` from a fingerprint of the edge table, so a changed
   * graph (after `update`) or a different iteration target never resumes
   * from a stale snapshot — it starts fresh — while a killed run of the
   * SAME graph continues mid-convergence with the same command.
   *
   * Stale-marker handling is by WATERMARK, not deletion: markers from before
   * this invocation are ignored, so a `stop` racing a fresh launch is never
   * swallowed and concurrent runs on the same store can't cancel each
   * other's stop requests. Both channels are captured at COMMAND ENTRY,
   * before the fingerprint and indexing jobs, so a stop issued during that
   * set-up counts as "after launch": the entry time, and the seq of any
   * marker present now — only a HIGHER seq written later is honored, a
   * clock-free comparison (KernelRun.fsModifiedSince channel 1).
   */
  private def launch(spark: SparkSession, dir: String, ckptName: Long => String): KernelLaunch = {
    val invokedAtMs = System.currentTimeMillis()
    val seqSeen = KernelRun.stopMarkerSeq(spark, s"$dir/STOP").getOrElse(0L)
    val (edgeTable, srcCol, dstCol) = graphTable(spark, dir)
    val g = spark.read.parquet(s"$dir/$edgeTable")
    val fp = g.select(xxhash64(col(srcCol), col(dstCol)).as("h"))
      .agg(expr("coalesce(bit_xor(h), 0L)")).first().getLong(0) // order-independent; 0 for an empty graph
    val (e, dict) = GraphOps.indexEdges(spark, g, srcCol, dstCol)
    KernelLaunch(spark, dir, e, dict, s"$dir/checkpoints/${ckptName(fp)}", s"$dir/STOP", invokedAtMs, seqSeen)
  }

  def run(spark: SparkSession, cmd: String, dir: String, rest: Array[String]): Unit = {
    import spark.implicits._
    cmd match {
      case "start" =>
        val t0 = System.nanoTime()
        val pkgs = rest.headOption.map(_.toInt).getOrElse(200)
        val linkage = CliConfig.readAll(spark, dir).get("dgm.linkage")
        val mined = MineJob.run(spark, SyntheticRepoFiles.generate(spark, SyntheticRepoFiles.Config(pkgs)))
        GraphStore.write(spark, dir, mined, linkage = linkage)
        graft.Metrics.write(spark, dir, Seq(
          graft.Metrics.mineMetrics("start", mined, (System.nanoTime() - t0) / 1e9)))
        mined.release()
        println(s"start: ${GraphStore.readPackages(spark, dir).count()} packages, " +
          s"${GraphStore.readArtifacts(spark, dir).count()} artifacts")
        // AA linkage auto-chains the resolution pass after mining completes
        // (reference `MinerScheduler.java:160-162`).
        if (linkage.contains("aa"))
          run(spark, "parse", dir, Array.empty)

      case "mine-from" =>
        // Mine an EXTERNAL repo-file table (the production input path; see
        // RepoFileSource for the Iceberg-native `table:` arm) instead of the
        // synthetic generator.
        val t0 = System.nanoTime()
        val files = graft.sources.RepoFileSource.read(spark, rest(0))
        val linkage2 = CliConfig.readAll(spark, dir).get("dgm.linkage")
        val mined = MineJob.run(spark, files)
        GraphStore.write(spark, dir, mined, linkage = linkage2)
        graft.Metrics.write(spark, dir, Seq(
          graft.Metrics.mineMetrics("mine-from", mined, (System.nanoTime() - t0) / 1e9)))
        mined.release()
        println(s"mine-from: ${GraphStore.readPackages(spark, dir).count()} packages from ${rest(0)}")
        if (linkage2.contains("aa"))
          run(spark, "parse", dir, Array.empty)

      case "parse" =>
        val t0 = System.nanoTime()
        // A pp-linkage store has no ap_edges table (GraphStore.write skips it),
        // so AA resolution is undefined there — fail with a clear message
        // instead of Spark's path-not-found (reference: parse only applies to
        // ap/aa linkage, `Neo4jDatabaseController.java:103-131`).
        if (!Fs.exists(spark, s"$dir/ap_edges"))
          throw new IllegalStateException(
            s"parse: no ap_edges table in $dir (store built with dgm.linkage=pp?) — " +
              "AA resolution requires an ap/aa-linkage store")
        val ap = GraphStore.readApEdges(spark, dir)
        val oldDeps = ap.filter(!_.resolved).count()
        val resolved = ResolveJob.run(spark, ap, GraphStore.readArtifacts(spark, dir))
        resolved.aaEdges.write.mode(SaveMode.Overwrite).parquet(s"$dir/aa_edges")
        // two-phase flag update: write next to, then swap
        resolved.apEdges.write.mode(SaveMode.Overwrite).parquet(s"$dir/ap_edges_next")
        Fs.swap(spark, s"$dir/ap_edges", s"$dir/ap_edges_next")
        val newDeps = spark.read.parquet(s"$dir/aa_edges").count()
        graft.Metrics.write(spark, dir, Seq(
          graft.Metrics.resolveMetrics("parse", oldDeps, newDeps, (System.nanoTime() - t0) / 1e9)))
        println(s"parse: $oldDeps AP -> $newDeps AA edges")

      case "pagerank" =>
        val iters = rest.headOption.map(_.toInt).getOrElse(20)
        val k = launch(spark, dir, fp => f"pr-$fp%016x-i$iters")
        val resumed = KernelRun.latestCheckpoint(spark, k.checkpointDir).isDefined
        val r = GraphOps.pageRank(spark, k.edges, iters, checkpointDir = Some(k.checkpointDir),
          stopFlag = Some(k.stopFlag), stopAfterMs = k.stopAfterMs, stopSeqSeen = k.stopSeqSeen)
        k.publish(r.ranks, "rank", Some("pagerank"), r.metrics)
        r.release()
        println(s"pagerank: ${r.supersteps} supersteps (resumed=$resumed, stopped=${r.supersteps < iters})")

      case "components" =>
        val k = launch(spark, dir, fp => f"cc-$fp%016x")
        val r = GraphOps.connectedComponentsResult(spark, k.edges, checkpointDir = Some(k.checkpointDir),
          stopFlag = Some(k.stopFlag), stopAfterMs = k.stopAfterMs, stopSeqSeen = k.stopSeqSeen)
        // a STOPPED run's labels are partial — don't overwrite the published
        // table with them; the checkpoint carries the state for resume
        k.publish(r.components, "component", Option.unless(r.stopped)("components"), r.metrics)
        r.release()
        println(if (r.stopped)
          s"components: stopped at round ${r.rounds} (checkpointed, resumable; table NOT updated)"
        else s"components: converged in ${r.rounds} rounds")

      case "labelprop" =>
        val iters = rest.headOption.map(_.toInt).getOrElse(10)
        val k = launch(spark, dir, fp => f"lp-$fp%016x-i$iters")
        val r = GraphOps.labelPropagationResult(spark, k.edges, iters, checkpointDir = Some(k.checkpointDir),
          stopFlag = Some(k.stopFlag), stopAfterMs = k.stopAfterMs, stopSeqSeen = k.stopSeqSeen)
        // a k-superstep LP label set is valid in its own right — publish it
        // even when stopped early (unlike CC's partial contraction)
        k.publish(r.labels, "label", Some("labels"), r.metrics)
        r.release()
        println(s"labelprop: ${r.supersteps} supersteps (stopped=${r.supersteps < iters})")

      case "stop" =>
        // Cooperative cancel (reference Task.java:207-217): a running
        // `pagerank`/`components`/`labelprop` on any node sharing this store
        // FS ends at its next checkpoint boundary, fully resumable. The
        // payload carries this node's epoch-ms AND a monotonic sequence
        // number (previous marker's seq + 1): runners compare the seq they
        // saw at launch, so honoring a stop needs NO clock agreement at all;
        // the epoch-ms keeps the timestamp fallback working for runners that
        // didn't capture a seq (KernelRun.fsModifiedSince documents both
        // channels).
        val nextSeq = KernelRun.stopMarkerSeq(spark, s"$dir/STOP").getOrElse(0L) + 1L
        Fs.write(spark, s"$dir/STOP", s"${System.currentTimeMillis()} seq=$nextSeq")
        println("stop: requested (takes effect at the next checkpoint boundary)")

      case "status" =>
        // Batch analogue of the reference's live `status` command
        // (`Task.java:191-203`): report table row counts and the most recent
        // stage metrics (% done is always 100 for a completed batch stage).
        val tables = Seq("packages", "artifacts", "ap_edges", "pp_edges", "aa_edges", "quarantine")
        tables.foreach { t =>
          val path = s"$dir/$t"
          val n = if (Fs.exists(spark, path)) spark.read.parquet(path).count() else -1L
          println(s"status: $t ${if (n < 0) "(absent)" else n.toString}")
        }
        if (Fs.exists(spark, s"$dir/metrics/stages")) {
          graft.Metrics.readStages(spark, dir)
            .orderBy($"elapsedSec")
            .collect()
            .foreach(r => println(s"status: stage=${r.getAs[String]("stage")} run=${r.getAs[String]("run")} " +
              f"rows=${r.getAs[Long]("rows")} errors=${r.getAs[Long]("formatErrors")} " +
              f"elapsed=${r.getAs[Double]("elapsedSec")}%.1fs throughput/min=${r.getAs[Double]("throughputPerMin")}%.0f"))
        } else println("status: no stage metrics yet")

      case "logs" =>
        // Quarantine report, the analogue of ExceptionLogger.printAllLogs /
        // printLog(id) (`Application/ExceptionLogger.java:71-99`): summaries
        // are dedup-counted by (errorClass, message); `logs <n>` prints the
        // nth group's full detail rows.
        val qPath = s"$dir/quarantine"
        if (!Fs.exists(spark, qPath)) { println("logs: quarantine table absent"); return }
        val q = spark.read.parquet(qPath)
        val grouped = q.groupBy($"errorClass", $"message")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"errorClass", $"message")
        rest.headOption match {
          case Some(idx) =>
            val groups = grouped.collect()
            val i = idx.toInt
            if (i >= groups.length) println(s"logs: no log with id $i")
            else {
              val g = groups(i)
              q.filter($"errorClass" === g.getAs[String]("errorClass") &&
                       $"message" === g.getAs[String]("message"))
                .collect()
                .foreach(r => println(s"logs[$i]: ${r.getAs[String]("repo")} ${r.getAs[String]("path")} " +
                  s"@${r.getAs[String]("commit")} sha=${r.getAs[String]("contentSha")}"))
            }
          case None =>
            val rows = grouped.collect()
            if (rows.isEmpty) println("logs: exception logs are empty")
            else rows.zipWithIndex.foreach { case (r, i) =>
              println(s"logs[$i]: ${r.getAs[Long]("n")}x ${r.getAs[String]("errorClass")}: ${r.getAs[String]("message")}")
            }
        }

      case "config" =>
        rest match {
          case Array(key, value) =>
            CliConfig.set(spark, dir, key, value)
            println(s"config: $key=$value")
          case _ =>
            val all = CliConfig.readAll(spark, dir)
            if (all.isEmpty) println("config: (empty)")
            else all.toSeq.sorted.foreach { case (k, v) => println(s"config: $k=$v") }
        }

      case "import-ids" =>
        // S5 file-based id scan with offset/limit (FileBasedIdGenerator.java:20-55).
        val file = rest(0)
        val offset = if (rest.length > 1) rest(1).toInt else 0
        val limit = if (rest.length > 2) rest(2).toInt else Int.MaxValue
        val ids = spark.read.text(file).orderBy("value").offset(offset).limit(limit)
        ids.write.mode(SaveMode.Overwrite).parquet(s"$dir/ids")
        println(s"import-ids: ${spark.read.parquet(s"$dir/ids").count()} ids")

      case "update" =>
        // Incremental delta (T7). Per-linkage stores lack some edge tables
        // (GraphStore.write skips ap_edges for pp linkage and pp_edges for
        // ap/aa linkage), so every edge-table merge-and-swap below is gated on
        // the table actually existing — update on an aa store merges
        // ap/aa_edges only, on a pp store pp_edges only.
        val pkgs = rest.headOption.map(_.toInt).getOrElse(300)
        val incoming = MineJob.run(spark, SyntheticRepoFiles.generate(spark, SyntheticRepoFiles.Config(pkgs)))
        val stored = GraphStore.readArtifacts(spark, dir)
        // J2: only artifacts not already present
        val newArtifacts = incoming.artifacts
          .join(stored.select($"id"), Seq("id"), "left_anti").as[ArtifactRow]
        val mergedArtifacts = stored.unionByName(newArtifacts)
        val mergedPackages = GraphStore.mergePackages(spark,
          GraphStore.readPackages(spark, dir), incoming.packages)
        val hasAp = Fs.exists(spark, s"$dir/ap_edges")
        // count before the swaps below invalidate these plans' input paths
        val nNewArtifacts = newArtifacts.count()
        mergedPackages.write.mode(SaveMode.Overwrite).parquet(s"$dir/packages_next")
        mergedArtifacts.write.mode(SaveMode.Overwrite).parquet(s"$dir/artifacts_next")
        var nDeltaAa = 0L
        if (hasAp) {
          // new AP edges come only from new artifacts (duplicate-tolerant append)
          val newAp = incoming.apEdges
            .join(newArtifacts.select($"id".as("srcArtifactId")), Seq("srcArtifactId"), "left_semi")
            .as[ApEdge]
          val mergedAp = GraphStore.readApEdges(spark, dir).unionByName(newAp)
          // J3: re-resolve previously-resolved edges against the new versions
          val deltaAa = ResolveJob.resolveDelta(spark, GraphStore.readApEdges(spark, dir), newArtifacts)
          val aaPath = s"$dir/aa_edges"
          val mergedAa =
            if (Fs.exists(spark, aaPath))
              spark.read.parquet(aaPath).as[AaEdge].unionByName(deltaAa).distinct()
            else deltaAa
          nDeltaAa = deltaAa.count()
          mergedAp.write.mode(SaveMode.Overwrite).parquet(s"$dir/ap_edges_next")
          mergedAa.write.mode(SaveMode.Overwrite).parquet(s"$dir/aa_edges_next")
        }
        val edgeSwaps = if (hasAp) Seq("ap_edges", "aa_edges") else Seq.empty
        (Seq("packages", "artifacts") ++ edgeSwaps)
          .foreach(t => Fs.swap(spark, s"$dir/$t", s"$dir/${t}_next"))
        if (Fs.exists(spark, s"$dir/pp_edges")) {
          incoming.ppEdges.toDF()
            .unionByName(spark.read.parquet(s"$dir/pp_edges")).distinct()
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/pp_edges_next")
          Fs.swap(spark, s"$dir/pp_edges", s"$dir/pp_edges_next")
        }
        incoming.release()
        println(s"update: $nNewArtifacts new artifacts, $nDeltaAa delta AA edges")

      case "export" =>
        val out = rest(0)
        GraphStore.readPackages(spark, dir).select($"id")
          .coalesce(1).write.mode(SaveMode.Overwrite).text(out)
        println(s"export: wrote $out")

      case "delete" =>
        Fs.delete(spark, dir)
        println(s"delete: dropped $dir")

      case other => throw new IllegalArgumentException(s"unknown command: $other")
    }
  }
}
