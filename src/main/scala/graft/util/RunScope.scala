package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ExplainMode, LogicalRDD}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Per-superstep lineage/metrics row (north_rule: "checkpointed every k
  * supersteps with per-partition lineage and metrics").
  *
  * Block attribution: supersteps between checkpoint boundaries chain lazily,
  * so a non-boundary row's `millis` measures only the plan's
  * construction (~ms) while the boundary row (`boundary=true`) absorbs its
  * whole block's execution. Per-row times are therefore meaningful only at
  * boundaries; their SUM over a run is always the true loop time.
  *
  * The loop of the iterative operators ([[KernelRun.loop]]) writes every
  * row: one per superstep, round, hop, iteration or merge. */
final case class SuperstepMetric(kernel: String, superstep: Int, millis: Long,
                                 edgesScanned: Long, partitions: Int, maxDelta: Double,
                                 boundary: Boolean = true)

/**
 * One run of a multi-action operator: the session conf it sets and the data
 * it keeps, restored and freed in ONE place, on success and on failure.
 * Every operator of the engine that runs more than one action runs in one.
 *
 * Conf: the run sets the keys its caller passes ([[KernelRun.KernelConf]],
 * [[KernelRun.CodegenConf]] or none) and the width a kernel sets through
 * [[width]], and closing puts back every key it set. Keys are read when a
 * plan runs, so a lazy frame returned to a caller runs under the caller's.
 *
 * Data: frames registered through [[cache]] and rows through [[keep]] or
 * [[own]] are freed when the run closes (frames newest first: uncaching a
 * frame re-plans every still-registered, never-built cache derived from
 * it). Rows registered through [[handOff]] are read by the run's result
 * after it closes, by one rule: if the body throws, the run frees them when
 * it closes; otherwise [[release]] frees them, which is the result's
 * `release()` ([[Releasable]]). A result without one leaves them to the
 * context cleaner. Every state [[loop]] builds is handed off until a later
 * one supersedes it. Kept rows are persisted RDDs or local checkpoints,
 * never entries of the session's cache. A failure inside an eager
 * `localCheckpoint`'s own job leaves that checkpoint to the context
 * cleaner, as the run never sees its rows.
 */
private[graft] final class KernelRun private (val spark: SparkSession, kernel: String,
                                              checkpointDir: Option[String], stopFlag: Option[String],
                                              stopAfterMs: Long, stopSeqSeen: Long) {
  import KernelRun._

  /** The session value of each key the run has set, before it set it. */
  private val saved = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
  private def set(key: String, value: String): Unit = {
    if (!saved.contains(key)) saved(key) = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
  }

  /** The configured shuffle width that the kernel sizes itself against. */
  val confWidth: Int = spark.conf.get(WidthKey, "32").toInt

  /** Kernel-internal shuffle width for every exchange the loop plans. */
  def width(p: Int): Unit = set(WidthKey, p.toString)

  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val kept = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]
  private val handed = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]

  /** `df` cached in the session until the run closes. */
  def cache(df: DataFrame): DataFrame = { frames += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
  /** `r` persisted until the run closes. */
  def keep[T](r: RDD[T]): RDD[T] = { kept(r.id) = r; r.persist(StorageLevel.MEMORY_AND_DISK) }
  /** `df`, whose kept rows ([[KernelRun.keptRows]]) the run frees when it
    * closes. */
  def own(df: DataFrame): DataFrame = {
    keptRows(df).foreach { r => handed -= r.id; kept(r.id) = r }
    df
  }
  /** `r`, persisted or checkpointed by the caller, which the run's result
    * reads after the run closes (the hand-off rule above). */
  def handOff[T](r: RDD[T]): RDD[T] = { handed(r.id) = r; r }
  /** `df`, whose kept rows the run's result reads after the run closes. */
  def handOff(df: DataFrame): DataFrame = { keptRows(df).foreach(handOff(_)); df }
  /** Frees the rows behind `df` now, if it has its own. */
  def free(df: DataFrame): Unit = keptRows(df).foreach { r =>
    kept -= r.id
    handed -= r.id
    Bridge.free(r)
  }

  /** A call that frees the rows handed off so far: what the result built
    * from them runs as its `release()`. Those rows must not be read after
    * it. */
  def release: () => Unit = {
    val rows = handed.values.toList
    () => rows.foreach(Bridge.free)
  }

  /**
   * `table`, a static table every superstep joins on `keys`, as that join
   * reads it: broadcast when its size (known, as it is built before the
   * loop) fits the session's broadcast threshold, else laid out once at
   * width `p` by `keys` and sorted, so each superstep's sort-merge join
   * re-sorts only the state side. Left to per-superstep estimates, the
   * first superstep of a block broadcast whichever side looked smaller and
   * planned other code than the rest. The layout is a columnar cache, not
   * kept rows: a row-format scan of PageRank's edge leaf was measured
   * ~1 s/block slower at sf0.1. `laidOut`, when given, is the same table
   * over rows already laid out by `keys` at width `p` and declared so,
   * which spares the layout its exchange; the broadcast reads the
   * undeclared `table`, as a declared layout keeps a block's later
   * supersteps from reusing its first superstep's broadcast.
   */
  def joinSide(table: DataFrame, p: Int, keys: Seq[String], laidOut: => Option[DataFrame] = None): DataFrame =
    if (table.queryExecution.optimizedPlan.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold)
      broadcast(table)
    else {
      val byKeys = laidOut.getOrElse(table.repartition(p, keys.map(col): _*))
      val laid = cache(byKeys.sortWithinPartitions(keys.map(col): _*))
      laid.count()
      laid
    }

  private var explained = Set.empty[String]

  /** With `GRAFT_KERNEL_EXPLAIN` set, prints the formatted physical plan of
    * the first frame passed here as `what` — the loop passes its first
    * boundary block, SCC also its first trim round — to stderr: the shape
    * the kernel really executes, dumped from inside it without touching
    * the hot path. Later calls with the same `what` print nothing. */
  def explain(what: String, df: DataFrame): Unit =
    if (!explained(what) && sys.env.contains("GRAFT_KERNEL_EXPLAIN")) {
      explained += what
      Console.err.println(s"=== $kernel $what plan ===\n" +
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }

  /**
   * The one superstep loop of the iterative operators. The operator
   * supplies its start state (`start`: fresh, or built from the restored
   * checkpoint), one superstep (`step`, a lazy frame) and, where it has
   * one, a convergence test; the loop owns the rest:
   *  - steps are numbered on from the latest checkpoint in
   *    `checkpointDir` at a step <= `target`;
   *  - with `chain`, supersteps chain lazily and a boundary falls every
   *    `every` steps and at `target`. Without it (CC: a round reads its
   *    input several times, so an unmaterialized round would re-run once
   *    per read) every step is a boundary, cut lazily so that the test's
   *    first action materializes it;
   *  - a boundary cuts the lineage (eager localCheckpoint with `chain`),
   *    explains the run's first block, runs `converged` on the previous
   *    boundary's state and the new one, and then, unless the boundary
   *    ends the run because `target` is reached or the run converged,
   *    every `every` steps writes the checkpoint and checks the STOP
   *    marker — the reference's `stop` (Task.java:207-217) as a
   *    cooperative cancel that leaves the run resumable from any node
   *    sharing the FS; markers older than the caller's watermark are
   *    stale and ignored. Last, it frees the state the boundary
   *    supersedes, when that state is kept rows of its own (a start
   *    state that is a plan over other tables, as HITS's, is not);
   *  - every state with rows of its own is handed off ([[handOff]]) until
   *    it is superseded, so the last one is the result's to release, and a
   *    failed run frees the ones it had built;
   *  - every step writes one [[SuperstepMetric]] row, with `edges`,
   *    `partitions` and, at a boundary, `delta` read as the row is
   *    written (by name: CC's edge count changes every round).
   * `converged` also judges the start state, with no previous state.
   */
  def loop(target: Int, every: Int, edges: => Long, partitions: => Int,
           start: Option[DataFrame] => DataFrame, step: DataFrame => DataFrame,
           converged: (Option[DataFrame], DataFrame) => Boolean = (_, _) => false,
           delta: => Double = Double.NaN, chain: Boolean = true): Steps = {
    val restored = for (dir <- checkpointDir; n <- latestCheckpoint(spark, dir, kernel) if n <= target)
      yield (n, spark.read.parquet(s"$dir/$kernel/superstep=$n"))
    var n = restored.fold(0)(_._1)
    var state = handOff(start(restored.map(_._2)))
    var last = state
    var ended = converged(None, state)
    var stopped = false
    val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetric]
    while (n < target && !ended && !stopped) {
      val t0 = System.nanoTime()
      val block = step(state)
      n += 1
      val boundary = !chain || n % every == 0 || n == target
      state = if (boundary) handOff(block.localCheckpoint(chain)) else block
      if (boundary) {
        explain("boundary block", block)
        ended = converged(Some(last), state) || n == target
        if (!ended && n % every == 0) {
          // the state's rows, a manifest, then LATEST: a run killed mid-write
          // resumes from the previous checkpoint
          checkpointDir.foreach { dir =>
            state.write.mode("overwrite").parquet(s"$dir/$kernel/superstep=$n")
            Fs.write(spark, s"$dir/$kernel/MANIFEST-$n.json", s"""{"kernel": "$kernel", "superstep": $n, """ +
              s""""rows": ${state.count()}, "partitions": ${state.rdd.getNumPartitions}}""")
            Fs.write(spark, s"$dir/$kernel/LATEST", n.toString)
          }
          stopped = stopFlag.exists(f => fsModifiedSince(spark, f, stopAfterMs, stopSeqSeen))
        }
        // nothing reads the superseded state once this one is built
        free(last)
        last = state
      }
      metrics += SuperstepMetric(kernel, n, (System.nanoTime() - t0) / 1000000L, edges, partitions,
        if (boundary) delta else Double.NaN, boundary)
    }
    Steps(state, metrics.toSeq, n, stopped)
  }

  private def close(failed: Boolean): Unit = {
    frames.reverseIterator.foreach(_.unpersist(false))
    kept.values.foreach(Bridge.free)
    if (failed) handed.values.foreach(Bridge.free)
    saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}

private[graft] object KernelRun {

  val AqeKey = "spark.sql.adaptive.enabled"
  val WidthKey = "spark.sql.shuffle.partitions"

  /** The two keys of [[CodegenPolicy]], off: what mining, resolve and the
    * vertex index run under. */
  val CodegenConf: Seq[(String, String)] = CodegenPolicy.Keys.map(_ -> "false")

  /**
   * What the graph kernels run under:
   *  - AQE off: AQE re-plans every superstep, and its partition coalescing
   *    breaks the co-partitioning reuse between the state and the static
   *    edge layout (measured 3x slower with it on);
   *  - the two keys of [[CodegenPolicy]]: with stage ids in class names one
   *    `kernels` benchmark cycle needed about 360 codegen cache entries, so
   *    every cycle recompiled all of them and ran freshly loaded,
   *    still-interpreted classes; with them off it fits the 60-class
   *    budget [[CodegenPolicy]] states.
   * A kernel sets its shuffle width through [[KernelRun.width]].
   */
  val KernelConf: Seq[(String, String)] = (AqeKey -> "false") +: CodegenConf

  /** Runs `body` in a run named `kernel` that sets `conf`; the checkpoint
    * and STOP-marker settings are [[KernelRun.loop]]'s (PageRank, CC and
    * LP pass them). */
  def inRun[T](spark: SparkSession, kernel: String, conf: Seq[(String, String)] = Nil,
               checkpointDir: Option[String] = None, stopFlag: Option[String] = None,
               stopAfterMs: Long = 0L, stopSeqSeen: Long = -1L)(body: KernelRun => T): T = {
    val run = new KernelRun(spark, kernel, checkpointDir, stopFlag, stopAfterMs, stopSeqSeen)
    var failed = true
    try {
      conf.foreach { case (k, v) => run.set(k, v) }
      val result = body(run)
      failed = false
      result
    } finally run.close(failed)
  }

  /** The rows behind `df` when it is a local checkpoint or a frame over
    * kept rows; a frame that is a plan over such rows has none of its own. */
  def keptRows(df: DataFrame): Option[RDD[InternalRow]] = df.queryExecution.logical match {
    case l: LogicalRDD => Some(l.rdd)
    case _             => None
  }

  /** Latest checkpointed superstep in `dir` for `kernel`, if any. */
  def latestCheckpoint(spark: SparkSession, dir: String, kernel: String = "pagerank"): Option[Int] =
    Fs.read(spark, s"$dir/$kernel/LATEST").map(_.trim.toInt)

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
}

/** A result that reads rows its run handed off ([[KernelRun.handOff]]):
  * `release()` frees them, and its frames must not be read after it; a
  * caller that drops the result leaves them to the context cleaner. */
abstract class Releasable(free: () => Unit) {
  def release(): Unit = free()
}

/** What [[KernelRun.loop]] ends with: the last state, one metric row per
  * step it ran, the step reached and whether a STOP marker ended it. */
private[graft] final case class Steps(state: DataFrame, metrics: Seq[SuperstepMetric], step: Int, stopped: Boolean)

/** [[KernelRun.loop]]'s convergence test for a state that only grows
  * (BFS, SCC's members) or only shrinks (k-core): its row count, the
  * first action on the lazily cut state, which materializes it, is
  * unchanged. `rows` is the last count; an empty start has converged. */
private[graft] final class SameCount extends ((Option[DataFrame], DataFrame) => Boolean) {
  var rows = 0L
  def apply(prev: Option[DataFrame], state: DataFrame): Boolean = {
    val last = rows
    rows = KernelRun.keptRows(state).get.count()
    rows == last
  }
}
