package linkbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed call into a layer. `cycle` < 0 marks a warm-up cycle. */
final case class Span(id: Int, name: String, parent: Int, cycle: Int,
                      startMs: Long, startNs: Long, startCpuNs: Long,
                      var endMs: Long = 0L, var endNs: Long = 0L, var endCpuNs: Long = 0L,
                      var firstRddId: Int = 0, var cacheLeftMb: Double = 0.0) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** CPU time of the whole process (all threads) during the span */
  def cpuSeconds: Double = (endCpuNs - startCpuNs) / 1e9
}

/** Counters of the jobs, stages and tasks that ran under one job group. */
final class GroupCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var output = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** executor run time (ms) of every task, per stage attempt */
  val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
}

/**
 * Counts work per job group. Only the listener-bus thread writes; readers
 * call [[Tracer.drain]] first, which waits until the bus is empty.
 */
final class LayerListener extends SparkListener {
  val groups = mutable.Map.empty[String, GroupCounters]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[(Int, Int), String]

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))

  private def counters(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).foreach { g =>
      jobGroup(e.jobId) = g; jobStart(e.jobId) = e.time; counters(g).jobs += 1
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobGroup.remove(e.jobId).foreach { g =>
      counters(g).jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).foreach(g => stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = g)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach(g => counters(g).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get((e.stageId, e.stageAttemptId)).foreach { g =>
      val c = counters(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.output += m.outputMetrics.bytesWritten
        c.taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
}

/**
 * Spans around every call the benchmark makes into an engine layer. Span
 * times are always kept (they give the untraced per-step timings); with
 * `traced` on, each span also runs under its own Spark job group, a
 * [[LayerListener]] attributes job/stage/task counters to it, and the
 * storage memory still held after the call is recorded.
 */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  val listener: Option[LayerListener] =
    if (traced) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String, cycle: Int)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), cycle,
      System.currentTimeMillis(), System.nanoTime(), Tracer.processCpuNs())
    spans += s
    open = s :: open
    if (traced) {
      s.firstRddId = org.apache.spark.linkbench.Bus.nextRddId(sc)
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name, interruptOnCancel = false)
    }
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis(); s.endCpuNs = Tracer.processCpuNs()
      open = open.tail
      if (traced) {
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        s.cacheLeftMb = Tracer.storageMb(spark, s.firstRddId)
      }
    }
  }

  /** Deterministic listener drain: returns once every posted event is handled. */
  def drain(): Unit = if (traced) org.apache.spark.linkbench.Bus.drain(sc)

  def counters(s: Span): GroupCounters =
    listener.flatMap(_.groups.get(Tracer.GroupPrefix + s.id)).getOrElse(new GroupCounters)

  /** Time inside the span not covered by any of its own jobs. */
  def driverGapSeconds(s: Span): Double = {
    val iv = counters(s).jobIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.seconds - covered / 1e3)
  }

  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Max over median task time of the stage with the most task time. */
  def taskSkew(s: Span): Double = {
    val stages = counters(s).taskMs.values.filter(_.size > 1)
    if (stages.isEmpty) 1.0
    else {
      val heaviest = stages.maxBy(_.sum).sorted
      val med = heaviest(heaviest.size / 2).max(1L)
      heaviest.last.toDouble / med
    }
  }

  def spansJson: String = spans.map { s =>
    val c = counters(s)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"cycle":${s.cycle},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.seconds},"self_s":${selfSeconds(s)},""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"shuffle_write_bytes":${c.shuffleWrite},""" +
      s""""shuffle_read_bytes":${c.shuffleRead},"spill_bytes":${c.spill},"output_bytes":${c.output},""" +
      s""""executor_cpu_ns":${c.cpuNs},"driver_gap_s":${driverGapSeconds(s)},"cache_left_mb":${s.cacheLeftMb}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val GroupPrefix = "linkbench-span-"

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Storage still held by cached RDDs with an id of at least `fromRddId`,
    * i.e. the ones created since that id was drawn. */
  def storageMb(spark: SparkSession, fromRddId: Int): Double =
    spark.sparkContext.getRDDStorageInfo.iterator.filter(_.id >= fromRddId)
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
}
