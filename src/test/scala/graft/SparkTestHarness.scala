package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionCache
import org.apache.spark.sql.execution.LogicalRDD

/** Shared local SparkSession for all Spark-backed specs. */
object SparkTestHarness {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("dgmfspark-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What a body left behind in the session: the ids of the RDDs it left
    * persisted, the entries it added to the session's cache, and each
    * explicitly set conf key whose value it changed (before, after). */
  final case class Leaks(rdds: Set[Int], cacheEntries: Int, conf: Map[String, (Option[String], Option[String])])

  private def cacheEntries: Int = SessionCache.entries(spark)

  /** Runs `body`, then reports what it left behind ([[Leaks]]), whether it
    * returned or threw. */
  def leaksOf[T](body: => T): (scala.util.Try[T], Leaks) = {
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val entries = cacheEntries
    val conf = spark.conf.getAll
    val result = scala.util.Try(body)
    val confAfter = spark.conf.getAll
    val changed = (conf.keySet ++ confAfter.keySet).collect {
      case k if conf.get(k) != confAfter.get(k) => k -> (conf.get(k), confAfter.get(k))
    }.toMap
    (result, Leaks(spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds, cacheEntries - entries, changed))
  }

  /** The ids of every RDD that `frames` read: the rows under each frame
    * over kept rows, and every RDD those derive from. */
  def rddsRead(frames: DataFrame*): Set[Int] = {
    def lineage(r: org.apache.spark.rdd.RDD[_]): Set[Int] = r.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(r.id))(_ ++ _)
    frames.flatMap(_.queryExecution.logical.collect { case l: LogicalRDD => lineage(l.rdd) }.flatten).toSet
  }
}
