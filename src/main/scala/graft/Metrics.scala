package graft

import graft.util.SuperstepMetric
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Run metrics in the reference's reported schema (SURVEY §6: packages/min,
 * format-error count, old->new dependency expansion ratio, elapsed) plus the
 * kernels' per-superstep lineage rows. Appended to a parquet metrics table so
 * every run is auditable (north_rule: per-partition lineage + metrics).
 */
object Metrics {

  final case class StageMetric(run: String, stage: String, rows: Long,
                               formatErrors: Long, elapsedSec: Double,
                               throughputPerMin: Double, expansionRatio: Double)

  def mineMetrics(run: String, mined: graft.mine.Mined, elapsedSec: Double): StageMetric = {
    val pkgs = mined.packages.count()
    val errs = mined.quarantine.count()
    StageMetric(run, "mine", pkgs, errs, elapsedSec, pkgs / (elapsedSec / 60.0), Double.NaN)
  }

  def resolveMetrics(run: String, oldDeps: Long, newDeps: Long, elapsedSec: Double): StageMetric =
    StageMetric(run, "resolve", newDeps, 0L, elapsedSec,
      newDeps / (elapsedSec / 60.0),
      if (oldDeps == 0) Double.NaN else newDeps.toDouble / oldDeps)

  def write(spark: SparkSession, dir: String, stage: Seq[StageMetric],
            supersteps: Seq[SuperstepMetric] = Seq.empty): Unit = {
    import spark.implicits._
    if (stage.nonEmpty)
      stage.toDF().write.mode(SaveMode.Append).parquet(s"$dir/metrics/stages")
    if (supersteps.nonEmpty)
      supersteps.toDF().write.mode(SaveMode.Append).parquet(s"$dir/metrics/supersteps")
  }

  def readStages(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/metrics/stages")
}
