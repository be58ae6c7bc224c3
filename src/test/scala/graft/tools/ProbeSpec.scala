package org.apache.spark {
  /** Number of listeners on the context's live bus (`private[spark]`). */
  object ProbeListeners {
    def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
  }
}

package graft.tools {

  import graft.SparkTestHarness
  import org.apache.spark.ProbeListeners
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
  import org.apache.spark.sql.graftbridge.Bridge
  import org.scalatest.funsuite.AnyFunSuite

  /** Counts the completed stages of probe jobs, 20 ms late on each: added
    * ahead of the probe's own listener, it holds every event back from it,
    * so a report read without draining the bus misses the run's last stage. */
  final class LaggingStageCount extends SparkListener {
    private val probeStages = scala.collection.mutable.Set.empty[Int]
    var completed = 0
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id", "").startsWith("graft-probe-")))
        probeStages ++= j.stageIds
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (probeStages(s.stageInfo.stageId)) { Thread.sleep(20); completed += 1 }
  }

  class ProbeSpec extends AnyFunSuite {
    private val spark = SparkTestHarness.spark
    spark.sharedState // its first use attaches the SQL status listener

    private def runKeepingListeners(target: String, size: String): Probe.Report = {
      val before = ProbeListeners.count(spark.sparkContext)
      val r = Probe.run(spark, target, size)
      assert(ProbeListeners.count(spark.sparkContext) == before, s"$target left its listener attached")
      r
    }

    test("two cc runs report identical jobs, stages and tasks, read after the drain") {
      val sc = spark.sparkContext
      val runs = (1 to 2).map { _ =>
        val lag = new LaggingStageCount
        sc.addSparkListener(lag)
        try {
          val r = runKeepingListeners("cc", "0.02")
          Bridge.drainListenerBus(sc)
          assert(r.stages == lag.completed)
          r
        } finally sc.removeSparkListener(lag)
      }
      val (a, b) = (runs(0), runs(1))
      assert(a.jobs > 0)
      assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks))
      // each run starts from an empty codegen cache, so the repeat compiles
      // no more than the first, and the cache holds at most what a run
      // compiled
      assert(b.compiles <= a.compiles, s"second run compiled ${b.compiles}, first ${a.compiles}")
      assert(a.entries > 0 && a.entries <= a.compiles, s"${a.entries} entries, ${a.compiles} compiles")
      assert(a.summary.startsWith("vertices=1000 components=1 "))
    }

    test("every other target runs and reports its own jobs") {
      for ((target, size) <- Seq("pagerank" -> "0.01", "lp" -> "0.01", "scc" -> "0.005",
                                 "resolve" -> "0.01", "dedup" -> "0.002")) {
        val r = runKeepingListeners(target, size)
        assert(r.jobs > 0, target)
        assert(r.stages > 0 && r.tasks >= r.stages, target)
      }
    }

    test("unknown targets are rejected") {
      intercept[IllegalArgumentException](Probe.run(spark, "hits", "0.01"))
    }
  }
}
