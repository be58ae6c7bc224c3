package graft.util

import graft.SparkTestHarness
import graft.SparkTestHarness.{leaksOf, rddsRead}
import graft.gen.SyntheticRepoFiles
import graft.graph.GraphOps
import graft.mine.MineJob
import graft.model.RepoFile
import graft.ops.{Dedup, MediaRow, Multimodal, Similarity, TextOps}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** The partition computes of [[RunScopeSpec]]'s inputs, counted in the
  * test's JVM (local-mode tasks run in it): a compute past `failAfter`
  * throws [[FlakyInput.Failure]]. */
object FlakyInput {
  val computes = new java.util.concurrent.atomic.AtomicInteger()
  @volatile var failAfter: Int = Int.MaxValue
  final class Failure extends RuntimeException("forced input failure")
}

/**
 * Every public multi-action operator runs in one [[KernelRun]]: run once to
 * success, it leaves no session cache entry, no conf change and no
 * persisted RDD but the rows its returned frames read (none once its
 * result is released); failed on its input's last partition compute, it
 * leaves nothing at all.
 */
class RunScopeSpec extends AnyFunSuite {

  lazy val spark = SparkTestHarness.spark
  import spark.implicits._

  /** `df`'s rows, each partition compute counted in [[FlakyInput]]. */
  private def flaky(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd.mapPartitions { rows =>
      if (FlakyInput.computes.incrementAndGet() > FlakyInput.failAfter) throw new FlakyInput.Failure
      rows
    }, df.schema)

  /** What a call returns: the frames it hands to its caller and the
    * result's `release()`, where it has one. */
  private final case class Out(frames: Seq[DataFrame], release: Option[() => Unit] = None)

  private lazy val edges = {
    val es = (0 until 300).map { i =>
      val h = graft.gen.SyntheticRepoFiles.mix(7L, i.toLong)
      (Math.floorMod(h, 60L), Math.floorMod(h >>> 20, 60L))
    } ++ Seq((100L, 101L), (101L, 102L), (102L, 100L))
    es.toDF("src", "dst")
  }
  private val texts = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and the cat"),
    (2L, "der schnelle braune fuchs springt und der hund und die katze"),
    (3L, "le renard brun rapide saute et le chien et les chats"),
    (6L, "the quick brown fox jumps over the lazy dog and the cat"),
    (7L, "the quick brown fox jumps over the lazy dog and the bat"))
  private lazy val docs = texts.toDF("doc_id", "text")
  private lazy val arrivals = Seq((200L, texts.head._2), (201L, "entirely new content about parquet")).toDF("doc_id", "text")
  private lazy val evalDocs = Seq((900L, "the quick brown fox jumps over the lazy dog")).toDF("eval_id", "text")
  private lazy val vectors = ((0 until 12).map(i => (i.toLong, Seq.tabulate(6)(j => ((i * 7 + j * 3) % 11 - 5).toFloat))) :+
    (99L, Seq.tabulate(6)(j => ((0 * 7 + j * 3) % 11 - 5).toFloat))).toDF("vec_id", "embedding")
  private lazy val indexDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scope-index").toString
    Dedup.writeMinhashIndex(spark, docs, "doc_id", "text", dir)
    dir
  }
  private lazy val repoFiles = spark.createDataset(
    SyntheticRepoFiles.generateLocal(SyntheticRepoFiles.Config(packagesPerEco = 5))).toDF()
  private lazy val media = spark.createDataset(Seq(
    MediaRow(1L, "image", Multimodal.encodePng(1L, 8, 8), 8, 8, 0L),
    MediaRow(2L, "image", Array[Byte](1, 2, 3), 8, 8, 0L))).toDF()

  private def operators: Seq[(String, DataFrame, DataFrame => Out)] = Seq(
    ("pageRank", edges, e => { val r = GraphOps.pageRank(spark, e, 4); Out(Seq(r.ranks), Some(() => r.release())) }),
    ("cc", edges, e => { val r = GraphOps.connectedComponentsResult(spark, e); Out(Seq(r.components), Some(() => r.release())) }),
    ("lp", edges, e => { val r = GraphOps.labelPropagationResult(spark, e, 3); Out(Seq(r.labels), Some(() => r.release())) }),
    ("hits", edges, e => Out(Seq(GraphOps.hits(spark, e, 3)))),
    ("scc", edges, e => Out(Seq(GraphOps.sccResult(spark, e)._1))),
    ("bfs", edges, e => Out(Seq(GraphOps.shortestPaths(spark, e, Seq(0L).toDF("id"), 3)))),
    ("kcore", edges, e => Out(Seq(GraphOps.kCoreResult(spark, e, 2)._1))),
    ("randomWalks", edges, e => Out(Seq(GraphOps.randomWalks(spark, e, 3)))),
    ("triangleCount", edges, e => Out(Seq(GraphOps.triangleCount(spark, e)._2))),
    ("minhashNearDups", docs, d => Out(Seq(Dedup.minhashNearDups(spark, d, "doc_id", "text", threshold = 0.5)))),
    ("incrementalNearDups", arrivals, d => Out(Seq(Dedup.incrementalNearDups(spark, d, "doc_id", "text",
      docs, "doc_id", "text", indexDir, threshold = 0.5)))),
    ("decontaminate", docs, d => Out(Seq(Dedup.decontaminate(spark, d, "doc_id", "text",
      evalDocs, "eval_id", "text", threshold = 0.5, minSharedGrams = 10)))),
    ("simhashNearDups", docs, d => Out(Seq(Dedup.simhashNearDups(spark, d, "doc_id", "text")))),
    ("embeddingNearDups", vectors, v => Out(Seq(Dedup.embeddingNearDups(spark, v, "vec_id", "embedding",
      planes = 4, threshold = 0.9)))),
    ("bpeMerges", docs, d => Out(Seq(TextOps.bpeMerges(d, "text", 6)))),
    ("trainCentroids", vectors, v => { Similarity.trainCentroids(spark, v, 3); Out(Nil) }),
    ("MineJob.run", repoFiles, f => {
      val m = MineJob.run(spark, f.as[RepoFile])
      Out(Seq(m.packages.toDF(), m.artifacts.toDF(), m.apEdges.toDF(), m.ppEdges.toDF(), m.quarantine.toDF()),
        Some(() => m.release()))
    }),
    ("extractFeaturesIsolated", media, m => {
      val r = Multimodal.extractFeaturesIsolated(spark, m.as[MediaRow])
      Out(Seq(r.features.toDF(), r.quarantine.toDF()), Some(() => r.release()))
    }))

  /** Jobs that finished since it was last reset. */
  private lazy val jobsDone = {
    val done = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(end: SparkListenerJobEnd): Unit = if (end.jobResult == JobSucceeded) done.incrementAndGet()
    })
    done
  }

  test("every multi-action operator frees what it kept, on success and on a failure after its first action") {
    for ((name, input, op) <- operators) {
      FlakyInput.failAfter = Int.MaxValue
      FlakyInput.computes.set(0)
      val (ran, left) = leaksOf {
        val out = op(flaky(input))
        val computes = FlakyInput.computes.get
        out.frames.foreach(_.collect())
        val read = rddsRead(out.frames: _*)
        out.release.foreach(_())
        (computes, if (out.release.isDefined) Set.empty[Int] else read)
      }
      val (computes, readable) = ran.get
      assert(left.cacheEntries == 0, s"$name added ${left.cacheEntries} session cache entries")
      assert(left.conf.isEmpty, s"$name changed the session conf: ${left.conf}")
      assert(left.rdds.subsetOf(readable), s"$name left RDDs ${left.rdds -- readable} persisted that its result does not read")
      assert(computes > 0, s"$name read no input partition")

      // the same call, failed at its input's last partition compute
      FlakyInput.failAfter = computes - 1
      FlakyInput.computes.set(0)
      jobsDone.set(0)
      val (failed, leftFailed) = try leaksOf(op(flaky(input))) finally FlakyInput.failAfter = Int.MaxValue
      Bridge.drainListenerBus(spark.sparkContext)
      info(s"$name failed after ${jobsDone.get} finished jobs")
      assert(failed.isFailure, s"$name did not fail")
      assert(Iterator.iterate(failed.failed.get)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[FlakyInput.Failure]),
        s"$name failed otherwise: ${failed.failed.get}")
      assert(leftFailed.rdds.isEmpty, s"failed $name left RDDs ${leftFailed.rdds} persisted")
      assert(leftFailed.cacheEntries == 0, s"failed $name added ${leftFailed.cacheEntries} session cache entries")
      assert(leftFailed.conf.isEmpty, s"failed $name changed the session conf: ${leftFailed.conf}")
    }
  }
}
