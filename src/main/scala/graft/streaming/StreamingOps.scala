package graft.streaming

import graft.mine.MineJob
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** An event row (events table schema). */
final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)

/** A closed user session produced by stateful sessionization. */
final case class UserSession(user_id: Long, start: java.sql.Timestamp,
                             end: java.sql.Timestamp, events: Long, totalValue: Double)

/** Mutable per-user state carried between micro-batches. */
final case class SessionState(start: Long, last: Long, events: Long, totalValue: Double)

/**
 * Structured Streaming surface (SURVEY §2.7): the reference's Akka pipeline
 * is a bounded backpressured batch executor with no event time, so the batch
 * jobs cover its semantics; these operators are the *engine extensions* a
 * streaming ingest of the same tables needs — incremental manifest mining
 * (`Trigger.AvailableNow` façade over MineJob's parser), watermarked windowed
 * aggregation, and custom session state via flatMapGroupsWithState.
 */
object StreamingOps {

  /** Streaming mine: stateless parse of a manifest stream into artifact rows —
    * the incremental-update (T7) façade. It is the batch mine's manifest
    * filter, parse and artifact projection ([[MineJob]]), so batch and
    * streaming results agree by construction; a quarantined manifest
    * yields no row, and a repeated release is not deduplicated. */
  def mineStream(spark: SparkSession, files: Dataset[RepoFile]): Dataset[ArtifactRow] = {
    import spark.implicits._
    MineJob.artifactsOf(MineJob.releasesOf(MineJob.parseManifests(files).filter(col("pkg").isNotNull).toDF()))
      .as[ArtifactRow]
  }

  /** Watermarked sliding-window event counts: 10-minute watermark over a
    * 1-hour tumbling window keyed by event_type. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup: emit each document the FIRST time its content is
    * seen, suppressing re-arrivals within the watermark — the ingest-time
    * face of [[graft.ops.Dedup.exact]]. State is keyed by the 32-byte
    * sha2(content) (never the document body), and
    * dropDuplicatesWithinWatermark lets Spark EXPIRE that state once the
    * event-time watermark passes — bounded state on an unbounded 100 TB/day
    * ingest, where classic dropDuplicates would grow keys forever. */
  def dedupStream(docs: DataFrame, tsCol: String = "ts", textCol: String = "text",
                  watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("content_sha", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_sha")

  /** Streaming NEAR-dup suppression: emit a document only when no document
    * with the SAME 64-bit SimHash signature arrived within the watermark.
    * The signature's per-bit majority vote absorbs small edits (a few
    * changed tokens in a long document typically flip no bits), so this
    * drops ingest-time near-dups with ONE 8-byte state key per doc —
    * signature equality (Hamming 0) is the only blocking predicate with
    * O(1) state; banded Hamming<=3 matching would need a state row per band
    * and a custom stateful operator, which the BATCH path
    * ([[graft.ops.Dedup.simhashNearDups]]) covers. The signature is a
    * scalar Scala UDF: it runs md5-per-token bit votes (opaque iterative
    * logic with no Column-function equivalent), and a streaming dedup pays
    * one call per INGESTED row — not a per-query analytic hot path. */
  def nearDedupStream(docs: DataFrame, tsCol: String = "ts", textCol: String = "text",
                      watermark: String = "10 minutes"): DataFrame = {
    // null text maps to the empty-string signature (all nulls dedup
    // together) instead of an NPE that would kill the long-running query —
    // one bad record must never stop ingest-time dedup for everything
    // behind it
    val sig = udf((t: String) => graft.ops.Dedup.simhash(Option(t).getOrElse("")))
    docs.withColumn("simhash_sig", sig(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("simhash_sig")
  }

  /** Ingest-time quality gating: the SAME composed C4/Gopher filter the
    * batch path runs ([[graft.ops.TextOps.qualityFilter]]), applied to a
    * stream. Every signal is a stateless per-row expression, so this is a
    * zero-state map over the ingest — rejected docs route to a quarantine
    * sink by filtering on `keep` (one query per route, or foreachBatch).
    * Batch/stream rule parity is free because both call the one
    * implementation. */
  def qualityFilterStream(docs: DataFrame, idCol: String, textCol: String,
                          minTokens: Long = graft.ops.TextOps.DefaultMinTokens,
                          maxDupWordFrac: Double = graft.ops.TextOps.DefaultMaxDupWordFrac,
                          maxTop2gramCharFrac: Double = graft.ops.TextOps.DefaultMaxTop2gramCharFrac): DataFrame =
    graft.ops.TextOps.qualityFilter(docs, idCol, textCol,
      minTokens, maxDupWordFrac, maxTop2gramCharFrac)

  /** Custom session state: close a user session after `gapMinutes` of
    * inactivity (KeyValueGroupedDataset.flatMapGroupsWithState). */
  def sessionize(spark: SparkSession, events: Dataset[Event], gapMinutes: Int = 30): Dataset[UserSession] = {
    import spark.implicits._
    events.withWatermark("ts", "10 minutes").groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val gapMs = gapMinutes * 60000L
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var closed = List.empty[UserSession]
          var cur = state.getOption
          for (e <- sorted) {
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = t, events = s.events + 1, totalValue = s.totalValue + e.value))
              case Some(s) =>
                closed ::= UserSession(userId, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.last), s.events, s.totalValue)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          if (state.hasTimedOut) {
            cur.foreach(s => closed ::= UserSession(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.events, s.totalValue))
            state.remove()
          } else {
            cur.foreach { s =>
              state.update(s)
              if (state.getCurrentWatermarkMs() > 0)
                state.setTimeoutTimestamp(s.last + gapMs)
            }
          }
          closed.reverseIterator
      }
  }
}
