package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/**
 * The engine's one hub-salting policy, for an equi-join whose many-rows
 * side has `rows` rows and which runs at width `partitions`. PageRank's
 * supersteps, CC's large-star join, LP's supersteps and resolve's fan-out
 * join all take their hubs from it.
 *
 * A join of at most [[HubSalt.Floor]] rows, one partition's budget, has no
 * hubs: no key of it can hold more work than a partition is sized for, so
 * it plans the hub-free shape whatever its degrees are. In a larger join, a
 * key whose degree is over `threshold` = max(1000, rows/P/4) is a hub: its
 * rows split over nsalt = least(P, deg/threshold + 1) sub-keys, so a split
 * follows the key's work, not a fixed bucket count. The many-rows side
 * takes the sub-key pmod(hash(v), nsalt) of a column v that varies within
 * the key ([[HubSalt.key]]), and the one-row-per-key side is replicated
 * over 0 .. nsalt-1 ([[HubSalt.fanOut]]). Non-hubs have nsalt 1. Any nsalt
 * gives the same join rows, so salting moves only balance, never results.
 */
final case class HubSalt(partitions: Int, rows: Long) {
  val salts: Boolean = rows > HubSalt.Floor
  val threshold: Long = if (salts) math.max(1000L, rows / partitions / 4) else Long.MaxValue
  def nsalt(deg: Long): Int = math.min(partitions.toLong, deg / threshold + 1L).toInt

  /** The hubs of the join, by one bounded collect: `degrees` holds each
    * key once, as the `keys` fields then its Long degree, and each hub
    * holds more than `threshold` of the `rows` rows, so there are at most
    * rows/threshold of them. None when no key is a hub; a join too small to
    * salt builds no `degrees` and runs no job. */
  def hubs(spark: SparkSession, keys: Seq[StructField], degrees: => RDD[InternalRow]): Option[Hubs] =
    if (!salts) None else {
      val (thr, d) = (threshold, keys.length)
      val found = BoundedCollect(degrees.filter(_.getLong(d) > thr).map { r =>
        val c = r.copy()
        InternalRow.fromSeq(keys.indices.map(i => c.get(i, keys(i).dataType)) :+ nsalt(c.getLong(d)))
      }, rows / thr, s"rows / hubThreshold ($rows / $thr)")
      if (found.isEmpty) None
      else Some(Hubs(keys.map(_.name), found.toSeq,
        Bridge.localFrame(spark, found.toSeq, StructType(keys :+ StructField("nsalt", IntegerType, nullable = false)))))
    }
}

object HubSalt {
  /** One partition's row budget: the kernels size their width by it, and
    * a join of at most this many rows salts nothing. */
  val Floor = 150000L

  /** The sub-key of a many-side row whose varying column is `v`. */
  def key(v: Column, nsalt: Column): Column = pmod(hash(v), nsalt)
  /** The same sub-key for a Long `v` (Spark's `hash` is Murmur3 with seed
    * 42). */
  def key(v: Long, nsalt: Int): Int = Math.floorMod(Murmur3_x86_32.hashLong(v, 42), nsalt)
  /** A one-side row once per sub-key 0 .. nsalt-1, as column `salt`. */
  def fanOut(nsalt: Column): Column = explode(sequence(lit(0), nsalt - 1)).as("salt")
}

/**
 * The hubs of a join on `keys`: `rows` are each hub's keys then its nsalt,
 * and `frame` is a local frame over them. The salted join is its two
 * halves joined on [[joinKeys]]: [[salted]] on the many-rows side and
 * [[fannedOut]] on the one-row-per-key side. Each broadcasts the hub frame
 * onto its side; a key the frame lacks takes nsalt 1.
 */
final case class Hubs(keys: Seq[String], rows: Seq[InternalRow], frame: DataFrame) {
  def joinKeys: Seq[String] = keys :+ "salt"
  /** `many` with its rows' sub-key `salt` of the varying column `v`. */
  def salted(many: DataFrame, v: Column): DataFrame =
    withHubs(many).select(many.columns.map(col) :+ HubSalt.key(v, nsalt).as("salt"): _*)
  /** `one` with each row once per sub-key of its key, as `salt`. */
  def fannedOut(one: DataFrame): DataFrame =
    withHubs(one).select(one.columns.map(col) :+ HubSalt.fanOut(nsalt): _*)

  private def nsalt = coalesce(col("nsalt"), lit(1))
  private def withHubs(side: DataFrame) = side.join(broadcast(frame), keys, "left")
}
