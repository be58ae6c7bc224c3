package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max}

/** A cap on group sizes before a self-join keyed on the group, whose work
  * is quadratic in a group's size. */
object GroupCap {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The rows of `rows` whose group (the `keys` columns) has at most
    * `maxRows` rows. Larger groups are DROPPED, and their count and the
    * largest one's size are logged as `op`'s drop of `groups`: a silent
    * cut reads as "covered everything" when it did not. */
  def apply(rows: DataFrame, keys: Seq[String], maxRows: Long, op: String, groups: String): DataFrame = {
    val sizes = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz"))
    val over = sizes.filter(col("sz") > maxRows)
      .agg(count(lit(1)).as("n"), max(col("sz")).as("largest")).first()
    if (over.getLong(0) > 0)
      log.warn(s"$op: dropping ${over.getLong(0)} $groups over $maxRows rows (largest ${over.get(1)})")
    rows.join(sizes.filter(col("sz") <= maxRows).select(keys.map(col): _*), keys, "left_semi")
  }
}
