package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Driver-side collects with an asserted size bound. */
object BoundedCollect {

  /** All rows of `ds` on the driver. Fails when there are more than
    * `maxRows`; `formula` states how the caller derived that bound, so a
    * failure names the invariant that broke. */
  def apply[T](ds: Dataset[T], maxRows: Long, formula: String): Array[T] = bounded(ds.collect(), maxRows, formula)

  /** As above, for the elements of `rdd`. */
  def apply[T](rdd: RDD[T], maxRows: Long, formula: String): Array[T] = bounded(rdd.collect(), maxRows, formula)

  private def bounded[T](rows: Array[T], maxRows: Long, formula: String): Array[T] = {
    require(rows.length <= maxRows,
      s"driver collect of ${rows.length} rows exceeds its bound $formula = $maxRows rows")
    rows
  }
}
