package graft.util

import org.apache.spark.sql.SparkSession

/**
 * The engine's codegen policy for the actions it runs itself.
 *
 * Spark caches at most 100 compiled classes (four LRU segments of 25). In
 * local mode a whole-stage source takes two entries, one for the driver's
 * class loader and one for the tasks'. A workload that needs more entries
 * than that per cycle recompiles them on every cycle and runs freshly
 * loaded, still-interpreted classes. The policy sets two keys to false:
 *  - `spark.sql.codegen.useIdInClassName`: whole-stage classes are named
 *    without their stage id, so an identical pipeline at another stage
 *    position, superstep, round or call generates byte-identical source and
 *    reuses one compiled class;
 *  - `spark.sql.codegen.aggregate.map.twolevel.enabled`: no fast-hash-map
 *    class is generated beside each hash aggregate.
 * Both keys are read when a plan generates its code, that is when it
 * executes. So the policy covers only actions run inside [[apply]]: a lazy
 * table returned to a caller generates its code under the caller's conf.
 */
object CodegenPolicy {

  val Keys: Seq[String] = Seq("spark.sql.codegen.useIdInClassName",
    "spark.sql.codegen.aggregate.map.twolevel.enabled")

  /** The session values of `keys`, and a call that puts them back
    * (unsetting the keys that were unset). */
  def save(spark: SparkSession, keys: Seq[String]): () => Unit = {
    val set = spark.conf.getAll
    val saved = keys.map(k => k -> set.get(k))
    () => saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Runs `body` under the policy and restores both keys afterwards, on
    * success and on failure alike. */
  def apply[T](spark: SparkSession)(body: => T): T = {
    val restore = save(spark, Keys)
    Keys.foreach(spark.conf.set(_, "false"))
    try body finally restore()
  }
}
