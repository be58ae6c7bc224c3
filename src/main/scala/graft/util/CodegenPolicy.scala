package graft.util

/**
 * The engine's codegen policy for the actions it runs itself.
 *
 * Spark caches at most 100 compiled classes, keyed by source and class
 * loader, so a whole-stage source takes one entry per class loader that
 * compiles it: in local mode the driver's and the tasks' (and tasks of
 * different jobs can load through different executor-side loaders, so one
 * class can take three entries). The cache is four LRU segments of 25, and
 * each entry lands in the segment its key hashes to. A working set of W
 * entries therefore evicts as soon as one segment draws more than 25 of
 * them, long before W reaches 100.
 * Hashing W entries uniformly into the four segments (simulated), some
 * segment overflows with these odds:
 *
 * | W  | overflow |
 * |----|----------|
 * | 50 | 0.02%    |
 * | 60 | 0.6%     |
 * | 64 | 1.7%     |
 * | 70 | 6.5%     |
 * | 79 | 28%      |
 * | 99 | 99.6%    |
 *
 * A workload whose cycle overflows recompiles the evicted classes on every
 * cycle and runs freshly loaded, still-interpreted classes. So a cycle's
 * budget is 60 classes: at 60, more than 99% of JVMs keep the whole
 * working set. The policy sets two keys to false:
 *  - `spark.sql.codegen.useIdInClassName`: whole-stage classes are named
 *    without their stage id, so an identical pipeline at another stage
 *    position, superstep, round or call generates byte-identical source and
 *    reuses one compiled class;
 *  - `spark.sql.codegen.aggregate.map.twolevel.enabled`: no fast-hash-map
 *    class is generated beside each hash aggregate.
 * Both keys are read when a plan generates its code, that is when it
 * executes. So the policy covers only actions run inside a [[KernelRun]]
 * that sets them ([[KernelRun.CodegenConf]], [[KernelRun.KernelConf]]): a
 * lazy table returned to a caller generates its code under the caller's
 * conf.
 */
object CodegenPolicy {

  val Keys: Seq[String] = Seq("spark.sql.codegen.useIdInClassName",
    "spark.sql.codegen.aggregate.map.twolevel.enabled")
}
