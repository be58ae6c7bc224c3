package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLongArray}

/**
 * Memory-subsystem scaling calibration: how much *data-engine-shaped* work
 * does this box actually complete per second at T busy threads?
 *
 * A pure-ALU spin loop (graft.Scaling.cpuCeiling) scales ~linearly with
 * threads on this box, but any shuffle/aggregation workload is dominated by
 * random memory access (hash probes, sort scatter), which contends on the
 * shared cache/memory subsystem. This probe mimics a partial hash
 * aggregation: stream a shared read-only array, hash each element, update a
 * thread-private table — the same access pattern as Spark's map-side
 * combine. The ratio of throughput at two thread counts is the honest
 * hardware ceiling for ANY data engine's thread-scaling on this box.
 *
 * Usage: runMain graft.tools.MemProbe <loThreads> <hiThreads> [tableMB]
 */
object MemProbe {

  private def mix(a: Long, b: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h ^= h >>> 32; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 32
    h
  }

  /** elements/sec of hash-agg-shaped work at `threads` busy threads. */
  def burn(threads: Int, source: Array[Long], tableEntries: Int, millis: Long): Double = {
    val stop = new AtomicBoolean(false)
    val done = new AtomicLongArray(threads)
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        val table = new Array[Long](tableEntries) // thread-private, like a task's agg map
        val mask = tableEntries - 1
        var i = t * 7919 % source.length
        var n = 0L
        while (!stop.get()) {
          val v = source(i)
          val k = (mix(v, i.toLong) & mask).toInt
          table(k) += v
          i += 1; if (i >= source.length) i = 0
          n += 1
        }
        done.set(t, n + (table((n & mask).toInt) & 1)) // keep `table` live
      })
      th.start(); th
    }
    Thread.sleep(millis)
    stop.set(true); ts.foreach(_.join())
    (0 until threads).map(done.get).sum.toDouble / (millis / 1000.0)
  }

  /** Best-of-3 elements/sec at `lo` and then `hi` busy threads over one
    * shared 256 MB source (outside host load corrupts single shots). */
  private def bestOf3(lo: Int, hi: Int, tableMB: Int): (Double, Double) = {
    val source = Array.tabulate(32 << 20)(i => mix(i.toLong, 42L))
    val entries = Integer.highestOneBit(tableMB) << 17 // MB -> 8-byte entries
    def best(threads: Int) = (0 until 3).map(_ => burn(threads, source, entries, 3000)).max
    (best(lo), best(hi))
  }

  /** Ratio of hi-thread to lo-thread throughput, normalized by thread ratio:
    * the max achievable scaling efficiency for memory-bound work. */
  def ceiling(lo: Int, hi: Int, tableMB: Int = 32): Double = {
    val (l, h) = bestOf3(lo, hi, tableMB)
    math.min(1.0, (h / l) / (hi.toDouble / lo))
  }

  def main(args: Array[String]): Unit = {
    val lo = args.headOption.getOrElse("4").toInt
    val hi = if (args.length > 1) args(1).toInt else lo * 4
    val tableMB = if (args.length > 2) args(2).toInt else 32
    val (lops, hops) = bestOf3(lo, hi, tableMB)
    println(f"MEMPROBE lo=$lo%d ${lops / 1e6}%.1f Melem/s  hi=$hi%d ${hops / 1e6}%.1f Melem/s  " +
      f"speedup=${hops / lops}%.2fx  ceilingEff=${(hops / lops) / (hi.toDouble / lo)}%.2f")
  }
}
