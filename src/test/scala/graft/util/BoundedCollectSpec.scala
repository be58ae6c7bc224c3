package graft.util

import graft.SparkTestHarness
import org.scalatest.funsuite.AnyFunSuite

class BoundedCollectSpec extends AnyFunSuite {
  private val spark = SparkTestHarness.spark
  import spark.implicits._

  test("a collect within its bound returns every row") {
    val rows = BoundedCollect((1 to 5).toDS(), 5, "five")
    assert(rows.sorted.toSeq == (1 to 5))
  }

  test("a collect over its bound fails and states the bound's formula") {
    val e = intercept[IllegalArgumentException](BoundedCollect((1 to 5).toDS(), 4, "2E / thr (2 * 8 / 4)"))
    assert(e.getMessage.contains("5 rows exceeds its bound 2E / thr (2 * 8 / 4) = 4 rows"))
  }
}
