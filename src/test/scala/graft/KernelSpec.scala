package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.VecOps

/** Native-kernel semantics + the internal-cache lifecycle registry. */
class KernelSpec extends SparkTestBase {
  import spark.implicits._

  private def q8(xs: Long*): Seq[Long] = {
    val out = VecOps.quant8(new GenericArrayData(xs.toArray))
    (0 until out.numElements()).map(out.getLong)
  }

  test("quant8: exact round-half-away-from-zero, both signs") {
    // m = 10: 127*5/10 = 63.5 -> 64 (away from zero), -5 -> -64
    assert(q8(5L, -5L, 10L) == Seq(64L, -64L, 127L))
    // m = 4: 127*2/4 = 63.5 -> 64; 127*1/4 = 31.75 -> 32; 127*3/4 = 95.25 -> 95
    assert(q8(2L, 1L, 3L, -4L) == Seq(64L, 32L, 95L, -127L))
    // all-zero vector stays all-zero (no division by the zero max)
    assert(q8(0L, 0L, 0L) == Seq(0L, 0L, 0L))
  }

  test("quant8 matches Spark round() (HALF_UP away from zero) over a value sweep") {
    // the SQL engines' round() on the double 127*a/m must agree with the
    // exact integer rounding for any milli-unit-scale integer domain
    val rows = for (m <- Seq(3L, 7L, 10L, 1000L, 999L); a <- -m to m) yield (a, m)
    val df = rows.toDF("a", "m")
      .withColumn("spark_round", round(lit(127.0) * col("a") / col("m")).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    df.foreach { case (a, m, expected) =>
      val got = {
        val arr = VecOps.quant8(new GenericArrayData(Array(a, m)))
        arr.getLong(0)
      }
      // feed (a, m) so m is the max-abs; compare component 0
      assert(got == expected, s"quant8($a / m=$m): got $got, round() says $expected")
    }
  }

  test("quant8: integer arithmetic is exact where double floor(x+0.5) mis-rounds") {
    // large exact-integer domain (still within the |a| <= Long.Max/254
    // precondition): 254*a does not overflow and the rational rounds exactly
    assert(q8(2000000000000000L, 4000000000000000L) == Seq(64L, 127L))
  }

  test("CacheBook: cached entries unpersist on release") {
    val df = spark.range(100).toDF("n")
    val c = CacheBook.cached(df)
    c.count()
    assert(c.storageLevel.useMemory, "cached entry must be persisted")
    val before = CacheBook.size
    assert(before >= 1)
    CacheBook.release()
    assert(CacheBook.size == 0)
    assert(!c.storageLevel.useMemory, "release must unpersist the entry")
    // released entries still compute correctly (recompute path)
    assert(c.count() == 100)
  }

  test("CacheBook: a plan Spark already caches adds no entry; rebuilding a query keeps the size") {
    CacheBook.release()
    CacheBook.cached(spark.range(50).toDF("n"))
    assert(CacheBook.size == 1)
    // the same analyzed plan, built again: Spark already caches it
    CacheBook.cached(spark.range(50).toDF("n"))
    assert(CacheBook.size == 1)
    // a query's operator caches are registered once, however often it is built
    val q09 = SparkEntry.queries("q09_red")
    q09(spark, smallSfDir)
    val afterFirst = CacheBook.size
    assert(afterFirst > 1, "q09 caches its fine rollup through the book")
    q09(spark, smallSfDir)
    assert(CacheBook.size == afterFirst)
    CacheBook.release()
  }
}
