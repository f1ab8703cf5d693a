package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ResultCache

/** Materialized result cache: replay-on-fresh-bookmark, recompute on
  * bookmark movement, key canonicalization (param order must not
  * matter — the reference's stableStringify contract). */
class ResultCacheSpec extends AnyFunSuite with SparkSuite {

  private def tmp(): String = {
    val d = Files.createTempDirectory("graft_rescache")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("stable key is order-insensitive and scope-sensitive") {
    val a = ResultCache.stableKey("agency_stats", Seq("sort" -> "x", "page" -> "1"))
    val b = ResultCache.stableKey("agency_stats", Seq("page" -> "1", "sort" -> "x"))
    val c = ResultCache.stableKey("home_stats", Seq("page" -> "1", "sort" -> "x"))
    assert(a == b)
    assert(a != c)
  }

  test("fresh bookmark replays the materialization without recompute") {
    val dir = tmp()
    var computes = 0
    def compute() = {
      computes += 1
      Tables.events(spark, sf).groupBy("event_type").agg(count(lit(1)).as("n"))
    }
    val params = Seq("window" -> "all")
    val (r1, hit1) = ResultCache.withCache(spark, dir, "type_counts", params, "bm-1")(compute())
    val want = r1.collect().map(_.toString).sorted.toSeq
    assert(!hit1 && computes == 1)
    val (r2, hit2) = ResultCache.withCache(spark, dir, "type_counts", params, "bm-1")(compute())
    assert(hit2 && computes == 1, "fresh bookmark must not recompute")
    assert(r2.collect().map(_.toString).sorted.toSeq == want)
    // the bookmark moved (source changed): recompute and replace
    val (r3, hit3) = ResultCache.withCache(spark, dir, "type_counts", params, "bm-2")(compute())
    assert(!hit3 && computes == 2)
    assert(r3.collect().map(_.toString).sorted.toSeq == want)
    // different params under the same scope are a different entry
    val (_, hit4) = ResultCache.withCache(spark, dir, "type_counts",
      Seq("window" -> "30d"), "bm-2")(compute())
    assert(!hit4 && computes == 3)
  }

  test("a failed rename raises before the bookmark moves; the next call recomputes") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failrename.impl", classOf[FailingRenameFs].getName)
    conf.setBoolean("fs.failrename.impl.disable.cache", true)
    val dir = "failrename://" + tmp()
    var computes = 0
    def compute() = { computes += 1; spark.range(5).toDF("n") }
    val params = Seq("k" -> "v")
    ResultCache.withCache(spark, dir, "scope", params, "bm-1")(compute())
    FailingRenameFs.failing = true
    try {
      intercept[java.io.IOException] {
        ResultCache.withCache(spark, dir, "scope", params, "bm-2")(compute())
      }
    } finally FailingRenameFs.failing = false
    assert(computes == 2)
    // neither the old nor the new bookmark may replay the deleted data
    for (bm <- Seq("bm-2", "bm-1")) {
      val before = computes
      val (r, hit) = ResultCache.withCache(spark, dir, "scope", params, bm)(compute())
      assert(!hit && computes == before + 1, s"$bm replayed a missing entry")
      assert(r.count() == 5L)
    }
  }
}

/** Local filesystem under its own scheme whose rename of a result-cache
  * temp dir reports failure (returns false, moves nothing) while
  * [[FailingRenameFs.failing]] is set; every other rename succeeds, so
  * Spark's own output commit still works. */
class FailingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    if (FailingRenameFs.failing && src.getName == ".data.tmp") false
    else super.rename(src, dst)
}

object FailingRenameFs {
  @volatile var failing = false
}
