package graft

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

import graft.analytics.CheckpointRegistry
import graft.analytics.CheckpointRegistry.{Flagged, Sum, ckpt}

/** The fused checkpoint+count primitive (CheckpointRegistry.ckpt) and
  * the memoCount key/eviction fixes. Every superstep round is ONE
  * materializing job, so its counts must be exactly `count()` /
  * `filter(col).count()` and the returned frame must be a real
  * checkpoint (LogicalRDD-backed, contents identical). */
class CkptCountSpec extends SparkSpec {

  test("ckpt counts rows and true flags exactly, NULL = false") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(true)), (2L, Some(false)), (3L, Some(true)),
      (4L, None), (5L, Some(true))
    ).toDF("id", "chg").withColumn("chg", col("chg")) // nullable boolean
      .repartition(3)
    val c = ckpt(df, Flagged("chg"))
    assert(c.rows === df.count())
    assert(c.stat === df.filter(col("chg")).count())
    assert(c.rows === 5L && c.stat === 3L)
    // checkpoint-backed, and the contents round-trip unchanged
    assert(GraftColumnBridge.checkpointRdd(c.df).nonEmpty)
    assert(c.df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    CheckpointRegistry.free(c.df)
  }

  test("ckpt without a stat column counts rows only") {
    val df = spark.range(0, 1234, 1, 5).toDF("id")
    val c = ckpt(df)
    assert(c.rows === 1234L)
    assert(c.stat === 0L)
    assert(c.df.count() === 1234L)
    val s = ckpt(df, Sum("id"))
    assert(s.stat === (0L until 1234L).sum)
    CheckpointRegistry.free(c.df)
    CheckpointRegistry.free(s.df)
  }

  test("ckpt rejects a non-boolean flag column") {
    val df = spark.range(3).toDF("id")
    val e = intercept[IllegalArgumentException] {
      ckpt(df, Flagged("id"))
    }
    assert(e.getMessage.contains("BooleanType"))
  }

  test("memoCount keys on the scan LOCATION, not just the plan shape") {
    // ADVICE r13 (medium): LogicalRelation.toString omits the file path,
    // so two same-schema scans of different directories collided on the
    // canonicalized-plan-string key and the second got the first's count
    val base = java.nio.file.Files.createTempDirectory("memokey").toString
    spark.range(3).toDF("id").write.mode("overwrite").parquet(s"$base/a")
    spark.range(7).toDF("id").write.mode("overwrite").parquet(s"$base/b")
    val na = GraftColumnBridge.memoCount(spark.read.parquet(s"$base/a"))
    val nb = GraftColumnBridge.memoCount(spark.read.parquet(s"$base/b"))
    assert(na === 3L)
    assert(nb === 7L)
  }

  test("a cleared session recounts memoCount (SessionCaches.clearAll hook)") {
    val dir = java.nio.file.Files.createTempDirectory("memoevict").toString + "/t"
    spark.range(4).toDF("id").write.mode("overwrite").parquet(dir)
    assert(GraftColumnBridge.memoCount(spark.read.parquet(dir)) === 4L)
    spark.range(9).toDF("id").write.mode("overwrite").parquet(dir)
    // without eviction the stale memo would persist for the session
    SessionCaches.clearAll(spark)
    assert(GraftColumnBridge.memoCount(spark.read.parquet(dir)) === 9L)
  }
}
