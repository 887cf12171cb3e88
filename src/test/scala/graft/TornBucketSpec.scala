package graft

import graft.sources.{Publish, TableWriter}
import org.apache.spark.sql.functions._

/** A merge or delete that crashes between moving a bucket's live dir to
  * trash and moving the staged dir in leaves that bucket missing. The
  * next merge or delete into the table, even one whose batch does not
  * touch the bucket, must put the old generation back rather than
  * discard it with the trash.
  */
class TornBucketSpec extends SparkSpec {
  import spark.implicits._

  private val buckets = 8

  /** A fresh 200-row table and its key → bucket layout. */
  private def table(): (TableWriter, Map[Int, Seq[Long]]) = {
    val w = new TableWriter(
      java.nio.file.Files.createTempDirectory("graft-torn").toString)
    w.mergeByKey(spark, "t", (0L until 200L).toDF("k").withColumn("v", col("k")),
      "k", numBuckets = buckets)
    val byBucket = spark.read.parquet(w.path("t"))
      .select(col("k"), col("__bucket").cast("int"))
      .as[(Long, Int)].collect().groupBy(_._2)
      .map { case (b, ks) => b -> ks.map(_._1).toSeq.sorted }
    assert(byBucket.size == buckets)
    (w, byBucket)
  }

  private def content(w: TableWriter): Map[Long, Long] =
    w.read(spark, "t").select(col("k"), col("v")).as[(Long, Long)].collect().toMap

  private def crashInSwap(op: => Unit): Unit =
    intercept[RuntimeException] {
      Publish.withSwapHook(_ => throw new RuntimeException("crash"))(op)
    }

  private def assertIntact(w: TableWriter, torn: Int, rows: Seq[Long]): Unit = {
    val now = content(w)
    rows.foreach(k => assert(now.get(k) == Some(k), s"row $k of bucket $torn lost"))
    val litter = new java.io.File(w.path("t")).list().filter(_.startsWith("_trash_"))
    assert(litter.isEmpty, s"trash left behind: ${litter.mkString(",")}")
  }

  test("mergeByKey: a bucket torn by a crash mid-swap survives the next merge") {
    val (w, byBucket) = table()
    val torn = byBucket.keys.min
    crashInSwap(w.mergeByKey(spark, "t",
      byBucket(torn).take(2).map(k => (k, -1L)).toDF("k", "v"), "k",
      numBuckets = buckets))
    assert(!new java.io.File(w.path(s"t/__bucket=$torn")).exists())
    val other = byBucket.keys.max
    w.mergeByKey(spark, "t", Seq((byBucket(other).head, 7L)).toDF("k", "v"), "k",
      numBuckets = buckets)
    assertIntact(w, torn, byBucket(torn))
    assert(content(w).size == 200)
  }

  test("deleteByKey: a bucket torn by a crash mid-swap survives the next delete") {
    val (w, byBucket) = table()
    val torn = byBucket.keys.min
    crashInSwap(w.deleteByKey(spark, "t", Seq(byBucket(torn).head).toDF("k"), "k",
      numBuckets = buckets))
    assert(!new java.io.File(w.path(s"t/__bucket=$torn")).exists())
    val other = byBucket.keys.max
    w.deleteByKey(spark, "t", Seq(byBucket(other).head).toDF("k"), "k",
      numBuckets = buckets)
    assertIntact(w, torn, byBucket(torn))
    assert(content(w).size == 199)
  }
}
