package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class CountingFsSpec extends AnyFunSuite {

  test("one TableWriter.materialize counts directory creations") {
    val dir = java.nio.file.Files.createTempDirectory("countingfs")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .getOrCreate()
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sessionState.newHadoopConf())
      assert(fs.isInstanceOf[CountingFs])
      val df = spark.range(100).toDF("id")
      val before = CountingFs.snapshot()
      new graft.sources.TableWriter(dir.toUri.toString.stripSuffix("/"))
        .materialize("t", df)
      val delta = CountingFs.snapshot().zip(before).map { case (a, b) => a - b }
      val Seq(meta, _, create, rename, _, mkdirs) = delta
      assert(mkdirs > 0, s"mkdirs not counted: $delta")
      assert(meta > 0 && create > 0 && rename > 0, s"ops not counted: $delta")
    } finally {
      spark.stop()
      Files2.deleteTree(dir)
    }
  }
}
