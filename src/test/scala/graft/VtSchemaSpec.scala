package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import graft.streaming.VtCdfStream

/** [[VersionedTable.read]] plans its scan from the manifest's recorded
  * DDL, not from the data files' footers. Pins: the planned schema is the
  * one a `mergeSchema` read of the same files yields (names, types,
  * order, nullability, `__bucket` last) across the first commit, additive
  * evolution, time travel to before the evolution and a delete-all empty
  * version; planning the read runs no Spark job; a legacy schema-less
  * manifest still reads through `mergeSchema`; and every commit records
  * the full table schema, so a bucket-pruned commit keeps a column that
  * only other buckets hold.
  */
class VtSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("vtschema").toFile
    d.deleteOnExit(); d.getPath + "/t"
  }

  private def bucketOf(k: Long, n: Int): Int =
    Seq(k).toDF("k").select(pmod(xxhash64(col("k")), lit(n.toLong)))
      .head().getLong(0).toInt

  /** What the reader did before it planned from the DDL: a `mergeSchema`
    * read of the version's files.
    */
  private def mergeSchemaRead(root: String, v: Long): DataFrame = {
    val files = VersionedTable.resolvedEntries(spark, root, v)
      .values.flatten.toSeq.sorted
    spark.read.option("basePath", root).option("mergeSchema", "true")
      .parquet(files: _*)
      .withColumn("__bucket", col("__bucket").cast("int"))
  }

  private def scanOptions(df: DataFrame): Seq[Map[String, String]] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.options
    }

  /** Spark jobs `body` launches, counted through the status tracker:
    * the listener bus delivers in order, so once a marker job run after
    * `body` is visible, every job `body` ran is visible too.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"vtschema-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "measured")
    val out = try body finally sc.clearJobGroup()
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("a read planned from the DDL has the mergeSchema read's schema: " +
      "first commit, additive evolution, time travel, delete-all") {
    val root = freshRoot()
    val base = (1 to 40).map(k => (k.toLong, s"g${k % 3}", k * 10L))
      .toDF("k", "g", "price")
    VersionedTable.commitMerge(spark, root, base, "k", 4)             // v0
    VersionedTable.commitMerge(spark, root,
      Seq((3L, "g0", 31L, "x3"), (41L, "g2", 7L, "x41"))
        .toDF("k", "g", "price", "c"), "k", 4)                        // v1
    def same(v: Long): Unit = {
      val planned = VersionedTable.read(spark, root, Some(v))
      val merged = mergeSchemaRead(root, v)
      assert(planned.schema === merged.schema, s"version $v")
      assert(planned.schema.fieldNames.last === "__bucket")
      assert(planned.collect().map(_.toString).sorted ===
        merged.collect().map(_.toString).sorted, s"version $v rows")
      assert(scanOptions(planned).forall(!_.contains("mergeSchema")))
    }
    same(0L)
    same(1L)
    assert(VersionedTable.read(spark, root, Some(0L)).columns.toSeq ===
      Seq("k", "g", "price", "__bucket"))
    assert(VersionedTable.read(spark, root).columns.toSeq ===
      Seq("k", "g", "price", "c", "__bucket"))
    // delete-all: an empty version keeps the table schema
    val v2 = VersionedTable.commitDelete(spark, root,
      ((1 to 40) :+ 41).map(_.toLong).toDF("k"), "k", 4)
    assert(VersionedTable.resolvedEntries(spark, root, v2).isEmpty)
    val empty = VersionedTable.read(spark, root)
    assert(empty.count() === 0)
    assert(empty.schema === mergeSchemaRead(root, 1L).schema)
  }

  test("planning a read from the DDL launches no Spark job") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root,
      (1 to 40).map(k => (k.toLong, k * 2L)).toDF("k", "price"), "k", 4)
    VersionedTable.commitMerge(spark, root,
      Seq((5L, 1L, "c5")).toDF("k", "price", "c"), "k", 4)
    val (df, jobs) = jobsDuring(VersionedTable.read(spark, root))
    assert(jobs === 0, "the scan schema comes from the manifest")
    assert(df.filter(col("k") === 5L).select("c").head().getString(0) === "c5")
  }

  test("a legacy schema-less manifest still reads through mergeSchema") {
    val root = freshRoot()
    VersionedTable.commitMerge(spark, root,
      (1 to 20).map(k => (k.toLong, k * 3L)).toDF("k", "price"), "k", 4)
    // rewrite v_0 as the pre-DDL form: the same entries, no header
    val mf = new org.apache.hadoop.fs.Path(root + "/_commits/v_0")
    val fs = mf.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(mf)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    assert(lines.head.startsWith("#graft.v2 full schema="))
    graft.sources.Publish.writeLinesAtomic(fs, mf, lines.tail)
    VersionedTable.clearManifestCache()
    assert(VersionedTable.resolvedWithSchema(spark, root, 0L)._2.isEmpty)
    val df = VersionedTable.read(spark, root)
    assert(scanOptions(df).exists(_.get("mergeSchema").contains("true")))
    assert(df.schema === mergeSchemaRead(root, 0L).schema)
    assert(df.select("k", "price").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (1 to 20).map(k => k.toLong -> k * 3L).toMap)
  }

  test("a bucket-pruned delete after a merge that added a column keeps the " +
      "column in the manifest DDL, the CDF stream schema and the read") {
    val root = freshRoot()
    val n = 8
    VersionedTable.commitMerge(spark, root,
      (1 to 40).map(k => (k.toLong, k * 10L)).toDF("k", "price"), "k", n) // v0
    // v1: column c lands in ONE bucket (key 1's)
    VersionedTable.commitMerge(spark, root,
      Seq((1L, 11L, "c1")).toDF("k", "price", "c"), "k", n)
    // v2: a delete whose only touched bucket is a different one
    val a = bucketOf(1L, n)
    val doomed = (2 to 40).map(_.toLong).find(k => bucketOf(k, n) != a).get
    val v2 = VersionedTable.commitDelete(spark, root, Seq(doomed).toDF("k"),
      "k", n)
    assert(v2 === 2L)
    val ddl = VersionedTable.resolvedWithSchema(spark, root, v2)._2.get
    assert(org.apache.spark.sql.types.StructType.fromDDL(ddl)
      .fieldNames.contains("c"), s"manifest DDL lost c: $ddl")
    assert(VtCdfStream.dataSchema(spark, root).fieldNames.contains("c"))
    val rows = VersionedTable.read(spark, root).select("k", "c").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows.size === 39 && !rows.contains(doomed))
    assert(rows(1L) === Some("c1"))
    assert(rows.removed(1L).values.forall(_.isEmpty))
  }
}
