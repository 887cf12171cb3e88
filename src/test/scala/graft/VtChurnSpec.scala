package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.plans.{MvRegistry, MvRewrite}
import graft.sources.{MvMaintain, VersionedTable}

/** Stale views over a [[VersionedTable]] fold the gross bucket churn
  * ([[VersionedTable.churnBetween]]) when the fold is additive. Pins: a
  * stale SUM/COUNT read equals the base aggregate over a forward tail, a
  * backward tail (time travel to before the view), a grain the tail
  * deletes entirely and NULL measures, and its optimized plan joins
  * nothing; a stale MIN/MAX read keeps the net diff and stays exact;
  * `refreshFromVersionedTable` on a decimal-sum view equals a bootstrap
  * at the latest version, while a double-sum view still folds the net
  * diff.
  */
class VtChurnSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("vtchurn").toFile
    d.deleteOnExit(); d.getPath
  }

  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def installRewrite(): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite(spark)

  private def tx(ids: Seq[Int], price: Int => Option[BigDecimal],
      grain: Int => String = i => s"g${i % 5}"): DataFrame =
    ids.map(i => (i.toLong, grain(i), price(i), i * 0.5)).toDF("k", "g", "price", "w")
      .withColumn("price", col("price").cast("decimal(18,2)"))

  /** v0: 300 rows over g0..g4, every 17th price NULL. */
  private def commitV0(root: String): Unit =
    VersionedTable.commitMerge(spark, root, tx(1 to 300,
      i => if (i % 17 == 0) None else Some(BigDecimal(i))), "k", 8)

  /** v1: updates (some to NULL) and inserts, optionally with a new grain
    * of NULL prices only; v2: deletes g4 entirely.
    */
  private def commitV1V2(root: String, nullGrain: Boolean): Unit = {
    val upserts = tx((1 to 300).filter(i => i % 9 == 0 || i % 13 == 0),
      i => if (i % 13 == 0) None else Some(BigDecimal(i) + 1000))
      .unionByName(tx(Seq(901), _ => Some(BigDecimal(7))))
    VersionedTable.commitMerge(spark, root,
      if (nullGrain) upserts.unionByName(tx(Seq(902, 903), _ => None, _ => "gnull"))
      else upserts, "k", 8)
    VersionedTable.commitDelete(spark, root,
      (1 to 300).filter(_ % 5 == 4).map(_.toLong).toDF("k"), "k", 8)
  }

  private def buildTable(root: String): Unit = {
    commitV0(root)
    commitV1V2(root, nullGrain = true)
  }

  private def buildView(root: String, asOf: Long, mvPath: String): Unit =
    VersionedTable.read(spark, root, Some(asOf)).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("price")).as("sum_price"),
        min(col("price")).as("min_price"), max(col("price")).as("max_price"))
      .write.mode("overwrite").parquet(mvPath)

  private def viewDef(root: String, mvPath: String, frontier: Long,
      extrema: Boolean): MvRegistry.MvDef =
    MvRegistry.MvDef(mvPath, Set("g"), Map("price" -> "sum_price"), "n",
      comp = Some(MvRegistry.CompDef.versioned(root, "k", frontier)),
      minCols = if (extrema) Map("price" -> "min_price") else Map.empty,
      maxCols = if (extrema) Map("price" -> "max_price") else Map.empty)

  /** `q`'s rows with the rewrite on, and with it off (the base answer). */
  private def servedAndBase(root: String, mv: MvRegistry.MvDef,
      q: () => DataFrame): (DataFrame, Seq[String], Seq[String]) = {
    installRewrite()
    MvRegistry.register(spark, root, mv)
    try {
      val served = q()
      val got = rows(served)
      MvRegistry.deregister(spark, root)
      (served, got, rows(q()))
    } finally MvRegistry.deregister(spark, root)
  }

  private def spend(root: String, asOf: Option[Long] = None): DataFrame =
    VersionedTable.read(spark, root, asOf).groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"))

  test("forward tail: a stale SUM/COUNT read folds the gross churn with no " +
      "Join; a dead grain vanishes; NULL measures stay exact") {
    val d = freshDir()
    val (root, mvPath) = (d + "/t", d + "/mv")
    buildTable(root)
    buildView(root, 0L, mvPath)
    val (served, got, base) = servedAndBase(root,
      viewDef(root, mvPath, 0L, extrema = false), () => spend(root))
    assert(scanRoots(served).exists(_.endsWith("/mv")),
      s"must serve from the view, got ${scanRoots(served)}")
    assert(joins(served) === 0, served.queryExecution.optimizedPlan.toString)
    assert(got === base)
    assert(!got.exists(_.startsWith("[g4,")), "a fully deleted grain vanishes")
    assert(got.contains("[gnull,2,null]"), got)
  }

  test("backward tail: time travel to before the view folds the churn " +
      "with inverted signs, exactly") {
    val d = freshDir()
    val (root, mvPath) = (d + "/t", d + "/mv")
    buildTable(root)
    buildView(root, 2L, mvPath)
    Seq(0L, 1L).foreach { asOf =>
      val (served, got, base) = servedAndBase(root,
        viewDef(root, mvPath, 2L, extrema = false),
        () => spend(root, Some(asOf)))
      assert(scanRoots(served).exists(_.endsWith("/mv")), s"asOf $asOf")
      assert(joins(served) === 0, s"asOf $asOf")
      assert(got === base, s"asOf $asOf")
    }
  }

  test("a stale MIN/MAX read keeps the net diff and stays exact") {
    val d = freshDir()
    val (root, mvPath) = (d + "/t", d + "/mv")
    buildTable(root)
    buildView(root, 0L, mvPath)
    val (served, got, base) = servedAndBase(root,
      viewDef(root, mvPath, 0L, extrema = true), () =>
        VersionedTable.read(spark, root).groupBy("g")
          .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total"),
            min(col("price")).as("lo"), max(col("price")).as("hi")))
    assert(scanRoots(served).exists(_.endsWith("/mv")))
    // the net diff's full-outer compare of the changed buckets
    assert(joins(served) >= 1, served.queryExecution.optimizedPlan.toString)
    assert(got === base)
  }

  test("refreshFromVersionedTable: a decimal-sum view folds the churn and " +
      "equals a bootstrap at the latest version; a double-sum view keeps " +
      "the net diff") {
    val d = freshDir()
    val root = d + "/t"
    val dec = MvMaintain.ViewDef(Seq("g"), Map("price" -> "sum_price"))
    val dbl = MvMaintain.ViewDef(Seq("g"), Map("w" -> "sum_w"))
    commitV0(root)
    assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
      d + "/dec", dec) === 0L)
    assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
      d + "/dbl", dbl) === 0L)
    // no all-NULL new grain here: the refresh fold adds a missing view
    // sum as 0, where a bootstrap sums to NULL
    commitV1V2(root, nullGrain = false)
    def view(p: String) = MvMaintain.readView(spark, p).get
    val decSchema = view(d + "/dec").schema
    val dblSchema = view(d + "/dbl").schema
    // the tail each view folds: churn rows carry no key, net rows do
    assert(!MvMaintain.versionedTail(spark, root, "k", 0L, 2L, decSchema, dec)
      .columns.contains("k"))
    assert(MvMaintain.versionedTail(spark, root, "k", 0L, 2L, dblSchema, dbl)
      .columns.contains("k"))
    Seq((dec, "dec"), (dbl, "dbl")).foreach { case (vd, name) =>
      assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
        s"$d/$name", vd) === 2L)
      assert(MvMaintain.refreshFromVersionedTable(spark, root, "k",
        s"$d/${name}_boot", vd) === 2L)
      val (inc, boot) = (view(s"$d/$name"), view(s"$d/${name}_boot"))
      assert(inc.schema === boot.schema, name)
      assert(rows(inc) === rows(boot), name)
    }
  }
}
