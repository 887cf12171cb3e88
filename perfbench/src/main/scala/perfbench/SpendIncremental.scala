package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.models.{CardModels, RefSeeds}
import graft.plans.{MvRegistry, MvRewrite}
import graft.sources.{MvMaintain, VersionedTable}

/** `spend_incremental`: one day's card batch at a time lands on a growing
  * versioned table, and spend dashboards read it, served by the
  * day × category view when the rewrite applies.
  */
final class SpendIncremental(ctx: Ctx) extends Workload {
  import SpendIncremental._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val root = ctx.work.resolve("wh/card_spend").toUri.toString.stripSuffix("/")
  private val mvPath = ctx.work.resolve("wh/card_spend_day_mv").toUri.toString.stripSuffix("/")
  private val view = MvMaintain.ViewDef(Seq("date", "category"),
    Map("amount" -> "sum_amount"), "n")
  /** A session without the rewrite: the reference answers come from it. */
  private lazy val plain: SparkSession = spark.newSession()
  private var history: IndexedSeq[Gen.Tx] = IndexedSeq.empty
  private val expected = scala.collection.mutable.Map.empty[(Long, String), Seq[String]]
  /** Whether the view was refreshed by the latest write. */
  private var fresh = true

  private lazy val rules = RefSeeds.rules
  private lazy val names = RefSeeds.merchantSeed
  private lazy val merchants = RefSeeds.merchantsDf(spark).cache()
  private lazy val accountMap = RefSeeds.mapDf(spark).cache()
  private lazy val leaf = RefSeeds.leafDf(spark).cache()

  val readsPerWrite = 2
  override val cycleWrites: Int = refreshEvery
  val nominalCycleSeconds = 21.0
  def warehouse: Path = ctx.work.resolve("wh")

  private def frame(txs: Seq[Gen.Tx]): DataFrame = {
    val rows = txs.map(t => Row(t.key, java.sql.Date.valueOf(t.date),
      java.math.BigDecimal.valueOf(t.cents, 2), t.card, t.description, "card",
      t.txType, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, math.min(ctx.cores, rows.size / 1000))), DagBuild.txSchema)
  }

  /** The classified rows of `tx`, with the source key joined back (the
    * classifier's output has no key; (date, amount, card, description) is
    * unique within a generated batch).
    */
  private def classifyKeyed(tx: DataFrame): DataFrame = {
    val cls = tr.call("CardModels.classifiedCardTransactions") {
      CardModels.classifiedCardTransactions(tx, rules, merchants, accountMap,
        leaf, names)
    }
    cls.join(tx.select("key", "date", "amount", "card_last4", "description"),
      Seq("date", "amount", "card_last4", "description"))
  }

  def setup(): Unit = {
    history = Gen.cardTransactions(ctx.seed, initialRows)
    VersionedTable.commitMerge(spark, root, classifyKeyed(frame(history)), "key")
    MvMaintain.refreshFromVersionedTable(spark, root, "key", mvPath, view)
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewrite(spark)
    MvRegistry.register(spark, root, MvRegistry.MvDef(mvPath,
      Set("date", "category"), Map("amount" -> "sum_amount"), "n",
      comp = Some(MvRegistry.CompDef.versionedDynamic(root, "key"))))
  }

  def write(i: Int): Op = {
    val batch = Gen.dayBatch(ctx.seed, i, batchRows, resentPct, history)
    val v = tr.call("VersionedTable.commitMerge") {
      VersionedTable.commitMerge(spark, root, classifyKeyed(frame(batch)), "key")
    }
    fresh = (i + 1) % refreshEvery == 0
    if (fresh) tr.call("MvMaintain.refreshFromVersionedTable") {
      MvMaintain.refreshFromVersionedTable(spark, root, "key", mvPath, view)
    }
    Op(batch.size, Gen.csvBytes(batch.map(_.csv)), () =>
      if (v == i + 1L) None else Some(s"commit $i landed as version $v"))
  }

  private def spendBy(df: DataFrame, grain: String): DataFrame =
    df.groupBy(date_trunc(grain, col("date")).as("period"), col("category"))
      .agg(sum(col("amount")).as("spend"), count(lit(1)).as("n"))

  def read(i: Int): Op = {
    val grain = grains(i % grains.size)
    val version = VersionedTable.latestVersion(spark, root).get
    val df = spendBy(tr.call("VersionedTable.read") {
      VersionedTable.read(spark, root)
    }, grain)
    val got = tr.call("collect") { df.collect() }.map(_.toString).sorted.toSeq
    if (tr.enabled) {
      val qe = df.queryExecution
      val served = qe.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
      }.flatten.exists(_.endsWith("card_spend_day_mv"))
      tr.attr("served", if (served) 1 else 0)
      tr.attr("fresh", if (fresh) 1 else 0)
      tr.attr("optimize_ms", qe.tracker.phases.get("optimization").map(_.durationMs).getOrElse(0L).toDouble)
    }
    Op(0, 0, () => {
      val want = expected.getOrElseUpdate((version, grain),
        spendBy(VersionedTable.read(plain, root, Some(version)), grain)
          .collect().map(_.toString).sorted.toSeq)
      if (got == want) None
      else Some(s"spend by $grain at version $version differs from the plain aggregate")
    })
  }

  def layerMetrics(ops: Seq[OpRecord]): Map[String, Double] = {
    val writes = ops.filter(_.kind == "write").drop(1).flatMap(_.span)
    val reads = ops.filter(_.kind == "read").flatMap(_.span)
    def calls(ops: Seq[Span], name: String) =
      ops.flatMap(tr.children).filter(_.name == name)
    val commits = calls(writes, "VersionedTable.commitMerge")
    val refreshes = calls(ops.filter(_.kind == "write").flatMap(_.span),
      "MvMaintain.refreshFromVersionedTable")
    val vtReads = calls(reads, "VersionedTable.read")
    def readMs(f: Boolean) = {
      val xs = reads.filter(_.attrs.get("fresh").contains(if (f) 1.0 else 0.0))
        .map(_.wallMs.toDouble)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val tail = reads.map(r => tr.scans(r, loc =>
      loc.contains("card_spend/__bucket=") && !loc.contains("_mv"))._2.toDouble)
    Map(
      "sources.vt_commit_s" -> Stats.mean(commits.map(_.wallMs / 1000.0)),
      "sources.vt_commit_jobs" -> Stats.mean(commits.map(_.total.jobs.toDouble)),
      "sources.vt_commit_fs_ops" -> Stats.mean(commits.map(_.fsOps.toDouble)),
      "sources.mv_refresh_s" -> Stats.mean(refreshes.map(_.wallMs / 1000.0)),
      "sources.mv_refresh_jobs" -> Stats.mean(refreshes.map(_.total.jobs.toDouble)),
      "sources.vt_read_ms" -> Stats.mean(vtReads.map(_.wallMs.toDouble)),
      "plans.mv_served_ratio" -> Stats.mean(reads.map(_.attrs.getOrElse("served", 0.0))),
      "plans.optimize_ms_per_read" -> Stats.mean(reads.map(_.attrs.getOrElse("optimize_ms", 0.0))),
      "plans.tail_rows_per_read" -> Stats.mean(tail),
      "plans.read_fresh_p50_ms" -> readMs(true),
      "plans.read_stale_p50_ms" -> readMs(false))
  }
}

object SpendIncremental {
  val initialRows = 20000
  val batchRows = 500
  val resentPct = 5
  val refreshEvery = 3
  private val grains = IndexedSeq("week", "month", "quarter", "year")
}
