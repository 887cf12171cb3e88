package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.models.{RefSeeds, ReferencePipeline}
import graft.sources.TableWriter

/** `dag_build`: the paper's own workload. A write is one full 27-model
  * build of the reference DAG into a fresh warehouse; a read refreshes a
  * dashboard of four queries over the latest build's tables.
  */
final class DagBuild(ctx: Ctx) extends Workload {
  import DagBuild._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val srcDir = ctx.work.resolve("src")
  private val whRoot = ctx.work.resolve("wh")
  private var sources: Map[String, DataFrame] = Map.empty
  private var inputRows = 0L
  private var inputBytes = 0L
  private var built: Option[(Int, TableWriter)] = None
  /** (row count, order-independent hash) per model, from the first build. */
  private var reference: Map[String, (Long, BigDecimal)] = Map.empty
  /** Each dashboard query's answer on the first build. */
  private val readReference = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
  /** Dependencies of each model, for the critical path. */
  private val deps: Map[String, Seq[String]] = {
    val reg = ReferencePipeline.registry(Gen.asOf)
    reg.names.map(n => n -> reg.get(n).get.deps.filter(reg.names.contains)).toMap
  }

  val readsPerWrite = 4
  val nominalCycleSeconds = 13.5
  def warehouse: Path = ctx.work

  def setup(): Unit = {
    val txs = Gen.cardTransactions(ctx.seed, txRows)
    val h = Gen.health(ctx.seed, healthRows)
    inputRows = txs.size.toLong + h.rows
    inputBytes = Gen.csvBytes(txs.map(_.csv)) + Gen.csvBytes(h.exercise.map(_.csv)) +
      Gen.csvBytes(h.weights.map(_.csv)) + Gen.csvBytes(h.recipes.map(_.csv)) +
      Gen.csvBytes(h.shopping.map(_.csv))
    def d(x: java.time.LocalDate) = java.sql.Date.valueOf(x)
    def cents(c: Long) = java.math.BigDecimal.valueOf(c, 2)
    val frames: Seq[(String, Seq[Row], StructType)] = Seq(
      ("card_transactions", txs.map(t => Row(t.key, d(t.date), cents(t.cents),
        t.card, t.description, "card", t.txType, null)), txSchema),
      ("exercise_log", h.exercise.map(e => Row(d(e.date), e.label, e.kind, e.areas,
        e.dist.map(Double.box).orNull, e.cal.map(Double.box).orNull,
        e.dur.map(Double.box).orNull, e.reps, e.sets)), exerciseSchema),
      ("weights", h.weights.map(x => Row(d(x.date), x.weight)), weightsSchema),
      ("recipe_log", h.recipes.map(x => Row(d(x.date), x.dish, x.plants,
        cents(x.costCents))), recipeSchema),
      ("shopping_log", h.shopping.map(x => Row(d(x.date), x.ingredient, x.qty,
        cents(x.priceCents))), shoppingSchema),
      ("merchant_regex", RefSeeds.regexSeed.map { case (rk, mk, p, pr) =>
        Row(rk, mk, p, pr, null, null, null) }, ReferencePipeline.merchantRegexSchema))
    frames.foreach { case (name, rows, schema) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), schema)
        .write.parquet(srcDir.resolve(name).toString)
    }
    RefSeeds.merchantsDf(spark).write.parquet(srcDir.resolve("merchants").toString)
    RefSeeds.mapDf(spark).write.parquet(srcDir.resolve("merchant_account_map").toString)
    RefSeeds.leafDf(spark).write.parquet(srcDir.resolve("accounts_leaf").toString)
    sources = (frames.map(_._1) ++ Seq("merchants", "merchant_account_map",
      "accounts_leaf")).map(n => n -> spark.read.parquet(srcDir.resolve(n).toString)).toMap
  }

  def write(i: Int): Op = {
    val dir = whRoot.resolve(s"build_$i")
    val w = new TableWriter(dir.toUri.toString.stripSuffix("/"))
    tr.modelPrefix = Some(w.path("").stripSuffix("/"))
    try tr.call("ReferencePipeline.runAllParallel") {
      ReferencePipeline.registry(Gen.asOf)
        .runAllParallel(spark, sources, writer = Some(w))
    } finally tr.modelPrefix = None
    val previous = built
    built = Some((i, w))
    Op(inputRows, inputBytes, () => {
      val got = digests(w)
      previous.foreach { case (pi, _) => Files2.deleteTree(whRoot.resolve(s"build_$pi")) }
      if (reference.isEmpty) reference = got.map { case (n, (c, h, _)) => n -> ((c, h)) }
      val diff = deps.keys.toSeq.sorted.filter(n =>
        got.get(n).map { case (c, h, _) => (c, h) } != reference.get(n))
      val want = got("classified_card_transactions")._3
      val spend = got.toSeq.sortBy(_._1).collectFirst {
        case (n, (_, _, total)) if n.startsWith("spend_") && total != want =>
          s"sum(total_spend) of $n is $total, classified amount is $want"
      }
      if (diff.nonEmpty) Some(s"build $i differs from the first build in ${diff.mkString(", ")}")
      else spend.map(m => s"build $i: $m")
    })
  }

  /** Per model: row count, order-independent hash, and the money total the
    * spend check compares (spend grains' total_spend, the classified
    * table's amount; 0 elsewhere). Tables are digested concurrently, one
    * small Spark job each.
    */
  private def digests(w: TableWriter): Map[String, (Long, BigDecimal, BigDecimal)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val money = "decimal(28,2)"
    def digest(n: String) = {
      val df = w.read(spark, n)
      val measure =
        if (n.startsWith("spend_")) col("total_spend").cast("decimal(18,2)")
        else if (n == "classified_card_transactions") col("amount")
        else lit(0)
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")),
        coalesce(sum(measure).cast(money), lit(0).cast(money))).head()
      n -> ((r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2))))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(deps.keys.toSeq)(n => Future(digest(n))),
      Duration.Inf).toMap
    finally pool.shutdown()
  }

  /** One dashboard refresh: the four queries, each collected. */
  def read(i: Int): Op = {
    val (_, w) = built.get
    val got = readNames.indices.map { q =>
      tr.call(readNames(q)) { dashboard(q, w).collect() }.map(_.toString).sorted.toSeq
    }
    Op(0, 0, () => {
      if (readReference.isEmpty) readReference ++= got
      readNames.indices.collectFirst {
        case q if got(q) != readReference(q) => s"read ${readNames(q)} differs from its first answer"
      }
    })
  }

  private def dashboard(q: Int, w: TableWriter): DataFrame = q match {
    case 0 =>
      w.read(spark, "spend_month")
        .groupBy(col("date_period"), col("category"))
        .agg(sum(col("total_spend").cast("decimal(18,2)")).as("spend"))
    case 1 =>
      w.read(spark, "spend_quarter")
        .groupBy(col("merchant_name"))
        .agg(sum(col("total_spend").cast("decimal(18,2)")).as("spend"))
        .orderBy(col("spend").desc, col("merchant_name")).limit(20)
    case 2 =>
      w.read(spark, "metrics_week")
        .filter(col("period_start").between(
          java.sql.Date.valueOf(Gen.asOf.minusDays(180)),
          java.sql.Date.valueOf(Gen.asOf)))
    case _ => w.read(spark, "workouts_year")
  }

  def layerMetrics(ops: Seq[OpRecord]): Map[String, Double] = {
    val builds = ops.filter(_.kind == "write").drop(1).flatMap(_.span)
    val perBuild = builds.map { op =>
      val call = tr.children(op).find(_.kind == "call").get
      val models = tr.children(call).filter(_.kind == "model")
      val dur = models.map(m => m.name -> m.wallMs / 1000.0).toMap
      val finish = scala.collection.mutable.Map.empty[String, Double]
      def fin(n: String): Double = finish.getOrElseUpdate(n,
        dur.getOrElse(n, 0.0) + deps.getOrElse(n, Nil).map(fin).maxOption.getOrElse(0.0))
      val (scans, rows) = tr.scans(op, loc =>
        loc.contains("/src/card_transactions") ||
          loc.contains("/classified_card_transactions"))
      Map(
        "core.dag_wall_s" -> call.wallMs / 1000.0,
        "core.model_sum_s" -> dur.values.sum,
        "core.dag_concurrency" -> dur.values.sum / (call.wallMs / 1000.0),
        "core.critical_path_s" -> deps.keys.map(fin).max,
        "models.source_scans_per_build" -> scans.toDouble,
        "models.rows_scanned_per_build" -> rows.toDouble) ++
        families.map { case (fam, p) =>
          s"models.${fam}_s" -> dur.collect { case (n, s) if p(n) => s }.sum
        }
    }
    val files = built.map { case (i, _) =>
      Files2.count(whRoot.resolve(s"build_$i"), n => n.startsWith("part-")).toDouble
    }.getOrElse(0.0)
    perBuild.flatMap(_.keys).distinct.map(k =>
      k -> Stats.mean(perBuild.map(_(k)))).toMap +
      ("sources.materialize_files" -> files)
  }
}

object DagBuild {
  val txRows = 20000
  val healthRows = 20000

  private val families: Seq[(String, String => Boolean)] = Seq(
    "classified" -> (_ == "classified_card_transactions"),
    "card_merchants" -> (_ == "card_merchants_model"),
    "card_tx" -> (n => n == "card_transactions_model" || n == "card_names"),
    "spend" -> (_.startsWith("spend_")),
    "flattened" -> (_.endsWith("_flattened")),
    "metrics" -> (_.startsWith("metrics_")),
    "entity" -> (n => Seq("recipes_", "plants_", "workouts_").exists(n.startsWith)))

  private val readNames = IndexedSeq("spend_month_by_category",
    "top_merchants_spend_quarter", "metrics_week_range", "workouts_year")

  val txSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("date", DateType),
    StructField("amount", DecimalType(18, 2)), StructField("card_last4", IntegerType),
    StructField("description", StringType), StructField("category", StringType),
    StructField("type", StringType), StructField("intermediate_key", StringType)))
  val exerciseSchema: StructType = StructType(Seq(
    StructField("Date", DateType), StructField("Exercise Label", StringType),
    StructField("Type", StringType), StructField("Target Areas", StringType),
    StructField("Distance (mi)", DoubleType), StructField("Calories", DoubleType),
    StructField("Duration (min)", DoubleType), StructField("Reps", DoubleType),
    StructField("Sets", DoubleType)))
  val weightsSchema: StructType = StructType(Seq(
    StructField("Measurement Date", DateType), StructField("Weight", DoubleType)))
  val recipeSchema: StructType = StructType(Seq(
    StructField("Date", DateType), StructField("Dish", StringType),
    StructField("Plants", StringType), StructField("Cost", DecimalType(18, 2))))
  val shoppingSchema: StructType = StructType(Seq(
    StructField("Date", DateType), StructField("Ingredient", StringType),
    StructField("Quantity", DoubleType), StructField("Price", DecimalType(18, 2))))
}
