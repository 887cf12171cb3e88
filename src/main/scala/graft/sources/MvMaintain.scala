package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType,
  LongType, ShortType, StructType}

/** Incremental maintenance of a grain-keyed COUNT/SUM summary view from
  * a CDC change feed — the REFRESH half of the MV story (q91 proved the
  * fold, [[graft.plans.MvRewrite]] consumes the result, q121/q125
  * compensate for staleness at query time; this keeps the view itself
  * near-fresh at delta cost): each refresh folds ONLY the feed batches
  * past the view's recorded frontier into signed per-grain deltas and
  * merges them with the existing (grain-sized) view — O(|tail| +
  * |grain|) work, never a base-table read.
  *
  * Durability: the frontier is a `_frontier` file written INSIDE the
  * staged view directory before the swap, so view and frontier commit
  * together — a torn refresh can never leave a view claiming the wrong
  * frontier. (Underscore-prefixed files are hidden from Spark's input
  * listing, so readers of the view parquet never see it.) The swap is
  * [[Publish.swapIn]] with `view__old` as its trash — a crash between
  * the renames leaves the PRIOR view intact under `__old`, which
  * [[frontier]]/[[readView]] resolve transparently and the next
  * [[refresh]] rolls back ([[Publish.recover]]) before folding just the
  * tail — recovery is O(tail), never a full-feed rebuild (r10 verdict
  * #6). The direct-path reader (the rewrite scanning the view parquet)
  * sees a missing dir only inside the tiny between-renames window and
  * falls back to a correct base scan.
  *
  * A view that IS genuinely lost (both dirs gone) rebuilds from the
  * full feed — but only when the feed is complete: if the feed carries
  * a truncation low-water mark ([[TableWriter.truncateChangeFeed]]
  * legally drops batches at or below the registered frontier), the
  * frontier-less rebuild REFUSES loudly instead of silently omitting
  * the dropped batches' contributions (the r11 advisor's wrong-view
  * hazard). Re-running with no new batches is a no-op that leaves the
  * view directory untouched.
  *
  * Deletes that empty a grain drop its row (n ≤ 0 filtered), matching
  * the fold q91 pins and the HAVING-net discipline the rewrite applies
  * to compensated tails.
  */
object MvMaintain {

  /** `sumCols`: base measure column name → view sum column name. Grain
    * values must be non-null (they are grouping keys on both sides of
    * the merge join).
    */
  final case class ViewDef(grain: Seq[String],
      sumCols: Map[String, String], countCol: String = "n")

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def oldPath(mvPath: String) =
    new org.apache.hadoop.fs.Path(mvPath + "__old")

  /** The directory currently holding the committed view: `mvPath`
    * normally; `mvPath__old` when a refresh crashed between its two
    * swap renames (the prior view survives there until the next
    * refresh rolls it back). None when no committed view exists.
    */
  private def liveDir(spark: SparkSession,
      mvPath: String): Option[org.apache.hadoop.fs.Path] = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val fs = fsOf(spark, mvP)
    if (fs.exists(mvP)) Some(mvP)
    else Some(oldPath(mvPath)).filter(fs.exists)
  }

  /** The frontier recorded by the last committed refresh, or None if no
    * (committed) view exists. Resolves through a torn swap: the prior
    * view's frontier under `__old` answers exactly.
    */
  def frontier(spark: SparkSession, mvPath: String): Option[Long] =
    liveDir(spark, mvPath).flatMap { dir =>
      val f = new org.apache.hadoop.fs.Path(dir, "_frontier")
      val fs = fsOf(spark, f)
      graft.operators.IndexProtocol.readLinesIfExists(fs, f)
        .flatMap(_.headOption).map(_.trim.toLong)
    }

  /** Snapshot read of the committed view, torn-swap-resolving (the
    * complement of [[frontier]] for callers that need the rows).
    */
  def readView(spark: SparkSession, mvPath: String): Option[DataFrame] =
    liveDir(spark, mvPath).map(dir => spark.read.parquet(dir.toString))

  /** The committed serving pair (directory, frontier) resolved from the
    * SAME directory — what [[graft.plans.MvRewrite]]'s dynamic-frontier
    * mode consumes. NOTE: this call alone does NOT pin the view's rows
    * — the returned dir's parquet listing happens later at the caller,
    * and a refresh swap landing between this frontier read and that
    * listing would pair the old frontier with the new rows. The
    * consumer (MvRewrite.partialsFrame) closes the window by pinning
    * the parquet file index first and re-calling this to verify the
    * frontier is unchanged (retrying on a detected swap); any new
    * caller must do the same dance or accept the race.
    */
  private[graft] def servingView(spark: SparkSession,
      mvPath: String): Option[(String, Long)] =
    liveDir(spark, mvPath).flatMap { dir =>
      val fs = fsOf(spark, dir)
      graft.operators.IndexProtocol.readLinesIfExists(fs,
          new org.apache.hadoop.fs.Path(dir, "_frontier"))
        .flatMap(_.headOption).map(f => (dir.toString, f.trim.toLong))
    }

  private def feedBatchIds(spark: SparkSession, feedRoot: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(feedRoot)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
  }

  /** Fold the feed tail past the recorded frontier into the view.
    * Returns the new frontier (unchanged if there was nothing to fold).
    */
  /** Test-only crash injectors for the swap (the IndexRestartSpec
    * discipline): `beforeSwap` fires after the stage is complete,
    * `betweenRenames` inside the two-rename window.
    */
  private[graft] final case class SwapHooks(
      beforeSwap: () => Unit = () => (),
      betweenRenames: () => Unit = () => ())
  private[graft] object SwapHooks { val none: SwapHooks = SwapHooks() }

  def refresh(spark: SparkSession, feedRoot: String, mvPath: String,
      v: ViewDef): Long = refresh(spark, feedRoot, mvPath, v, SwapHooks.none)

  private[graft] def refresh(spark: SparkSession, feedRoot: String,
      mvPath: String, v: ViewDef, hooks: SwapHooks): Long = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val fs = fsOf(spark, mvP)
    // repair a torn swap FIRST, so this refresh folds just the tail from
    // the prior view's frontier — O(tail) recovery, never a full-feed
    // rebuild
    Publish.recover(fs, mvP, oldPath(mvPath))
    val fr = frontier(spark, mvPath)
    val ids = feedBatchIds(spark, feedRoot)
    require(ids.nonEmpty, s"refresh: no feed batches under $feedRoot")
    if (fr.isEmpty) {
      // frontier-less = full-feed rebuild; refuse if truncation dropped
      // history this fold can no longer see (feed low-water mark —
      // truncateChangeFeed legally drops batches ≤ a registered
      // frontier, but THIS view no longer holds one)
      val lw = graft.operators.IndexProtocol.readLinesIfExists(
        fsOf(spark, new org.apache.hadoop.fs.Path(feedRoot)),
        new org.apache.hadoop.fs.Path(feedRoot, "_low_water"))
        .flatMap(_.headOption).map(_.toLong)
      lw.foreach { w =>
        throw new IllegalStateException(
          s"refresh: no committed view/frontier at $mvPath, but the feed " +
            s"was truncated below batch $w — a full-feed rebuild would " +
            "silently omit the dropped batches' contributions. Rebuild " +
            "the view from the base table instead.")
      }
    }
    val tailIds = fr.map(f => ids.filter(_ > f)).getOrElse(ids)
    if (tailIds.isEmpty) return fr.get
    val newFrontier = tailIds.max

    val tail = spark.read.parquet(
      tailIds.map(id => s"$feedRoot/batch=$id"): _*)
    val merged = foldInto(
      Option.when(fr.isDefined)(spark.read.parquet(mvPath)), tail, v)
    stageAndSwap(spark, fs, mvPath, merged.filter(col(v.countCol) > 0),
      newFrontier, hooks)
    newFrontier
  }

  /** Whether a signed fold of values of type `dt` is exact in any
    * order and grouping: decimal and integral sums are; double sums are
    * order-dependent IEEE folds whose re-folded partials can differ from
    * a row-by-row fold in the last ulp. The MV rewrite serves SUM/AVG
    * only over such types, and only such folds may consume the gross
    * [[VersionedTable.churnBetween]] tail, where a rewritten-but-equal
    * row is added and subtracted instead of skipped.
    */
  private[graft] def additive(dt: DataType): Boolean = dt match {
    case _: DecimalType => true
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The change rows a [[refreshFromVersionedTable]] folds between two
    * versions: the gross bucket churn ([[VersionedTable.churnBetween]])
    * when every sum column of the view (schema `view`) is [[additive]],
    * else the net diff ([[VersionedTable.changesBetween]]) — a double
    * sum re-folded from the churn adds and subtracts every carried row
    * and could drift from a bootstrap in the last ulp.
    */
  private[graft] def versionedTail(spark: SparkSession, tableRoot: String,
      key: String, fromV: Long, toV: Long, view: StructType,
      v: ViewDef): DataFrame =
    if (v.sumCols.values.forall(s => additive(view(s).dataType)))
      VersionedTable.churnBetween(spark, tableRoot, fromV, toV,
        v.grain ++ v.sumCols.keys.toSeq.sorted)
    else VersionedTable.changesBetween(spark, tableRoot, key, fromV, toV)

  /** Signed per-grain deltas of a CDC tail folded into the existing
    * view (or standing alone when no view exists yet). Column types
    * stay pinned to the first-committed view schema, so refresh ==
    * full-refold frame-for-frame at any depth.
    */
  private def foldInto(view: Option[DataFrame], tail: DataFrame,
      v: ViewDef): DataFrame = {
    val pos = col("change_op").isin("insert", "update_post")
    val sign = when(pos, lit(1L)).otherwise(lit(-1L))
    val mKeys = v.sumCols.keys.toSeq.sorted
    val deltas = tail.groupBy(v.grain.map(col): _*)
      .agg(sum(sign).as("__dn"),
        mKeys.map(m => sum(when(pos, col(m)).otherwise(-col(m)))
          .as(s"__d_$m")): _*)
    if (view.isEmpty)
      deltas.select(v.grain.map(col) ++
        Seq(col("__dn").as(v.countCol)) ++
        mKeys.map(m => col(s"__d_$m").as(v.sumCols(m))): _*)
    else {
      val old = view.get
      val schema = old.schema
      old.join(deltas, v.grain, "full_outer")
        .select(v.grain.map(col) ++
          Seq((coalesce(col(v.countCol), lit(0L)) +
            coalesce(col("__dn"), lit(0L)))
            .cast(schema(v.countCol).dataType).as(v.countCol)) ++
          mKeys.map { m =>
            val s = v.sumCols(m)
            (coalesce(col(s), lit(0).cast(schema(s).dataType)) +
              coalesce(col(s"__d_$m"), lit(0).cast(schema(s).dataType)))
              .cast(schema(s).dataType).as(s)
          }: _*)
    }
  }

  /** Stage → embed frontier → retaining swap: a crash at any point
    * leaves a committed view readable (prior or new) — see the class doc.
    */
  private def stageAndSwap(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, mvPath: String,
      alive: DataFrame, newFrontier: Long, hooks: SwapHooks): Unit = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val tmp = s"${mvPath}__stage"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
    alive.write.mode("overwrite").parquet(tmp)
    val frFile = new org.apache.hadoop.fs.Path(tmpPath, "_frontier")
    val out = fs.create(frFile, true)
    try out.write(newFrontier.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    hooks.beforeSwap()
    Publish.withSwapHook(_ => hooks.betweenRenames()) {
      Publish.swapIn(fs, tmpPath, mvP, oldPath(mvPath))
    }
  }

  /** Refresh a view maintained over a [[VersionedTable]] — the TABLE-
    * LAYER twin of [[refresh]]: the frontier is a VERSION id, the tail
    * is derived from the manifests between frontier and latest (bucket-
    * pruned, no feed maintained anywhere) — the gross churn of the
    * changed buckets when every view sum column is decimal or integral
    * (rows a bucket rewrite carried unchanged cancel exactly in the
    * signed fold), the net diff otherwise, so a double-sum view folds
    * only rows that really changed ([[versionedTail]]). A view with no
    * committed frontier BOOTSTRAPS from the table's latest snapshot (a one-time
    * base aggregate — always legal because the snapshot is complete,
    * unlike a possibly-truncated feed). Same retaining-swap durability;
    * same O(|tail| + |grain|) steady cost. Composes with
    * [[graft.plans.MvRegistry.CompDef.versionedDynamic]]: register the
    * view ONCE, refresh on any cadence, and queries stay exactly fresh
    * — compensated from the CDF past whatever frontier the last
    * committed refresh embedded. Retention contract: vacuum must keep
    * the frontier version (the CDF diff needs it; [[VersionedTable.read]]
    * refuses loudly otherwise).
    */
  def refreshFromVersionedTable(spark: SparkSession, tableRoot: String,
      key: String, mvPath: String, v: ViewDef): Long =
    refreshFromVersionedTable(spark, tableRoot, key, mvPath, v, SwapHooks.none)

  private[graft] def refreshFromVersionedTable(spark: SparkSession,
      tableRoot: String, key: String, mvPath: String, v: ViewDef,
      hooks: SwapHooks): Long = {
    val mvP = new org.apache.hadoop.fs.Path(mvPath)
    val fs = fsOf(spark, mvP)
    Publish.recover(fs, mvP, oldPath(mvPath)) // torn-swap repair, as in [[refresh]]
    val latest = VersionedTable.latestVersion(spark, tableRoot).getOrElse(
      throw new IllegalArgumentException(
        s"refreshFromVersionedTable: no committed version at $tableRoot"))
    frontier(spark, mvPath) match {
      case Some(f) if f >= latest => f
      case Some(f) =>
        val view = spark.read.parquet(mvPath)
        val merged = foldInto(Some(view),
          versionedTail(spark, tableRoot, key, f, latest, view.schema, v), v)
        stageAndSwap(spark, fs, mvPath,
          merged.filter(col(v.countCol) > 0), latest, hooks)
        latest
      case None =>
        // bootstrap: one snapshot aggregate — complete by construction
        val mKeys = v.sumCols.keys.toSeq.sorted
        val full = VersionedTable.read(spark, tableRoot, Some(latest))
          .groupBy(v.grain.map(col): _*)
          .agg(count(lit(1)).as(v.countCol),
            mKeys.map(m => sum(col(m)).as(v.sumCols(m))): _*)
        stageAndSwap(spark, fs, mvPath, full, latest, hooks)
        latest
    }
  }
}
