package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's main program: one process, one client, closed loop.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --out <results dir>
  * }}}
  *
  * Prints one JSON result as the last stdout line: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. The summary,
  * the per-op series and (traced) the spans go to `--out`.
  */
object Main {

  /** End-to-end metrics and their units, in report order. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "first_write_s" -> "s", "write_p50_s" -> "s",
    "read_p50_ms" -> "ms", "rows_per_s" -> "1/s", "write_amp" -> "ratio",
    "disk_mb" -> "MB", "peak_rss_mb" -> "MB")

  /** Per-layer metrics of the benchmarked workloads, and their units.
    * Every workload reports all of them (a layer a workload never enters
    * reads 0), then its own [[Workload.extraLayers]].
    */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_write" -> "count", "spark.tasks_per_write" -> "count",
    "spark.driver_gap_s_per_write" -> "s", "spark.plan_ms_per_write" -> "ms",
    "spark.plan_ms_per_read" -> "ms", "spark.task_s_per_write" -> "s",
    "spark.core_busy_ratio" -> "ratio", "spark.shuffle_mb_per_write" -> "MB",
    "spark.spill_mb_per_write" -> "MB", "spark.jobs_per_read" -> "count",
    "fs.meta_per_write" -> "count", "fs.open_per_write" -> "count",
    "fs.create_per_write" -> "count", "fs.rename_per_write" -> "count",
    "fs.delete_per_write" -> "count", "fs.mkdirs_per_write" -> "count",
    "fs.meta_per_read" -> "count", "fs.mb_written_per_write" -> "MB",
    "fs.mb_read_per_write" -> "MB",
    "core.dag_wall_s" -> "s", "core.model_sum_s" -> "s",
    "core.dag_concurrency" -> "ratio", "core.critical_path_s" -> "s",
    "models.classified_s" -> "s", "models.card_merchants_s" -> "s",
    "models.card_tx_s" -> "s", "models.spend_s" -> "s",
    "models.flattened_s" -> "s", "models.metrics_s" -> "s",
    "models.entity_s" -> "s", "models.source_scans_per_build" -> "count",
    "models.rows_scanned_per_build" -> "count",
    "sources.vt_commit_s" -> "s", "sources.vt_commit_jobs" -> "count",
    "sources.vt_commit_fs_ops" -> "count", "sources.mv_refresh_s" -> "s",
    "sources.mv_refresh_jobs" -> "count", "sources.vt_read_ms" -> "ms",
    "sources.materialize_files" -> "count",
    "plans.mv_served_ratio" -> "ratio", "plans.optimize_ms_per_read" -> "ms",
    "plans.tail_rows_per_read" -> "count", "plans.read_fresh_p50_ms" -> "ms",
    "plans.read_stale_p50_ms" -> "ms",
    "trace.write_p50_s" -> "s", "trace.read_p50_ms" -> "ms")

  private final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(
        s"bad arguments near ${bad.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      trace, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, Runtime.getRuntime.availableProcessors)
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload} (known: ${Workload.names.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(cores: Int, work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    val s = (if (trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFs].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(
        throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val spark = session(a.cores, a.work, a.trace)
    try run(spark, a, jvmStartMs)
    finally {
      spark.stop()
      Files2.deleteTree(a.work)
    }
    sys.exit(0)
  }

  private def run(spark: SparkSession, a: Args, jvmStartMs: Long): Unit = {
    val tracer = new Tracer(spark, a.trace)
    if (a.trace) {
      val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sessionState.newHadoopConf())
      require(fs.isInstanceOf[CountingFs],
        s"traced run needs the counting file system, got ${fs.getClass.getName}")
    }
    val ctx = Ctx(spark, a.seed, a.work.resolve("data"), tracer)
    val wl = Workload(a.workload, ctx)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    wl.setup()
    // collect set-up's garbage inside set-up, not during the first write
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[perfbench] session up at $sessionS%.2f s, set-up done at $setupS%.2f s")
    var checkS = 0.0

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val errors = mutable.ArrayBuffer.empty[String]
    def timed(kind: String, i: Int)(body: => Op): Unit = {
      val (_, w0) = CountingFs.bytesReadWritten()
      val t0 = System.nanoTime()
      var span: Option[Span] = None
      val op = try {
        Right(tracer.op(kind, ops.size) { s => span = s; body })
      } catch { case e: Exception => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val (_, w1) = CountingFs.bytesReadWritten()
      val c0 = System.nanoTime()
      val err = op match {
        case Left(e) => Some(s"$kind $i threw: $e")
        case Right(o) =>
          try o.check() catch { case e: Exception => Some(s"$kind $i check threw: $e") }
      }
      checkS += (System.nanoTime() - c0) / 1e9
      err.foreach { m => errors += m; System.err.println(s"[perfbench] FAILED $m") }
      val (rows, bytes) = op.map(o => (o.rows, o.bytes)).getOrElse((0L, 0L))
      ops += OpRecord(ops.size, kind, secs, rows, bytes, w1 - w0, err.isEmpty, span)
    }

    var w = 0
    var r = 0
    timed("write", w)(wl.write(w)); w += 1
    val diskMb = Files2.sizeOf(wl.warehouse) / 1e6
    val cycles = math.max(1, math.floor(a.seconds / wl.nominalCycleSeconds + 0.5).toInt)
    (0 until cycles * wl.cycleWrites).foreach { _ =>
      (0 until wl.readsPerWrite).foreach { _ => timed("read", r)(wl.read(r)); r += 1 }
      timed("write", w)(wl.write(w)); w += 1
    }
    tracer.finish()
    System.err.println(f"[perfbench] ${ops.size} ops in ${ops.map(_.seconds).sum}%.2f s, " +
      f"output checks ${checkS}%.2f s")

    val writes = ops.filter(_.kind == "write")
    val steady = writes.drop(1)
    val reads = ops.filter(_.kind == "read")
    val failed = ops.count(!_.ok)
    val e2e = Map(
      "setup_s" -> setupS,
      "first_write_s" -> writes.head.seconds,
      "write_p50_s" -> Stats.median(steady.map(_.seconds).toSeq),
      "read_p50_ms" -> Stats.median(reads.map(_.seconds * 1000).toSeq),
      "rows_per_s" -> steady.map(_.rows).sum / steady.map(_.seconds).sum,
      "write_amp" -> steady.map(_.fsBytesWritten).sum.toDouble /
        steady.map(_.bytes).sum,
      "disk_mb" -> diskMb,
      "peak_rss_mb" -> peakRssMb())
    // a p90 is reported only with at least 10 samples beyond it
    val extra = mutable.LinkedHashMap[String, Double](
      "writes" -> writes.size, "reads" -> reads.size,
      "fail_ratio" -> failed.toDouble / ops.size)
    if (steady.size >= 100)
      extra("write_p90_s") = Stats.quantile(steady.map(_.seconds).toSeq, 0.9)
    if (reads.size >= 100)
      extra("read_p90_ms") = Stats.quantile(reads.map(_.seconds * 1000).toSeq, 0.9)

    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val known = (perLayer ++ wl.extraLayers).map(_._1).toSet
        val wlm = wl.layerMetrics(ops.toSeq)
        val unknown = wlm.keySet -- known
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        known.map(_ -> 0.0).toMap ++ commonLayers(ops.toSeq, tracer, a.cores) ++ wlm
      }

    writeOutputs(a, wl, ops.toSeq, e2e, extra, layers, tracer, errors.toSeq)
    val shown = if (a.trace) (perLayer ++ wl.extraLayers).map { case (k, u) => (k, u, layers(k)) }
      else endToEnd.map { case (k, u) => (k, u, e2e(k)) }
    val metrics = shown.map { case (k, u, v) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":${ops.size},""" +
      s""""failed":$failed,"metrics":$metrics}""")
  }

  /** Per-layer metrics every workload shares: Spark and FS counts per op
    * type, from the op spans.
    */
  private def commonLayers(ops: Seq[OpRecord], tracer: Tracer,
      cores: Int): Map[String, Double] = {
    val ws = ops.filter(_.kind == "write").drop(1).flatMap(_.span)
    val rs = ops.filter(_.kind == "read").flatMap(_.span)
    def avg(ss: Seq[Span])(f: Span => Double): Double = Stats.mean(ss.map(f))
    def gapS(s: Span): Double = {
      val ivs = tracer.jobIntervals.filter(_._3 == s.op)
        .map { case (a, b, _) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      ivs.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      (s.wallMs - covered) / 1000.0
    }
    val fsNames = Seq("meta", "open", "create", "rename", "delete", "mkdirs")
    Map(
      "spark.jobs_per_write" -> avg(ws)(_.total.jobs.toDouble),
      "spark.tasks_per_write" -> avg(ws)(_.total.tasks.toDouble),
      "spark.driver_gap_s_per_write" -> avg(ws)(gapS),
      "spark.plan_ms_per_write" -> avg(ws)(_.total.planMs.toDouble),
      "spark.plan_ms_per_read" -> avg(rs)(_.total.planMs.toDouble),
      "spark.task_s_per_write" -> avg(ws)(_.total.taskMs / 1000.0),
      "spark.core_busy_ratio" -> ws.map(_.total.taskMs.toDouble).sum /
        (ws.map(_.wallMs.toDouble).sum * cores),
      "spark.shuffle_mb_per_write" -> avg(ws)(_.total.shuffleWriteBytes / 1e6),
      "spark.spill_mb_per_write" -> avg(ws)(_.total.spillBytes / 1e6),
      "spark.jobs_per_read" -> avg(rs)(_.total.jobs.toDouble),
      "fs.meta_per_read" -> avg(rs)(_.fs(0).toDouble),
      "fs.mb_read_per_write" -> avg(ws)(_.fs(6) / 1e6),
      "fs.mb_written_per_write" -> avg(ws)(_.fs(7) / 1e6),
      "trace.write_p50_s" -> Stats.median(ops.filter(_.kind == "write").drop(1).map(_.seconds)),
      "trace.read_p50_ms" -> Stats.median(ops.filter(_.kind == "read").map(_.seconds * 1000))) ++
      fsNames.zipWithIndex.map { case (n, i) =>
        s"fs.${n}_per_write" -> avg(ws)(_.fs(i).toDouble)
      }
  }

  private def writeOutputs(a: Args, wl: Workload, ops: Seq[OpRecord], e2e: Map[String, Double],
      extra: collection.Map[String, Double], layers: Map[String, Double],
      tracer: Tracer, errors: Seq[String]): Unit = {
    val tag = s"${a.workload}_seed${a.seed}_trace${if (a.trace) 1 else 0}"
    def obj(m: Seq[(String, Double)]) =
      m.map { case (k, v) => s"  ${Json.str(k)}: ${Json.num(v)}" }.mkString("{\n", ",\n", "\n}")
    val summary = Seq(
      s""""workload": ${Json.str(a.workload)}""", s""""seed": ${a.seed}""",
      s""""trace": ${a.trace}""", s""""cores": ${a.cores}""",
      s""""seconds": ${Json.num(a.seconds)}""",
      s""""end_to_end": ${obj(endToEnd.map { case (k, _) => k -> e2e(k) })}""",
      s""""extra": ${obj(extra.toSeq)}""",
      s""""per_layer": ${obj((perLayer ++ wl.extraLayers).map(_._1).filter(layers.contains).map(k => k -> layers(k)))}""",
      s""""errors": ${errors.map(Json.str).mkString("[", ", ", "]")}""")
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(a.out.resolve(s"$tag.summary.json"), summary.getBytes("UTF-8"))
    val header = "index,kind,seconds,rows,input_bytes,fs_bytes_written,ok,jobs,tasks,fs_ops"
    val lines = ops.map { o =>
      val (jobs, tasks, fsOps) = o.span.map(s =>
        (s.total.jobs.toString, s.total.tasks.toString, s.fsOps.toString))
        .getOrElse(("", "", ""))
      Seq(o.index, o.kind, o.seconds, o.rows, o.bytes, o.fsBytesWritten, o.ok,
        jobs, tasks, fsOps).mkString(",")
    }
    Files.write(a.out.resolve(s"$tag.series.csv"),
      (header +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    if (a.trace)
      Files.write(a.out.resolve(s"$tag.spans.jsonl"),
        tracer.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
