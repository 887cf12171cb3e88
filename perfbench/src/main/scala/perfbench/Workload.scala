package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What one timed op hands back: the input it committed (rows and
  * canonical csv bytes; 0 for reads) and its output check, run after the
  * clock stops. The check returns an error message, or None when the
  * output is right.
  */
final case class Op(rows: Long, bytes: Long, check: () => Option[String])

/** One timed op as measured. */
final case class OpRecord(index: Int, kind: String, seconds: Double,
    rows: Long, bytes: Long, fsBytesWritten: Long, ok: Boolean,
    span: Option[Span])

final case class Ctx(spark: SparkSession, seed: Long, work: Path,
    tracer: Tracer) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** A workload: set-up and a first write, then a closed loop of whole
  * cycles. A cycle is `cycleWrites` times `readsPerWrite` reads followed by
  * one write. `--seconds` buys round(seconds / nominalCycleSeconds) cycles
  * (at least one): the op count, and so the mix of warm-up and steady ops
  * the medians see, is the same on every run and on both sides of a
  * change.
  */
trait Workload {
  def readsPerWrite: Int
  def cycleWrites: Int = 1
  /** One cycle's wall time measured at 4 cores. */
  def nominalCycleSeconds: Double
  /** Generate inputs and bootstrap the tables the ops work on. */
  def setup(): Unit
  /** Write number `i` (0 is the first write after set-up). */
  def write(i: Int): Op
  /** Read number `i`. */
  def read(i: Int): Op
  /** The warehouse whose size on disk `disk_mb` reports. */
  def warehouse: Path
  /** This workload's own per-layer metrics from the traced run. */
  def layerMetrics(ops: Seq[OpRecord]): Map[String, Double]
  /** Per-layer metrics (name, unit) only this workload reports. */
  def extraLayers: Seq[(String, String)] = Nil
}

object Workload {
  val names: Seq[String] = Seq("dag_build", "spend_incremental", "doc_index_cdc")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "dag_build" => new DagBuild(ctx)
    case "spend_incremental" => new SpendIncremental(ctx)
    case "doc_index_cdc" => new DocIndexCdc(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${names.mkString(", ")})")
  }
}
