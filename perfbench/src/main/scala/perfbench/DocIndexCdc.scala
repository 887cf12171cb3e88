package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Retrieval
import graft.sources.TableWriter

/** `doc_index_cdc`: a document table kept as a CDC table, and a BM25 index
  * kept in sync from its change feed. A write is one CDC round (upsert,
  * delete, index sync); a read is a BM25 top-k query.
  */
final class DocIndexCdc(ctx: Ctx) extends Workload {
  import DocIndexCdc._
  private val spark = ctx.spark
  import spark.implicits._
  private val tr = ctx.tracer
  private val w = new TableWriter(ctx.work.resolve("wh").toUri.toString.stripSuffix("/"))
  private val zipf = Gen.zipf(ctx.seed)
  /** The live documents: what the table must hold. */
  private val live = mutable.TreeMap.empty[Long, String]
  private var nextId = 0L
  /** Queries since the last write, checked together against one scan. */
  private val pending = mutable.ArrayBuffer.empty[(Long, Seq[String], Seq[String])]
  /** Feed batches present before each write. */
  private val feedBatches = mutable.Map.empty[Int, Int]

  val readsPerWrite = 2
  val nominalCycleSeconds = 17.0
  def warehouse: Path = ctx.work.resolve("wh")

  def setup(): Unit = {
    val docs = Gen.corpus(ctx.seed, zipf, initialDocs)
    docs.foreach(d => live(d.id) = d.text)
    nextId = docs.size.toLong
    w.mergeByKeyCdc(spark, table, docs.map(d => (d.id, d.text)).toDF("doc_id", "text"),
      "doc_id", 1L)
    Retrieval.syncBm25IndexFromFeed(spark, w, table, index)
  }

  def write(i: Int): Op = {
    val (ups, dels) = Gen.cdcRound(ctx.seed, zipf, i, live.keys.toIndexedSeq,
      nextId, upsertDocs, deleteDocs)
    feedBatches(i) = 1 + 2 * i
    tr.call("TableWriter.mergeByKeyCdc") {
      w.mergeByKeyCdc(spark, table, ups.map(d => (d.id, d.text)).toDF("doc_id", "text"),
        "doc_id", 2L + 2 * i)
    }
    tr.call("TableWriter.deleteByKeyCdc") {
      w.deleteByKeyCdc(spark, table, dels.toDF("doc_id"), "doc_id", 3L + 2 * i)
    }
    tr.call("Retrieval.syncBm25IndexFromFeed") {
      Retrieval.syncBm25IndexFromFeed(spark, w, table, index)
    }
    ups.foreach(d => live(d.id) = d.text)
    dels.foreach(live.remove)
    nextId += ups.count(_.id >= nextId)
    pending.clear()
    val bytes = Gen.csvBytes(ups.map(_.csv)) + Gen.csvBytes(dels.map(_.toString))
    Op(ups.size.toLong + dels.size, bytes, () => {
      val n = w.readResolved(spark, table).count()
      if (n == live.size) None else Some(s"round $i left $n docs, expected ${live.size}")
    })
  }

  private def queryFrame(qs: Seq[(Long, Seq[String])]): DataFrame =
    qs.flatMap { case (q, ts) => ts.map(t => (q, t)) }.toDF("query_id", "term")

  def read(i: Int): Op = {
    val r = Gen.rng(ctx.seed, 3000 + i)
    val ids = live.keys.toIndexedSeq
    val terms = Gen.queryTerms(r, live(ids(r.nextInt(ids.size))))
    val got = tr.call("Retrieval.queryBm25Index") {
      Retrieval.queryBm25Index(spark, w, index, queryFrame(Seq(i.toLong -> terms)), k)
        .collect()
    }.map(_.toString).sorted.toSeq
    pending += ((i.toLong, terms, got))
    val batch = pending.toSeq
    val last = (i + 1) % readsPerWrite == 0
    Op(0, 0, () =>
      // one reference scan answers all the reads since the last write
      if (!last) None
      else {
        val ref = Retrieval.bm25TopK(w.readResolved(spark, table).select("doc_id", "text"),
          queryFrame(batch.map(b => b._1 -> b._2)), k).collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.toString).sorted.toSeq }
        batch.collectFirst {
          case (q, ts, g) if g != ref.getOrElse(q, Seq.empty) =>
            s"BM25 top-$k for ${ts.mkString(" ")} differs from bm25TopK over the live rows"
        }
      })
  }

  override val extraLayers: Seq[(String, String)] = Seq(
    "sources.cdc_merge_s" -> "s", "sources.cdc_merge_jobs" -> "count",
    "sources.cdc_delete_s" -> "s", "sources.cdc_delete_jobs" -> "count",
    "sources.rewrite_amp" -> "ratio",
    "operators.bm25_sync_s" -> "s", "operators.bm25_sync_jobs" -> "count",
    "operators.bm25_sync_fs_ops" -> "count",
    "operators.bm25_sync_jobs_slope" -> "count",
    "operators.bm25_query_ms" -> "ms", "operators.bm25_query_jobs" -> "count",
    "operators.postings_rows_per_query" -> "count")

  def layerMetrics(ops: Seq[OpRecord]): Map[String, Double] = {
    val allWrites = ops.filter(_.kind == "write")
    val writes = allWrites.drop(1).flatMap(_.span)
    val reads = ops.filter(_.kind == "read").flatMap(_.span)
    def calls(ss: Seq[Span], name: String) = ss.flatMap(tr.children).filter(_.name == name)
    val merges = calls(writes, "TableWriter.mergeByKeyCdc")
    val deletes = calls(writes, "TableWriter.deleteByKeyCdc")
    val syncs = calls(writes, "Retrieval.syncBm25IndexFromFeed")
    val queries = calls(reads, "Retrieval.queryBm25Index")
    val cdcBytes = (merges ++ deletes).map(_.fs(7)).sum.toDouble
    val slopePts = allWrites.zipWithIndex.flatMap { case (o, wi) =>
      calls(o.span.toSeq, "Retrieval.syncBm25IndexFromFeed")
        .map(s => (feedBatches(wi).toDouble, s.total.jobs.toDouble))
    }
    Map(
      "sources.cdc_merge_s" -> Stats.mean(merges.map(_.wallMs / 1000.0)),
      "sources.cdc_merge_jobs" -> Stats.mean(merges.map(_.total.jobs.toDouble)),
      "sources.cdc_delete_s" -> Stats.mean(deletes.map(_.wallMs / 1000.0)),
      "sources.cdc_delete_jobs" -> Stats.mean(deletes.map(_.total.jobs.toDouble)),
      "sources.rewrite_amp" -> cdcBytes / allWrites.drop(1).map(_.bytes).sum,
      "operators.bm25_sync_s" -> Stats.mean(syncs.map(_.wallMs / 1000.0)),
      "operators.bm25_sync_jobs" -> Stats.mean(syncs.map(_.total.jobs.toDouble)),
      "operators.bm25_sync_fs_ops" -> Stats.mean(syncs.map(_.fsOps.toDouble)),
      "operators.bm25_sync_jobs_slope" -> Stats.slope(slopePts),
      "operators.bm25_query_ms" -> Stats.mean(queries.map(_.wallMs.toDouble)),
      "operators.bm25_query_jobs" -> Stats.mean(queries.map(_.total.jobs.toDouble)),
      "operators.postings_rows_per_query" -> Stats.mean(reads.map(r =>
        tr.scans(r, _.contains(s"${index}_postings"))._2.toDouble)))
  }
}

object DocIndexCdc {
  val initialDocs = 10000
  val upsertDocs = 100
  val deleteDocs = 100
  val k = 10
  private val table = "docs"
  private val index = "docs_bm25"
}
