package graft.streaming

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.VersionedTable

/** Structured-Streaming source over a [[graft.sources.VersionedTable]]'s
  * COMMIT HISTORY (the r11 verdict's Missing #3 — the Delta CDF
  * streaming analogue): `readStream.format(VtCdfStream.format)` turns
  * the table's manifest log into version-ordered micro-batches of
  * row-level changes, with NO change feed maintained at write time.
  *
  * Why a custom DSv2 source and not the file stream: Spark's file
  * source orders by file discovery, can split one commit across
  * micro-batches and interleave another into the gap — the exact
  * ordering hazard the feed-sync scaladoc documents
  * (`Retrieval.syncBm25IndexFromFeed`). Here the OFFSET IS THE VERSION
  * ID: `latestOffset` is the table's committed head, a micro-batch is
  * a contiguous version range, and every emitted row carries
  * `_commit_version`, so a consumer applies versions in order even
  * when backlog batches span several (the q109 strike-before-append
  * discipline keys off it).
  *
  * Scale shape (the 100 TB posture):
  *   - PLANNING is metadata-only: per version step, the changed
  *     buckets are exactly those whose manifest file lists differ
  *     (files are immutable — list identity ⇒ content identity, the
  *     [[VersionedTable.changesBetween]] argument). Nothing is read to
  *     decide what to scan.
  *   - One [[InputPartition]] per (version step × changed bucket); the
  *     reader DIFFS that bucket executor-side: old generation hashed
  *     by key, new generation streamed against it — memory is one
  *     bucket's rows, the same bound the mergeByKey sizing rule
  *     already holds (grow bucket count with the table), and the work
  *     distributes across exactly the touched buckets.
  *   - Readers open the manifest-named parquet files directly
  *     (parquet-hadoop's Group API — no nested SparkSession on
  *     executors); a version's predecessor being vacuumed refuses
  *     loudly at planning, never silently skips (the retention
  *     contract shared with the index sync).
  *
  * Output schema: `change_op` STRING (insert / delete / update_pre /
  * update_post — the engine's CDC vocabulary, composing with every
  * feed consumer), `_commit_version` LONG, then the table's data
  * columns (manifest-recorded DDL minus the physical `__bucket`).
  * The oldest retained version streams as pure inserts (its diff
  * predecessor no longer exists); `startingVersion=latest` skips
  * history and streams only versions committed after the stream
  * starts. Supported column types: the flat types the engine's tables
  * use (boolean/int/long/float/double/string/binary/decimal/date/
  * timestamp); nested types refuse at plan time.
  *
  * Restart: offsets checkpoint through the normal streaming machinery;
  * re-planned batches are deterministic (manifest-named files,
  * key-ordered diff), so redelivery is exact. Additive schema
  * evolution null-fills columns absent in older generations, same as
  * the batch reader's DDL-planned scan.
  */
object VtCdfStream {
  /** Pass to `readStream.format(...)`. */
  val format: String = classOf[VtCdfSourceProvider].getName

  private[graft] val ChangeOp = "change_op"
  private[graft] val CommitVersion = "_commit_version"

  private[graft] def dataSchema(spark: SparkSession, root: String): StructType = {
    val vs = VersionedTable.versions(spark, root)
    require(vs.nonEmpty, s"VtCdfStream: no committed version at $root")
    val (_, ddl) = VersionedTable.resolvedWithSchema(spark, root, vs.last)
    val full = StructType.fromDDL(ddl.getOrElse(throw new IllegalStateException(
      s"VtCdfStream: version ${vs.last} of $root has a legacy schema-less " +
        "manifest — commit once with the current writer to record the DDL")))
    val data = StructType(full.fields.filterNot(_.name == "__bucket"))
    data.fields.foreach { f =>
      require(isSupported(f.dataType),
        s"VtCdfStream: column ${f.name} has unsupported type ${f.dataType} " +
          "(flat types only)")
    }
    data
  }

  private def isSupported(dt: DataType): Boolean = dt match {
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         StringType | BinaryType | DateType | TimestampType | ShortType |
         ByteType => true
    case _: DecimalType => true
    case _ => false
  }

  private[graft] def fullSchema(data: StructType): StructType =
    StructType(
      StructField(ChangeOp, StringType, nullable = false) +:
      StructField(CommitVersion, LongType, nullable = false) +:
      data.fields)
}

class VtCdfSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException("VtCdfStream: option 'root' required"))
    VtCdfStream.fullSchema(
      VtCdfStream.dataSchema(SparkSession.active, root))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new VtCdfTable(schema, properties.get("root"),
      Option(properties.get("key")).getOrElse(
        throw new IllegalArgumentException("VtCdfStream: option 'key' required")),
      Option(properties.get("startingVersion")).getOrElse("earliest"),
      Option(properties.get("maxVersionsPerTrigger")).map(_.toLong))
}

private[streaming] class VtCdfTable(tblSchema: StructType, root: String,
    key: String, startingVersion: String,
    maxVersionsPerTrigger: Option[Long]) extends Table with SupportsRead {
  require(tblSchema.fieldNames.contains(key),
    s"VtCdfStream: key column '$key' not in table schema " +
      tblSchema.fieldNames.mkString("(", ", ", ")"))
  override def name(): String = s"vt_cdf($root)"
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def schema(): StructType = tblSchema
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tblSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new VtCdfMicroBatchStream(tblSchema, root, key, startingVersion,
            maxVersionsPerTrigger)
      }
    }
}

/** Offset = the last version already emitted (−1 = nothing yet).
  * `replayBase` (−1 = none) records the ONE version this stream is
  * entitled to emit as a full-state insert replay: the retention floor
  * at stream initialization (or the floor an explicit
  * `startingVersion = floor − 1` named). Carrying it in the offset —
  * and so through the checkpoint — is what distinguishes a virgin
  * stream's legitimate full replay from a vacuum landing exactly on a
  * non-virgin stream's frontier: without it, a stream that had already
  * emitted versions 0..v−1 would silently re-emit the whole table as
  * inserts when vacuum dropped v's predecessor, duplicating every row
  * in downstream consumers. Serialized as the plain version long when
  * no replay entitlement exists (the historical format), else as
  * `<version>@<replayBase>`.
  */
private[graft] case class VtCdfOffset(version: Long, replayBase: Long = -1L)
    extends Offset {
  override def json(): String =
    if (replayBase < 0) version.toString else s"$version@$replayBase"
}

private[graft] object VtCdfOffset {
  def parse(json: String): VtCdfOffset = json.trim.split('@') match {
    case Array(v) => VtCdfOffset(v.toLong)
    case Array(v, rb) => VtCdfOffset(v.toLong, rb.toLong)
    case _ => throw new IllegalArgumentException(
      s"VtCdfStream: unparseable offset '$json'")
  }
}

private[graft] class VtCdfMicroBatchStream(schema: StructType,
    root: String, key: String, startingVersion: String,
    maxVersionsPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  private def spark = SparkSession.active

  // admission control: a stream far behind a busy table catches up in
  // bounded micro-batches instead of one giant one — each batch admits
  // at most maxVersionsPerTrigger versions (default: all available)
  override def latestOffset(startOffset: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val head = VersionedTable.latestVersion(spark, root).getOrElse(-1L)
    val so = startOffset.asInstanceOf[VtCdfOffset]
    // the replay entitlement rides along so a restart that re-plans the
    // first batch from the checkpoint still proves its full replay
    val to = maxVersionsPerTrigger match {
      case Some(m) if head - so.version > m => so.version + m
      case _ => head
    }
    VtCdfOffset(to, so.replayBase)
  }
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def initialOffset(): Offset = startingVersion match {
    case "earliest" =>
      val vs = VersionedTable.versions(spark, root)
      require(vs.nonEmpty, s"VtCdfStream: no committed version at $root")
      // the oldest retained version must itself be emitted (as pure
      // inserts) — the offset sits just below it, and the floor version
      // is recorded as this stream's one full-replay entitlement
      VtCdfOffset(vs.head - 1, replayBase = vs.head)
    case "latest" =>
      VtCdfOffset(VersionedTable.latestVersion(spark, root).getOrElse(-1L))
    case other =>
      val v = other.toLong
      val vs = VersionedTable.versions(spark, root)
      require(vs.contains(v) || v == vs.head - 1,
        s"VtCdfStream: startingVersion $v not retained (${vs.mkString(", ")})")
      // starting just below the floor means the caller wants the floor
      // emitted as a full replay; starting AT a retained version diffs
      VtCdfOffset(v, replayBase = if (v == vs.head - 1) vs.head else -1L)
  }

  override def latestOffset(): Offset =
    VtCdfOffset(VersionedTable.latestVersion(spark, root).getOrElse(-1L))

  override def deserializeOffset(json: String): Offset =
    VtCdfOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[VtCdfOffset]
    val from = so.version
    val to = end.asInstanceOf[VtCdfOffset].version
    if (to <= from) return Array.empty
    val vs = VersionedTable.versions(spark, root)
    val floor = vs.headOption.getOrElse(
      throw new IllegalStateException(s"VtCdfStream: $root lost all versions"))
    val dataFields = schema.fields.filterNot(f =>
      f.name == VtCdfStream.ChangeOp || f.name == VtCdfStream.CommitVersion)
    val dataDdl = StructType(dataFields).toDDL
    ((from + 1) to to).flatMap { v =>
      require(vs.contains(v),
        s"VtCdfStream: version $v of $root was vacuumed past this stream's " +
          s"offset (retained: ${vs.mkString(", ")}) — the retention contract " +
          "requires vacuum to keep every unstreamed version; restart from a " +
          "fresh checkpoint to full-replay the retained head")
      val eNew = VersionedTable.resolvedWithSchema(spark, root, v)._1
      // full-state-as-inserts is legal ONLY for the stream's recorded
      // replay entitlement (the floor at initialization, carried in the
      // offset/checkpoint). `v == floor` alone is NOT proof: a vacuum
      // that dropped exactly this non-virgin stream's predecessor would
      // otherwise silently re-emit the entire table as inserts,
      // duplicating every row in downstream consumers.
      val eOld: Map[Int, Seq[String]] =
        if (v == floor && v == so.replayBase) Map.empty
        else {
          require(vs.contains(v - 1),
            s"VtCdfStream: predecessor ${v - 1} of version $v was vacuumed " +
              s"(retained: ${vs.mkString(", ")}) and this stream already " +
              "emitted earlier versions — cannot diff; refusing loudly " +
              "rather than re-emitting the full state as duplicate inserts. " +
              "Restart from a fresh checkpoint to full-replay the retained " +
              "head")
          VersionedTable.resolvedWithSchema(spark, root, v - 1)._1
        }
      val changed = (eOld.keySet ++ eNew.keySet).filter { b =>
        eOld.getOrElse(b, Nil).sorted != eNew.getOrElse(b, Nil).sorted
      }.toSeq.sorted
      changed.map { b =>
        VtCdfPartition(v, b,
          eOld.getOrElse(b, Nil).toArray, eNew.getOrElse(b, Nil).toArray,
          key, dataDdl)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VtCdfReaderFactory
}

private[graft] case class VtCdfPartition(version: Long, bucket: Int,
    oldFiles: Array[String], newFiles: Array[String],
    key: String, dataDdl: String) extends InputPartition

private[streaming] class VtCdfReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new VtCdfPartitionReader(partition.asInstanceOf[VtCdfPartition])
}

/** Executor-side bucket diff: hash the OLD generation by key, stream
  * the NEW generation against it, emit net changes. Memory = one
  * bucket's old rows — the bound the bucket-sizing rule holds by
  * construction. Files are read with parquet-hadoop's Group API
  * (no SparkSession on executors); values convert to Catalyst internal
  * forms so equality (update detection) and downstream processing see
  * exactly what the batch reader would.
  */
private[streaming] class VtCdfPartitionReader(p: VtCdfPartition)
    extends PartitionReader[InternalRow] {
  import VtCdfStream.{ChangeOp, CommitVersion}

  private val dataType = StructType.fromDDL(p.dataDdl)
  private val keyIdx = dataType.fieldIndex(p.key)
  private val conf = new Configuration()

  // every reader opened by this task, closed on normal exhaustion AND in
  // close() — a task failed or interrupted mid-diff must not leak open
  // parquet file handles
  private val openReaders = new java.util.ArrayList[
    org.apache.parquet.hadoop.ParquetReader[
      org.apache.parquet.example.data.Group]]()

  private def readFile(file: String): Iterator[Array[Any]] = {
    val path = new Path(file)
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), path)
      .withConf(conf).build()
    openReaders.add(reader)
    Iterator.continually(reader.read()).takeWhile { g =>
      if (g == null) { reader.close(); openReaders.remove(reader) }
      g != null
    }.map(groupToRow)
  }

  private def groupToRow(g: org.apache.parquet.example.data.Group): Array[Any] = {
    val gt = g.getType
    dataType.fields.map { f =>
      if (!gt.containsField(f.name)) null // additive evolution: null-fill
      else {
        val i = gt.getFieldIndex(f.name)
        if (g.getFieldRepetitionCount(i) == 0) null
        else convert(g, i, f.dataType, gt.getType(i))
      }
    }
  }

  private def convert(g: org.apache.parquet.example.data.Group, i: Int,
      dt: DataType, pt: org.apache.parquet.schema.Type): Any = dt match {
    case BooleanType => g.getBoolean(i, 0)
    case ByteType => g.getInteger(i, 0).toByte
    case ShortType => g.getInteger(i, 0).toShort
    case IntegerType => g.getInteger(i, 0)
    case LongType => g.getLong(i, 0)
    case FloatType => g.getFloat(i, 0)
    case DoubleType => g.getDouble(i, 0)
    case StringType => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
    case BinaryType => g.getBinary(i, 0).getBytes
    case DateType => g.getInteger(i, 0) // days since epoch
    case TimestampType => g.getLong(i, 0) // micros (Spark 4 writes INT64)
    case d: DecimalType =>
      pt.asPrimitiveType().getPrimitiveTypeName match {
        case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 =>
          Decimal(BigDecimal(BigInt(g.getInteger(i, 0)), d.scale), d.precision, d.scale)
        case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
          Decimal(BigDecimal(BigInt(g.getLong(i, 0)), d.scale), d.precision, d.scale)
        case _ => // FIXED_LEN_BYTE_ARRAY / BINARY: two's-complement unscaled
          Decimal(BigDecimal(BigInt(g.getBinary(i, 0).getBytes), d.scale),
            d.precision, d.scale)
      }
    case other => throw new IllegalStateException(
      s"VtCdfStream reader: unsupported type $other")
  }

  private def keyOf(row: Array[Any]): Any = row(keyIdx) match {
    case u: UTF8String => u.toString // stable hashCode/equals key form
    case v => v
  }

  private def sameRow(a: Array[Any], b: Array[Any]): Boolean = {
    var i = 0
    while (i < a.length) {
      val eq = (a(i), b(i)) match {
        case (null, null) => true
        case (null, _) | (_, null) => false
        case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
        case (x, y) => x == y
      }
      if (!eq) return false
      i += 1
    }
    true
  }

  private def emit(op: String, row: Array[Any]): InternalRow =
    new GenericInternalRow(
      (UTF8String.fromString(op) +: java.lang.Long.valueOf(p.version) +:
        row.toSeq).toArray[Any])

  // LinkedHashMap: deterministic emission order (old-file read order)
  private lazy val rows: Iterator[InternalRow] = {
    val old = new java.util.LinkedHashMap[Any, Array[Any]]()
    p.oldFiles.sorted.foreach(f => readFile(f).foreach { r =>
      old.put(keyOf(r), r)
    })
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    p.newFiles.sorted.foreach(f => readFile(f).foreach { r =>
      val k = keyOf(r)
      val prev = old.remove(k)
      if (prev == null) out += emit("insert", r)
      else if (!sameRow(prev, r)) {
        out += emit("update_pre", prev)
        out += emit("update_post", r)
      } // rewritten-but-equal rows cancel: NET changes, not file churn
    })
    val it = old.values().iterator()
    while (it.hasNext) out += emit("delete", it.next())
    out.iterator
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = {
    val it = openReaders.iterator()
    while (it.hasNext) {
      try it.next().close() catch { case _: java.io.IOException => () }
    }
    openReaders.clear()
  }
}
