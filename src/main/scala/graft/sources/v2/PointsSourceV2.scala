package graft.sources.v2

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for the reference's "x,y" text point
  * format (KMeans.java input) — the full connector surface Spark
  * offers a source:
  *
  *   - `SupportsPushDownRequiredColumns`: projection reaches the
  *     parser — a `SELECT x` never materializes y.
  *   - `SupportsPushDownFilters`: comparison predicates on x/y are
  *     evaluated DURING parsing (rows are dropped before an
  *     InternalRow is built); fully-handled filters are removed from
  *     Spark's post-scan Filter, so the plan carries no residual.
  *   - byte-range `InputPartition`s with newline realignment: files
  *     are split into ranges sized by the discipline Spark's own file
  *     sources use (`maxSplitBytes = min(maxPartitionBytes,
  *     max(openCostInBytes, totalBytes/defaultParallelism))`), except
  *     that a file longer than openCostInBytes is cut on every core
  *     (`PointsSourceV2.splitRanges`), so a single fat file fans out
  *     across the cluster instead of serializing on one task. A
  *     reader whose range starts mid-file seeks to its offset and
  *     discards the partial first line (it belongs to the previous
  *     range, which reads one line past its end) — the standard
  *     Hadoop LineRecordReader ownership rule, so every line is
  *     parsed exactly once.
  *   - `SupportsReportStatistics`: total byte size flows into
  *     Catalyst so join-side broadcast decisions see this source
  *     like any file scan.
  *   - `SupportsPushDownAggregates` (PARTIAL): COUNT/MIN/MAX/SUM and
  *     plain-column GROUP BY fold during parsing, so only O(groups)
  *     accumulator rows per file leave the scan; Spark plans the
  *     final merge (map-side combine pushed all the way into IO).
  *
  * Executors re-open files through a fresh Hadoop `Configuration`
  * (local/HDFS-default paths); a credentialed deployment would ship
  * a serialized conf in the reader factory — the structure is the
  * same.
  */
class PointsSourceV2 extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PointsSourceV2.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PointsV2Table(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = true
}

object PointsSourceV2 {
  val schema: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  val format: String = classOf[PointsSourceV2].getName

  /** Byte-range splits over a file list, shared by the batch scan and
    * the micro-batch stream. Spark's FilePartition sizing rule, target
    * = min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)),
    * floors the range at openCostInBytes, which reads a single 4-8 MB
    * file as 4 MB plus the remainder on any core count. So a file
    * longer than openCostInBytes takes min(maxPartitionBytes,
    * ⌈totalBytes / cores⌉) instead, and a shorter one keeps Spark's
    * rule: it stays one range. `spark.graft.points.splitBytes`, when
    * set, is the target for every file. Each file is cut into the
    * fewest near-equal ranges (lengths differ by at most one byte) no
    * longer than its target.
    */
  def splitRanges(fileList: Seq[(String, Long)]): Array[InputPartition] = {
    val session = org.apache.spark.sql.SparkSession.active
    def bytesConf(key: String, dflt: String): Long =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        session.conf.get(key, dflt))
    val openCost = bytesConf("spark.sql.files.openCostInBytes", "4MB")
    val splitBytes = session.conf.getOption("spark.graft.points.splitBytes").map(_.toLong)
    val maxPB = bytesConf("spark.sql.files.maxPartitionBytes", "128MB")
    val parallelism = math.max(1, session.sparkContext.defaultParallelism)
    val sparkRule = math.min(maxPB,
      math.max(openCost, fileList.map(_._2 + openCost).sum / parallelism))
    val everyCore = math.min(maxPB, (fileList.map(_._2).sum + parallelism - 1) / parallelism)
    fileList.flatMap { case (f, len) =>
      // a non-positive target (splitBytes=0/negative, or openCostInBytes=0
      // with tiny input) must not zero out the range length — that
      // would silently read only the first line of each file
      val split = math.max(1L,
        splitBytes.getOrElse(if (len > openCost) everyCore else sparkRule))
      if (len <= 0) Seq(PointsFilePartition(f, 0L, 0L))
      else {
        val n = (len + split - 1) / split
        val (q, r) = (len / n, len % n) // the first r ranges take one byte more
        (0L until n).map(i =>
          PointsFilePartition(f, i * q + math.min(i, r), q + (if (i < r) 1 else 0)))
      }
    }.map(p => p: InputPartition).toArray
  }
}

final class PointsV2Table(path: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_points($path)"
  override def schema(): StructType = PointsSourceV2.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PointsV2ScanBuilder(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new PointsV2WriteBuilder(path, info)
}

/** V2 write path with the standard two-phase commit protocol: each
  * task writes its partition to a uniquely-named `part-…` file
  * (task UUID in the name — concurrent speculative attempts cannot
  * collide), reports the file in its commit message, and the DRIVER
  * finalizes the job by writing `_SUCCESS` listing the committed
  * files; job abort deletes every reported file. `overwrite` maps
  * to SupportsTruncate (pre-clean the directory at write build
  * time). Readers ignore `_`-prefixed files, so a failed job is
  * invisible to scans — the same atomicity contract as Spark's file
  * sources.
  */
final class PointsV2WriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val p = new Path(path)
      val fs = p.getFileSystem(new Configuration())
      if (doTruncate && fs.exists(p)) fs.delete(p, true)
      fs.mkdirs(p)
      new PointsBatchWrite(path, info.schema())
    }
  }
}

final case class PointsCommit(file: String) extends WriterCommitMessage

final class PointsBatchWrite(path: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new PointsWriterFactory(path, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(path, "_SUCCESS")
    val fs = p.getFileSystem(new Configuration())
    val out = fs.create(p, true)
    messages.foreach { case PointsCommit(f) =>
      out.write((f + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    out.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(new Configuration())
    messages.foreach {
      case PointsCommit(f) => fs.delete(new Path(f), false)
      case _ =>
    }
  }
}

final class PointsWriterFactory(path: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PointsDataWriter(path, schema, partitionId, taskId)
}

final class PointsDataWriter(
    path: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val file = new Path(path,
    f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.txt")
  private val fs = file.getFileSystem(new Configuration())
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    fs.create(file, false), java.nio.charset.StandardCharsets.UTF_8))
  private val xIdx = schema.fieldIndex("x")
  private val yIdx = schema.fieldIndex("y")

  override def write(row: InternalRow): Unit = {
    out.write(s"${row.getDouble(xIdx)},${row.getDouble(yIdx)}")
    out.newLine()
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    PointsCommit(file.toString)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(file, false)
  }

  override def close(): Unit = ()
}

/** The aggregate shapes the source can evaluate during the scan —
  * kept as a tiny serializable ADT so the reader factory ships the
  * pushed aggregation to executors without dragging Catalyst along.
  */
sealed trait PushedAggFunc extends Serializable
object PushedAggFunc {
  case object CountStar extends PushedAggFunc
  final case class CountCol(col: String) extends PushedAggFunc
  final case class MinCol(col: String) extends PushedAggFunc
  final case class MaxCol(col: String) extends PushedAggFunc
  final case class SumCol(col: String) extends PushedAggFunc
}
final case class PushedAgg(groupBy: Array[String], funcs: Array[PushedAggFunc])
    extends Serializable

final class PointsV2ScanBuilder(path: String,
    maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = PointsSourceV2.schema
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[PushedAgg] = None

  /** A filter is handled iff it is a comparison between one of our
    * two columns and a numeric literal — exactly what the parser can
    * test on the primitive double before building a row.
    */
  private def handled(f: Filter): Boolean = f match {
    case EqualTo(a, _: Number) => a == "x" || a == "y"
    case GreaterThan(a, _: Number) => a == "x" || a == "y"
    case GreaterThanOrEqual(a, _: Number) => a == "x" || a == "y"
    case LessThan(a, _: Number) => a == "x" || a == "y"
    case LessThanOrEqual(a, _: Number) => a == "x" || a == "y"
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, residual) = filters.partition(handled)
    pushed = ours
    residual // Spark keeps evaluating only these post-scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** PARTIAL aggregate pushdown (`supportCompletePushDown` stays
    * false — the honest contract for a multi-file source): each
    * partition returns its per-file partial COUNT/MIN/MAX/SUM rows
    * (plus group-by keys) and SPARK plans the final merge, exactly
    * the map-side-combine shape a 100 TB scan wants — the shuffle
    * carries O(groups) accumulator rows per file instead of every
    * parsed point. Handles plain single-column references only;
    * anything fancier is declined and Spark falls back to a normal
    * scan + aggregate.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    def name(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
          (nr.fieldNames()(0) == "x" || nr.fieldNames()(0) == "y") =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    val groupBy = aggregation.groupByExpressions.map(name)
    if (groupBy.exists(_.isEmpty)) return false
    val funcs = aggregation.aggregateExpressions.map {
      case _: CountStar => Some(PushedAggFunc.CountStar)
      case c: Count if !c.isDistinct => name(c.column).map(PushedAggFunc.CountCol)
      case m: Min => name(m.column).map(PushedAggFunc.MinCol)
      case m: Max => name(m.column).map(PushedAggFunc.MaxCol)
      case s: Sum if !s.isDistinct => name(s.column).map(PushedAggFunc.SumCol)
      case _ => None
    }
    if (funcs.exists(_.isEmpty)) return false
    agg = Some(PushedAgg(groupBy.map(_.get), funcs.map(_.get)))
    true
  }

  override def build(): Scan = {
    val schema = agg match {
      case None => required
      case Some(a) =>
        // group-by keys first, then one field per aggregate — the
        // positional contract V2ScanRelationPushDown rewrites against
        StructType(
          a.groupBy.map(c => StructField(c, DoubleType, nullable = false)) ++
          a.funcs.zipWithIndex.map {
            case (PushedAggFunc.CountStar, i) =>
              StructField(s"agg_$i", org.apache.spark.sql.types.LongType)
            case (PushedAggFunc.CountCol(_), i) =>
              StructField(s"agg_$i", org.apache.spark.sql.types.LongType)
            case (_, i) => StructField(s"agg_$i", DoubleType)
          })
    }
    new PointsV2Scan(path, schema, pushed, agg, maxFilesPerTrigger)
  }
}

final class PointsV2Scan(
    path: String,
    required: StructType,
    pushed: Array[Filter],
    agg: Option[PushedAgg] = None,
    maxFilesPerTrigger: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Micro-batch streaming read over the same directory: the file
    * list is the log (files are immutable once committed — the same
    * assumption Spark's own FileStreamSource makes), an offset is a
    * position in the name-sorted file list, and each trigger plans
    * the files in (start, end] through the SAME byte-range splitter
    * and pushed-filter parser the batch path uses — projection and
    * filter pushdown apply to the stream for free. `maxFilesPerTrigger`
    * bounds ingest per batch (admission control for backlog catch-up).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new PointsMicroBatchStream(path, required, pushed, maxFilesPerTrigger,
      checkpointLocation)

  override def description(): String =
    s"graft-points path=$path, PushedFilters: [${pushed.mkString(", ")}], " +
      agg.map(a => s"PushedAggregation: [${a.funcs.mkString(", ")}], " +
        s"PushedGroupBy: [${a.groupBy.mkString(", ")}], ").getOrElse("") +
      s"ReadSchema: ${required.simpleString}"

  override def toBatch: Batch = this

  private def files(): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1)
  }

  /** Split every file into byte ranges (`PointsSourceV2.splitRanges`,
    * Spark's FilePartition sizing rule except that a file longer than
    * openCostInBytes is cut on every core), so one fat text file
    * becomes many tasks while a small one stays one. At 100 TB the
    * ranges converge to maxPartitionBytes (128 MB), the same curve the
    * built-in file sources follow. An explicit
    * `spark.graft.points.splitBytes` conf overrides for tests.
    */
  override def planInputPartitions(): Array[InputPartition] =
    PointsSourceV2.splitRanges(files())

  override def createReaderFactory(): PartitionReaderFactory =
    new PointsReaderFactory(required, pushed, agg)

  override def estimateStatistics(): Statistics = new Statistics {
    private val total = files().map(_._2).sum
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(total)
    override def numRows(): util.OptionalLong = util.OptionalLong.empty()
  }
}

final case class PointsStreamOffset(n: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

/** Micro-batch stream over an append-only directory of "x,y" text
  * files — the connector's always-on front door.
  *
  * The DISCOVERY LOG is the source of truth: file names (with their
  * frozen lengths) are appended to a log in the query's checkpoint
  * directory in first-seen order, and an offset is a count of log
  * entries. This is the FileStreamSource discipline — a bare sorted
  * directory listing is NOT a valid log because a late file can sort
  * into the already-consumed prefix and silently shift every replayed
  * batch; the log pins each batch's file set forever, so restart
  * replays are exact. Files are assumed immutable once visible (the
  * two-phase-commit writer guarantees it: part files appear only
  * after their task commits, `_`-prefixed staging is ignored).
  *
  * Each trigger admits at most `maxFilesPerTrigger` unseen files
  * (backlog admission control), and every planned batch runs through
  * the same byte-range splitter and pushed-filter parser as the batch
  * scan — projection/filter pushdown apply to the stream for free.
  */
final class PointsMicroBatchStream(
    path: String,
    required: StructType,
    pushed: Array[Filter],
    maxFilesPerTrigger: Option[Int],
    checkpointLocation: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private val conf = new Configuration()
  private val logFile = new Path(checkpointLocation, "graft_points_file_log")
  private val logFs = logFile.getFileSystem(conf)

  private def readLog(): Vector[(String, Long)] =
    if (!logFs.exists(logFile)) Vector.empty
    else {
      val in = logFs.open(logFile)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty)
        .map { l => val i = l.indexOf('\t'); (l.substring(i + 1), l.substring(0, i).toLong) }
        .toVector
      finally in.close()
    }

  private def writeLog(entries: Vector[(String, Long)]): Unit = {
    // Crash-safe publish: a crash mid-write must never truncate the
    // log that already-committed offsets index into (a restart would
    // replay wrong/empty batches). Write the full log to a temp file,
    // then atomically rename over the live one — the same discipline
    // as Structured Streaming's checkpoint file manager.
    val tmp = new Path(logFile.getParent,
      s".${logFile.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = logFs.create(tmp, true)
    try entries.foreach { case (f, len) =>
      out.write(s"$len\t$f\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(logFile.toUri, conf)
    fc.rename(tmp, logFile, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def listFiles(): Seq[(String, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.toString, s.getLen))
      .sortBy(_._1)
  }

  override def latestOffset(): Offset = {
    val log = readLog()
    val seen = log.map(_._1).toSet
    val unseen = listFiles().filterNot(f => seen(f._1))
    val admitted = maxFilesPerTrigger.fold(unseen)(m => unseen.take(m))
    if (admitted.nonEmpty) writeLog(log ++ admitted)
    PointsStreamOffset(log.length + admitted.length)
  }

  override def initialOffset(): Offset = PointsStreamOffset(0)

  override def deserializeOffset(json: String): Offset =
    PointsStreamOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PointsStreamOffset].n
    val e = end.asInstanceOf[PointsStreamOffset].n
    PointsSourceV2.splitRanges(readLog().slice(s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PointsReaderFactory(required, pushed, None)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A byte range [start, start+length) of one file. Line ownership
  * follows Hadoop's LineRecordReader: a range starting at 0 owns its
  * first line; any other range discards the (possibly partial) line
  * in progress at `start` and reads through the first newline at or
  * past `start+length`, so adjacent ranges hand every line to
  * exactly one reader.
  */
final case class PointsFilePartition(file: String, start: Long, length: Long)
    extends InputPartition

final class PointsReaderFactory(
    required: StructType,
    pushed: Array[Filter],
    agg: Option[PushedAgg] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    agg match {
      case Some(a) => new PointsAggPartitionReader(
        partition.asInstanceOf[PointsFilePartition], pushed, a)
      case None => new PointsPartitionReader(
        partition.asInstanceOf[PointsFilePartition], required, pushed)
    }
}

/** Executes a pushed PARTIAL aggregation during the scan: the file
  * streams through the same parse + pushed-filter path once, folding
  * into O(groups) accumulators; the partition then emits one partial
  * row per group (a single row for global aggregates — count 0 /
  * null min/max/sum on an empty file, matching Spark's merge
  * semantics). Only these accumulator rows ever leave the scan.
  */
final class PointsAggPartitionReader(
    part: PointsFilePartition,
    pushed: Array[Filter],
    agg: PushedAgg) extends PartitionReader[InternalRow] {

  private final class Acc {
    var count = 0L
    val minV = Array.fill(agg.funcs.length)(Double.NaN)
    val maxV = Array.fill(agg.funcs.length)(Double.NaN)
    val sumV = Array.fill(agg.funcs.length)(0.0)
    var seen = false
  }

  private val rows: Iterator[InternalRow] = {
    val inner = new PointsPartitionReader(part,
      PointsSourceV2.schema, pushed)
    val accs = scala.collection.mutable.LinkedHashMap.empty[Seq[Double], Acc]
    def colVal(name: String, x: Double, y: Double): Double =
      if (name == "x") x else y
    try {
      if (agg.groupBy.isEmpty) accs(Nil) = new Acc
      while (inner.next()) {
        val r = inner.get()
        val x = r.getDouble(0)
        val y = r.getDouble(1)
        val key: Seq[Double] = agg.groupBy.toIndexedSeq.map(colVal(_, x, y))
        val acc = accs.getOrElseUpdate(key, new Acc)
        acc.count += 1
        acc.seen = true
        var i = 0
        while (i < agg.funcs.length) {
          agg.funcs(i) match {
            case PushedAggFunc.MinCol(c) =>
              val v = colVal(c, x, y)
              if (acc.minV(i).isNaN || v < acc.minV(i)) acc.minV(i) = v
            case PushedAggFunc.MaxCol(c) =>
              val v = colVal(c, x, y)
              if (acc.maxV(i).isNaN || v > acc.maxV(i)) acc.maxV(i) = v
            case PushedAggFunc.SumCol(c) => acc.sumV(i) += colVal(c, x, y)
            case _ => ()
          }
          i += 1
        }
      }
    } finally inner.close()
    accs.iterator.map { case (key, acc) =>
      val vals = key.map(_.asInstanceOf[Any]) ++
        agg.funcs.zipWithIndex.map {
          case (PushedAggFunc.CountStar, _) => acc.count.asInstanceOf[Any]
          case (PushedAggFunc.CountCol(_), _) => acc.count.asInstanceOf[Any]
          case (PushedAggFunc.MinCol(_), i) =>
            if (acc.seen) acc.minV(i).asInstanceOf[Any] else null
          case (PushedAggFunc.MaxCol(_), i) =>
            if (acc.seen) acc.maxV(i).asInstanceOf[Any] else null
          case (PushedAggFunc.SumCol(_), i) =>
            if (acc.seen) acc.sumV(i).asInstanceOf[Any] else null
        }
      new GenericInternalRow(vals.toArray[Any]): InternalRow
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

final class PointsPartitionReader(
    part: PointsFilePartition,
    required: StructType,
    pushed: Array[Filter]) extends PartitionReader[InternalRow] {

  private val p = new Path(part.file)
  private val in = p.getFileSystem(new Configuration()).open(p)
  private val end = part.start + part.length
  private var pos = part.start
  if (part.start > 0) in.seek(part.start)
  private val reader = new org.apache.hadoop.util.LineReader(in)
  private val text = new org.apache.hadoop.io.Text()
  // a mid-file range starts inside some line: skip it — the previous
  // range reads one line past its own end, so that line is theirs
  if (part.start > 0) pos += reader.readLine(text)

  // compile the pushed filters once into primitive predicates
  private val preds: Array[(Double, Double) => Boolean] = pushed.map { f =>
    def v(n: Any): Double = n.asInstanceOf[Number].doubleValue()
    def sel(attr: String): (Double, Double) => Double =
      if (attr == "x") (x, _) => x else (_, y) => y
    f match {
      case EqualTo(a, n) => val s = sel(a); val c = v(n); (x, y) => s(x, y) == c
      case GreaterThan(a, n) => val s = sel(a); val c = v(n); (x, y) => s(x, y) > c
      case GreaterThanOrEqual(a, n) => val s = sel(a); val c = v(n); (x, y) => s(x, y) >= c
      case LessThan(a, n) => val s = sel(a); val c = v(n); (x, y) => s(x, y) < c
      case LessThanOrEqual(a, n) => val s = sel(a); val c = v(n); (x, y) => s(x, y) <= c
      case _ => (_, _) => true
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    // Hadoop ownership rule: keep reading while the NEXT line begins
    // at or before `end` (so the line straddling the boundary is ours;
    // the next range discards it as its partial first line)
    while (pos <= end) {
      val len = reader.readLine(text)
      if (len == 0) return false // EOF
      pos += len
      val t = text.toString.trim
      if (t.nonEmpty) {
        val comma = t.indexOf(',')
        if (comma > 0) {
          val x = java.lang.Double.parseDouble(t.substring(0, comma).trim)
          val y = java.lang.Double.parseDouble(t.substring(comma + 1).trim)
          var ok = true
          var i = 0
          while (ok && i < preds.length) { ok = preds(i)(x, y); i += 1 }
          if (ok) {
            // column order must follow the pruned schema
            val ordered = required.fieldNames.map {
              case "x" => x.asInstanceOf[Any]
              case "y" => y.asInstanceOf[Any]
            }
            current = new GenericInternalRow(ordered.toArray[Any])
            return true
          }
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
