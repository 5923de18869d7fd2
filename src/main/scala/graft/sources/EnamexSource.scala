package graft.sources

import graft.core.Forest
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 reader for ENAMEX corpora (S1 as a first-class Spark
  * source): `spark.read.format("enamex").load(path)` yields
  * `(sentence string, tokens array<string>,
  *   spans array<struct<neType,begin,end,depth>>)`.
  *
  * Scale properties: paths resolve through the Hadoop FileSystem API
  * (any scheme — file://, hdfs://, s3a://; the session Hadoop conf is
  * shipped to executors), multi-path `load(p1, p2, ...)` is supported,
  * files are split into byte ranges (one input partition per range,
  * standard newline-aligned splitting) so a single large corpus file
  * still parallelizes across executors, and column pruning is pushed
  * into the reader — `select("sentence")` never parses tags into span
  * structs.
  *
  * Format per /root/reference/README.md:33-50; parsing shared with
  * graft.core.Forest.
  */
class EnamexDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "enamex"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EnamexSource.fullSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new EnamexTable(properties.asScala.toMap)
}

object EnamexSource {
  val spanType: StructType = StructType(Seq(
    StructField("neType", StringType), StructField("begin", IntegerType),
    StructField("end", IntegerType), StructField("depth", IntegerType)))

  val fullSchema: StructType = StructType(Seq(
    StructField("sentence", StringType),
    StructField("tokens", ArrayType(StringType)),
    StructField("spans", ArrayType(spanType))))

  /** Resolve path arguments through the Hadoop FileSystem API, so
    * `file://`, `hdfs://`, `s3a://` (any scheme with a registered FS)
    * all work — not just driver-local POSIX paths. A file is itself; a
    * directory contributes its regular files; a missing path is an error
    * (not an empty scan). Returns (uri, length) pairs.
    */
  def resolve(paths: Seq[String],
              conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] =
    paths.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      require(fs.exists(hp), s"enamex: path does not exist: $p")
      val st = fs.getFileStatus(hp)
      if (st.isDirectory)
        fs.listStatus(hp).filter(_.isFile)
          .map(s => (s.getPath.toString, s.getLen)).sortBy(_._1).toSeq
      else Seq((st.getPath.toString, st.getLen))
    }

  /** Newline-aligned byte-range splits of the input files. */
  def splits(paths: Seq[String], targetBytes: Long,
             conf: org.apache.hadoop.conf.Configuration): Seq[EnamexSplit] =
    resolve(paths, conf).flatMap { case (p, len) =>
      if (len == 0) Nil
      else {
        val n = math.max(1L, (len + targetBytes - 1) / targetBytes)
        (0L until n).map { i =>
          EnamexSplit(p, i * targetBytes, math.min(len, (i + 1) * targetBytes))
        }
      }
    }

  /** The `paths` option arrives as a JSON array of strings
    * (`spark.read.format("enamex").load(p1, p2)`); `path` as a scalar.
    */
  def pathsFromOptions(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).toSeq.flatMap(json =>
      graft.io.Json.parse(json, "enamex `paths` option").elems.map(_.str))
    val single = Option(options.get("path")).toSeq
    val all = (single ++ multi).distinct
    require(all.nonEmpty, "enamex: no path given")
    all
  }
}

final case class EnamexSplit(path: String, start: Long, end: Long)
    extends InputPartition

private class EnamexTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"enamex(${props.getOrElse("path", props.getOrElse("paths", "?"))})"
  override def schema(): StructType = EnamexSource.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EnamexScanBuilder(EnamexSource.pathsFromOptions(options))
}

private class EnamexScanBuilder(paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = EnamexSource.fullSchema
  // honor TOP-LEVEL column pruning only: with nested-schema pruning on
  // (the default), Spark may request e.g. spans:array<struct<begin:int>>,
  // but the reader always emits the full 4-field span struct — reporting
  // the pruned nested type while emitting full rows silently misaligns
  // ordinals. Re-widening each requested field to its full type is the
  // truthful contract; Spark projects the nested fields above the scan.
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.flatMap(n =>
      EnamexSource.fullSchema.fields.find(_.name == n)))
  override def build(): Scan = new EnamexScan(paths, required)
}

private class EnamexScan(paths: Seq[String], required: StructType)
    extends Scan with Batch {
  private def hadoopConf =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    EnamexSource.splits(paths, targetBytes = 16L * 1024 * 1024, hadoopConf)
      .map(s => s: InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    // the session Hadoop conf must travel to executors (s3a credentials,
    // fs.* overrides); SerializableConfiguration is Spark's standard
    // envelope for exactly this
    new EnamexReaderFactory(required,
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))
}

private class EnamexReaderFactory(required: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EnamexReader(partition.asInstanceOf[EnamexSplit], required, conf.value)
}

/** Byte-position-accurate line reader with standard split semantics: a
  * line belongs to the split containing its first byte (boundary lines
  * starting exactly at `end` are read here AND discarded by the next
  * split, which always drops its first line when start > 0).
  */
private final class ByteLines(path: String, start: Long, end: Long,
    conf: org.apache.hadoop.conf.Configuration,
    maxLineBytes: Int = 64 * 1024 * 1024) {
  private val hp = new org.apache.hadoop.fs.Path(path)
  private val in = hp.getFileSystem(conf).open(hp)
  if (start > 0) in.seek(start)
  private val bis = new java.io.BufferedInputStream(in, 1 << 16)
  private var filePos = start
  private val lineBuf = new java.io.ByteArrayOutputStream(256)

  private def readLineRaw(): String = {
    lineBuf.reset()
    var b = bis.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      lineBuf.write(b); filePos += 1
      // bound the buffered line: a newline-less multi-GB file must fail
      // with an actionable message, not an executor OOM (Hadoop's
      // LineRecordReader bounds line length the same way)
      if (lineBuf.size() > maxLineBytes)
        throw new java.io.IOException(
          s"enamex: line longer than $maxLineBytes bytes at $path:$filePos " +
            "— corpus lines are sentences; a line this size means the " +
            "file is not newline-delimited ENAMEX")
      b = bis.read()
    }
    if (b == '\n') filePos += 1
    val s = new String(lineBuf.toByteArray, "UTF-8")
    if (s.endsWith("\r")) s.dropRight(1) else s
  }

  if (start > 0) readLineRaw() // partial (or boundary) first line

  /** Next line whose first byte is <= end, else null. */
  def next(): String = if (filePos > end) null else readLineRaw()
  def close(): Unit = bis.close()
}

private class EnamexReader(split: EnamexSplit, required: StructType,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val lines = new ByteLines(split.path, split.start, split.end, conf)
  private var current: InternalRow = _

  override def next(): Boolean = {
    var row: InternalRow = null
    var line = lines.next()
    while (row == null && line != null) {
      if (line.nonEmpty) row = parse(line)
      else line = lines.next()
    }
    current = row
    row != null
  }

  private def parse(line: String): InternalRow = {
    val forest = Forest.parseEnamex(line)
    val (toks, spans) = Forest.toSpans(forest)
    val values = required.fieldNames.map {
      case "sentence" => UTF8String.fromString(toks.mkString(" "))
      case "tokens" =>
        new GenericArrayData(toks.map(t => UTF8String.fromString(t)).toArray[Any])
      case "spans" =>
        new GenericArrayData(spans.map { sp =>
          InternalRow(UTF8String.fromString(sp.neType),
            sp.begin, sp.end, sp.depth)
        }.toArray[Any])
    }
    InternalRow.fromSeq(values.toSeq)
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
