package graft.sources.compressioninfo

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, FileOutputStream}
import java.nio.file.Path
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{Fixtures, SessionMemo, TempDirs}

/** The REAL Cassandra CompressionInfo.db component — the chunk-offset map
  * that turns a logical (uncompressed) Data.db position into a compressed
  * file offset. Layout per the public `CompressionMetadata` serializer
  * (4.0+ "nb"):
  *
  * ```
  * compressor:writeUTF  option_count:int (key:writeUTF value:writeUTF)*
  * chunk_length:int  max_compressed_length:int  data_length:long
  * chunk_count:int  chunk_offset:long × chunk_count
  * ```
  *
  * `data_length` is the UNCOMPRESSED Data.db length — the value
  * `SSTableReader.uncompressedLength()` reports and the reference consumes
  * for its size columns (CassandraBackend.java:107) and pstats' final
  * partition close (IndexReader.java:87-98). Reading it from the real
  * component closes another line of README's divergence list.
  *
  * The DSv2 (`sstable-compression`) emits ONE ROW PER CHUNK
  * (generation, compressor, chunk_length, data_length, chunk_index,
  * chunk_offset): the chunk map is the relation of interest — per-chunk
  * compressed sizes fall out of the S4-style `lead()` offset delta, the
  * same window shape the reference's Index.db size derivation uses.
  * Files are O(8 B per 64 KiB of data): like `sstable-stats`, many files
  * batch into one input partition.
  */
object CompressionInfoFormat {

  val Suffix = "-CompressionInfo.db"

  final case class Info(compressor: String, options: Seq[(String, String)],
      chunkLength: Int, maxCompressedLength: Int, dataLength: Long,
      offsets: Array[Long])

  def write(out: java.io.DataOutput, info: Info): Unit = {
    out.writeUTF(info.compressor)
    out.writeInt(info.options.length)
    info.options.foreach { case (k, v) => out.writeUTF(k); out.writeUTF(v) }
    out.writeInt(info.chunkLength)
    out.writeInt(info.maxCompressedLength)
    out.writeLong(info.dataLength)
    out.writeInt(info.offsets.length)
    info.offsets.foreach(out.writeLong)
  }

  def parse(bytes: Array[Byte]): Info = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val compressor = d.readUTF()
    val nOpts = d.readInt()
    if (nOpts < 0 || nOpts > 64)
      throw new java.io.IOException(s"implausible option count $nOpts")
    val opts = (0 until nOpts).map(_ => (d.readUTF(), d.readUTF()))
    val chunkLength = d.readInt()
    if (chunkLength <= 0)
      throw new java.io.IOException(s"implausible chunk length $chunkLength")
    val maxCompressed = d.readInt()
    val dataLength = d.readLong()
    val n = d.readInt()
    // the offsets section alone is 8n bytes — a count a corrupt byte
    // inflated past the file's own size can't be real, and rejecting it
    // here stops the allocation before it happens (round-17 fuzz)
    if (n < 0 || n.toLong * 8L > bytes.length.toLong)
      throw new java.io.IOException(s"implausible chunk count $n")
    val offsets = new Array[Long](n)
    var i = 0
    while (i < n) { offsets(i) = d.readLong(); i += 1 }
    Info(compressor, opts, chunkLength, maxCompressed, dataLength, offsets)
  }

  val Schema: StructType = StructType(Seq(
    StructField("generation", LongType, nullable = false),
    StructField("compressor", StringType, nullable = false),
    StructField("chunk_length", LongType, nullable = false),
    StructField("max_compressed_length", LongType, nullable = false),
    StructField("data_length", LongType, nullable = false),
    StructField("chunk_index", LongType, nullable = false),
    StructField("chunk_offset", LongType, nullable = false)))
}

class CompressionInfoDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "sstable-compression"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CompressionInfoFormat.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CompressionInfoTable(properties.asScala.toMap)
}

final class CompressionInfoTable(properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"sstable_compression(${properties.getOrElse("path", "")})"
  override def schema(): StructType = CompressionInfoFormat.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CompressionInfoScanBuilder(options.asScala.toMap)
}

final class CompressionInfoScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = CompressionInfoFormat.Schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** generation equality/IN prunes files; all filters stay residual. */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter {
      case org.apache.spark.sql.sources.EqualTo("generation", _) => true
      case org.apache.spark.sql.sources.In("generation", _) => true
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed
  override def build(): Scan = CompressionInfoScan(
    options.getOrElse("path", throw new IllegalArgumentException(
      "sstable-compression requires a path")),
    required,
    options.get("filesperpartition").map(_.toInt).getOrElse(512),
    pushed)
}

final case class CompressionInfoScan(path: String, required: StructType,
    filesPerPartition: Int,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"CompressionInfoScan path=$path pushed=${pushed.mkString(",")} " +
      (if (runtime.nonEmpty) s"RuntimeFilters=${runtime.mkString(",")} "
       else "") +
      s"ReadSchema=${required.fieldNames.mkString(",")}"

  /** RUNTIME file pruning on `generation` (round 13, the IndexDb
    * pattern): a join that realizes the relevant generations at
    * execution time prunes files before a byte is read. */
  private var runtime: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("generation"))

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtime = filters.filter {
      case org.apache.spark.sql.sources.EqualTo("generation", _) => true
      case org.apache.spark.sql.sources.In("generation", _) => true
      case _ => false
    }

  private def asLong(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue())
    case _ => None
  }

  private def fileSurvives(name: String): Boolean = {
    lazy val gen: Option[Long] = name
      .stripSuffix(CompressionInfoFormat.Suffix)
      .split("-").lift(1).flatMap(_.toLongOption)
    (pushed ++ runtime).forall {
      case org.apache.spark.sql.sources.EqualTo("generation", v) =>
        asLong(v).forall(g => gen.forall(_ == g))
      case org.apache.spark.sql.sources.In("generation", vs) =>
        gen.forall(g => vs.flatMap(asLong).contains(g))
      case _ => true
    }
  }

  private def sessionHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(sessionHadoopConf())
    val status = fs.getFileStatus(p)
    val files =
      if (status.isDirectory)
        fs.listStatus(p).toSeq.filter(s =>
          s.isFile && s.getPath.getName.endsWith(CompressionInfoFormat.Suffix))
      else Seq(status)
    files.map(_.getPath.toString).sorted
      .filter(f => fileSurvives(new org.apache.hadoop.fs.Path(f).getName))
      .grouped(math.max(1, filesPerPartition))
      .map(g => CompressionInfoInputPartition(g.toArray): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = sessionHadoopConf()
    val entries = {
      val it = conf.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    new CompressionInfoReaderFactory(required, entries)
  }
}

final case class CompressionInfoInputPartition(files: Array[String])
    extends InputPartition

final class CompressionInfoReaderFactory(required: StructType,
    confEntries: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CompressionInfoInputPartition]
    val conf = new Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    new CompressionInfoPartitionReader(p.files, required, conf)
  }
}

final class CompressionInfoPartitionReader(files: Array[String],
    required: StructType, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private var fileIdx = -1
  private var chunkIdx = -1
  private var gen = 0L
  private var info: CompressionInfoFormat.Info = _

  private def generationOf(name: String): Long = {
    val id = name.stripSuffix(CompressionInfoFormat.Suffix)
    val parts = id.split("-")
    if (parts.length >= 2) parts(1).toLong
    else throw new java.io.IOException(s"not a Cassandra descriptor: $id")
  }

  private def advanceFile(): Boolean = {
    fileIdx += 1
    if (fileIdx >= files.length) return false
    val hPath = new org.apache.hadoop.fs.Path(files(fileIdx))
    val fs = hPath.getFileSystem(conf)
    val len = fs.getFileStatus(hPath).getLen
    if (len > (1L << 31))
      throw new java.io.IOException(s"implausible CompressionInfo size $len")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(hPath)
    try in.readFully(0L, bytes) finally in.close()
    gen = generationOf(hPath.getName)
    info = CompressionInfoFormat.parse(bytes)
    chunkIdx = -1
    true
  }

  private val extractors: Array[() => Any] =
    required.fieldNames.map {
      case "generation" => () => gen
      case "compressor" => () => UTF8String.fromString(info.compressor)
      case "chunk_length" => () => info.chunkLength.toLong
      case "max_compressed_length" => () => info.maxCompressedLength.toLong
      case "data_length" => () => info.dataLength
      case "chunk_index" => () => chunkIdx.toLong
      case "chunk_offset" => () => info.offsets(chunkIdx)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

  override def next(): Boolean = {
    while (true) {
      if (info != null && chunkIdx + 1 < info.offsets.length) {
        chunkIdx += 1
        return true
      }
      if (!advanceFile()) return false
    }
    false
  }
  override def get(): InternalRow =
    new GenericInternalRow(extractors.map(_()))
  override def close(): Unit = ()
}

/** Entry points + fixture for the real CompressionInfo.db component. */
object CompressionInfo {

  /** One row per (sstable, chunk). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("sstable-compression").load(path)
}

/** Writes `nb-<gen>-big-CompressionInfo.db` per fixture sstable, every
  * value derived from the sstable_meta parquet so the oracle recomputes it:
  * chunk length 65536, data_length = uncompressed_length, chunk count =
  * ⌈data/chunk⌉, per-chunk compressed size = base + (i mod 7) with
  * base = 65536·disk_length ÷ uncompressed_length (integer), offsets the
  * prefix sums of those sizes starting at 0. */
object CassandraCompressionFixture {

  val ChunkLength = 65536

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String): String =
    memo(spark, dir)(
      TempDirs.fill("graft-compinfo-fixture")(writeAll(spark, dir, _)))

  private def writeAll(spark: SparkSession, dir: String, out: Path): Unit = {
    val rows = Fixtures.sstableMeta(Fixtures.allPscan(spark, dir))
      .orderBy("sstable_id").collect()
    rows.zipWithIndex.foreach { case (r, idx) =>
      def L(n: String): Long = r.getLong(r.fieldIndex(n))
      val gen = idx + 1L
      val data = L("uncompressed_length")
      val disk = L("disk_length")
      val cc = ((data + ChunkLength - 1) / ChunkLength).toInt
      val base = ChunkLength * disk / data
      val offsets = new Array[Long](cc)
      var off = 0L
      var i = 0
      while (i < cc) {
        offsets(i) = off
        off += base + (i % 7)
        i += 1
      }
      val info = CompressionInfoFormat.Info(
        compressor = "LZ4Compressor",
        options = Seq("lz4_compressor_level" -> "3"),
        chunkLength = ChunkLength,
        maxCompressedLength = Int.MaxValue,
        dataLength = data,
        offsets = offsets)
      val stream = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(out.resolve(
          s"nb-$gen-big${CompressionInfoFormat.Suffix}").toFile)))
      try CompressionInfoFormat.write(stream, info) finally stream.close()
    }
  }
}
