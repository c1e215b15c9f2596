package perfbench

import java.io.{File, InputStream, RandomAccessFile}
import java.nio.file.Files

import graft.sources.CountingBufferedInput
import graft.sources.compressioninfo.{ChunkedData, CompressionInfoFormat}
import graft.sources.datadb.{CassandraDataFormat, DataDbFormat}
import graft.sources.statsdb.CassandraStatsFormat

/** Spark-free passes over a compressed sstable set: the chunk layer alone
  * (decompress and CRC-check every chunk) and the Data.db decode kernel on
  * top of it, as the engine's DecodeBench runs it. */
object Kernel {

  final case class Drain(chunks: Long, bytesIn: Long, bytesOut: Long,
      seconds: Double)

  final case class Decode(events: Long, cellEvents: Long, bytes: Long,
      seconds: Double)

  private def info(data: File): CompressionInfoFormat.Info = {
    val ci = new File(data.getPath.stripSuffix(DataDbFormat.Suffix) +
      CompressionInfoFormat.Suffix)
    CompressionInfoFormat.parse(Files.readAllBytes(ci.toPath))
  }

  private def chunked(data: File, i: CompressionInfoFormat.Info): InputStream = {
    val raf = new RandomAccessFile(data, "r")
    val source = new ChunkedData.RandomAccess {
      override def readFully(position: Long, buf: Array[Byte], off: Int,
          n: Int): Unit = { raf.seek(position); raf.readFully(buf, off, n) }
      override def close(): Unit = raf.close()
    }
    new ChunkedData.ChunkedInputStream(source, i, data.length, 0L)
  }

  def drain(files: Seq[File]): Drain = {
    val buf = new Array[Byte](1 << 16)
    var chunks = 0L; var in = 0L; var out = 0L
    val t0 = System.nanoTime()
    files.foreach { f =>
      val i = info(f)
      val s = chunked(f, i)
      try {
        var n = s.read(buf)
        while (n >= 0) { out += n; n = s.read(buf) }
      } finally s.close()
      chunks += i.offsets.length
      in += f.length
    }
    Drain(chunks, in, out, (System.nanoTime() - t0) / 1e9)
  }

  def decode(files: Seq[File]): Decode = {
    var events = 0L; var cells = 0L; var bytes = 0L
    val t0 = System.nanoTime()
    files.foreach { f =>
      val stats = Files.readAllBytes(new File(f.getPath.stripSuffix(
        DataDbFormat.Suffix) + CassandraDataFormat.StatsSuffix).toPath)
      val header = CassandraDataFormat.parseHeader(
        CassandraStatsFormat.componentBytes(stats, CassandraStatsFormat.TypeHeader))
      val raw = chunked(f, info(f))
      try {
        val counting = new CountingBufferedInput(raw, 1 << 18)
        CassandraDataFormat.events(counting, header).foreach { e =>
          events += 1
          if (e.kindCode == DataDbFormat.KindCodeCell) cells += 1
        }
        bytes += counting.consumed
      } finally raw.close()
    }
    Decode(events, cells, bytes, (System.nanoTime() - t0) / 1e9)
  }
}
