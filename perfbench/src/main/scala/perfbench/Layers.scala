package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.format.{ByteCursor, ByteSink, Codecs, Tablet}

/** Per-query scan counters, read from the nimble scan node's DSv2 SQL
  * metrics after the query ran (the same numbers the Spark UI shows). */
object ScanMetrics {
  val Names = Seq("stripesRead", "chunksSkipped", "streamBytesRead", "numOutputRows")

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(df: DataFrame): Map[String, Long] = {
    val scans = nodes(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.") => b
    }
    Names.map(n => n -> scans.flatMap(_.metrics.get(n)).map(_.value).sum).toMap
  }
}

/** Sums of scan counters over the traced queries. */
final class ScanTotals {
  private val sums = mutable.HashMap[String, Long]().withDefaultValue(0L)
  var queries = 0L
  def add(m: Map[String, Long]): Unit = { m.foreach { case (k, v) => sums(k) += v }; queries += 1 }
  def metrics: Map[String, Double] = {
    val q = math.max(1L, queries).toDouble
    Map(
      "nimblesource.stripes_read" -> sums("stripesRead") / q,
      "nimblesource.chunks_skipped" -> sums("chunksSkipped") / q,
      "nimblesource.stream_bytes_read" -> sums("streamBytesRead") / q,
      "nimblesource.bytes_read_per_row_returned" ->
        (if (sums("numOutputRows") == 0) 0.0 else sums("streamBytesRead").toDouble / sums("numOutputRows")))
  }
}

/** The file-format layers measured over the tablet files a workload wrote:
  * footer reads and the metadata share (`graft.format.Tablet`), and per
  * codec the chunk count, decode and encode ns per value
  * (`graft.format.Codecs`), with decompression and compression ns per raw
  * byte. Every call is timed from here, one chunk at a time, on the first
  * [[TimedPerCodec]] chunks of each codec. */
object FormatProbe {
  /** Codec ids are the format's wire tags, so the names stay fixed for
    * files already written. */
  val CodecNames: Map[Int, String] = Map(
    0 -> "trivial", 1 -> "rle", 2 -> "dictionary", 3 -> "fixed_bit_width", 4 -> "sentinel",
    5 -> "nullable", 6 -> "sparse_bool", 7 -> "varint", 8 -> "delta", 9 -> "constant",
    10 -> "mainly_constant", 11 -> "prefix", 12 -> "alp", 13 -> "pfor", 14 -> "simd_for",
    15 -> "block_bitpack", 16 -> "sub_int", 17 -> "frequency_partition", 18 -> "for", 19 -> "fsst",
    20 -> "huffman", 21 -> "delta_block", 22 -> "shared_dictionary", 23 -> "prefix_restart")

  /** Codecs reported one by one; the rest are summed under "other". */
  val Reported = Seq("trivial", "rle", "dictionary", "nullable", "constant", "mainly_constant",
    "alp", "simd_for", "fsst", "shared_dictionary", "other")

  private def reportedName(id: Int): String =
    CodecNames.get(id).filter(Reported.contains).getOrElse("other")

  /** Chunks per codec whose decode, encode and compression are timed (the
    * histogram counts every chunk). */
  val TimedPerCodec = 64

  private def isRawIndexStream(k: String): Boolean =
    k.startsWith("#idx:") || k.startsWith("#sidx:") || k.startsWith("#cidx:")

  def run(dir: String): Map[String, Double] = {
    val files = graft.format.GraftIO.listGft(dir).map(_.path)
    val chunks = mutable.HashMap[String, Long]().withDefaultValue(0L)
    val decNs, encNs, values = mutable.HashMap[String, Long]().withDefaultValue(0L)
    var decompNs, compNs, rawBytes, compRawBytes = 0L
    var fileBytes, streamBytes = 0L
    val footerMs = mutable.ArrayBuffer[Double]()
    def timed[A](body: => A): (A, Long) = { val t0 = System.nanoTime(); val r = body; (r, System.nanoTime() - t0) }

    for (f <- files) {
      val r = new Tablet.Reader(f)
      try {
        val (footer, ns) = timed(r.footer)
        footerMs += ns / 1e6
        fileBytes += new java.io.File(f).length
        val keys = footer.streamKeys
        for (s <- footer.stripes.indices; i <- keys.indices) {
          val bytes = r.readStreamBytes(s, i)
          streamBytes += bytes.length
          if (!isRawIndexStream(keys(i)) && bytes.nonEmpty) {
            val cur = new Tablet.ChunkCursor(bytes)
            while (cur.hasNext) {
              val p0 = cur.bytePos
              cur.skip()
              val p1 = cur.bytePos
              val compLen = (bytes(p0) & 0xff) | ((bytes(p0 + 1) & 0xff) << 8) |
                ((bytes(p0 + 2) & 0xff) << 16) | ((bytes(p0 + 3) & 0xff) << 24)
              val hdr = new ByteCursor(bytes, p0 + 4, p1)
              val rawLen = hdr.readVarint().toInt
              val kind = hdr.readByte().toByte
              val data = java.util.Arrays.copyOfRange(bytes, p1 - compLen, p1)
              val (raw, dns) = timed(Tablet.decompressChunk(kind, data, rawLen))
              if (kind != Tablet.CompNone) { decompNs += dns; rawBytes += raw.length }
              val codec = reportedName(raw(0) & 0xff)
              chunks(codec) += 1
              // shared-dictionary chunks index a stripe alphabet held in
              // another frame, so they cannot decode alone
              if ((raw(0) & 0xff) != Codecs.SHAREDDICT && chunks(codec) <= TimedPerCodec) {
                val (col, ns1) = timed(Codecs.decodeColumn(new ByteCursor(raw, 0, raw.length)))
                val sink = new ByteSink(raw.length + 64)
                val (_, ns2) = timed(Codecs.encodeColumn(col, sink))
                decNs(codec) += ns1
                encNs(codec) += ns2
                values(codec) += col.len
                val enc = sink.toArray
                val (_, ns3) = timed(Tablet.compressChunk(enc))
                compNs += ns3
                compRawBytes += enc.length
              }
            }
          }
        }
      } finally r.close()
    }
    def per(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
    Reported.flatMap { c =>
      Seq(s"codecs.chunks_by_codec.$c" -> chunks(c).toDouble,
        s"codecs.decode_ns_per_value.$c" -> per(decNs(c), values(c)),
        s"codecs.encode_ns_per_value.$c" -> per(encNs(c), values(c)))
    }.toMap ++ Map(
      "tablet.footer_read_ms" -> Stat.median(footerMs.toSeq),
      "tablet.decompress_ns_per_byte" -> per(decompNs, rawBytes),
      "tablet.compress_ns_per_byte" -> per(compNs, compRawBytes),
      "tablet.metadata_bytes_share" -> (if (fileBytes == 0) 0.0 else 1.0 - streamBytes.toDouble / fileBytes))
  }
}
