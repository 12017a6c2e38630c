package lifecyclebench

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sources.{BigFormat, CompressedData, KeyCardinality, SSTableComponents}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Single-thread throughput of each codec layer on the workload's own
  * generations, beside a raw Hadoop-stream read and write of the same
  * files. The lake sits in the OS page cache, so the raw rates are
  * this machine's cached-I/O rates, not a device's. Every figure is
  * the median of [[Passes]] passes over every generation. */
object Harness {
  val Passes = 3
  private val MB = 1e6

  private final case class Gen(name: String, onDisk: Array[Byte],
      meta: Option[CompressedData.Meta], raw: Array[Byte],
      header: BigFormat.Header, filter: Array[Byte], keys: Seq[Array[Byte]])

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def drain(in: InputStream): Long = {
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    var r = in.read(buf)
    while (r >= 0) { n += r; r = in.read(buf) }
    n
  }

  private def load(dataDir: Path): Seq[Gen] =
    Fs.files(dataDir).filter(_.getFileName.toString.endsWith("-Data.db"))
      .map { data =>
        val base = data.toString.stripSuffix("-Data.db")
        def sib(c: String) = java.nio.file.Paths.get(s"$base-$c")
        val onDisk = Files.readAllBytes(data)
        val meta = Some(sib("CompressionInfo.db")).filter(Files.exists(_))
          .map(p => CompressedData.readMeta(Files.readAllBytes(p),
            hasMaxCompressedSize = true, p.toString))
        val raw = meta match {
          case Some(m) => CompressedData.decompressingStream(
            new ByteArrayInputStream(onDisk), onDisk.length.toLong, m,
            data.toString).readAllBytes()
          case None => onDisk
        }
        val header = BigFormat.readStats(Files.readAllBytes(sib("Statistics.db")))
        val keys = SSTableComponents.readIndex(
          Files.readAllBytes(sib("Index.db")), data.toString).map(_._1)
        Gen(data.getFileName.toString, onDisk, meta, raw, header,
          Files.readAllBytes(sib("Filter.db")), keys)
      }

  def run(dataDir: Path, scratch: Path): Map[String, Double] = {
    val gens = load(dataDir)
    val rawBytes = gens.map(_.raw.length.toLong).sum.toDouble
    val diskBytes = gens.map(_.onDisk.length.toLong).sum.toDouble
    // codec inputs made once, outside the timings: LZ4 chunks of the
    // raw bytes for lakes stored uncompressed
    val compressed = gens.map(g => g.meta match {
      case Some(m) => (g.onDisk, m)
      case None => CompressedData.compress(g.raw, SSTableComponents.ChunkLength,
        CompressedData.Lz4)
    })
    val fs = FileSystem.getLocal(new Configuration())
    Files.createDirectories(scratch)
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit =
      samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    (1 to Passes).foreach { _ =>
      var read, write, decomp, comp, decode, encode, build, offer = 0.0
      var probes = 0L
      var probeS = 0.0
      gens.zip(compressed).foreach { case (g, (cbytes, meta)) =>
        val dataPath = new HPath(dataDir.resolve(g.name).toUri)
        read += time {
          val in = fs.open(dataPath)
          try drain(in) finally in.close()
        }._2
        val outPath = new HPath(scratch.resolve(g.name).toUri)
        write += time {
          val out = fs.create(outPath, true)
          try out.write(g.onDisk) finally out.close()
        }._2
        fs.delete(outPath, false)
        decomp += time(drain(CompressedData.decompressingStream(
          new ByteArrayInputStream(cbytes), cbytes.length.toLong, meta,
          g.name)))._2
        comp += time(CompressedData.compress(g.raw,
          SSTableComponents.ChunkLength, CompressedData.Lz4))._2
        val (parts, dS) = time(BigFormat.partitions(g.header,
          new ByteArrayInputStream(g.raw), g.name).toVector)
        decode += dS
        val ((data, index), eS) =
          time(BigFormat.writeDataFileIndexed(parts, g.header))
        encode += eS
        build += time(SSTableComponents.buildAll(data, index, g.header))._2
        offer += time(KeyCardinality.sketchOf(g.keys.iterator))._2
        val bloom = SSTableComponents.readFilter(g.filter)
        val misses = g.keys.indices.map(i => BigFormat.encodeValue(
          BigFormat.Utf8Type, s"absent-${g.name}-$i"))
        val (hits, pS) = time {
          var h = 0
          g.keys.foreach(k => if (bloom.mightContain(k)) h += 1)
          misses.foreach(k => if (bloom.mightContain(k)) h += 1)
          h
        }
        require(hits >= g.keys.size, s"${g.name}: bloom filter lost a key")
        probes += g.keys.size + misses.size
        probeS += pS
      }
      val n = gens.size.toDouble
      add("fs.raw_read_mb_s", diskBytes / MB / read)
      add("fs.raw_write_mb_s", diskBytes / MB / write)
      add("CompressedData.decompress_mb_s", rawBytes / MB / decomp)
      add("CompressedData.compress_mb_s", rawBytes / MB / comp)
      add("BigFormat.decode_mb_s", rawBytes / MB / decode)
      add("BigFormat.encode_mb_s", rawBytes / MB / encode)
      add("SSTableComponents.build_s", build / n)
      add("KeyCardinality.offer_keys_s", offer / n)
      add("SSTableComponents.bloom_probe_ns", probeS * 1e9 / probes)
    }
    Fs.deleteRecursively(scratch)
    samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
  }
}
