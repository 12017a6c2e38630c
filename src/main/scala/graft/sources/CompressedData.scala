package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream}
import java.util.zip.{CRC32, Deflater, Inflater}

/** Cassandra compressed-SSTable support: the `CompressionInfo.db`
  * chunk-offset metadata and the block codec that decompresses a
  * compressed `Data.db` on the fly, chunk by chunk — so the binary
  * reader handles DEFAULT-config Cassandra output (tables are
  * compressed by default: LZ4, 16 KiB chunks). The reference reads
  * compressed files through the embedded runtime's
  * `CompressionMetadata` (`NoTTLReader.java:29` imports it; builders
  * at `NoTTLReader.java:343,623`; SURVEY §2.11 "compression
  * metadata" row) — this is that capability re-expressed as a small
  * self-contained codec with NO Cassandra linkage.
  *
  * Layout knowledge from the PUBLIC Apache Cassandra source:
  *
  *   - `CompressionInfo.db`      → `o.a.c.io.compress.CompressionMetadata`:
  *     writeUTF compressor simple name, int option count, UTF
  *     key/value pairs, int chunkLength, [int maxCompressedSize —
  *     n-series ("na"+) only], long uncompressed dataLength, int
  *     chunk count, one long offset per chunk into the compressed
  *     Data.db.
  *   - chunk framing             → `o.a.c.io.util.CompressedSequentialWriter`:
  *     each chunk is the compressed bytes followed by a 4-byte CRC32
  *     of those compressed bytes (CRC32 since 3.0; Adler32 was the
  *     2.x era, outside this subset). A chunk whose compressed form
  *     reached `maxCompressedSize` is stored UNCOMPRESSED (n-series
  *     feature; with the default Int.MaxValue threshold it never
  *     triggers).
  *   - per-compressor block form → `o.a.c.io.compress.LZ4Compressor`
  *     (4-byte little-endian uncompressed length, then one raw LZ4
  *     block), `SnappyCompressor` (raw snappy, self-describing),
  *     `DeflateCompressor` (zlib-wrapped deflate, default level),
  *     `ZstdCompressor` (standard zstd frame).
  *
  * Every chunk's CRC is verified on read — the reference's
  * `crc_check_chance` dial sampled at 1.0, in line with the loud-
  * corruption contract ([[BigFormat.readPartition]] names the file).
  * Unsupported compressor names raise immediately with the name and
  * file, never a downstream vint error. Memory per open stream is
  * ONE chunk (default 16-64 KiB), preserving the reader's
  * one-partition task bound.
  */
object CompressedData {

  val Lz4 = "LZ4Compressor"
  val Snappy = "SnappyCompressor"
  val Deflate = "DeflateCompressor"
  val Zstd = "ZstdCompressor"
  val Supported: Set[String] = Set(Lz4, Snappy, Deflate, Zstd)

  /** Whether a format version's CompressionInfo.db carries the
    * maxCompressedSize word: added with the n-series ("na", 4.0) —
    * `hasMaxCompressedLength()` in `o.a.c.io.sstable.format.Version`. */
  def versionHasMaxCompressedSize(version: String): Boolean =
    version.nonEmpty && version.charAt(0) >= 'n'

  /** Whether a format version's chunk checksums are Adler32 rather
    * than CRC32: the 2.x eras ("jb" through "la") append an Adler32
    * of the compressed bytes per chunk; "ma" (3.0) switched to CRC32
    * (`o.a.c.io.sstable.format.Version.hasAllAdlerChecksums` /
    * `uncompressedChecksumType()` in the public source — the
    * reference reads these files natively through the embedded
    * runtime, `NoTTLReader.java:343,623`). Eras before "jb"
    * checksummed the UNCOMPRESSED bytes and sit outside the 2.x
    * subset ([[OldFormat]] starts at "ka"). */
  def versionUsesAdler32(version: String): Boolean =
    Generation.isPre30(version)

  /** The decoded CompressionInfo.db. `offsets` index into the
    * COMPRESSED Data.db; chunk i occupies
    * `[offsets(i), nextOffset - 4)` with its checksum (CRC32, or
    * Adler32 when `adler`) in the last 4 bytes of the slot (the
    * final chunk ends at the file length). `adler` is a property of
    * the FORMAT VERSION, not of the metadata file — callers derive
    * it via [[versionUsesAdler32]]. */
  case class Meta(
      compressor: String,
      options: Map[String, String],
      chunkLength: Int,
      maxCompressedSize: Int,
      dataLength: Long,
      offsets: Array[Long],
      adler: Boolean = false) {
    require(Integer.bitCount(chunkLength) == 1,
      s"chunk length must be a power of two, got $chunkLength")
  }

  def readMeta(bytes: Array[Byte], hasMaxCompressedSize: Boolean,
      file: String, adler: Boolean = false): Meta = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val name = in.readUTF()
    if (!Supported(name)) throw new UnsupportedOperationException(
      s"$file: compressed SSTable uses unsupported compressor '$name' " +
        s"(supported: ${Supported.toSeq.sorted.mkString(", ")})")
    val nOpts = in.readInt()
    val opts = (0 until nOpts).map(_ => in.readUTF() -> in.readUTF()).toMap
    val chunkLength = in.readInt()
    val maxCompressed =
      if (hasMaxCompressedSize) in.readInt() else Int.MaxValue
    val dataLength = in.readLong()
    val nChunks = in.readInt()
    val offsets = Array.fill(nChunks)(in.readLong())
    Meta(name, opts, chunkLength, maxCompressed, dataLength, offsets,
      adler)
  }

  def writeMeta(meta: Meta, hasMaxCompressedSize: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeUTF(meta.compressor)
    out.writeInt(meta.options.size)
    meta.options.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.writeUTF(k); out.writeUTF(v)
    }
    out.writeInt(meta.chunkLength)
    if (hasMaxCompressedSize) out.writeInt(meta.maxCompressedSize)
    out.writeLong(meta.dataLength)
    out.writeInt(meta.offsets.length)
    meta.offsets.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  // ---- per-compressor block codecs ----

  private def compressBlock(name: String, raw: Array[Byte], off: Int,
      len: Int): Array[Byte] = name match {
    case Lz4 =>
      val c = net.jpountz.lz4.LZ4Factory.fastestInstance.fastCompressor()
      val out = new Array[Byte](4 + c.maxCompressedLength(len))
      // 4-byte little-endian uncompressed length, LZ4Compressor's frame
      out(0) = len.toByte; out(1) = (len >>> 8).toByte
      out(2) = (len >>> 16).toByte; out(3) = (len >>> 24).toByte
      val n = c.compress(raw, off, len, out, 4, out.length - 4)
      java.util.Arrays.copyOf(out, 4 + n)
    case Snappy =>
      org.xerial.snappy.Snappy.rawCompress(
        java.util.Arrays.copyOfRange(raw, off, off + len), len)
    case Deflate =>
      val d = new Deflater()
      try {
        d.setInput(raw, off, len); d.finish()
        val bos = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
        bos.toByteArray
      } finally d.end()
    case Zstd =>
      com.github.luben.zstd.Zstd.compress(
        java.util.Arrays.copyOfRange(raw, off, off + len))
    case other => throw new UnsupportedOperationException(other)
  }

  private def decompressBlock(name: String, compressed: Array[Byte],
      expectedLen: Int, file: String): Array[Byte] = name match {
    case Lz4 =>
      if (compressed.length < 4) throw new EOFException(
        s"$file: LZ4 chunk shorter than its length prefix")
      val len = (compressed(0) & 0xff) | ((compressed(1) & 0xff) << 8) |
        ((compressed(2) & 0xff) << 16) | ((compressed(3) & 0xff) << 24)
      if (len < 0 || len > expectedLen) throw new java.io.IOException(
        s"$file: LZ4 chunk declares $len uncompressed bytes " +
          s"(chunk length is $expectedLen)")
      val out = new Array[Byte](len)
      net.jpountz.lz4.LZ4Factory.fastestInstance.fastDecompressor()
        .decompress(compressed, 4, out, 0, len)
      out
    case Snappy =>
      org.xerial.snappy.Snappy.uncompress(compressed)
    case Deflate =>
      val inf = new Inflater()
      try {
        inf.setInput(compressed)
        val out = new Array[Byte](expectedLen)
        var total = 0
        while (!inf.finished() && total < expectedLen)
          total += inf.inflate(out, total, expectedLen - total)
        java.util.Arrays.copyOf(out, total)
      } finally inf.end()
    case Zstd =>
      val size = com.github.luben.zstd.Zstd
        .getFrameContentSize(compressed).toInt
      com.github.luben.zstd.Zstd.decompress(compressed, size)
    case other => throw new UnsupportedOperationException(other)
  }

  /** The per-chunk checksum for the era: CRC32 (3.0+) or Adler32
    * (2.x) of the chunk's compressed bytes. */
  private def checksum(bytes: Array[Byte], adler: Boolean): Int =
    if (adler) {
      val c = new java.util.zip.Adler32(); c.update(bytes)
      c.getValue.toInt
    } else {
      val c = new CRC32(); c.update(bytes); c.getValue.toInt
    }

  /** Compress raw Data.db bytes into the chunked on-disk form,
    * returning (compressed file bytes, metadata). Used by the fixture
    * writer and round-trip specs; chunking matches
    * `CompressedSequentialWriter` (one chunk per `chunkLength` of
    * uncompressed input, CRC32 of the compressed bytes appended). */
  def compress(raw: Array[Byte], chunkLength: Int,
      compressor: String = Lz4, adler: Boolean = false): (Array[Byte], Meta) = {
    val out = new ByteArrayOutputStream()
    val offsets = Array.newBuilder[Long]
    var off = 0
    while (off < raw.length) {
      val len = math.min(chunkLength, raw.length - off)
      val block = compressBlock(compressor, raw, off, len)
      offsets += out.size().toLong
      out.write(block)
      val crcBytes = java.nio.ByteBuffer.allocate(4)
        .putInt(checksum(block, adler))
      out.write(crcBytes.array())
      off += len
    }
    (out.toByteArray,
      Meta(compressor, Map.empty, chunkLength, Int.MaxValue,
        raw.length.toLong, offsets.result(), adler))
  }

  /** A sequential InputStream over a compressed Data.db: reads one
    * chunk slot at a time from the underlying stream, verifies its
    * CRC32, decompresses, serves the plain bytes. Buffering is one
    * chunk; the underlying stream is consumed strictly forward (no
    * seeks), matching the reader's full-scan access pattern. */
  def decompressingStream(compressed: InputStream, compressedLength: Long,
      meta: Meta, file: String, startChunk: Int = 0): InputStream =
    new InputStream {
    private val in = new DataInputStream(compressed)
    private var chunk: Array[Byte] = Array.emptyByteArray
    private var pos = 0
    private var chunkIdx = startChunk
    // logical (uncompressed) position already behind us — when the
    // caller starts mid-file the stream begins at a chunk boundary
    private var served = startChunk.toLong * meta.chunkLength

    private def slotEnd(i: Int): Long =
      if (i + 1 < meta.offsets.length) meta.offsets(i + 1) else compressedLength

    private def loadNext(): Boolean = {
      if (chunkIdx >= meta.offsets.length || served >= meta.dataLength)
        return false
      val slotLen = slotEnd(chunkIdx) - meta.offsets(chunkIdx)
      if (slotLen < 5) throw new java.io.IOException(
        s"$file: compressed chunk $chunkIdx slot is $slotLen bytes " +
          "(need compressed data + 4-byte CRC)")
      val block = new Array[Byte](slotLen.toInt - 4)
      in.readFully(block)
      val stored = in.readInt()
      val actual = checksum(block, meta.adler)
      if (stored != actual) throw new java.io.IOException(
        s"$file: compressed chunk $chunkIdx " +
          s"${if (meta.adler) "Adler32" else "CRC"} mismatch " +
          f"(stored 0x$stored%08x, computed 0x$actual%08x)")
      // raw-stored detection mirrors CompressedSequentialWriter's
      // boundary: a chunk is stored RAW (uncompressed bytes) when its
      // compressed form reached maxCompressedSize. A raw chunk's
      // stored length equals the slot's uncompressed length — which
      // for the short FINAL chunk can sit BELOW maxCompressedSize.
      // That exact-length case is AMBIGUOUS: a partially-compressible
      // tail can legitimately compress to exactly its input length
      // (the chunk checksum covers the stored bytes either way, so it
      // cannot arbitrate). Decompression arbitrates: a compressed
      // chunk must decode cleanly to exactly the slot's logical
      // length; only when it does not is the block served raw.
      val expectedRaw =
        math.min(meta.chunkLength.toLong, meta.dataLength - served).toInt
      chunk =
        if (block.length >= meta.maxCompressedSize) block // stored raw
        else if (meta.maxCompressedSize != Int.MaxValue &&
          block.length == expectedRaw)
          try {
            val d = decompressBlock(meta.compressor, block,
              meta.chunkLength, file)
            if (d.length == expectedRaw) d else block
          } catch { case scala.util.control.NonFatal(_) => block }
        else decompressBlock(meta.compressor, block, meta.chunkLength, file)
      // the final chunk may decompress past dataLength only if corrupt
      if (served + chunk.length > meta.dataLength)
        throw new java.io.IOException(
          s"$file: chunk $chunkIdx overruns declared data length " +
            s"${meta.dataLength}")
      pos = 0
      chunkIdx += 1
      chunk.length > 0 || loadNext()
    }

    override def read(): Int = {
      if (pos >= chunk.length && !loadNext()) return -1
      val b = chunk(pos) & 0xff
      pos += 1; served += 1
      b
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (pos >= chunk.length && !loadNext()) return -1
      val n = math.min(len, chunk.length - pos)
      System.arraycopy(chunk, pos, b, off, n)
      pos += n; served += n
      n
    }

    override def close(): Unit = in.close()
  }

  /** `CompressionMetadata.chunkFor`'s role — random access in LOGICAL
    * (uncompressed) offsets over a chunk-compressed file: seek the
    * underlying file to the owning chunk's slot start, decompress
    * forward from that chunk, discard the in-chunk remainder. This is
    * what lets Index.db positions (always uncompressed offsets —
    * Cassandra's contract) seek into a compressed Data.db for point
    * lookups and split scans. */
  def seekableStream(raw: org.apache.hadoop.fs.FSDataInputStream,
      compressedLength: Long, meta: Meta, file: String,
      logicalOffset: Long): InputStream = {
    require(logicalOffset >= 0 && logicalOffset <= meta.dataLength,
      s"$file: logical offset $logicalOffset outside " +
        s"[0, ${meta.dataLength}]")
    val chunkIdx = (logicalOffset / meta.chunkLength).toInt
    raw.seek(
      if (chunkIdx < meta.offsets.length) meta.offsets(chunkIdx)
      else compressedLength)
    val s = decompressingStream(raw, compressedLength, meta, file,
      chunkIdx)
    var toSkip = logicalOffset - chunkIdx.toLong * meta.chunkLength
    while (toSkip > 0) {
      val n = s.skip(toSkip)
      if (n <= 0) throw new java.io.IOException(
        s"$file: chunk ${chunkIdx} too short to reach logical " +
          s"offset $logicalOffset")
      toSkip -= n
    }
    s
  }
}
