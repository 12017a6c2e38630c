package lifecyclebench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.sources.{BigFormat, SSTableComponents}
import graft.sources.BigFormat.{CellAtom, MarkerAtom, PartitionData, RowAtom}

/** The seeded SSTable lake every workload runs on, generated here and
  * encoded through the engine's own codec (`BigFormat
  * .writeDataFileIndexed` + `SSTableComponents.buildAll`), so the
  * benchmark needs no download and no fixture directory.
  *
  * Besides the files, the generator keeps, per partition key, the
  * digests of the bridge rows the engine must return: as written
  * (`raw`), after the TTL strip (`stripped`) and after the workload's
  * rewrite (`out`: the strip, or for the LWW lake the merge winners
  * computed here). The checks compare the engine's re-reads against
  * these and nothing else. */
object Lake {
  val Keyspace = "bench"
  val Table = "events"
  /** The clock the generator's TTLs are relative to (2026-01-01 UTC):
    * cells whose expiry second falls before it are expired, the rest
    * still expiring. */
  val NowS = 1767225600L
  private val Day = 86400L

  /** `tiered`: each key in one generation, every generation spanning
    * the ring. `leveled`: generations own disjoint token ranges.
    * `overlap`: every key in generation 1, later generations rewrite
    * and delete a share of them with newer writetimes. */
  final case class Shape(gens: Int, keys: Int, compression: Option[String],
      layout: String, wideRows: Int, narrowRows: Int)

  /** Share of partitions that are wide. */
  val WideShare = 0.004
  /** Mean value length, in characters. */
  val ValueLen = 40
  /** `overlap`: chance that a later generation touches a key. */
  val OverlapShare = 0.4

  final case class KeyExpect(token: Long, raw: Digest, stripped: Digest,
      out: Digest)

  final case class Built(root: Path, shape: Shape,
      keys: Array[String], expect: Map[String, KeyExpect],
      stats: Map[String, Any]) {
    def dataDir: Path = root.resolve(Table)
    def total(f: KeyExpect => Digest): Digest =
      expect.valuesIterator.foldLeft(Digest.Zero)((d, k) => d + f(k))
    def stat(name: String): Long = stats(name).asInstanceOf[Long]
  }

  private final class KeyOut(val key: String, val parts: Seq[(Int, PartitionData)],
      val raw: Seq[BRow], val out: Seq[BRow], val ttlCells: Int)

  def token(key: String): Long =
    BigFormat.murmur3Token(BigFormat.encodeValue(BigFormat.Utf8Type, key))

  def keyName(seed: Long, i: Int): String = f"k$seed%d_$i%07d"
  /** Keys the lake never holds: bloom-miss probes. */
  def missName(seed: Long, i: Int): String = f"m$seed%d_$i%07d"

  private val Words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")
  private val Alnum =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** Half the values are dictionary phrases (compress well), half
    * random alphanumerics (compress about 1.2x); length varies 0.5x to
    * 1.5x around `len`. */
  private def value(rng: SplittableRandom, len: Int): String = {
    val n = math.max(4, len / 2 + rng.nextInt(len + 1))
    val sb = new StringBuilder(n + 8)
    if (rng.nextBoolean()) {
      while (sb.length < n) {
        sb.append(Words(rng.nextInt(Words.length))).append(' ')
      }
    } else {
      while (sb.length < n) sb.append(Alnum.charAt(rng.nextInt(Alnum.length)))
    }
    sb.setLength(n)
    if (sb.charAt(n - 1) == ' ') sb.setCharAt(n - 1, 'z')
    sb.toString
  }

  private def cl(j: Int): String = f"r$j%05d"

  private def boundName(kind: Int): String = kind match {
    case BigFormat.Kind.InclStartBound => "start:inclusive"
    case BigFormat.Kind.ExclStartBound => "start:exclusive"
    case BigFormat.Kind.InclEndBound => "end:inclusive"
    case BigFormat.Kind.ExclEndBound => "end:exclusive"
  }

  private def us(s: Long, rng: SplittableRandom): Long =
    s * 1000000L + rng.nextInt(1000000)

  /** (ttl, local expiry second) for a cell written at `wtUs`: a third
    * of cells expire, half of those already expired at [[NowS]]. */
  private def ttlFor(rng: SplittableRandom, wtUs: Long)
      : (Option[Int], Option[Int]) =
    if (rng.nextInt(3) != 0) (None, None)
    else {
      val ttl =
        if (rng.nextBoolean()) 3600 + rng.nextInt(86400) // expired
        else (400 * Day).toInt + rng.nextInt(30 * Day.toInt) // expiring
      (Some(ttl), Some((wtUs / 1000000L + ttl).toInt))
    }

  // ------------------------------------------------------------------
  // one row / one marker, and the bridge rows they read back as
  // ------------------------------------------------------------------

  private def liveCell(key: String, c: String, name: String,
      rng: SplittableRandom, wtUs: Long, len: Int,
      ttl: (Option[Int], Option[Int])): (CellAtom, BRow) = {
    val v = value(rng, len)
    (CellAtom(name, wtUs, ttl._1, ttl._2, Some(v), deleted = false),
      BRow(key, Some(c), "ROW", Some(name), Some(v), Some(wtUs), ttl._1,
        ttl._1.map(t => wtUs + t * 1000000L), None))
  }

  private def deadCell(key: String, c: String, name: String, wtUs: Long)
      : (CellAtom, BRow) = {
    val ldt = (wtUs / 1000000L).toInt
    (CellAtom(name, wtUs, None, Some(ldt), None, deleted = true),
      BRow(key, Some(c), "CELL_DELETION", Some(name), None, Some(wtUs),
        None, Some(ldt * 1000000L), Some(wtUs)))
  }

  /** A written row: two cells (`a` at the row timestamp, `b` at its
    * own), row liveness (INSERT) on half, TTLs on a third, one cell in
    * thirty a cell tombstone. */
  private def cellsRow(key: String, j: Int, rng: SplittableRandom,
      wtUs: Long, shape: Shape): (RowAtom, Seq[BRow]) = {
    val c = cl(j)
    val ttl = ttlFor(rng, wtUs)
    val insert = rng.nextBoolean()
    val pieces = Seq("a" -> wtUs, "b" -> (wtUs + 1 + rng.nextInt(1000)))
      .map { case (name, ts) =>
        if (rng.nextInt(30) == 0) deadCell(key, c, name, ts)
        else liveCell(key, c, name, rng, ts, ValueLen, ttl)
      }
    (RowAtom(Seq(Some(c)), if (insert) Some(wtUs) else None,
      if (insert) ttl._1 else None, if (insert) ttl._2 else None, None,
      pieces.map(_._1)), pieces.map(_._2))
  }

  private def pkOnlyRow(key: String, j: Int, rng: SplittableRandom,
      wtUs: Long): (RowAtom, Seq[BRow]) = {
    val c = cl(j)
    val (ttl, ldt) = ttlFor(rng, wtUs)
    (RowAtom(Seq(Some(c)), Some(wtUs), ttl, ldt, None, Nil),
      Seq(BRow(key, Some(c), "PK_LIVENESS", None, None, Some(wtUs), ttl,
        ttl.map(t => wtUs + t * 1000000L), None)))
  }

  private def deletedRow(key: String, j: Int, delUs: Long)
      : (RowAtom, Seq[BRow]) =
    (RowAtom(Seq(Some(cl(j))), None, None, None, Some(delUs), Nil),
      Seq(BRow(key, Some(cl(j)), "ROW_DELETION", None, None, None, None,
        None, Some(delUs))))

  /** A paired range tombstone strictly between rows `from` and `to`
    * (bounds sit on odd positions; rows on even ones). */
  private final case class Range(lo: String, loIncl: Boolean, hi: String,
      hiIncl: Boolean, delUs: Long) {
    def covers(c: String): Boolean =
      (if (loIncl) c >= lo else c > lo) && (if (hiIncl) c <= hi else c < hi)
  }

  private def rangeTombstone(key: String, from: Int, to: Int,
      rng: SplittableRandom, delUs: Long): (Seq[(Int, MarkerAtom)], Seq[BRow], Range) = {
    val loK = if (rng.nextBoolean()) BigFormat.Kind.InclStartBound
      else BigFormat.Kind.ExclStartBound
    val hiK = if (rng.nextBoolean()) BigFormat.Kind.InclEndBound
      else BigFormat.Kind.ExclEndBound
    val (lo, hi) = (2 * from + 1, 2 * to + 1)
    val markers = Seq(lo -> loK, hi -> hiK).map { case (p, k) =>
      (p, MarkerAtom(k, Seq(Some(cl(p))), Seq(delUs)))
    }
    val rows = Seq(lo -> loK, hi -> hiK).map { case (p, k) =>
      BRow(key, Some(cl(p)), "RANGE_TOMBSTONE_BOUND", Some(boundName(k)),
        None, None, None, None, Some(delUs))
    }
    (markers, rows, Range(cl(lo), loK == BigFormat.Kind.InclStartBound,
      cl(hi), hiK == BigFormat.Kind.InclEndBound, delUs))
  }

  private def width(wide: Boolean, rng: SplittableRandom, shape: Shape): Int =
    if (wide)
      shape.wideRows * 9 / 10 + rng.nextInt(shape.wideRows / 5 + 1)
    else 1 + rng.nextInt(shape.narrowRows)

  /** Position-ordered atoms (rows at even positions, markers at odd)
    * into one partition. */
  private def partition(key: String, deletion: Option[Long],
      atoms: Seq[(Int, BigFormat.Atom)]): PartitionData =
    PartitionData(key, deletion, atoms.sortBy(_._1).map(_._2))

  // ------------------------------------------------------------------
  // partitions of the tiered / leveled lakes
  // ------------------------------------------------------------------

  /** One partition with every liveness and deletion shape: live,
    * expiring and expired cells, primary-key-only rows, row, cell,
    * partition and paired range tombstones; narrow or wide. */
  private def mixedKey(key: String, gen: Int, wide: Boolean,
      rng: SplittableRandom, shape: Shape): KeyOut = {
    val atoms = ArrayBuffer.empty[(Int, BigFormat.Atom)]
    val rows = ArrayBuffer.empty[BRow]
    val baseS = NowS - 200 * Day + rng.nextInt((150 * Day).toInt)
    val n = width(wide, rng, shape)
    val pd = rng.nextInt(100)
    val partDel =
      if (pd < 2) Some(us(baseS - Day, rng)) else None
    partDel.foreach(d => rows += BRow(key, None, "PARTITION_DELETION", None,
      None, None, None, None, Some(d)))
    // a partition tombstone alone (no rows) on half of the deleted ones
    val rowCount = if (pd == 0) 0 else n
    var j = 0
    while (j < rowCount) {
      val wt = us(baseS + j, rng)
      val k = rng.nextInt(100)
      val (atom, br) =
        if (k < 4) deletedRow(key, j, wt)
        else if (k < 8) pkOnlyRow(key, j, rng, wt)
        else cellsRow(key, j, rng, wt, shape)
      atoms += ((2 * j, atom)); rows ++= br
      j += 1
    }
    if (rowCount >= 3 && rng.nextInt(100) < 5) {
      val from = rng.nextInt(rowCount - 2)
      val to = from + 1 + rng.nextInt(rowCount - from - 1)
      val (ms, br, _) = rangeTombstone(key, from, to, rng,
        us(baseS + rowCount + 5, rng))
      atoms ++= ms; rows ++= br
    }
    val stripped = rows.map(_.stripped).toSeq
    new KeyOut(key, Seq(gen -> partition(key, partDel, atoms.toSeq)),
      rows.toSeq, stripped, rows.count(_.ttlBearing))
  }

  // ------------------------------------------------------------------
  // partitions of the overlapping (LWW) lake, and their merge winners
  // ------------------------------------------------------------------

  /** Generation 1 writes the partition; each later generation, with
    * probability [[OverlapShare]], rewrites cells with newer writetimes,
    * deletes rows, deletes the partition (then re-inserts) or lays one
    * range tombstone over older rows. Expected output: the
    * [[mergeWinners]] of every version written, without TTLs. */
  private def overlapKey(key: String, wide: Boolean,
      rng: SplittableRandom, shape: Shape): KeyOut = {
    val parts = ArrayBuffer.empty[(Int, PartitionData)]
    val raw = ArrayBuffer.empty[BRow]
    val n = width(wide, rng, shape)
    var ranged = false
    val ranges = ArrayBuffer.empty[Range]
    var g = 1
    while (g <= shape.gens) {
      if (g == 1 || rng.nextDouble() < OverlapShare) {
        val genS = NowS - (shape.gens - g + 2) * 20 * Day +
          rng.nextInt(Day.toInt)
        val atoms = ArrayBuffer.empty[(Int, BigFormat.Atom)]
        var partDel: Option[Long] = None
        def put(j: Int, r: (RowAtom, Seq[BRow])): Unit = {
          atoms += ((2 * j, r._1)); raw ++= r._2
        }
        val action = if (g == 1) -1 else rng.nextInt(100)
        if (action < 0) {
          (0 until n).foreach { j =>
            val wt = us(genS + j, rng)
            put(j, if (rng.nextInt(100) < 6) pkOnlyRow(key, j, rng, wt)
              else cellsRow(key, j, rng, wt, shape))
          }
        } else if (action < 60) {
          // rewrite a share of the rows (and append a few new ones)
          (0 until n + rng.nextInt(3)).foreach { j =>
            if (j >= n || rng.nextInt(3) == 0)
              put(j, cellsRow(key, j, rng, us(genS + j, rng), shape))
          }
        } else if (action < 82) {
          // delete some rows; re-insert others after the deletions
          (0 until n).foreach { j =>
            val k = rng.nextInt(4)
            if (k == 0) put(j, deletedRow(key, j, us(genS + j, rng)))
            else if (k == 1)
              put(j, cellsRow(key, j, rng, us(genS + 100 + j, rng), shape))
          }
        } else if (action < 90) {
          val d = us(genS, rng)
          partDel = Some(d)
          raw += BRow(key, None, "PARTITION_DELETION", None, None, None,
            None, None, Some(d))
          (0 until n).foreach { j =>
            if (rng.nextInt(4) == 0)
              put(j, cellsRow(key, j, rng, us(genS + 10 + j, rng), shape))
          }
        } else if (!ranged && n >= 3) {
          ranged = true
          val from = rng.nextInt(n - 2)
          val to = from + 1 + rng.nextInt(n - from - 1)
          val (ms, br, range) = rangeTombstone(key, from, to, rng,
            us(genS, rng))
          atoms ++= ms; raw ++= br; ranges += range
          // one row inside the range written after it: it survives
          put(from + 1, cellsRow(key, from + 1, rng, us(genS + 50, rng),
            shape))
        }
        if (atoms.nonEmpty || partDel.nonEmpty)
          parts += ((g, partition(key, partDel, atoms.toSeq)))
      }
      g += 1
    }
    new KeyOut(key, parts.toSeq, raw.toSeq, mergeWinners(key, raw.toSeq,
      ranges.toSeq), raw.count(_.ttlBearing))
  }

  /** The merge rules, restated from Cassandra's reconciliation: a live
    * version (cell or primary-key liveness) is shadowed by any
    * partition, row or covering range deletion at or after its
    * writetime; among the surviving live versions and the cell
    * tombstones of each (clustering, name), the newest wins, a
    * tombstone winning a writetime tie, then the greater value. A
    * winning cell tombstone hides every older version of its cell.
    * Deletion markers outlive what they shadow (the engine keeps them
    * for SSTables outside the run), collapsed to the newest per slot,
    * as one output generation holds them. Output rows are those one
    * rewritten generation reads back as. */
  private def mergeWinners(key: String, raw: Seq[BRow],
      ranges: Seq[Range]): Seq[BRow] = {
    val partDel = raw.filter(_.kind == "PARTITION_DELETION")
      .flatMap(_.deletionUs).maxOption
    val rowDel = raw.filter(_.kind == "ROW_DELETION")
      .groupBy(_.clustering.get)
      .map { case (c, rs) => c -> rs.flatMap(_.deletionUs).max }
    def shadow(c: String): Long = (partDel.toSeq ++ rowDel.get(c).toSeq ++
      ranges.filter(_.covers(c)).map(_.delUs)).maxOption
      .getOrElse(Long.MinValue)
    val winners = raw.filter(r => r.kind == "ROW" || r.kind == "PK_LIVENESS" ||
        r.kind == "CELL_DELETION")
      .filter(r => r.kind == "CELL_DELETION" ||
        r.writetimeUs.get > shadow(r.clustering.get))
      .groupBy(r => (r.clustering.get, r.name))
      .values.map(_.maxBy(r => (r.writetimeUs.get, r.kind == "CELL_DELETION",
        r.value.getOrElse(""))))
      .map(_.stripped).toSeq
    val cellRows = winners.filter(r => r.kind == "ROW" ||
      r.kind == "CELL_DELETION").map(_.clustering.get).toSet
    // a row with written cells reads back without its liveness row
    val live = winners.filter(r => r.kind != "PK_LIVENESS" ||
      !cellRows(r.clustering.get))
    partDel.map(d => BRow(key, None, "PARTITION_DELETION", None, None, None,
      None, None, Some(d))).toSeq ++
      rowDel.map { case (c, d) => BRow(key, Some(c), "ROW_DELETION", None,
        None, None, None, None, Some(d)) } ++
      live ++ raw.filter(_.kind == "RANGE_TOMBSTONE_BOUND")
  }

  // ------------------------------------------------------------------
  // build: generate, encode, write, account
  // ------------------------------------------------------------------

  private def keyRng(seed: Long, i: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L)

  private def headerFor(parts: Seq[PartitionData]): BigFormat.Header = {
    var minTs = Long.MaxValue; var minLdt = Int.MaxValue
    var minTtl = Int.MaxValue
    parts.foreach { p =>
      p.deletionUs.foreach(d => minTs = math.min(minTs, d))
      p.atoms.foreach {
        case r: RowAtom =>
          r.livenessTsUs.foreach(t => minTs = math.min(minTs, t))
          r.deletionUs.foreach(t => minTs = math.min(minTs, t))
          r.livenessLdtS.foreach(l => minLdt = math.min(minLdt, l))
          r.livenessTtlS.foreach(t => minTtl = math.min(minTtl, t))
          r.cells.foreach { c =>
            minTs = math.min(minTs, c.tsUs)
            c.ldtS.foreach(l => minLdt = math.min(minLdt, l))
            c.ttlS.foreach(t => minTtl = math.min(minTtl, t))
          }
        case m: MarkerAtom => m.deletions.foreach(d => minTs = math.min(minTs, d))
      }
    }
    BigFormat.Header(
      if (minTs == Long.MaxValue) BigFormat.TimestampEpochUs else minTs,
      if (minLdt == Int.MaxValue) BigFormat.DeletionTimeEpochS else minLdt,
      if (minTtl == Int.MaxValue) BigFormat.TtlEpoch else minTtl,
      keyType = BigFormat.Utf8Type,
      clusteringTypes = Seq(BigFormat.Utf8Type),
      staticColumns = Nil,
      regularColumns = Seq("a" -> BigFormat.Utf8Type, "b" -> BigFormat.Utf8Type))
  }

  /** Runs `n` jobs on `threads` threads, results in job order. */
  def parallel[T](n: Int, threads: Int)(job: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, n)))
    try {
      pool.invokeAll((0 until n).map(i => new Callable[T] {
        def call(): T = job(i)
      }).asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdownNow()
  }

  /** Generate the lake for `seed` under `root` (replacing it). */
  def build(root: Path, shape: Shape, seed: Long, threads: Int): Built = {
    Files.createDirectories(root)
    Fs.deleteRecursively(root)
    val dataDir = Files.createDirectories(root.resolve(Table))
    // exactly round(keys * wideShare) wide partitions, placed at random:
    // the lake's size does not swing with the seed's draw of them
    val wide = {
      val idx = Array.tabulate(shape.keys)(identity)
      val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
      (idx.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = idx(i); idx(i) = idx(j); idx(j) = t
      }
      val set = new java.util.BitSet(shape.keys)
      idx.take(math.round(shape.keys * WideShare).toInt).foreach(set.set)
      set
    }
    val chunks = threads * 4
    val per = (shape.keys + chunks - 1) / chunks
    val outs = parallel(chunks, threads) { c =>
      (c * per until math.min(shape.keys, (c + 1) * per)).map { i =>
        val key = keyName(seed, i)
        val rng = keyRng(seed, i)
        shape.layout match {
          case "overlap" => overlapKey(key, wide.get(i), rng, shape)
          case "leveled" =>
            val ring = (token(key).toDouble + 9.223372036854775808E18) /
              1.8446744073709552E19
            mixedKey(key, 1 + math.min(shape.gens - 1,
              (ring * shape.gens).toInt), wide.get(i), rng, shape)
          case _ => mixedKey(key, 1 + i % shape.gens, wide.get(i), rng, shape)
        }
      }
    }.flatten
    val byGen = outs.flatMap(_.parts).groupBy(_._1)
      .map { case (g, ps) => g -> ps.map(_._2) }
    val files = parallel(shape.gens, threads) { gi =>
      val g = gi + 1
      val parts = byGen.getOrElse(g, Nil)
      val header = headerFor(parts)
      val (data, index) = BigFormat.writeDataFileIndexed(parts, header)
      val comps = SSTableComponents.buildAll(data, index, header,
        compression = shape.compression)
      comps.foreach { case (name, bytes) =>
        Files.write(dataDir.resolve(s"nb-$g-big-$name"), bytes)
      }
      val rows = parts.map(_.atoms.count(_.isInstanceOf[RowAtom]).toLong).sum
      val cells = parts.map(_.atoms.collect { case r: RowAtom => r.cells.size.toLong }
        .sum).sum
      (data.length.toLong, comps.toMap.map { case (k, v) => k -> v.length.toLong },
        parts.size.toLong, rows, cells)
    }
    def comp(name: String): Seq[Long] = files.map(_._2.getOrElse(name, 0L))
    val sidecars = Seq("Index.db", "Filter.db", "Summary.db", "Statistics.db")
    val expect = outs.map { o =>
      o.key -> KeyExpect(token(o.key), Digest.ofRows(o.raw.iterator),
        Digest.ofRows(o.raw.iterator.map(_.stripped)), Digest.ofRows(o.out.iterator))
    }.toMap
    val stats = scala.collection.immutable.ListMap[String, Any](
      "generations" -> shape.gens.toLong,
      "partitions" -> files.map(_._3).sum,
      "distinct_keys" -> outs.size.toLong,
      "rows" -> files.map(_._4).sum,
      "cells" -> files.map(_._5).sum,
      "bridge_rows" -> outs.map(_.raw.size.toLong).sum,
      "ttl_bearing_cells" -> outs.map(_.ttlCells.toLong).sum,
      "live_cells_in" -> outs.map(_.raw.count(r => r.kind == "ROW" ||
        r.kind == "PK_LIVENESS").toLong).sum,
      "live_cells_out" -> outs.map(_.out.count(r => r.kind == "ROW" ||
        r.kind == "PK_LIVENESS").toLong).sum,
      "raw_data_bytes" -> files.map(_._1).sum,
      "ondisk_data_bytes" -> comp("Data.db").sum,
      "ondisk_total_bytes" -> files.map(_._2.values.sum).sum,
      "index_bytes" -> comp("Index.db").sum,
      "filter_bytes" -> comp("Filter.db").sum,
      "summary_bytes" -> comp("Summary.db").sum,
      // what the connector's executor-side component cache may hold
      // (128 MB in total, 4 MB per entry): the sidecars it caches
      "sidecar_bytes" -> sidecars.map(comp(_).sum).sum,
      "largest_sidecar_bytes" -> sidecars.flatMap(comp).max,
      "sidecars_over_entry_limit" ->
        sidecars.flatMap(comp).count(_ > 4L * 1024 * 1024).toLong,
      "component_cache_total_limit_bytes" -> 128L * 1024 * 1024,
      "component_cache_entry_limit_bytes" -> 4L * 1024 * 1024)
    Built(root, shape, outs.map(_.key).toArray, expect, stats)
  }
}
