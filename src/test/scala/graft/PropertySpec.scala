package graft

import graft.model.CellModel
import graft.model.CellModel.TableMeta
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated invariants for the cell model (SURVEY §5's
  * translated strategy, item 3): on arbitrary inputs — not just the
  * driver corpus — the TTL strip preserves values, writetimes and row
  * count, nulls every TTL, and makes every row permanently live.
  * Deterministic seeds keep the suite reproducible.
  */
/** Top-level so Spark can derive an Encoder (inner classes need an
  * outer-scope instance). */
final case class RawEvent(
    event_id: Long, user_id: Long, event_type: String,
    value: Double, ts: Long)

/** Top-level for Encoder derivation (see [[RawEvent]]). */
final case class ExportRow(
    partition_key: String, clustering: Seq[String], row_kind: String,
    name: Option[String], value: Option[String],
    writetime_us: Option[Long], ttl_s: Option[Int],
    expire_us: Option[Long], deletion_us: Option[Long],
    sstable: String)

class PropertySpec extends SparkSpec {

  private val genEvent: Gen[RawEvent] = for {
    id <- Gen.chooseNum(0L, 1000000L)
    user <- Gen.chooseNum(1L, 50L)
    tpe <- Gen.oneOf("view", "click", "purchase", "signup", "error")
    value <- Gen.chooseNum(-1e6, 1e6)
    // epoch-nanos around the pinned NowMicros, ± ~60 days
    ts <- Gen.chooseNum(
      CellModel.NowMicros * 1000L - 5000000000L * 1000000L,
      CellModel.NowMicros * 1000L + 5000000000L * 1000000L)
  } yield RawEvent(id, user, tpe, value, ts)

  private def sample(seed: Long, n: Int): Seq[RawEvent] =
    Gen.listOfN(n, genEvent)
      .apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error("gen failed"))
      // event_id is the row identity in the cell model — dedupe
      .distinctBy(_.event_id)

  for (seed <- Seq(1L, 42L, 20260812L)) {
    test(s"ttl-strip invariants hold on generated data (seed=$seed)") {
      import spark.implicits._
      val raw = sample(seed, 500).toDF()
      val cells = CellModel.cellify(raw)
      val stripped = cells.withColumn("cell", CellModel.stripCell(col("cell")))

      // row count preserved (no grouped transform drops rows)
      assert(stripped.count() === raw.count())

      // every output TTL is NO_TTL and every row is live at any instant
      assert(stripped.filter(col("cell.ttl_s").isNotNull).count() === 0)
      assert(stripped
        .filter(!CellModel.isLive(col("cell"), Long.MaxValue))
        .count() === 0)

      // values and writetimes byte-identical (multiset equality)
      val before = cells.select(
        col("event_id"), col("cell.value"), col("cell.writetime_us"))
      val after = stripped.select(
        col("event_id"), col("cell.value"), col("cell.writetime_us"))
      assert(before.exceptAll(after).count() === 0)
      assert(after.exceptAll(before).count() === 0)

      // rows that were expired (dead at NowMicros) become visible after
      // the strip — the reference's 0-then-N assertion, generalized
      val expired = cells
        .filter(!CellModel.isLive(col("cell"), CellModel.NowMicros))
      val expiredCount = expired.count()
      val visibleAfter = stripped
        .filter(CellModel.isLive(col("cell"), CellModel.NowMicros))
        .join(expired.select("event_id"), Seq("event_id"), "left_semi")
      assert(visibleAfter.count() === expiredCount)
    }
  }

  // ---- schema-generic strip over ScalaCheck-GENERATED SCHEMAS ----
  // The reference accepts any CREATE TABLE at run time
  // (Cassandra3TTLRemover.java:63-75); stripAll's analogue is accepting
  // any StructType. These cases generate arbitrary column sets (scalar
  // long/string, simple cell, map-of-cells, array-of-cells, in random
  // arrangement) and assert the strip's invariants hold for every one.

  private val shapePool =
    Vector("scalar_long", "scalar_str", "cell_double", "cell_str",
      "map_cells", "array_cells")

  private def genShapes: Gen[List[(String, String)]] = for {
    n <- Gen.chooseNum(2, 6)
    kinds <- Gen.listOfN(n, Gen.oneOf(shapePool))
  } yield kinds.zipWithIndex.map { case (k, i) => (s"c$i", k) }

  private def buildColumn(name: String, kind: String, k: Int): Column = {
    val wt = lit(CellModel.NowMicros) + col("id") * 1000L
    def cellD(off: Int) =
      CellModel.mkCell(col("id") * 1.5 + off, wt, col("id") + off)
    def cellS(off: Int) =
      CellModel.mkCell(concat(lit(s"x$off-"), col("id") % 7), wt,
        col("id") + off)
    (kind match {
      case "scalar_long" => col("id") * (k + 3)
      case "scalar_str" => concat(lit(s"v$k-"), col("id") % 13)
      case "cell_double" => cellD(k)
      case "cell_str" => cellS(k)
      case "map_cells" =>
        map(lit("a"), cellS(k), lit("b"), cellS(k + 1))
      case "array_cells" => array(cellD(k), cellD(k + 1))
    }).as(name)
  }

  /** Projection keeping only (value, writetime) of every cell — the
    * parts the strip must preserve. Maps become sorted entry arrays
    * (set ops/equality don't support MapType). */
  private def valueView(df: DataFrame): DataFrame = {
    def keep(c: Column) =
      struct(c.getField("value"), c.getField("writetime_us"))
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case dt if CellModel.isCellStruct(dt) => keep(col(f.name)).as(f.name)
        case MapType(_, v, _) if CellModel.isCellStruct(v) =>
          map_entries(transform_values(col(f.name), (_, c) => keep(c)))
            .as(f.name)
        case ArrayType(v, _) if CellModel.isCellStruct(v) =>
          transform(col(f.name), keep _).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Per-column predicate: some cell in the row still carries a TTL. */
  private def anyTtl(df: DataFrame): Option[Column] =
    df.schema.fields.flatMap { f =>
      f.dataType match {
        case dt if CellModel.isCellStruct(dt) =>
          Some(col(f.name).getField("ttl_s").isNotNull)
        case MapType(_, v, _) if CellModel.isCellStruct(v) =>
          Some(exists(map_values(col(f.name)),
            c => c.getField("ttl_s").isNotNull))
        case ArrayType(v, _) if CellModel.isCellStruct(v) =>
          Some(exists(col(f.name), c => c.getField("ttl_s").isNotNull))
        case _ => None
      }
    }.reduceOption(_ || _)

  for (seed <- Seq(7L, 99L, 20260812L)) {
    test(s"stripAll invariants hold on a generated schema (seed=$seed)") {
      val shapes0 = genShapes
        .apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(sys.error("gen failed"))
      // guarantee at least one cell-typed column so the strip has work
      val shapes =
        if (shapes0.exists(s => !s._2.startsWith("scalar_"))) shapes0
        else shapes0 :+ (s"c${shapes0.size}", "cell_double")
      val df = spark.range(300).toDF("id").select(
        col("id") +: shapes.zipWithIndex.map { case ((n, k), i) =>
          buildColumn(n, k, i)
        }: _*)
      val stripped =
        CellModel.stripAll(df, TableMeta("graft", "gen", Seq("id"), Nil))

      // schema shape preserved (names, order, types)
      assert(stripped.schema.map(f => (f.name, f.dataType.simpleString)) ===
        df.schema.map(f => (f.name, f.dataType.simpleString)))
      // row count preserved
      assert(stripped.count() === df.count())
      // the input actually had TTLs to strip...
      assert(df.filter(anyTtl(df).get).count() > 0)
      // ...and none survive, in any cell of any shape
      assert(stripped.filter(anyTtl(stripped).get).count() === 0)
      // values + writetimes byte-identical across the whole schema
      val before = valueView(df)
      val after = valueView(stripped)
      assert(before.exceptAll(after).count() === 0)
      assert(after.exceptAll(before).count() === 0)
    }
  }

  test("stripAll rejects missing or cell-typed key columns") {
    val df = spark.range(10).toDF("id")
      .withColumn("c", CellModel.mkCell(col("id") * 2.0,
        lit(CellModel.NowMicros), col("id")))
    intercept[IllegalArgumentException] {
      CellModel.stripAll(df, TableMeta("graft", "bad", Seq("nope"), Nil))
    }
    intercept[IllegalArgumentException] {
      CellModel.stripAll(df, TableMeta("graft", "bad", Seq("c"), Nil))
    }
  }

  test("property: dump export round-trips random frames, JSON-hostile strings included") {
    import spark.implicits._
    // adversarial string pool: every JSON-escaping hazard class
    val nasty = Seq("plain", "with \"quotes\"", "back\\slash",
      "new\nline", "tab\there", "unicode✓☃", "commas,and]brackets[",
      "{braces}", "  leading space", "")
    val genValue: Gen[String] = Gen.oneOf(nasty)
    val genKey: Gen[String] = for {
      base <- Gen.oneOf(nasty.filterNot(s =>
        s.isEmpty || s.contains(":"))) // the composite-carry caveat
      n <- Gen.chooseNum(0, 9999)
    } yield s"$base#$n"
    val wtGen = Gen.chooseNum(1500000000000000L, 1700000000999999L)
    // one partition: distinct clusterings per entry (a real decode
    // never yields two identical non-cell rows in one partition)
    type FrameRow = ExportRow
    def genPartition(pk: String, sst: String): Gen[Seq[FrameRow]] = for {
      nRows <- Gen.chooseNum(1, 4)
      kinds <- Gen.listOfN(nRows, Gen.frequency(
        5 -> "ROW", 2 -> "PK_LIVENESS", 2 -> "ROW_DELETION",
        1 -> "RT", 1 -> "PARTITION_DELETION"))
      rows <- Gen.sequence[Seq[Seq[FrameRow]], Seq[FrameRow]](
        kinds.zipWithIndex.map { case (kind, i) =>
          val clust = Seq(s"c$i")
          kind match {
            case "ROW" => for {
              nCells <- Gen.chooseNum(1, 3)
              cells <- Gen.sequence[Seq[FrameRow], FrameRow](
                (0 until nCells).map { j => for {
                  v <- genValue; wt <- wtGen
                  ttl <- Gen.option(Gen.chooseNum(1, 86400))
                } yield ExportRow(pk, clust, "ROW", Some(s"col$j"),
                  Some(v), Some(wt), ttl,
                  ttl.map(t => wt + t.toLong * 1000000L),
                  None, sst) })
            } yield cells
            case "PK_LIVENESS" => for {
              wt <- wtGen; ttl <- Gen.option(Gen.chooseNum(1, 86400))
            } yield Seq(ExportRow(pk, clust, "PK_LIVENESS", None,
              None, Some(wt), ttl,
              ttl.map(t => wt + t.toLong * 1000000L), None, sst))
            case "ROW_DELETION" => wtGen.map(del => Seq(
              ExportRow(pk, clust, "ROW_DELETION", None, None, None,
                None, None, Some(del), sst)))
            case "RT" => for {
              del <- wtGen
              lo <- Gen.oneOf("inclusive", "exclusive")
              hi <- Gen.oneOf("inclusive", "exclusive")
            } yield Seq(
              ExportRow(pk, clust, "RANGE_TOMBSTONE_BOUND",
                Some(s"start:$lo"), None, None, None, None,
                Some(del), sst),
              ExportRow(pk, Seq(s"c$i-end"), "RANGE_TOMBSTONE_BOUND",
                Some(s"end:$hi"), None, None, None, None,
                Some(del), sst))
            case _ => wtGen.map(del => Seq(
              ExportRow(pk, null, "PARTITION_DELETION", None, None,
                None, None, None, Some(del), sst)))
          }
        })
    } yield {
      // at most ONE partition deletion per partition (dump semantics)
      val (pdels, rest) = rows.flatten
        .partition(_.row_kind == "PARTITION_DELETION")
      pdels.take(1) ++ rest
    }
    val genFrame: Gen[Seq[FrameRow]] = for {
      nParts <- Gen.chooseNum(2, 8)
      keys <- Gen.listOfN(nParts, genKey)
      parts <- Gen.sequence[Seq[Seq[FrameRow]], Seq[FrameRow]](
        keys.distinct.zipWithIndex.map { case (k, i) =>
          genPartition(k, s"t/nb-${i % 2 + 1}-big-Data.db") })
    } yield parts.flatten
    (1 to 5).foreach { seed =>
      val rows: Seq[ExportRow] =
        genFrame(Gen.Parameters.default, Seed(seed.toLong))
          .getOrElse(sys.error("gen failed"))
      val frame = spark.createDataFrame(rows)
        .withColumn("cell", when(col("writetime_us").isNotNull, struct(
          col("value"), col("writetime_us"), col("ttl_s"),
          col("expire_us"))))
        .drop("value", "writetime_us", "ttl_s", "expire_us")
        .select("partition_key", "clustering", "row_kind", "name",
          "cell", "deletion_us", "sstable")
        .localCheckpoint()
      val out = Scratch.dir(s"graft-exportprop-$seed-")
      try {
        graft.sources.SSTableDumpBridge.writeTree(frame, out.toString)
        val back = graft.sources.SSTableDumpBridge
          .read(spark, out.toString)
        assert(back.exceptAll(frame).count() === 0,
          s"seed $seed: re-read invented rows")
        assert(frame.exceptAll(back).count() === 0,
          s"seed $seed: export lost rows")
      } finally Scratch.delete(out)
    }
  }

  test("property: the tombstone drop-time histogram conserves counts, " +
    "respects its bin budget, and sums monotonically") {
    import graft.sources.OldFormat.TombstoneHistogram
    val genCase = for {
      maxBins <- Gen.chooseNum(2, 20)
      n <- Gen.chooseNum(0, 300)
      points <- Gen.listOfN(n, Gen.chooseNum(0, 5000).map(_.toDouble))
    } yield (maxBins, points)
    val cases = Gen.listOfN(60, genCase)
      .apply(Gen.Parameters.default, Seed(31L))
      .getOrElse(sys.error("gen failed"))
    cases.foreach { case (maxBins, points) =>
      val h = points.foldLeft(
        TombstoneHistogram(maxBins, Vector.empty))(_.update(_))
      assert(h.bins.size <= maxBins, "bin budget")
      assert(h.total === points.size.toLong,
        "centroid merging conserves counts")
      assert(h.bins.map(_._1) === h.bins.map(_._1).sorted,
        "bins stay point-ordered")
      // sum is monotone in b and clamped to [0, total] with exact ends
      val probes = (h.bins.map(_._1) ++
        Seq(-1.0, 2500.0, 1e9)).sorted
      val sums = probes.map(h.sum)
      sums.sliding(2).foreach {
        case Seq(a, b) => assert(a <= b + 1e-9, s"monotone: $a > $b")
        case _ => ()
      }
      assert(h.sum(-1e9) === 0.0)
      assert(h.sum(1e18) === points.size.toDouble)
      sums.foreach(v => assert(v >= -1e-9 && v <= points.size + 1e-9))
    }
  }

  test("property: per-range sampled estimates stay within one " +
    "interval per unwrapped window of the exact in-range count") {
    import graft.sources.{BigFormat, SSTableComponents}
    val genCase = for {
      n <- Gen.chooseNum(1, 400)
      interval <- Gen.oneOf(2, 4, 8, 16)
      seed <- Gen.chooseNum(0, 1 << 20)
    } yield (n, interval, seed)
    val cases = Gen.listOfN(40, genCase)
      .apply(Gen.Parameters.default, Seed(37L))
      .getOrElse(sys.error("gen failed"))
    cases.foreach { case (n, interval, seed) =>
      val ring = (0 until n).map(i => s"p$seed-$i".getBytes("UTF-8"))
        .sortBy(k => BigFormat.murmur3Token(k)).toVector
      val toks = ring.map(BigFormat.murmur3Token)
      val sampled = ring.zipWithIndex
        .collect { case (k, i) if i % interval == 0 => (k, i.toLong) }
      val s = SSTableComponents.Summary(interval, sampled,
        (n + interval - 1) / interval, ring.head, ring.last)
      val rnd = new scala.util.Random(seed)
      (0 until 6).foreach { _ =>
        val a = rnd.nextLong(); val b = rnd.nextLong()
        val windows = if (a < b) 1 else 2 // wrap unwraps into two
        val exact = toks.count(t =>
          if (a < b) t > a && t <= b else t > a || t <= b)
        val est = SSTableComponents.estimatedKeysForRanges(s, Seq((a, b)))
        assert(est >= 1, "the reference's floor")
        assert(math.abs(est - exact) <= windows.toLong * interval,
          s"n=$n interval=$interval range=($a,$b): est=$est exact=$exact")
      }
    }
  }

  test("property: the heap-driven summary redistribution equals the " +
    "naive greedy on random pools, and its invariants always hold") {
    import graft.sources.SSTableComponents.redistributeSummaries
    // the O(n²) reference greedy the production heap must match:
    // while over budget, double the (lowest rate, most marks-after,
    // first name) file below the cap
    def naive(files: Seq[(String, Int, Double)], budget: Long,
        maxFactor: Int): Map[String, Int] = {
      val factor = scala.collection.mutable.Map(
        files.map(f => f._1 -> 1): _*)
      def after(f: (String, Int, Double)): Long =
        (f._2 + factor(f._1) - 1L) / factor(f._1)
      var go = true
      while (files.map(after).sum > budget && go) {
        val cand = files.filter(f => factor(f._1) < maxFactor)
        if (cand.isEmpty) go = false
        else factor(cand.minBy(f => (f._3, -after(f), f._1))._1) *= 2
      }
      factor.toMap
    }
    val genPool = for {
      n <- Gen.chooseNum(1, 12)
      files <- Gen.listOfN(n, for {
        marks <- Gen.chooseNum(1, 500)
        rate <- Gen.chooseNum(0, 5).map(_.toDouble)
      } yield (marks, rate))
      budget <- Gen.chooseNum(1L, 1200L)
    } yield (files.zipWithIndex.map { case ((m, r), i) =>
      (f"f$i%02d", m, r) }, budget)
    val cases = Gen.listOfN(150, genPool)
      .apply(Gen.Parameters.default, Seed(23L))
      .getOrElse(sys.error("gen failed"))
    cases.foreach { case (files, budget) =>
      val got = redistributeSummaries(files, budget)
      assert(got === naive(files, budget, 8),
        s"files=$files budget=$budget")
      // invariants regardless of equivalence: ladder factors, and
      // the budget holds unless everything is capped
      assert(got.values.forall(f =>
        f >= 1 && f <= 8 && Integer.bitCount(f) == 1))
      val total = files.map { case (n, m, _) =>
        (m + got(n) - 1L) / got(n) }.sum
      assert(total <= budget || got.values.forall(_ == 8),
        s"missed budget without capping: $files budget=$budget")
    }
  }

  test("media decoders TERMINATE and flag (never throw) on arbitrary and mutated bytes") {
    import graft.ops.MultimodalOps
    // one corrupt asset in a 100 TB media corpus must cost one
    // flagged row, never a hung or killed task: every walker must
    // return on ARBITRARY bytes and on single-byte mutations of its
    // own valid containers (the shapes real bit-rot produces)
    val genBytes = Gen.chooseNum(0, 512).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))
        .map(_.toArray))
    def samples(seed: Long, n: Int): Seq[Array[Byte]] =
      Gen.listOfN(n, genBytes)
        .apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(sys.error("gen failed"))
    for (b <- samples(7L, 200)) {
      MultimodalOps.wavDecode(1L, b)
      MultimodalOps.mp4Probe(1L, b)
      MultimodalOps.realDecode(1L, b)
      MultimodalOps.aviDecode(1L, b)
    }
    // mutations of VALID containers: flip one byte at every generated
    // position; the decode either still succeeds or flags — no throw,
    // no hang (the checksummed PNG may legitimately reject)
    val positions = Gen.listOfN(120, Gen.chooseNum(0, 10000))
      .apply(Gen.Parameters.default, Seed(11L))
      .getOrElse(sys.error("gen failed"))
    val wav = MultimodalOps.syntheticWav(9L)
    val mp4 = MultimodalOps.syntheticMp4(9L)
    val png = MultimodalOps.syntheticPng(9L)
    val avi = MultimodalOps.syntheticAvi(9L)
    for (p <- positions) {
      def mutated(src: Array[Byte]): Array[Byte] = {
        val c = src.clone(); c(p % c.length) = (c(p % c.length) ^ 0x41).toByte; c
      }
      MultimodalOps.wavDecode(9L, mutated(wav))
      MultimodalOps.mp4Probe(9L, mutated(mp4))
      MultimodalOps.realDecode(9L, mutated(png))
      MultimodalOps.aviDecode(9L, mutated(avi))
    }
  }
}
