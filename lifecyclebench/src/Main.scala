package lifecyclebench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.RemoverCli
import graft.model.CellModel
import graft.sources.SSTableBinaryV2
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The lifecycle benchmark: one workload, one seed, one JVM.
  *
  *   lifecyclebench.Main --workload strip_rewrite|lww_compact|lake_read
  *     --seed <n> --seconds <s> --trace 0|1 --work <dir> --results <dir>
  *     --cpus <n>
  *
  * Generates the workload's seeded lake under `--work`, starts a
  * `local[cpus]` session and runs the workload closed-loop (one client;
  * each request starts when the previous one returns) for `--seconds`.
  * Every engine output is checked against the generator's digests; a
  * failed check counts as failed and is never retried. The last stdout
  * line carries the checks and the measured values, by name (`run.py`
  * adds the units `BENCHMARK.json` declares); full detail lands in
  * `--results`. With
  * `--trace 1` the run reports per-layer figures instead: the
  * single-thread layer harness, and spans of alternate traced
  * requests. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, results: Path, cpus: Int)

  /** Lake shapes. Wide partitions exceed the 64 KiB column-index block,
    * so promoted index entries are written. */
  def shapeOf(workload: String): Lake.Shape = workload match {
    case "strip_rewrite" => Lake.Shape(gens = 8, keys = 24000,
      compression = Some("LZ4Compressor"), layout = "tiered",
      wideRows = 900, narrowRows = 12)
    case "lww_compact" => Lake.Shape(gens = 4, keys = 10000,
      compression = None, layout = "overlap",
      wideRows = 700, narrowRows = 10)
    case "lake_read" => Lake.Shape(gens = 8, keys = 24000,
      compression = Some("LZ4Compressor"), layout = "leveled",
      wideRows = 900, narrowRows = 12)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (strip_rewrite, lww_compact, lake_read)")
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"unexpected argument ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", Paths.get(req("work")).toAbsolutePath,
      Paths.get(req("results")).toAbsolutePath, req("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def run(a: Args): Int = {
    val shape = shapeOf(a.workload)
    Files.createDirectories(a.work)
    Files.createDirectories(a.results)
    HeapWatch.install()
    val lakeRoot = a.work.resolve("lake")
    // set-up: the lake is generated several times and the median
    // reported; the traced run needs the lake once
    val passes = if (a.trace) 1 else 3
    val gens = (1 to passes).map(_ =>
      time(Lake.build(lakeRoot, shape, a.seed, a.cpus)))
    val lake = gens.last._1
    val (spark, sessionS) = time {
      val s = SparkSession.builder().master(s"local[${a.cpus}]")
        .appName(s"lifecyclebench-${a.workload}")
        .config("spark.sql.shuffle.partitions", a.cpus.toLong)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir",
          a.work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    try {
      Digest.selfTest(spark)
      val bench = new Bench(spark, a, lake)
      // two untimed units: the first still runs partly interpreted
      val (_, warmS) = time((1 to 2).foreach(w => bench.unit(-w, None)))
      val setup = ListMap(
        "lake_generation_s" -> gens.map(_._2),
        "lake_generation_median_s" -> Stats.median(gens.map(_._2)),
        "session_start_s" -> sessionS, "warmup_s" -> warmS)
      val setupS = Stats.median(gens.map(_._2)) + sessionS + warmS
      if (a.trace) bench.traced(setup) else bench.timed(setupS, setup)
    } finally spark.stop()
  }
}

/** One workload's requests, checks and samples on one session. */
final class Bench(spark: SparkSession, a: Main.Args, lake: Lake.Built) {
  import Main.time

  private val rng = new SplittableRandom(a.seed * 31 + 7)
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Operations attempted, and the ids of those that failed: a thrown
    * error or any failed check fails its operation once. */
  var attempted = 0L
  private val failedOps = mutable.LinkedHashSet.empty[String]
  val failures = ArrayBuffer.empty[String]
  def failed: Long = failedOps.size.toLong
  private val isWrite = a.workload != "lake_read"
  private val lakePath = lake.root.toString
  private var tracer: Option[Tracer] = None
  /** Requests of the current unit (lifecycle or read round), traced. */
  private val unitSpans = ArrayBuffer.empty[Span]
  private var lastOutBytes = 0L
  private var lastOutFiles = 0L

  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, ArrayBuffer.empty) += v

  private def fail(req: String, msg: String): Unit = {
    failedOps += req
    if (failures.size < 50) failures += msg
  }

  /** Runs one request, timed; traced when a tracer is attached. A
    * thrown exception is a failed operation. */
  private def op[T](req: String, name: String)(f: => T): Option[(T, Double)] = {
    attempted += 1
    try tracer match {
      case Some(t) =>
        val (out, span) = t.request(req, name)(f)
        unitSpans += span
        Some((out, span.durS))
      case None => Some(time(f))
    } catch {
      case e: Exception =>
        fail(req, s"$req $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  private def check(req: String, ok: Boolean, msg: => String): Unit =
    if (!ok) fail(req, msg)

  private def span[T](name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  // ---------------------------------------------------------------
  // requests
  // ---------------------------------------------------------------

  private def bridge(df: DataFrame): DataFrame = df.select(
    col("partition_key"), col("clustering"), col("row_kind"), col("name"),
    col("deletion_us"), col("cell"),
    CellModel.stripCellKeepDeletion(col("cell")).as("stripped"))

  /** Full scan + strip + aggregate: the digest of the stripped rows and
    * the count of rows still carrying TTLs before the strip. */
  def scanRequest(req: String, root: String, expect: Digest,
      expectTtl: Long): Option[Double] =
    op(req, "scan") {
      span("SSTableBinaryV2.readBinary")(Digest.total(
        bridge(SSTableBinaryV2.readBinary(spark, root)),
        col("stripped"), col("cell")))
    }.map { case ((d, ttl), s) =>
      check(req, d == expect, s"$req scan digest ${d.render} != ${expect.render}")
      check(req, ttl == expectTtl, s"$req scan: $ttl TTL-bearing rows, want $expectTtl")
      sample("scan_s", s)
      s
    }

  /** Scan without the strip, the baseline of `strip.overhead_s`. */
  private def rawScan(root: String): Digest =
    Digest.total(bridge(SSTableBinaryV2.readBinary(spark, root)),
      col("cell"), col("cell"))._1

  /** `partition_key IN (...)`: bloom + Summary + Index seeks, rows
    * returned to the caller. Every hit key must return exactly its
    * expected rows, no miss any. */
  def pointRequest(req: String, root: String, n: Int,
      expect: Lake.KeyExpect => Digest): Option[Double] = {
    val hits = if (n == 1) rng.nextInt(2) else n / 2
    val keys = (0 until hits).map(_ => lake.keys(rng.nextInt(lake.keys.length)))
      .distinct
    val misses = (0 until n - hits).map(_ =>
      Lake.missName(a.seed, rng.nextInt(1 << 30)))
    val all = keys ++ misses
    op(req, s"point[$n]") {
      span("SSTableBinaryV2.readBinary")(Digest.rows(
        SSTableBinaryV2.readBinary(spark, root)
          .filter(col("partition_key").isin(all: _*))))
    }.map { case (rows, s) =>
      val got = rows.groupMapReduce(_._1)(r => Digest.ofHash(
        Digest.hash(r._2)))(_ + _)
      check(req, got.keySet == keys.toSet,
        s"$req point: got keys ${got.keySet.size}, want ${keys.size}")
      keys.foreach { k =>
        val want = expect(lake.expect(k))
        got.get(k).foreach { d =>
          check(req, d == want, s"$req point $k: ${d.render} != ${want.render}")
        }
      }
      sample("point_ms", s * 1000)
      s
    }
  }

  /** A 1/64-ring token slice: Summary/Index-bounded range read, rows
    * returned to the caller. */
  def rangeRequest(req: String, root: String,
      expect: Lake.KeyExpect => Digest): Option[Double] = {
    val width = 1L << 58
    // lo uniform over [MinValue, MaxValue - width]: no wrap-around
    val lo = Long.MinValue +
      java.lang.Long.remainderUnsigned(rng.nextLong(), -width)
    val hi = lo + width
    val want = lake.expect.valuesIterator
      .filter(k => k.token >= lo && k.token <= hi)
      .foldLeft(Digest.Zero)((d, k) => d + expect(k))
    op(req, "range") {
      span("SSTableBinaryV2.readBinary")(Digest.rows(
        spark.read.format("sstable-big")
          .option("tokenLo", lo.toString).option("tokenHi", hi.toString)
          .load(root)))
    }.map { case (rows, s) =>
      val d = rows.foldLeft(Digest.Zero)((acc, r) =>
        acc + Digest.ofHash(Digest.hash(r._2)))
      check(req, d == want, s"$req range [$lo,$hi]: ${d.render} != ${want.render}")
      sample("range_ms", s * 1000)
      s
    }
  }

  /** `RemoverCli.run` over the lake into a fresh output directory. */
  def lifecycle(req: String, out: Path): Option[Double] = {
    val cli = Array("--in", lakePath, "--out", out.toString,
      "--table", Lake.Table, "--keyspace", Lake.Keyspace,
      "--format", "sstable", "--sink", "sstable",
      "--cpus", a.cpus.toString) ++
      (if (a.workload == "lww_compact") Array("--merge", "lww")
       else Array("--compress", "lz4"))
    val args = RemoverCli.parse(cli).fold(
      e => throw new IllegalArgumentException(e), identity)
    op(req, "lifecycle") {
      span("RemoverCli.run")(RemoverCli.run(spark, args))
    }.map { case (rows, s) =>
      // component files, without the local filesystem's .crc siblings
      val files = Fs.files(out).filterNot(_.getFileName.toString.startsWith("."))
      val dataFiles = files.count(_.getFileName.toString.endsWith("-Data.db"))
      val wantFiles = if (a.workload == "lww_compact") 1 else lake.shape.gens
      check(req, dataFiles == wantFiles,
        s"$req lifecycle wrote $dataFiles generations, want $wantFiles")
      check(req, rows > 0, s"$req lifecycle wrote no rows")
      lastOutBytes = files.map(Files.size).sum
      lastOutFiles = files.size.toLong
      sample("lifecycle_s", s)
      s
    }
  }

  // ---------------------------------------------------------------
  // units of work
  // ---------------------------------------------------------------

  /** One unit, from a collected heap: for the write workloads a
    * lifecycle, then a scan, two 16-key point batches and two range
    * slices of its output (the output check);
    * for lake_read a round of one scan, six point batches of 1, 16 or
    * 256 keys and three range slices, in seeded order. Returns the
    * unit's time as `lifecycle_s` counts it. */
  def unit(i: Int, trace: Option[Tracer]): Option[Double] = {
    // every unit starts from the same collected heap: garbage left by
    // the previous one neither inflates this one's after-GC peak nor
    // lands its collection in this one's timings
    System.gc()
    HeapWatch.reset()
    tracer = trace
    unitSpans.clear()
    try {
      if (isWrite) {
        val out = a.work.resolve(s"out-$i")
        val t = lifecycle(s"u$i.lifecycle", out)
        val root = out.toString
        scanRequest(s"u$i.scan", root, lake.total(_.out), 0L)
        (1 to 2).foreach { j =>
          pointRequest(s"u$i.point$j", root, 16, _.out)
          rangeRequest(s"u$i.range$j", root, _.out)
        }
        Fs.deleteRecursively(out)
        t
      } else {
        val kinds = scala.util.Random.javaRandomToRandom(
          new java.util.Random(rng.nextLong()))
          .shuffle(Seq("scan") ++ Seq.fill(6)("point") ++ Seq.fill(3)("range"))
        val ts = kinds.zipWithIndex.map {
          case ("scan", j) => scanRequest(s"u$i.$j.scan", lakePath,
            lake.total(_.stripped), lake.stat("ttl_bearing_cells"))
          case ("point", j) => pointRequest(s"u$i.$j.point", lakePath,
            Seq(1, 16, 256)(rng.nextInt(3)), _.raw)
          case (_, j) => rangeRequest(s"u$i.$j.range", lakePath, _.raw)
        }
        if (ts.forall(_.isDefined)) {
          val s = ts.flatten.sum
          sample("lifecycle_s", s)
          Some(s)
        } else None
      }
    } finally tracer = None
  }

  private def med(k: String): Double =
    Stats.median(samples.getOrElse(k, ArrayBuffer.empty).toSeq)

  private def inputMb: Double = lake.stat("raw_data_bytes") / 1e6

  // ---------------------------------------------------------------
  // the timed run
  // ---------------------------------------------------------------

  def timed(setupS: Double, setup: Map[String, Any]): Int = {
    samples.clear() // warm-up samples; its operations stay counted
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 1
    while (i == 1 || System.nanoTime() < deadline) {
      unit(i, None)
      sample("peak_heap_mb", HeapWatch.peakMb)
      i += 1
    }
    val points = samples.getOrElse("point_ms", ArrayBuffer.empty).toSeq
    val pointTail = Stats.tail(points)
    val values = ListMap(
      "setup_s" -> setupS,
      "lifecycle_s" -> med("lifecycle_s"),
      "input_mb_s" -> inputMb / med("lifecycle_s"),
      "scan_s" -> med("scan_s"),
      "point_p50_ms" -> med("point_ms"),
      "range_p50_ms" -> med("range_ms"),
      "peak_heap_mb" -> med("peak_heap_mb"))
    finish(values, setup, ListMap(
      "point_tail" -> pointTail.map { case (p, v) => ListMap(
        "percentile" -> p, "ms" -> v, "samples" -> points.size) },
      "samples" -> samples),
      f"lifecycle_s=${values("lifecycle_s")}%.3f " +
        f"(n=${samples("lifecycle_s").size}) " +
        f"scan_s=${values("scan_s")}%.3f " +
        f"point_p50_ms=${values("point_p50_ms")}%.1f " +
        pointTail.map { case (p, v) =>
          f"point_p$p%.0f_ms=$v%.1f(n=${points.size}) " }.getOrElse("") +
        f"range_p50_ms=${values("range_p50_ms")}%.1f " +
        f"peak_heap_mb=${values("peak_heap_mb")}%.0f setup_s=$setupS%.2f")
  }

  /** Writes the detail file, prints the run's short line and, last, the
    * values line `run.py` turns into the result object. */
  private def finish(values: ListMap[String, Double],
      setup: Map[String, Any], extra: ListMap[String, Any],
      summary: String): Int = {
    val mode = if (a.trace) "trace1" else "trace0"
    val file = a.results.resolve(s"${a.workload}-seed${a.seed}-$mode.json")
    Files.write(file, Json.render(ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus, "shape" -> lake.shape.toString,
      "lake" -> lake.stats, "setup" -> setup, "values" -> values,
      "attempted" -> attempted, "failed" -> failed,
      "error_rate" -> failed.toDouble / math.max(1L, attempted),
      "failures" -> failures) ++ extra).getBytes("UTF-8"))
    println(s"[lifecyclebench] ${a.workload} seed=${a.seed} $mode: " +
      s"$summary checks=${attempted - failed}/$attempted ok " +
      s"detail=${a.results.getFileName}/${file.getFileName}")
    println(Json.render(ListMap("correct" -> (failed == 0),
      "attempted" -> math.max(1L, attempted), "failed" -> failed,
      "values" -> values)))
    if (failed == 0) 0 else 3
  }

  // ---------------------------------------------------------------
  // the traced run
  // ---------------------------------------------------------------

  def traced(setup: Map[String, Any]): Int = {
    samples.clear()
    val harness = Harness.run(lake.dataDir, a.work.resolve("harness"))
    // strip.overhead_s: scan+strip minus scan alone, alternated
    val plain = ArrayBuffer.empty[Double]
    val stripped = ArrayBuffer.empty[Double]
    (1 to 3).foreach { _ =>
      plain += time(rawScan(lakePath))._2
      stripped += time(Digest.total(bridge(SSTableBinaryV2.readBinary(
        spark, lakePath)), col("stripped"), col("cell")))._2
    }
    val tracer = new Tracer(spark)
    val perUnit = ArrayBuffer.empty[Map[String, Double]]
    val tracedS = ArrayBuffer.empty[Double]
    val untracedS = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 1
    while (i <= 2 || System.nanoTime() < deadline) {
      if (i % 2 == 1) {
        tracer.attach()
        val t = unit(i, Some(tracer))
        tracer.detach()
        t.foreach(tracedS += _)
        // a write unit's layers are those of its lifecycle request;
        // the output checks after it are not part of it
        perUnit += unitMetrics(tracer, unitSpans.toSeq.filter(r =>
          !isWrite || r.name == "lifecycle"))
      } else unit(i, None).foreach(untracedS += _)
      i += 1
    }
    val spansFile = a.results.resolve(
      s"${a.workload}-seed${a.seed}-trace1-spans.jsonl")
    Files.write(spansFile, tracer.spans.asScala.toSeq.sortBy(_.startUs)
      .map(_.toJson).asJava)
    val values = ListMap.from(harness ++ Seq(
      "strip.overhead_s" -> (Stats.median(stripped.toSeq) -
        Stats.median(plain.toSeq)),
      "sink.files_out" -> lastOutFiles.toDouble,
      "sink.bytes_out" -> lastOutBytes.toDouble,
      "sink.bytes_out_per_in" ->
        lastOutBytes.toDouble / lake.stat("ondisk_total_bytes"),
      "trace.overhead_s" -> (Stats.median(tracedS.toSeq) -
        Stats.median(untracedS.toSeq))) ++
      perUnit.head.keys.filterNot(k => k == "wall_s" || k.startsWith("share."))
        .map(k => k -> Stats.median(perUnit.map(_(k)).toSeq)))
    val shares = perUnit.map(m => ListMap.from(m.toSeq
      .filter(_._1.startsWith("share.")).sortBy(_._1)))
    finish(values, setup, ListMap(
      "traced_unit_s" -> tracedS, "untraced_unit_s" -> untracedS,
      "strip_check" -> ListMap("scan_only_s" -> plain,
        "scan_strip_s" -> stripped),
      "layer_shares" -> shares, "units" -> perUnit,
      "spans_file" -> spansFile.getFileName.toString),
      f"overhead_s=${values("trace.overhead_s")}%.3f shares: " +
        shares.head.map { case (k, v) =>
          f"${k.stripPrefix("share.")}=$v%.2f" }.mkString(" "))
  }

  /** Per-layer figures of one traced unit, from its request spans and
    * the job, stage and task spans that carry the same request ids. */
  private def unitMetrics(t: Tracer, reqs: Seq[Span]): Map[String, Double] = {
    val ids = reqs.map(_.req).toSet
    val all = t.spans.asScala.filter(s => ids(s.req)).toSeq
    val stages = all.filter(_.kind == "stage")
    val layerOfStage = stages.map(s =>
      s.attrs("stage_id").asInstanceOf[Long] -> s.attrs("layer").toString).toMap
    val tasks = all.filter(_.kind == "task")
    def tasksOf(layer: String) = tasks.filter(s =>
      layerOfStage.get(s.attrs("stage_id").asInstanceOf[Long]).contains(layer))
    def sumAttr(ts: Seq[Span], k: String): Double =
      ts.map(_.attrs.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)).sum.toDouble
    val parts = reqs.map(r => Tracer.attribute(r,
      all.filter(s => s.kind == "job" && s.req == r.req),
      stages.filter(_.req == r.req)))
    def part(k: String): Double = parts.map(_.getOrElse(k, 0.0)).sum
    val wall = reqs.map(_.durS).sum
    val counters = reqs.flatMap(r => t.scanCounters.get(r.req).toSeq)
    def counter(k: String): Double = counters.map(_.getOrElse(k, 0L)).sum.toDouble
    val hits = counter("componentCacheHits")
    val misses = counter("componentCacheMisses")
    val busy = sumAttr(tasks, "run_ms") / 1000
    val owners = Seq("scan", "merge", "sink", "aggregate", "driver_gap",
      "job_overhead", "unattributed")
    Map(
      "wall_s" -> wall,
      "scan.stage_s" -> part("scan"), "merge.stage_s" -> part("merge"),
      "sink.stage_s" -> part("sink"), "aggregate.stage_s" -> part("aggregate"),
      "spark.driver_gap_s" -> part("driver_gap"),
      "trace.unattributed_s" -> (part("job_overhead") + part("unattributed")),
      "scan.partitions_served" -> counter("partitionsServed"),
      "scan.files_skipped_bloom" -> counter("filesSkippedBloom"),
      "scan.files_skipped_token_span" -> counter("filesSkippedTokenSpan"),
      "scan.component_cache_hit_ratio" ->
        (if (hits + misses == 0) 0.0 else hits / (hits + misses)),
      "scan.tasks_per_request" -> tasksOf("scan").size.toDouble / reqs.size,
      "merge.shuffle_write_mb" -> sumAttr(tasksOf("merge"), "shuffle_read") / 1e6,
      // rows the merge stage that feeds the sink (the one writing the
      // most rows; RemoverCli's count job runs a second one) read from
      // the shuffle, per row it wrote; 0 where no merge stage ran
      "merge.cells_in_per_out" -> tasksOf("merge")
        .groupBy(_.attrs("stage_id")).values
        .map(ts => (sumAttr(ts, "shuffle_read_records"),
          sumAttr(ts, "shuffle_write_records")))
        .maxByOption(_._2).collect { case (in, out) if out > 0 => in / out }
        .getOrElse(0.0),
      "sink.max_task_s" -> tasksOf("sink").map(_.durS).maxOption.getOrElse(0.0),
      "sink.task_peak_mem_mb" ->
        tasksOf("sink").map(_.attrs("peak_mem").asInstanceOf[Long]).maxOption
          .getOrElse(0L) / 1048576.0,
      "sink.shuffle_write_mb" -> sumAttr(tasksOf("sink"), "shuffle_read") / 1e6,
      "sink.spill_mb" -> sumAttr(tasksOf("sink"), "spill_disk") / 1e6,
      "spark.jobs" -> all.count(_.kind == "job").toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_busy_s" -> busy,
      "spark.core_utilisation" -> busy / (wall * a.cpus),
      "spark.gc_s" -> sumAttr(tasks, "gc_ms") / 1000) ++
      owners.map(o => s"share.$o" -> part(o) / wall)
  }
}
