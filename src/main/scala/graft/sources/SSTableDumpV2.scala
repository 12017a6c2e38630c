package graft.sources

import java.util.{Map => JMap}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 connector for `sstabledump` JSON trees —
  * `spark.read.format("sstabledump").load(root)`.
  *
  * The one batch reader behind [[SSTableDumpBridge.read]]. Why a
  * connector rather than Spark's multiLine JSON source: that source
  * treats EACH FILE as one parse unit held in memory — a faithful
  * `sstabledump` of one large SSTable is one multi-GB JSON array, and
  * the whole array would materialize in a single task before the
  * first row emerges. This reader streams Jackson tokens instead: the
  * top-level array is never materialized, one PARTITION OBJECT at a
  * time is read into a row, so per-task memory is bounded by the
  * largest Cassandra partition (the same bound the reference's own
  * scanner has, `Cassandra3TTLRemover.java:86-103` — it streams
  * partitions off the SSTable, never the table). Parallelism is per dump file (one
  * InputPartition each, sorted for determinism), matching the
  * reference's file-per-unit directory sweep
  * (`TTLRemoverCLI.java:147-163`).
  *
  * The connector deliberately emits RAW per-partition JSON
  * (`sstable`, `partition_json`): IO and memory discipline live in
  * the connector, while the cell-model semantics — liveness, TTL,
  * deletion kinds, range-tombstone bounds — stay in the ONE
  * Catalyst expression pipeline ([[SSTableDumpBridge.bridgeRows]])
  * that the streaming dump ingest shares. Column pruning is pushed
  * down (asking only for `sstable` skips JSON re-serialization
  * entirely).
  */
class SSTableDumpV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sstabledump"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SSTableDumpV2.schema

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SSTableDumpV2.DumpTable(properties.get("path"))
}

object SSTableDumpV2 {

  val schema: StructType = StructType(Seq(
    StructField("sstable", StringType, nullable = false),
    StructField("partition_json", StringType, nullable = false)))

  private[sources] class DumpTable(path: String)
      extends Table with SupportsRead {
    override def name(): String = s"sstabledump($path)"
    override def schema(): StructType = SSTableDumpV2.schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new DumpScanBuilder(
        Option(path).getOrElse(options.get("path")))
  }

  private class DumpScanBuilder(path: String)
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    private var required: StructType = SSTableDumpV2.schema
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def build(): Scan = new DumpScan(path, required)
  }

  private class DumpScan(path: String, required: StructType)
      extends Scan with Batch {
    // the SESSION's Hadoop conf, captured at scan build (fs.defaultFS,
    // object-store credentials, spark.hadoop.* overrides), and shipped
    // to executors inside the reader factory — a bare
    // `new Configuration()` would resolve default-configured
    // filesystems only, silently ignoring the lake's settings
    private val hconf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())

    override def readSchema(): StructType = required
    override def toBatch: Batch = this

    /** One InputPartition per dump file — the per-file parallelism
      * unit; files sorted by path for deterministic partition ids. */
    override def planInputPartitions(): Array[InputPartition] = {
      val fs = FileSystem.get(java.net.URI.create(path), hconf.value)
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(new HPath(path), true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        // same data-file filter as Spark's file sources: metadata
        // (_SUCCESS, _committed) and hidden files are not dumps
        if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
          files += f.getPath.toString
      }
      files.sorted.map(f =>
        DumpFilePartition(f): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new DumpReaderFactory(required.fieldNames, hconf)
  }

  private case class DumpFilePartition(file: String)
      extends InputPartition

  private class DumpReaderFactory(cols: Array[String],
      hconf: SerializableConfiguration)
      extends PartitionReaderFactory {
    override def createReader(
        partition: InputPartition): PartitionReader[InternalRow] =
      new DumpPartitionReader(
        partition.asInstanceOf[DumpFilePartition].file, cols, hconf.value)
  }

  /** Streams one dump file: expects the top-level `[ {...}, ... ]`
    * array `sstabledump` emits and yields one row per partition
    * object. Memory is bounded by one object — the parser never holds
    * the array. The `sstable` identity is the file's last two path
    * components (the S2 filename→identity rule, the same one
    * [[SSTableDumpBridge.bridgeTreeFrame]] applies to streamed
    * dumps). */
  private class DumpPartitionReader(file: String, cols: Array[String],
      conf: org.apache.hadoop.conf.Configuration)
      extends PartitionReader[InternalRow] {
    private val sstable = {
      val parts = file.split('/')
      parts.takeRight(2).mkString("/")
    }
    private val needJson = cols.contains("partition_json")
    private val stream = FileSystem
      .get(java.net.URI.create(file), conf)
      .open(new HPath(file))
    private val parser = new JsonFactory().createParser(
      stream: java.io.InputStream)
    private val mapper = new ObjectMapper()
    private var row: InternalRow = _
    // top-level-array validation happens on the FIRST next(), not in
    // the constructor: by next() the reader has been returned and
    // Spark's task-completion listener owns close(), so a malformed
    // or empty dump file fails the task WITHOUT leaking the stream
    private var started = false

    override def next(): Boolean = {
      if (!started) {
        val first = parser.nextToken()
        require(first == JsonToken.START_ARRAY,
          s"$file: expected a top-level JSON array, got $first")
        started = true
      }
      val t = parser.nextToken()
      if (t == null || t == JsonToken.END_ARRAY) false
      else {
        require(t == JsonToken.START_OBJECT,
          s"$file: expected a partition object, got $t")
        // readTree consumes exactly this object's subtree; compact
        // re-serialization is parse-equivalent for from_json
        val json =
          if (needJson) mapper.readTree(parser).toString
          else { parser.skipChildren(); null }
        val values = cols.map {
          case "sstable" => UTF8String.fromString(sstable)
          case "partition_json" => UTF8String.fromString(json)
          case other =>
            throw new IllegalArgumentException(s"unknown column $other")
        }
        row = InternalRow.fromSeq(values.toIndexedSeq)
        true
      }
    }

    override def get(): InternalRow = row

    override def close(): Unit = {
      parser.close()
      stream.close()
    }
  }
}
