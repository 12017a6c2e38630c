package lifecyclebench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** One bridge row as the generator expects the engine to return it:
  * the connector's documented row-kind contract (PARTITION_DELETION,
  * ROW_DELETION, ROW, CELL_DELETION, PK_LIVENESS,
  * RANGE_TOMBSTONE_BOUND), derived from what the generator wrote and
  * never from an engine run. */
final case class BRow(pk: String, clustering: Option[String],
    kind: String, name: Option[String], value: Option[String],
    writetimeUs: Option[Long], ttlS: Option[Int], expireUs: Option[Long],
    deletionUs: Option[Long]) {

  /** The canonical text both sides hash: the generator here, the
    * engine's re-read through [[Digest.canonCol]]. */
  def canon: String = {
    val n = Digest.Null
    Seq(pk, clustering.getOrElse(n), kind, name.getOrElse(n),
      value.getOrElse(n), writetimeUs.fold(n)(_.toString),
      ttlS.fold(n)(_.toString), expireUs.fold(n)(_.toString),
      deletionUs.fold(n)(_.toString)).mkString("|")
  }

  def ttlBearing: Boolean = ttlS.isDefined

  /** What the TTL strip leaves: expiring cells lose ttl and expiry,
    * everything else (tombstones included) passes through. */
  def stripped: BRow =
    if (ttlS.isDefined) copy(ttlS = None, expireUs = None) else this

  def digest: Digest = Digest.ofHash(Digest.hash(canon))
}

/** Order-free multiset digest of bridge rows: row count, the sums of
  * the high and low 32-bit halves of each row's 64-bit xxhash (sums
  * of halves cannot overflow a long below 2^31 rows) and their xor. */
final case class Digest(rows: Long, hi: Long, lo: Long, xor: Long) {
  def +(o: Digest): Digest =
    Digest(rows + o.rows, hi + o.hi, lo + o.lo, xor ^ o.xor)
  def render: String = f"rows=$rows%d hi=$hi%x lo=$lo%x xor=$xor%016x"
}

object Digest {
  val Zero: Digest = Digest(0L, 0L, 0L, 0L)
  val Null = "~N"
  private val Seed = 42L

  def ofHash(h: Long): Digest = Digest(1L, h >>> 32, h & 0xffffffffL, h)

  /** Spark's `xxhash64` of one string column (seed 42), computed off
    * the same public XXH64 routine; [[selfTest]] pins the equality. */
  def hash(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length,
      Seed)
  }

  def ofRows(rows: Iterator[BRow]): Digest =
    rows.foldLeft(Zero)((d, r) => d + r.digest)

  private def orNull(c: Column): Column = coalesce(c, lit(Null))

  /** [[BRow.canon]] over a bridge-row frame with cell column `cell`. */
  def canonCol(cell: Column): Column = concat_ws("|",
    col("partition_key"),
    orNull(array_join(col("clustering"), ",", Null)),
    col("row_kind"), orNull(col("name")),
    orNull(cell.getField("value")),
    orNull(cell.getField("writetime_us").cast("string")),
    orNull(cell.getField("ttl_s").cast("string")),
    orNull(cell.getField("expire_us").cast("string")),
    orNull(col("deletion_us").cast("string")))

  /** Cells still carrying TTL metadata (tombstones carry expiry as
    * their deletion second, not as a TTL). */
  def ttlBearingCol(cell: Column): Column =
    cell.getField("ttl_s").isNotNull ||
      (col("row_kind") =!= "CELL_DELETION" &&
        cell.getField("expire_us").isNotNull)

  /** Aggregations producing a [[Digest]] of the frame's rows under
    * `cell`, and the count of rows whose `ttlCell` still carries TTL
    * metadata; read back with [[fromRow]]. */
  def aggCols(cell: Column, ttlCell: Column): Seq[Column] = {
    val h = xxhash64(canonCol(cell))
    val t = when(ttlBearingCol(ttlCell), 1L).otherwise(0L)
    Seq(count(lit(1)).as("d_rows"),
      sum(shiftrightunsigned(h, 32)).as("d_hi"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("d_lo"),
      bit_xor(h).as("d_xor"),
      sum(t).as("d_ttl"))
  }

  def total(df: DataFrame, cell: Column, ttlCell: Column): (Digest, Long) = {
    val aggs = aggCols(cell, ttlCell)
    fromRow(df.agg(aggs.head, aggs.tail: _*).collect()(0), 0)
  }

  /** The rows themselves, as (partition key, canonical text). */
  def rows(df: DataFrame): Array[(String, String)] =
    df.select(col("partition_key"), canonCol(col("cell"))).collect()
      .map(r => (r.getString(0), r.getString(1)))

  private def fromRow(r: org.apache.spark.sql.Row, at: Int)
      : (Digest, Long) = {
    def l(i: Int) = if (r.isNullAt(at + i)) 0L else r.getLong(at + i)
    (Digest(l(0), l(1), l(2), l(3)), l(4))
  }

  /** Pins [[hash]] to the engine's `xxhash64`, so a digest mismatch can
    * only mean different rows. */
  def selfTest(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val probes = Seq("", "k|~N|ROW|a|v", "é✓ unicode|1|2", "x" * 300)
    val got = probes.toDF("s").select(xxhash64(col("s"))).as[Long]
      .collect().toSeq
    val want = probes.map(hash)
    require(got == want, s"xxhash64 self-test failed: $got vs $want")
  }
}
