package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream}

/** Cassandra 2.x big-format codec ("ka"/"la", the 2.1/2.2 era) — the
  * pre-3.0 storage engine the reference's ENTIRE `cassandra-2` module
  * exists for (its ~2,400-line `NoTTLReader.java` fork plus
  * `NoTTLColumnSerializer`/`NoTTLSerializer`), decoded here as a
  * small self-contained stream codec with no Cassandra linkage.
  *
  * The 2.x on-disk model is cell-per-atom with COMPOSITE names (no
  * row grouping, no serialization header): every partition is
  *
  *   [unsigned short keyLen][key bytes]
  *   [partition DeletionTime: int localDeletionTime, long
  *    markedForDeleteAt]           (Int.MaxValue/Long.MinValue = LIVE)
  *   atom*:
  *     [unsigned short nameLen]    — nameLen == 0 terminates the row
  *     [name bytes]                (composite: per component
  *                                  [short len][bytes][eoc byte])
  *     [byte serializationFlags]   (`NoTTLColumnSerializer.java:26-50`'s
  *                                  dispatch masks)
  *     RANGE_TOMBSTONE_MASK → [short len][end-bound bytes]
  *                            [int ldt][long markedForDeleteAt]
  *     COUNTER_MASK         → [long timestampOfLastDelete] before ts
  *     EXPIRATION_MASK      → [int ttl][int localExpirationTime]
  *                            before ts — the S7 read-side strip
  *                            point (`NoTTLColumnSerializer.java:
  *                            33-40` reads-and-discards exactly these
  *                            two ints)
  *     then [long timestamp][int valueLen][value bytes]
  *     (a DELETION_MASK cell's value is the 4-byte localDeletionTime)
  *
  * Layout knowledge from the PUBLIC Apache Cassandra 2.2 source:
  * `o.a.c.db.ColumnSerializer` (cell masks + field order),
  * `o.a.c.db.OnDiskAtom.Serializer` (range-tombstone form),
  * `o.a.c.db.marshal.CompositeType` (short-len + eoc components),
  * `o.a.c.io.sstable.format.big.BigTableWriter` 2.x (key +
  * DeletionTime + atoms + empty-name terminator).
  *
  * Schema: 2.x files carry NO column/type metadata the codec can use
  * (the reference loads the live system tables,
  * `Cassandra2TTLRemover.java:48`); here the caller DECLARES the
  * schema — the same CQL `CREATE TABLE` language the v3/v4 reference
  * modules take (`TTLRemoverCLI.java:166-170`), resolved through
  * [[BigFormat.marshalOfCql]]. CQL3 row-marker cells (empty column
  * name, empty value) carry the row's primary-key liveness.
  *
  * Subset boundaries, loud as everywhere: unknown masks raise;
  * truncation raises EOF with the file named; composite arity must
  * match the declared clustering.
  */
object OldFormat {

  // ---- serialization masks (o.a.c.db.ColumnSerializer) ----
  val DeletionMask = 0x01
  val ExpirationMask = 0x02
  val CounterMask = 0x04
  val CounterUpdateMask = 0x08
  val RangeTombstoneMask = 0x10

  val LiveLdt: Int = Int.MaxValue
  val LiveMfda: Long = Long.MinValue

  /** The declared 2.x table shape: marshal types for the key, the
    * clustering components, and each named column. `compactStorage`
    * changes the cell-name shape: a clusteringless thrift-era
    * `WITH COMPACT STORAGE` table writes bare cell-name bytes where a
    * CQL3 non-compact table composite-frames the single name
    * component (and its row marker is a composite of one EMPTY
    * component); a compact table WITH clustering (the thrift dynamic
    * CF) uses the clustering AS the name — raw comparator bytes for
    * one clustering column, a CompositeType of exactly the clustering
    * components for several — and exposes one value column. */
  case class Schema(
      keyType: String,
      clusteringTypes: Seq[String],
      columns: Map[String, String],
      compactStorage: Boolean = false)

  def schemaOfCql(p: graft.model.CqlSchema.Parsed): Schema = {
    def marshal(t: String): String = BigFormat.marshalOfCql(t)
      .fold(e => throw new IllegalArgumentException(e), identity)
    val colType = p.columns.toMap
    val s = Schema(
      // a multi-column partition key is the same CompositeType blob
      // in 2.x it is in 4.x (thrift-era CompositeType IS the origin
      // of the framing) — [[BigFormat.compositeType]]'s ':'-joined
      // carry serves both eras
      keyType =
        if (p.partitionKey.size == 1) marshal(colType(p.partitionKey.head))
        else BigFormat.compositeType(
          p.partitionKey.map(c => marshal(colType(c)))),
      clusteringTypes = p.clustering.map(c => marshal(colType(c))),
      columns = p.columns
        .filterNot(c => p.partitionKey.contains(c._1) ||
          p.clustering.contains(c._1))
        .map { case (n, t) => n -> marshal(t) }.toMap,
      compactStorage = p.compactStorage)
    require(!(s.compactStorage && s.clusteringTypes.nonEmpty) ||
      s.columns.size == 1,
      "a COMPACT STORAGE table with clustering has exactly ONE value " +
        s"column (the thrift dynamic-CF shape); declared: " +
        s.columns.keys.toSeq.sorted.mkString(","))
    s
  }

  // ---- atoms ----

  sealed trait Atom2
  /** One 2.x cell: clustering prefix from the composite name, the
    * column name ("" = the CQL3 row marker), liveness, value.
    * `counterTsOfLastDeleteUs` is the 2.x counter cell's
    * timestampOfLastDelete bookkeeping field (LiveMfda = "never
    * deleted"), carried so 2.x→2.x rewrites round-trip it bit-exactly;
    * the 2.x→modern upgrade legitimately drops it — the 3.0 engine
    * has no such field (its LegacyLayout consumes it during
    * conversion, which is upgradesstables' own behavior). */
  case class Cell2(
      clustering: Seq[String],
      name: String,
      tsUs: Long,
      ttlS: Option[Int],
      ldtS: Option[Int],
      value: Option[String],
      deleted: Boolean,
      counter: Boolean,
      counterTsOfLastDeleteUs: Long = LiveMfda) extends Atom2
  /** A 2.x range tombstone: composite start/end bounds (with
    * inclusivity from the eoc bytes) and the deletion timestamp. */
  case class Tombstone2(
      start: Seq[String], startInclusive: Boolean,
      end: Seq[String], endInclusive: Boolean,
      deletionUs: Long) extends Atom2

  case class Partition2(
      key: String,
      deletionUs: Option[Long],
      atoms: Seq[Atom2])

  // ---- composite names ----

  private def readShortBytes(in: DataInputStream,
      what: String): Array[Byte] = {
    val len = in.readUnsignedShort()
    val buf = new Array[Byte](len)
    in.readFully(buf)
    buf
  }

  /** The single value column of a compact table WITH clustering —
    * the thrift dynamic-CF shape stores the whole "row" as one cell,
    * so CQL exposes exactly one non-key column. */
  private def compactValueColumn(s: Schema, file: String): String = {
    require(s.columns.size == 1,
      s"$file: a COMPACT STORAGE table with clustering has exactly " +
        s"ONE value column; declared: ${s.columns.keys.toSeq.sorted
          .mkString(",")}")
    s.columns.keys.head
  }

  /** Decode a composite name blob: components as
    * [short len][bytes][eoc]; returns (clustering values, column
    * name, eoc of the LAST component). A clusteringless COMPACT
    * STORAGE table's name is bare column bytes (no composite
    * framing) — the thrift-era table shape; a clusteringless CQL3
    * non-compact table composite-frames the single name component,
    * which the general loop below handles (arity 0+1).
    *
    * COMPACT STORAGE WITH clustering (the thrift dynamic CF): the
    * name IS the clustering — raw comparator bytes for one
    * clustering column, a CompositeType of exactly the clustering
    * components (NO trailing column-name component) for several; the
    * cell's CQL column is the table's single value column. `isBound`
    * is the caller's context (range-tombstone bounds never name a
    * column; compact single-column bounds are raw bytes with no
    * inclusivity eoc, empty = open). */
  private def decodeName(bytes: Array[Byte], s: Schema,
      file: String, isBound: Boolean = false): (Seq[String], String, Int) = {
    if (s.clusteringTypes.isEmpty && s.compactStorage)
      return (Nil, new String(bytes, java.nio.charset.StandardCharsets.UTF_8), 0)
    if (s.compactStorage && s.clusteringTypes.nonEmpty) {
      if (s.clusteringTypes.size == 1) {
        if (bytes.isEmpty) {
          require(isBound,
            s"$file: empty cell name in a compact table")
          return (Nil, "", 0)
        }
        val cl = BigFormat.renderValue(s.clusteringTypes.head, bytes)
        return (Seq(cl),
          if (isBound) "" else compactValueColumn(s, file), 0)
      }
      val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val comps = Seq.newBuilder[(Array[Byte], Int)]
      while (in.available() > 0) {
        val b = readShortBytes(in, "composite component")
        val eoc = in.read()
        if (eoc < 0) throw new EOFException(
          s"$file: composite name truncated before its eoc byte")
        comps += ((b, if (eoc > 127) eoc - 256 else eoc))
      }
      val cs = comps.result()
      require(cs.size == s.clusteringTypes.size ||
        (isBound && cs.size < s.clusteringTypes.size),
        s"$file: compact composite of ${cs.size} components against " +
          s"${s.clusteringTypes.size} declared clustering columns")
      val clustering = cs.zip(s.clusteringTypes).map {
        case ((b, _), t) => BigFormat.renderValue(t, b)
      }
      return (clustering,
        if (isBound) "" else compactValueColumn(s, file),
        cs.lastOption.map(_._2).getOrElse(0))
    }
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val comps = Seq.newBuilder[(Array[Byte], Int)]
    while (in.available() > 0) {
      val b = readShortBytes(in, "composite component")
      val eoc = in.read()
      if (eoc < 0) throw new EOFException(
        s"$file: composite name truncated before its eoc byte")
      comps += ((b, if (eoc > 127) eoc - 256 else eoc))
    }
    val cs = comps.result()
    require(cs.size == s.clusteringTypes.size + 1 ||
      cs.size == s.clusteringTypes.size + 2 ||
      cs.size <= s.clusteringTypes.size,
      s"$file: composite of ${cs.size} components against " +
        s"${s.clusteringTypes.size} declared clustering columns")
    if (cs.size == s.clusteringTypes.size + 2) {
      // clustering prefix + column name + collection element key —
      // the CompoundSparseCellNameType.WithCollection shape (2.x
      // stores each map entry / set element / list slot as its own
      // cell whose name carries the element identity). Surfaces
      // through the SAME name-encoded CellPath convention as the
      // 3.0 bridge: "col[key]".
      val n = s.clusteringTypes.size
      val clustering = cs.take(n).zip(s.clusteringTypes).map {
        case ((b, _), t) => BigFormat.renderValue(t, b)
      }
      val colName = new String(cs(n)._1,
        java.nio.charset.StandardCharsets.UTF_8)
      val declared = s.columns.getOrElse(colName,
        throw new UnsupportedOperationException(
          s"$file: column '$colName' not in the declared schema"))
      val pathType = BigFormat.complexOf(declared).map(_._1).getOrElse(
        throw new UnsupportedOperationException(
          s"$file: cell name carries an element key but '$colName' " +
            "is not declared a collection"))
      val key = BigFormat.renderValue(pathType, cs.last._1)
      (clustering, s"$colName[$key]", cs.last._2)
    } else if (cs.size == s.clusteringTypes.size + 1) {
      // clustering prefix + column-name component
      val clustering = cs.init.zip(s.clusteringTypes).map {
        case ((b, _), t) => BigFormat.renderValue(t, b)
      }
      (clustering,
        new String(cs.last._1, java.nio.charset.StandardCharsets.UTF_8),
        cs.last._2)
    } else {
      // a bound: clustering prefix only (possibly partial)
      val clustering = cs.zip(s.clusteringTypes).map {
        case ((b, _), t) => BigFormat.renderValue(t, b)
      }
      (clustering, "", cs.lastOption.map(_._2).getOrElse(0))
    }
  }

  /** Resolve a cell's VALUE marshal type from its (possibly
    * path-bearing) bridge name: "col[key]" must name a declared
    * collection (map → its value type, set → the empty-value carry,
    * list → its element type); a bare name must NOT be one (a 2.x
    * collection column never writes a path-less cell). */
  private def cellValueType(name: String, s: Schema,
      file: String): String = {
    val i = name.indexOf('[')
    if (i >= 0 && name.endsWith("]")) {
      val base = name.substring(0, i)
      val declared = s.columns.getOrElse(base,
        throw new UnsupportedOperationException(
          s"$file: column '$base' not in the declared schema"))
      BigFormat.complexOf(declared).map(_._2).getOrElse(
        throw new UnsupportedOperationException(
          s"$file: '$base' carries an element key but is not " +
            "declared a collection"))
    } else {
      val declared = s.columns.getOrElse(name,
        throw new UnsupportedOperationException(
          s"$file: column '$name' not in the declared schema"))
      require(BigFormat.complexOf(declared).isEmpty,
        s"$file: collection column '$name' cell without an element key")
      declared
    }
  }

  /** "col[key]" → (col, Some(key)); bare name → (name, None). */
  private def splitCellName(name: String): (String, Option[String]) = {
    val i = name.indexOf('[')
    if (i >= 0 && name.endsWith("]"))
      (name.substring(0, i),
        Some(name.substring(i + 1, name.length - 1)))
    else (name, None)
  }

  private def encodeComposite(components: Seq[(String, String)],
      eocLast: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    components.zipWithIndex.foreach { case ((tpe, v), i) =>
      val b =
        if (tpe == "") v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        else BigFormat.encodeValue(tpe, v)
      out.writeShort(b.length)
      out.write(b)
      out.write(if (i == components.size - 1) eocLast & 0xff else 0)
    }
    out.flush()
    bos.toByteArray
  }

  // ---- encode (fixture writer / round-trip specs) ----

  private def writeAtom(a: Atom2, s: Schema, out: DataOutputStream,
      file: String): Unit = a match {
    case c: Cell2 =>
      val name =
        if (s.clusteringTypes.isEmpty && s.compactStorage)
          c.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        else if (s.compactStorage) {
          // dynamic CF: the name IS the clustering, the column is the
          // table's single value column
          require(c.name == compactValueColumn(s, file),
            s"$file: compact cell must use the single value column " +
              s"'${compactValueColumn(s, file)}', got '${c.name}'")
          require(c.clustering.size == s.clusteringTypes.size,
            s"$file: compact cell clustering arity ${c.clustering.size}" +
              s" != declared ${s.clusteringTypes.size}")
          if (s.clusteringTypes.size == 1)
            BigFormat.encodeValue(s.clusteringTypes.head, c.clustering.head)
          else encodeComposite(c.clustering.zip(s.clusteringTypes)
            .map { case (v, t) => (t, v) }, 0)
        }
        else {
          val cl = c.clustering.zip(s.clusteringTypes)
            .map { case (v, t) => (t, v) }
          splitCellName(c.name) match {
            case (_, None) => encodeComposite(cl :+ (("", c.name)), 0)
            case (base, Some(key)) =>
              // the WithCollection shape: clustering + column name +
              // element key encoded with the collection's path type
              val pathType = s.columns.get(base)
                .flatMap(BigFormat.complexOf).map(_._1).getOrElse(
                  throw new IllegalArgumentException(
                    s"$file: '$base' is not a declared collection"))
              encodeComposite(
                cl :+ (("", base)) :+ ((pathType, key)), 0)
          }
        }
      out.writeShort(name.length)
      out.write(name)
      var mask = 0
      if (c.deleted) mask |= DeletionMask
      else if (c.ttlS.isDefined) mask |= ExpirationMask
      if (c.counter) mask |= CounterMask
      out.write(mask)
      // counter timestampOfLastDelete: carried on the model and
      // re-written verbatim, so 2.x→2.x rewrites are bit-exact
      if (c.counter) out.writeLong(c.counterTsOfLastDeleteUs)
      else if (c.ttlS.isDefined && !c.deleted) {
        out.writeInt(c.ttlS.get)
        out.writeInt(c.ldtS.getOrElse(LiveLdt))
      }
      out.writeLong(c.tsUs)
      val value =
        if (c.deleted)
          java.nio.ByteBuffer.allocate(4)
            .putInt(c.ldtS.getOrElse(LiveLdt)).array()
        else {
          val tpe =
            if (c.counter) BigFormat.CounterColumnType
            else if (c.name.isEmpty) BigFormat.BytesType // row marker
            else cellValueType(c.name, s, file)
          BigFormat.encodeValue(tpe, c.value.getOrElse(""))
        }
      out.writeInt(value.length)
      out.write(value)
    case t: Tombstone2 =>
      // compact single-comparator bounds are raw bytes with NO eoc:
      // inclusivity cannot be expressed, so only inclusive (or open =
      // empty) bounds encode — anything else is a loud reject
      def compactRaw(vs: Seq[String], inclusive: Boolean,
          which: String): Array[Byte] = {
        require(inclusive || vs.isEmpty,
          s"$file: a compact raw-comparator $which bound carries no " +
            "inclusivity eoc; exclusive bounds are outside the 2.x " +
            "compact subset")
        if (vs.isEmpty) Array.emptyByteArray
        else BigFormat.encodeValue(s.clusteringTypes.head, vs.head)
      }
      val compactSingle = s.compactStorage && s.clusteringTypes.size == 1
      val start =
        if (compactSingle) compactRaw(t.start, t.startInclusive, "start")
        else encodeComposite(
          t.start.zip(s.clusteringTypes).map { case (v, tp) => (tp, v) },
          if (t.startInclusive) -1 else 1)
      val end =
        if (compactSingle) compactRaw(t.end, t.endInclusive, "end")
        else encodeComposite(
          t.end.zip(s.clusteringTypes).map { case (v, tp) => (tp, v) },
          if (t.endInclusive) 1 else -1)
      out.writeShort(start.length)
      out.write(start)
      out.write(RangeTombstoneMask)
      out.writeShort(end.length)
      out.write(end)
      out.writeInt(LiveLdt - 1) // tombstone localDeletionTime (seconds)
      out.writeLong(t.deletionUs)
  }

  def writePartition(p: Partition2, s: Schema,
      out: DataOutputStream, file: String = "fixture"): Unit = {
    val keyBytes = BigFormat.encodeValue(s.keyType, p.key)
    out.writeShort(keyBytes.length)
    out.write(keyBytes)
    p.deletionUs match {
      case Some(del) => out.writeInt(LiveLdt - 1); out.writeLong(del)
      case None => out.writeInt(LiveLdt); out.writeLong(LiveMfda)
    }
    p.atoms.foreach(writeAtom(_, s, out, file))
    out.writeShort(0) // end-of-row terminator (empty name)
  }

  def writeDataFile(partitions: Seq[Partition2], s: Schema): Array[Byte] =
    writeDataFileIndexed(partitions, s)._1

  // ---- 2.1 promoted ("column") index --------------------------------
  // o.a.c.io.sstable.IndexHelper.IndexInfo + o.a.c.db.RowIndexEntry
  // .IndexedEntry — the pre-3.0 within-partition index the reference's
  // NoTTLSSTableNamesIterator.readIndexedColumns (cassandra-2
  // NoTTLSSTableNamesIterator.java:156-225) seeks by: raw composite
  // cell-name bounds (NOT 3.0's typed clustering prefixes), fixed-width
  // longs (NOT vints), and offsets measured from the ROW START (the
  // 2+keyLen+4+8 row header is inside the first block's offset, so the
  // reader seeks basePosition + offset directly).

  /** One 2.1 `IndexHelper.IndexInfo`: the block's first/last cell-name
    * bytes verbatim, offset from the row start, byte width. */
  case class IndexInfo2x(firstName: Array[Byte], lastName: Array[Byte],
      offset: Long, width: Long)

  /** A decoded 2.1 promoted payload: the row-level DeletionTime the
    * entry repeats (so a reader can shadow without touching Data.db)
    * and the blocks. */
  case class Promoted2x(deletionUs: Option[Long],
      blocks: Seq[IndexInfo2x])

  /** `RowIndexEntry.IndexedEntry.serialize` minus the (key, position,
    * promoted-size) framing `SSTableComponents.writeIndex2x` owns:
    * DeletionTime (int localDeletionTime + long markedForDeleteAt),
    * int block count, then each block via `IndexInfo.Serializer`
    * (short-length firstName, short-length lastName, long offset,
    * long width — all fixed-width, the 2.1 layout). */
  def writePromoted2x(p: Promoted2x): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    p.deletionUs match {
      case Some(del) =>
        out.writeInt(BigFormat.NoDeletionTime - 1); out.writeLong(del)
      case None =>
        out.writeInt(BigFormat.NoDeletionTime)
        out.writeLong(BigFormat.NoTimestamp)
    }
    out.writeInt(p.blocks.size)
    p.blocks.foreach { b =>
      out.writeShort(b.firstName.length)
      out.write(b.firstName)
      out.writeShort(b.lastName.length)
      out.write(b.lastName)
      out.writeLong(b.offset)
      out.writeLong(b.width)
    }
    out.flush()
    bos.toByteArray
  }

  def readPromoted2x(bytes: Array[Byte], file: String): Promoted2x = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val ldt = in.readInt()
    val mfda = in.readLong()
    val del =
      if (ldt == BigFormat.NoDeletionTime && mfda == BigFormat.NoTimestamp)
        None
      else Some(mfda)
    val n = in.readInt()
    require(n >= 0 && n <= bytes.length,
      s"$file: absurd 2.x promoted block count $n")
    val blocks = (0 until n).map { _ =>
      val first = readShortBytes(in, "2.x IndexInfo firstName")
      val last = readShortBytes(in, "2.x IndexInfo lastName")
      val offset = in.readLong()
      val width = in.readLong()
      require(offset >= 0 && width > 0,
        s"$file: 2.x IndexInfo with offset $offset width $width")
      IndexInfo2x(first, last, offset, width)
    }
    require(in.available() == 0,
      s"$file: 2.x promoted entry carries ${in.available()} trailing bytes")
    require(blocks.isEmpty ||
      blocks.zip(blocks.tail).forall { case (a, b) => a.offset < b.offset },
      s"$file: 2.x promoted block offsets not ascending")
    Promoted2x(del, blocks)
  }

  /** [[writeDataFile]] plus the primary-index entries — (encoded key,
    * Data.db start offset, promoted payload) per partition in token
    * order, the exact triple a 2.x `Index.db` carries
    * (`o.a.c.db.RowIndexEntry.Serializer`, 2.1 layout) — so a ka/la
    * fixture can ship the sidecars the reference's own `getPosition`
    * path consults. With `columnIndexSize` > 0, partitions whose atoms
    * span ≥ 2 blocks of that size get a REAL promoted payload
    * (`o.a.c.db.ColumnIndex`'s rule: blocks accumulate atoms until one
    * crosses the threshold; a single-block partition gains nothing
    * over its Index.db position and stays unpromoted — 2.1's
    * `RowIndexEntry.create`). Offsets are from the row start; the
    * first block's offset IS the row-header size. Range tombstones in
    * a partition that promotes are refused loudly: 2.1's
    * `RangeTombstone.Tracker` re-emits open markers at each block
    * start so a mid-partition entry sees them, and this writer does
    * not implement marker repetition — a promoted partition silently
    * carrying an unrepeated spanning tombstone would lie to a
    * block-subset reader. */
  def writeDataFileIndexed(partitions: Seq[Partition2], s: Schema,
      columnIndexSize: Int = 0)
      : (Array[Byte], Seq[(Array[Byte], Long, Array[Byte])]) = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val index = Seq.newBuilder[(Array[Byte], Long, Array[Byte])]
    partitions
      .sortBy(p =>
        (BigFormat.murmur3Token(BigFormat.encodeValue(s.keyType, p.key)),
          p.key))
      .foreach { p =>
        out.flush()
        val rowStart = bos.size.toLong
        val keyBytes = BigFormat.encodeValue(s.keyType, p.key)
        if (columnIndexSize <= 0) {
          index += ((keyBytes, rowStart, Array.emptyByteArray))
          writePartition(p, s, out)
        } else {
          // serialize each atom ONCE into its own buffer — the buffer
          // both measures the block widths and becomes the row body
          // (an atom's serialization leads with [short nameLen][name],
          // the composite the IndexInfo bounds carry verbatim)
          val atomBytes = p.atoms.map { a =>
            val abos = new ByteArrayOutputStream()
            val aout = new DataOutputStream(abos)
            writeAtom(a, s, aout, "fixture")
            aout.flush()
            abos.toByteArray
          }
          def nameOf(bytes: Array[Byte]): Array[Byte] = {
            val len = ((bytes(0) & 0xff) << 8) | (bytes(1) & 0xff)
            java.util.Arrays.copyOfRange(bytes, 2, 2 + len)
          }
          val headerSize = 2L + keyBytes.length + 4 + 8
          val blocks = Seq.newBuilder[IndexInfo2x]
          var blockStart = -1L
          var off = headerSize
          var first: Array[Byte] = null
          var last: Array[Byte] = null
          atomBytes.foreach { ab =>
            if (blockStart < 0) { blockStart = off; first = nameOf(ab) }
            last = nameOf(ab)
            off += ab.length
            if (off - blockStart >= columnIndexSize) {
              blocks += IndexInfo2x(first, last, blockStart,
                off - blockStart)
              blockStart = -1L
            }
          }
          if (blockStart >= 0)
            blocks += IndexInfo2x(first, last, blockStart,
              off - blockStart)
          val bs = blocks.result()
          val promoted =
            if (bs.size < 2) Array.emptyByteArray
            else {
              require(!p.atoms.exists(_.isInstanceOf[Tombstone2]),
                s"partition '${p.key}' promotes across ${bs.size} " +
                  "blocks but carries range tombstones — 2.1 repeats " +
                  "open markers at block starts (RangeTombstone" +
                  ".Tracker) and this writer does not; keep " +
                  "tombstones in unpromoted partitions")
              writePromoted2x(Promoted2x(p.deletionUs, bs))
            }
          index += ((keyBytes, rowStart, promoted))
          // the row header + the measured atom buffers + the
          // end-of-row terminator — byte-identical to writePartition
          out.writeShort(keyBytes.length)
          out.write(keyBytes)
          p.deletionUs match {
            case Some(del) => out.writeInt(LiveLdt - 1); out.writeLong(del)
            case None => out.writeInt(LiveLdt); out.writeLong(LiveMfda)
          }
          atomBytes.foreach(out.write)
          out.writeShort(0)
        }
      }
    out.flush()
    (bos.toByteArray, index.result())
  }

  /** The 2.x sliced partition read — the reference's
    * `readIndexedColumns` (cassandra-2
    * `NoTTLSSTableNamesIterator.java:156-225`) applied to a clustering
    * slice: select the promoted blocks whose [firstName, lastName]
    * cell-name range can overlap [lo, hi] (prefix comparison under the
    * declared clustering comparators — a strict prefix compares EQUAL,
    * keeping boundary-block selection conservative), seek
    * `rowStart + offset`, decode exactly the selected span. The slice
    * predicate stays residual in the caller's plan, so block-boundary
    * over-selection is trimmed there — this read only guarantees a
    * SUPERSET of the slice at O(overlapping blocks) IO. COMPACT
    * STORAGE names are raw comparator bytes with no composite framing;
    * they refuse here (read the partition whole) rather than guess a
    * frame. */
  def readPartitionSliced2x(s: Schema,
      openAt: Long => java.io.InputStream, pos: Long, pr: Promoted2x,
      lo: Seq[Array[Byte]], hi: Seq[Array[Byte]],
      file: String): Partition2 = {
    require(!s.compactStorage,
      s"$file: 2.x promoted-index slice serving covers the CQL3 " +
        "composite cell-name layout; COMPACT STORAGE names carry no " +
        "composite framing — serve the partition whole")
    require(s.clusteringTypes.nonEmpty,
      s"$file: a clusteringless table has nothing to slice")
    // compare a stored composite cell name's clustering prefix against
    // a bound prefix; eoc on the last parsed component maps to the
    // prefix kinds ClusteringComparator uses (-1 sorts before anything
    // it prefixes, +1 after, 0 = a full/cell name compares equal on a
    // shared prefix — conservative for block selection)
    def cmp(name: Array[Byte], bound: Seq[Array[Byte]]): Int = {
      val in = new DataInputStream(new java.io.ByteArrayInputStream(name))
      val comps = Seq.newBuilder[Array[Byte]]
      var eoc = 0
      var i = 0
      while (in.available() > 0 && i < s.clusteringTypes.size) {
        comps += readShortBytes(in, "2.x IndexInfo name component")
        val e = in.read()
        if (e < 0) throw new EOFException(
          s"$file: 2.x IndexInfo name truncated before its eoc byte")
        eoc = if (e > 127) e - 256 else e
        i += 1
      }
      val kind =
        if (eoc < 0) BigFormat.Kind.InclStartBound
        else if (eoc > 0) BigFormat.Kind.InclEndBound
        else BigFormat.Kind.Clustering
      BigFormat.compareClusterable(s.clusteringTypes,
        comps.result().map(b => Some(b)), kind,
        bound.map(b => Some(b)), BigFormat.Kind.Clustering)
    }
    val blocks = pr.blocks
    val i0 =
      if (lo.isEmpty) 0
      else blocks.indexWhere(b => cmp(b.lastName, lo) >= 0)
    val i1 =
      if (hi.isEmpty) blocks.size - 1
      else blocks.lastIndexWhere(b => cmp(b.firstName, hi) <= 0)
    val head = new DataInputStream(openAt(pos))
    val keyBytes = readShortBytes(head, "2.x partition key")
    val key = BigFormat.renderValue(s.keyType, keyBytes)
    val ldt = head.readInt()
    val mfda = head.readLong()
    val deletion =
      if (ldt == LiveLdt && mfda == LiveMfda) None else Some(mfda)
    val atoms = Seq.newBuilder[Atom2]
    if (i0 >= 0 && i1 >= 0 && i0 <= i1) {
      val span = blocks(i1).offset + blocks(i1).width - blocks(i0).offset
      val push = new java.io.PushbackInputStream(
        new java.io.BufferedInputStream(
          new BigFormat.BoundedIn(openAt(pos + blocks(i0).offset), span)),
        1)
      val in = new DataInputStream(push)
      var done = false
      while (!done) {
        // probe one byte: a clean bounded EOF here = the selected
        // blocks are drained (block widths end exactly on atom
        // boundaries); an EOF anywhere INSIDE readAtom stays loud —
        // that's a truncated or mis-indexed file, not a clean end.
        // An explicit end-of-row (empty name → None) can only be the
        // final block's own terminator.
        val probe = push.read()
        if (probe < 0) done = true
        else {
          push.unread(probe)
          readAtom(s, in, file) match {
            case Some(atom) => atoms += atom
            case None => done = true
          }
        }
      }
    }
    Partition2(key, deletion, atoms.result())
  }

  // ---- decode ----

  private def readAtom(s: Schema, in: DataInputStream,
      file: String): Option[Atom2] = {
    val nameLen = in.readUnsignedShort()
    if (nameLen == 0) return None // end of row
    val nameBytes = new Array[Byte](nameLen)
    in.readFully(nameBytes)
    val mask = in.read()
    if (mask < 0) throw new EOFException(s"$file: atom mask at EOF")
    if ((mask & RangeTombstoneMask) != 0) {
      val endBytes = readShortBytes(in, "tombstone end bound")
      in.readInt() // tombstone localDeletionTime
      val mfda = in.readLong()
      val (sc, sn, seoc) = decodeName(nameBytes, s, file, isBound = true)
      val (ec, en, eeoc) = decodeName(endBytes, s, file, isBound = true)
      require(sn.isEmpty && en.isEmpty,
        s"$file: range-tombstone bound carries a column name")
      Some(Tombstone2(sc, startInclusive = seoc <= 0,
        ec, endInclusive = eeoc >= 0, mfda))
    } else if ((mask & CounterUpdateMask) != 0) {
      throw new UnsupportedOperationException(
        s"$file: counter-update cells (commit-log-only form) in an " +
          "SSTable are outside the decoder subset")
    } else {
      // the 2.x ColumnSerializer dispatches the body on an ELSE-IF
      // chain — counter, then expiration, then deletion — so a mask
      // carrying several bits resolves to the FIRST branch (an
      // EXPIRATION|DELETION cell is an ExpiringColumn; its deletion
      // bit is never consulted), and only that branch's extra fields
      // are on the stream. Reading them by independent bit tests
      // would misparse the bytes that follow.
      val counter = (mask & CounterMask) != 0
      val expiring = !counter && (mask & ExpirationMask) != 0
      val deleted = !counter && !expiring && (mask & DeletionMask) != 0
      val counterTsOfLastDelete =
        if (counter) in.readLong() else LiveMfda
      val (ttl, ldt) =
        if (expiring) {
          val t = in.readInt(); val l = in.readInt()
          (Some(t), Some(l))
        } else (None, None)
      val ts = in.readLong()
      val valueLen = in.readInt()
      if (valueLen < 0) throw new EOFException(
        s"$file: negative cell value length $valueLen")
      val valueBytes = new Array[Byte](valueLen)
      in.readFully(valueBytes)
      val (clustering, colName, _) = decodeName(nameBytes, s, file)
      if (deleted) {
        val delLdt = java.nio.ByteBuffer.wrap(valueBytes).getInt
        Some(Cell2(clustering, colName, ts, None, Some(delLdt), None,
          deleted = true, counter = false))
      } else {
        val tpe =
          if (counter) BigFormat.CounterColumnType
          else if (colName.isEmpty) BigFormat.BytesType // row marker
          else cellValueType(colName, s, file)
        Some(Cell2(clustering, colName, ts, ttl, ldt,
          Some(BigFormat.renderValue(tpe, valueBytes)),
          deleted = false, counter = counter,
          counterTsOfLastDeleteUs = counterTsOfLastDelete))
      }
    }
  }

  def readPartition(s: Schema, in: DataInputStream,
      file: String): Option[Partition2] =
    try readPartition0(s, in, file)
    catch {
      case e: EOFException => throw new EOFException(
        s"$file: truncated/corrupt 2.x SSTable data (${e.getMessage})")
    }

  private def readPartition0(s: Schema, in: DataInputStream,
      file: String): Option[Partition2] = {
    val first = in.read()
    if (first < 0) return None
    val second = in.read()
    if (second < 0) throw new EOFException(s"$file: key length truncated")
    val keyLen = ((first & 0xff) << 8) | (second & 0xff)
    val keyBuf = new Array[Byte](keyLen)
    in.readFully(keyBuf)
    val key = BigFormat.renderValue(s.keyType, keyBuf)
    val ldt = in.readInt()
    val mfda = in.readLong()
    val deletion =
      if (ldt == LiveLdt && mfda == LiveMfda) None else Some(mfda)
    val atoms = Seq.newBuilder[Atom2]
    var done = false
    while (!done) readAtom(s, in, file) match {
      case Some(a) => atoms += a
      case None => done = true
    }
    Some(Partition2(key, deletion, atoms.result()))
  }

  /** Stream every partition; memory bound = one partition's atoms,
    * the reference scanner's own bound (`NoTTLScanner.java:171-219`
    * holds a two-entry lookahead, never the table). */
  def partitions(s: Schema, in: InputStream,
      file: String): Iterator[Partition2] = {
    val d = new DataInputStream(new java.io.BufferedInputStream(in))
    Iterator.continually(readPartition(s, d, file))
      .takeWhile(_.isDefined).map(_.get)
  }

  // =====================================================================
  // Statistics.db — pre-3.0 ("ka"/"la") StatsMetadata
  // =====================================================================

  /** The bounded streaming histogram behind StatsMetadata's
    * `estimatedTombstoneDropTime` — Ben-Haim & Tom-Tov, JMLR 11
    * (2010), "A Streaming Parallel Decision Tree Algorithm": at most
    * `maxBinSize` (point, count) bins; an overflowing insert merges
    * the two CLOSEST points into their weighted centroid (update,
    * the paper's Algorithm 1) — the published procedure Cassandra's
    * `StreamingHistogram` implements and the reference reads back for
    * its tombstone-droppability estimates
    * (`NoTTLReader.getDroppableTombstonesBefore` /
    * `getEstimatedDroppableTombstoneRatio`,
    * `NoTTLReader.java:1922-1930`). Immutable builder — the write
    * side folds one tombstone at a time (fixture-partition sized);
    * the read side only sums. */
  final case class TombstoneHistogram(maxBinSize: Int,
      bins: Vector[(Double, Long)]) {
    def update(p: Double, m: Long = 1L): TombstoneHistogram = {
      val idx = bins.indexWhere(_._1 == p)
      if (idx >= 0)
        copy(bins = bins.updated(idx, (p, bins(idx)._2 + m)))
      else {
        val inserted = (bins :+ ((p, m))).sortBy(_._1)
        if (inserted.size <= maxBinSize) copy(bins = inserted)
        else {
          val i = (0 until inserted.size - 1)
            .minBy(j => inserted(j + 1)._1 - inserted(j)._1)
          val (q1, k1) = inserted(i); val (q2, k2) = inserted(i + 1)
          copy(bins = (inserted.take(i) :+
            (((q1 * k1 + q2 * k2) / (k1 + k2), k1 + k2))) ++
            inserted.drop(i + 2))
        }
      }
    }
    def total: Long = bins.map(_._2).sum
    /** The paper's Algorithm 3 (`sum`): estimated count of points
      * ≤ b — full bins below the straddled pair, half the left bin,
      * and the trapezoid slice toward the interpolated height at b.
      * Clamped EXACTLY at the ends: 0 below the first point, the
      * whole total at/after the last — the two values the
      * droppability projections use, and both are merge-invariant
      * (centroid merging conserves counts). */
    def sum(b: Double): Double =
      if (bins.isEmpty || b < bins.head._1) 0.0
      else if (b >= bins.last._1) total.toDouble
      else {
        val i = bins.lastIndexWhere(_._1 <= b)
        val (pi, mi) = bins(i); val (pn, mn) = bins(i + 1)
        val d = (b - pi) / (pn - pi)
        val mb = mi + (mn - mi) * d
        bins.take(i).map(_._2).sum + mi / 2.0 + (mi + mb) / 2.0 * d
      }
  }
  object TombstoneHistogram {
    /** Cassandra's table-level default bin budget. */
    val MaxBins = 100
    def empty: TombstoneHistogram = TombstoneHistogram(MaxBins, Vector.empty)
    def of(points: IterableOnce[Double]): TombstoneHistogram =
      points.iterator.foldLeft(empty)((h, p) => h.update(p))
  }

  /** The pre-3.0 stats the inventory surfaces: min/max timestamp,
    * max local-deletion second, level and repairedAt — the fields the
    * reference reads off its 2.x readers (`NoTTLReader.java:1937-1945`
    * `getMinTimestamp`/`getMaxTimestamp`, `:1965` `getSSTableLevel`) —
    * plus the two sketches its droppability estimates consume: the
    * tombstone drop-time histogram and the estimated column count
    * (mean × count, Cassandra's `EstimatedHistogram` accounting). */
  case class Stats2x(
      minTimestampUs: Long,
      maxTimestampUs: Long,
      maxLocalDeletionTimeS: Int,
      sstableLevel: Int,
      repairedAt: Long,
      tombstoneDropTime: TombstoneHistogram = TombstoneHistogram.empty,
      /** mean() × count() of the column-count EstimatedHistogram —
        * Cassandra's droppability denominator. Negative = the caller
        * declared none (the legacy one-per-partition fixture shape);
        * 0 is a REAL value (a tombstone-only file has no columns). */
      estColumnsTotal: Long = -1L,
      /** 2.1's min/maxColumnNames — per-clustering-component bounds
        * over the composite cell names (`ColumnNameHelper
        * .minComponents`/`maxComponents`, the era's slice-elision
        * input), short-length-prefixed on disk. Seq[Byte] for
        * structural equality, as the modern twin. */
      minColumnNames: Seq[Seq[Byte]] = Nil,
      maxColumnNames: Seq[Seq[Byte]] = Nil)

  /** `NoTTLReader.getDroppableTombstonesBefore`
    * (`NoTTLReader.java:1927-1930` → StatsMetadata): how many
    * tombstones have a local-deletion time before `gcBeforeS` — the
    * histogram sum at that point. */
  def droppableTombstonesBefore(s: Stats2x, gcBeforeS: Double): Double =
    s.tombstoneDropTime.sum(gcBeforeS)

  /** `NoTTLReader.getEstimatedDroppableTombstoneRatio`
    * (`NoTTLReader.java:1922-1925` → StatsMetadata): droppable
    * tombstones over the estimated column count (mean × count of the
    * column-count EstimatedHistogram), 0 when no columns are
    * estimated — the "how much dead data is in this file" figure a
    * TTL-removal run consults first. */
  def estimatedDroppableTombstoneRatio(s: Stats2x,
      gcBeforeS: Double): Double =
    if (s.estColumnsTotal <= 0L) 0.0
    else droppableTombstonesBefore(s, gcBeforeS) / s.estColumnsTotal

  /** MetadataType ordinals shared by every era's Statistics.db TOC
    * (`o.a.c.io.sstable.metadata.MetadataType`): VALIDATION=0,
    * COMPACTION=1, STATS=2 (3.0 added HEADER=3). The 2.x container is
    * the 3.x one WITHOUT checksums: int component count, then (int
    * type ordinal, int offset) pairs, then each component's bytes. */
  private val ValidationOrdinal = 0
  private val CompactionOrdinal = 1
  private val StatsOrdinal = 2

  /** Serialize a 2.x ("ka") Statistics.db. Component layouts from the
    * PUBLIC Apache Cassandra 2.1 source:
    *   - `StatsMetadata.StatsMetadataSerializer.serialize`: two
    *     EstimatedHistograms (row size, column count), ReplayPosition
    *     (long segmentId + int position), long minTimestamp, long
    *     maxTimestamp, int maxLocalDeletionTime, double
    *     compressionRatio, StreamingHistogram (tombstone drop times),
    *     int sstableLevel, long repairedAt, min/max column-name lists
    *     (int size + short-length-prefixed names), boolean
    *     hasLegacyCounterShards.
    *   - `EstimatedHistogram.HistogramSerializer`: int bucket count,
    *     then (long offset, long bucket) per bucket — a real reader
    *     allocates `size - 1` offsets, so at least one bucket is
    *     written.
    *   - `StreamingHistogram.StreamingHistogramSerializer`: int
    *     maxBinSize, int bin count, (double, long) per bin.
    *   - `ValidationMetadata.ValidationMetadataSerializer`: UTF
    *     partitioner FQCN + double bloomFilterFPChance.
    * A VALIDATION component is written alongside STATS so the TOC has
    * the realistic multi-component shape readers must seek through;
    * with `compaction` (the pre-3.0 `CompactionMetadata` body —
    * ancestor list + HLL++ sketch, [[KeyCardinality.writeComponent2x]])
    * a COMPACTION component joins them in ordinal order. */
  def writeStats2x(s: Stats2x, nPartitions: Long,
      compaction: Option[Array[Byte]] = None,
      partitioner: String =
        "org.apache.cassandra.dht.Murmur3Partitioner"): Array[Byte] = {
    def histogram(out: DataOutputStream): Unit = {
      out.writeInt(1)
      out.writeLong(1L)          // single bucket offset
      out.writeLong(nPartitions) // everything in one bucket
    }
    // estimatedColumnCount: one bucket whose offset × count — the
    // total Cassandra's mean()×count() accounting reconstructs —
    // equals the declared column total exactly (a zero-count bucket
    // for the genuinely column-free tombstone-only file); the legacy
    // one-per-partition shape when the caller declared none
    def columnHistogram(out: DataOutputStream): Unit = {
      out.writeInt(1)
      if (s.estColumnsTotal < 0) {
        out.writeLong(1L); out.writeLong(nPartitions)
      } else if (s.estColumnsTotal == 0) {
        out.writeLong(1L); out.writeLong(0L)
      } else {
        out.writeLong(s.estColumnsTotal); out.writeLong(1L)
      }
    }
    val validation = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeUTF(partitioner)
      out.writeDouble(0.01)
      out.flush(); bos.toByteArray
    }
    val stats = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      histogram(out)               // estimatedRowSize
      columnHistogram(out)         // estimatedColumnCount
      out.writeLong(0L); out.writeInt(0) // ReplayPosition
      out.writeLong(s.minTimestampUs)
      out.writeLong(s.maxTimestampUs)
      out.writeInt(s.maxLocalDeletionTimeS)
      out.writeDouble(-1.0)        // NO_COMPRESSION_RATIO sentinel
      // the tombstone drop-time StreamingHistogram, real bins
      out.writeInt(s.tombstoneDropTime.maxBinSize)
      out.writeInt(s.tombstoneDropTime.bins.size)
      s.tombstoneDropTime.bins.foreach { case (p, m) =>
        out.writeDouble(p); out.writeLong(m)
      }
      out.writeInt(s.sstableLevel)
      out.writeLong(s.repairedAt)
      // min/max column-name lists: int size, then each component
      // short-length-prefixed (the 2.1 serializer's wire shape)
      def writeNameList(vs: Seq[Seq[Byte]]): Unit = {
        out.writeInt(vs.size)
        vs.foreach { v =>
          require(v.length <= 0xFFFF,
            s"2.x column-name bound of ${v.length} bytes exceeds " +
              "the short-length-prefixed wire form")
          out.writeShort(v.length)
          out.write(v.toArray)
        }
      }
      writeNameList(s.minColumnNames)
      writeNameList(s.maxColumnNames)
      out.writeBoolean(false)      // hasLegacyCounterShards
      out.flush(); bos.toByteArray
    }
    val components: Seq[(Int, Array[Byte])] =
      Seq(ValidationOrdinal -> validation) ++
        compaction.map(CompactionOrdinal -> _).toSeq :+
        (StatsOrdinal -> stats)
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(components.size)
    var offset = 4 + components.size * 8
    components.foreach { case (ordinal, bytes) =>
      out.writeInt(ordinal); out.writeInt(offset)
      offset += bytes.length
    }
    components.foreach { case (_, bytes) => out.write(bytes) }
    out.flush()
    bos.toByteArray
  }

  /** The COMPACTION component's bytes out of a 2.x Statistics.db
    * (ancestors + sketch — framing parsed by
    * [[KeyCardinality.readComponent]] with `oldEra = true`); None
    * when the TOC has no such entry. The component's extent runs to
    * the next TOC offset (components are laid out in TOC order), or
    * to EOF when it is last. */
  def readCompaction2x(bytes: Array[Byte], file: String)
      : Option[Array[Byte]] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val count = in.readInt()
    require(count >= 0 && count <= 16,
      s"$file: absurd 2.x Statistics.db component count $count")
    val toc = (0 until count).map(_ => (in.readInt(), in.readInt()))
    toc.find(_._1 == CompactionOrdinal).map { case (_, offset) =>
      require(offset >= 0 && offset <= bytes.length,
        s"$file: 2.x COMPACTION offset $offset out of range")
      val end = toc.map(_._2).filter(_ > offset)
        .minOption.getOrElse(bytes.length)
      java.util.Arrays.copyOfRange(bytes, offset, end)
    }
  }

  /** Parse a 2.x Statistics.db far enough to return [[Stats2x]]: walk
    * the un-checksummed TOC to the STATS component, skip the two
    * EstimatedHistograms and the ReplayPosition by their own framing,
    * then read the scalar fields (see [[writeStats2x]] for the layout
    * sources). Fails loudly when no STATS component exists. */
  def readStats2x(bytes: Array[Byte], file: String): Stats2x = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val count = in.readInt()
    require(count >= 0 && count <= 16,
      s"$file: absurd 2.x Statistics.db component count $count")
    var statsOffset = -1
    (0 until count).foreach { _ =>
      val ordinal = in.readInt()
      val offset = in.readInt()
      if (ordinal == StatsOrdinal) statsOffset = offset
    }
    require(statsOffset >= 0 && statsOffset <= bytes.length,
      s"$file: 2.x Statistics.db carries no STATS component")
    val s = new DataInputStream(new java.io.ByteArrayInputStream(
      bytes, statsOffset, bytes.length - statsOffset))
    def skipFully(want: Long, what: String): Unit = {
      var skipped = 0L
      while (skipped < want) {
        val k = s.skip(want - skipped)
        // ByteArrayInputStream.skip returns 0 at end-of-stream: a
        // truncated component must fail loudly, never spin
        if (k <= 0) throw new EOFException(
          s"$file: 2.x Statistics.db truncated inside $what")
        skipped += k
      }
    }
    def skipHistogram(): Unit = {
      val n = s.readInt()
      require(n >= 0, s"$file: negative 2.x histogram size $n")
      skipFully(16L * n, "an EstimatedHistogram")
    }
    // EstimatedHistogram in Cassandra's LITERAL mean()×count()
    // accounting — mean() is ⌈Σ offset×bucket / Σ bucket⌉, so a real
    // multi-bucket file's reconstruction carries the same ceiling the
    // reference's ratio denominator does (single-bucket fixture files
    // reconstruct exactly); an empty/zero-count histogram totals 0
    def readHistogramTotal(): Long = {
      val n = s.readInt()
      require(n >= 0 && n <= (1 << 20),
        s"$file: absurd 2.x histogram size $n")
      var total = 0L
      var count = 0L
      var i = 0
      while (i < n) {
        val offset = s.readLong(); val bucket = s.readLong()
        total += offset * bucket
        count += bucket
        i += 1
      }
      if (count == 0L) 0L
      else {
        val mean = (total + count - 1) / count // ceil, positive domain
        mean * count
      }
    }
    skipHistogram()              // estimatedRowSize
    val estColumns = readHistogramTotal() // estimatedColumnCount
    s.readLong(); s.readInt()    // ReplayPosition
    val minTs = s.readLong()
    val maxTs = s.readLong()
    val maxLdt = s.readInt()
    s.readDouble()               // compressionRatio
    val maxBinSize = s.readInt() // StreamingHistogram
    val nBins = s.readInt()
    require(nBins >= 0 && nBins <= (1 << 20),
      s"$file: absurd 2.x streaming-histogram bin count $nBins")
    val bins = Vector.fill(nBins)((s.readDouble(), s.readLong()))
    val level = s.readInt()
    val repairedAt = s.readLong()
    val Seq(minNames, maxNames) = Seq.fill(2) {
      val n = s.readInt()
      require(n >= 0 && n <= (1 << 16),
        s"$file: absurd 2.x column-name list size $n")
      Vector.fill(n) {
        val len = s.readUnsignedShort()
        val v = new Array[Byte](len)
        s.readFully(v)
        v.toIndexedSeq: Seq[Byte]
      }
    }
    Stats2x(minTs, maxTs, maxLdt, level, repairedAt,
      TombstoneHistogram(math.max(maxBinSize, 1), bins), estColumns,
      minColumnNames = minNames, maxColumnNames = maxNames)
  }
}
