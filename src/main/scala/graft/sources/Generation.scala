package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** One SSTable generation as the directory listing shows it — the
  * role of Cassandra's `Descriptor.fromFilename` plus its component
  * set, decided in ONE place for the connector's planner and every
  * sidecar tool: the Data.db path, and each listed sibling's length
  * keyed by component suffix (`"Data.db"`, `"Index.db"`,
  * `"Digest.crc32"`, …). Public (not plain `private`): it rides
  * Datasets, and a non-public case class makes whole-stage codegen
  * fall back to interpreted execution. */
final case class Generation(dataPath: String, components: Map[String, Long]) {
  /** Path prefix every component of the generation shares. */
  def base: String = dataPath.stripSuffix("-Data.db")
  def version: String =
    Generation.versionOf(dataPath.substring(dataPath.lastIndexOf('/') + 1))
  /** A pre-3.0 ("ka"/"la"/"jb"…) generation: the 2.x storage engine
    * and component layouts. */
  def oldEra: Boolean = Generation.isPre30(version)
  /** `dir/name` — the identity the connector frames and the
    * inventory rows carry. */
  def sstable: String = dataPath.split('/').takeRight(2).mkString("/")
  def has(c: String): Boolean = components.contains(c)
  def path(c: String): String = s"$base-$c"
  def len(c: String): Long = components(c)
  /** Component `c` whole, through the guarded sidecar read. */
  def read(fs: FileSystem, c: String): Array[Byte] =
    Generation.readAll(fs, path(c), len(c))
}

object Generation {

  /** Every generation under `root`: ONE recursive listing (catalog-
    * sized — no per-file exists()/status RPCs, and the lengths ride
    * along so tasks need none either), grouped by the name before the
    * last `-`. Only groups holding a Data.db are generations, so a
    * staging directory's bare `Data.db` never is. `.`-hidden names
    * (the local filesystem's `.crc` checksums) are skipped. Ordered by
    * [[generationSortKey]]. */
  def list(root: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[Generation] = {
    val fs = FileSystem.get(java.net.URI.create(root), conf)
    val byBase = scala.collection.mutable.Map
      .empty[String, Map[String, Long]]
    val it = fs.listFiles(new HPath(root), true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      val dash = name.lastIndexOf('-')
      if (f.isFile && !name.startsWith(".") && dash > 0) {
        val p = f.getPath.toString
        val base = p.substring(0, p.length - (name.length - dash))
        byBase(base) = byBase.getOrElse(base, Map.empty[String, Long])
          .updated(name.substring(dash + 1), f.getLen)
      }
    }
    byBase.iterator
      .collect { case (base, comps) if comps.contains("Data.db") =>
        Generation(s"$base-Data.db", comps) }
      .toSeq.sortBy(g => generationSortKey(g.dataPath))
  }

  /** Format-version token of an SSTable filename. New-style (2.2+)
    * names are `<version>-<gen>-big-<Component>`; OLD-style (≤2.1,
    * the "ka"/"jb" eras) are `<ks>-<cf>-<version>-<gen>-<Component>`
    * with the version third-from-last — real 2.1 files in the wild
    * carry their keyspace/table in the name, so taking the first
    * token would misread the era. (A keyspace literally named "big"
    * defeats the discriminator; Cassandra's own Descriptor has the
    * same new-style marker.) */
  def versionOf(name: String): String = {
    val parts = name.split('-')
    if (parts.contains("big") || parts.length < 3) parts.head
    else parts(parts.length - 3)
  }

  /** Whether a format version predates 3.0 ("ma"). */
  def isPre30(version: String): Boolean =
    version.nonEmpty && version.charAt(0) < 'm'

  /** Listing order for SSTable paths: by directory, then NUMERIC
    * generation, then name. Plain lexicographic order breaks the
    * streaming source's "new files land strictly after seen names"
    * contract the moment a directory reaches generation 10
    * (`nb-10-big-Data.db` sorts before `nb-2-big-Data.db` as strings),
    * which would shift positional offsets — re-reading processed files
    * and skipping the new one. Generation-numeric order restores it:
    * a compaction feed's generations are monotonically increasing, so
    * every new file sorts strictly after all seen ones. */
  def generationSortKey(path: String): (String, Long, String) = {
    val slash = path.lastIndexOf('/')
    val dir = if (slash < 0) "" else path.substring(0, slash)
    val name = path.substring(slash + 1)
    val gen = "\\d+".r.findFirstIn(name).map(_.toLong).getOrElse(Long.MaxValue)
    (dir, gen, name)
  }

  /** A `len`-byte sidecar whole into memory — the ONE whole-component
    * read of the connector and the sidecar tools. Sidecars are
    * KB-to-MB by construction; a length past Int.MaxValue is a corrupt
    * or foreign file and refuses naming it, rather than failing the
    * allocation anonymously or silently truncating it. */
  def readAll(fs: FileSystem, path: String, len: Long): Array[Byte] = {
    require(len <= Int.MaxValue,
      s"$path: sidecar too large to materialize ($len bytes)")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(new HPath(path))
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Summary.db bytes parsed for the era: the 2.1 `IndexSummary`
    * layout ([[SSTableComponents.readSummary2x]]) before 3.0, the 3.0
    * serializer after. Callers choose their own posture on a
    * malformed summary. */
  def readSummary(bytes: Array[Byte],
      oldEra: Boolean): SSTableComponents.Summary =
    if (oldEra) SSTableComponents.readSummary2x(bytes)
    else SSTableComponents.readSummary(bytes)
}
