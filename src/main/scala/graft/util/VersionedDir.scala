package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** One directory of immutable versions, each committed by ONE meta
  * rename — the durable protocol every rewritable structure in this
  * library commits through (the query cache's entries, the dedup, IVF
  * and cluster indexes, the BM25 batch set):
  *
  * {{{
  *   <dir>/data-<v>-<uuid>/   a version's data, UUID-suffixed per writer
  *   <dir>/meta-<v>.json      the commit point: names the data dirs
  * }}}
  *
  * A writer fills a fresh data dir, then writes the meta to a per-writer
  * temp name and renames it to `meta-<v>.json`. A reader lists the
  * directory once, reads the newest meta and reads only the data dirs it
  * names, so it sees the previous complete version or the new one, and
  * never writes. A crash before the rename leaves an orphan data dir (or
  * temp file) no meta names; a crash after it leaves the new version.
  * Superseded versions are not deleted at commit: [[cleanup]] drops them
  * once they are `keepVersions` behind the head AND were superseded more
  * than `graceMs` ago (a reader that resolved them may still be
  * scanning); every writer of the structure runs it, and it reaps
  * orphans and abandoned temp files. A version whose data dir ends in
  * `-tomb` is a tombstone: the structure is dead, and everything below
  * it ages out.
  *
  * What a meta holds is the structure's business: `dataDirsOf` reads
  * the data-dir list out of one, which is all cleanup needs. Structures
  * without a payload of their own use [[VersionedDir.Head]].
  */
final class VersionedDir(val fs: FileSystem, val dir: Path,
    dataDirsOf: Path => Seq[String],
    keepVersions: Int = 2,
    graceMs: Long = VersionedDir.GraceMs,
    abandonedMs: Long = VersionedDir.AbandonedMs) {
  import VersionedDir._

  /** the newest committed meta, None when there is none */
  def latest: Option[Path] = {
    if (!fs.exists(dir)) return None
    val versions = fs.listStatus(dir).flatMap(s => metaVersion(s.getPath.getName))
    if (versions.isEmpty) None
    else Some(new Path(dir, s"meta-${versions.max}.json"))
  }

  /** The step that advances the head past version `head`, to a version
    * of at least `atLeast`. [[Next.dataDir]] names the new data dirs:
    * two writers that computed the same version never share one (one
    * meta rename wins; the loser's dir becomes an orphan cleanup reaps).
    * [[Next.commit]] renames the meta into place and cleans up. */
  def next(head: Option[Long], atLeast: Long = 0L): Next =
    new Next(math.max(atLeast, head.map(_ + 1).getOrElse(0L)))

  final class Next(val version: Long) {
    def dataDir(tag: String = ""): String = s"data-$version-$tag${nonce()}"

    /** a tombstone's data dir: names no files */
    def tombstone: String = dataDir() + "-tomb"

    def commit(meta: Array[Byte]): Unit = {
      write(s"meta-$version.json", meta)
      try cleanup() catch { case _: Exception => () }
    }
  }

  /** Atomically publish the file `name` in the directory: write a
    * per-writer temp file, then rename it. Two writers of the same name
    * must not share a temp path — one writer's rename would steal the
    * other's in-flight file. There is NO delete before the rename: a
    * target can only pre-exist when a concurrent writer computed the
    * same version, and deleting it first opens a window in which a
    * reader finds no meta. POSIX rename atomically replaces; a file
    * system that refuses to clobber fails the rename, and the other
    * writer's complete file is accepted. */
  def write(name: String, bytes: Array[Byte]): Unit = {
    val dot = name.lastIndexOf('.')
    val tmp = new Path(dir,
      s".${name.substring(0, dot)}-${nonce()}${name.substring(dot)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val target = new Path(dir, name)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      require(fs.exists(target), s"atomic write of $target failed")
    }
  }

  /** delete superseded and orphaned versions past the retention window */
  def cleanup(): Unit = {
    val entries = fs.listStatus(dir)
    val now = System.currentTimeMillis()
    // every deletion below needs an entry older than graceMs (metas, data
    // dirs) or abandonedMs (temp files): with none that old — a dashboard
    // refreshing every few seconds inside the grace window — stop here,
    // before reading any meta
    if (entries.forall(e =>
        now - e.getModificationTime <= math.min(graceMs, abandonedMs))) return
    val metas = entries
      .flatMap(e => metaVersion(e.getPath.getName).map(v => (v, e)))
      .sortBy(-_._1)
    // ONE read per meta file (on an object store each read is a remote
    // GET; the orphan pass below reuses this map instead of re-reading).
    // A meta references its WHOLE data-dir set: chained versions share
    // data dirs with their ancestors, so liveness must be judged per DIR
    // across all kept metas, never per meta.
    val metaDataDirs: Map[Long, Seq[String]] = metas.flatMap { case (v, e) =>
      try Some(v -> dataDirsOf(e.getPath))
      catch { case _: Exception => None }
    }.toMap
    // under a tombstone head the structure is dead: no reader will
    // resolve an older version on purpose, so only the tombstone itself
    // is kept and everything below it ages out after the grace window
    val headIsTomb = metas.headOption
      .flatMap(m => metaDataDirs.get(m._1)).exists(isTomb)
    val keepN = if (headIsTomb) 1 else math.max(1, keepVersions)
    val liveDataDirs: Set[String] =
      metas.take(keepN).flatMap(m => metaDataDirs.getOrElse(m._1, Nil)).toSet
    val referencedDirs: Set[String] = metaDataDirs.values.flatten.toSet
    val cutoff = now - graceMs
    // the grace window runs from when a version was SUPERSEDED (its
    // successor's commit), not from its own commit: a reader may have
    // resolved it as the head until that moment
    metas.zip(metas.drop(1)).drop(keepN - 1).foreach { case (succ, (v, e)) =>
      if (succ._2.getModificationTime < cutoff) {
        try {
          metaDataDirs.getOrElse(v, Nil).filterNot(liveDataDirs.contains)
            .foreach(d => fs.delete(new Path(dir, d), true))
          fs.delete(e.getPath, false)
        } catch { case _: Exception => () }
      }
    }
    // Orphaned data dirs: not referenced by ANY meta and past the grace
    // period. A writer's meta lands only AFTER its data is written, so an
    // unreferenced dir may be an IN-FLIGHT write, not garbage — only
    // reap it once its write visibly completed (_SUCCESS present: a
    // loser of a concurrent same-version race) or after `abandonedMs`
    // (crashed writer).
    entries.filter(e => e.isDirectory && e.getPath.getName.startsWith("data-"))
      .foreach { e =>
        val name = e.getPath.getName
        val age = now - e.getModificationTime
        lazy val completed =
          try fs.exists(new Path(e.getPath, "_SUCCESS"))
          catch { case _: Exception => false }
        if (!referencedDirs.contains(name) && age > graceMs &&
            (completed || age > abandonedMs))
          try fs.delete(e.getPath, true) catch { case _: Exception => () }
      }
    // temp files of [[write]] left by crashed writers
    entries.filter(e => !e.isDirectory && e.getPath.getName.startsWith(".") &&
        e.getPath.getName.endsWith(".tmp"))
      .foreach { e =>
        if (now - e.getModificationTime > abandonedMs)
          try fs.delete(e.getPath, false) catch { case _: Exception => () }
      }
  }

  // ---- the plain head of structures without a payload of their own

  /** the newest committed [[Head]], None when there is none */
  def head: Option[Head] = latest.map(p => readHead(fs, p))

  /** commit `dataDirs` as `next`'s version */
  def commit(next: Next, dataDirs: Seq[String],
      bucketBy: Seq[String] = Nil, buckets: Int = 0): Head = {
    next.commit(Json.writeValueAsBytes(Json.createObjectNode()
      .put("dataDirs", dataDirs.mkString("\n"))
      .put("bucketBy", bucketBy.mkString(","))
      .put("buckets", buckets)))
    Head(next.version, dataDirs, bucketBy, buckets)
  }

  /** the full path of a data dir (or a table inside one) of this dir */
  def path(dataDir: String): String = new Path(dir, dataDir).toString
}

object VersionedDir {
  /** the query cache's retention defaults, shared by every structure */
  val GraceMs: Long = 10L * 60 * 1000
  val AbandonedMs: Long = 24L * 3600 * 1000

  private def nonce(): String = java.util.UUID.randomUUID.toString.take(8)

  /** `v` of a committed meta's file name `meta-<v>.json` */
  private def metaVersion(name: String): Option[Long] =
    if (name.startsWith("meta-") && name.endsWith(".json"))
      name.stripPrefix("meta-").stripSuffix(".json").toLongOption
    else None

  /** a version whose data dir ends in `-tomb` marks a dead structure */
  def isTomb(dataDirs: Seq[String]): Boolean = dataDirs.exists(_.endsWith("-tomb"))

  /** The head of a structure without a payload of its own: the data
    * dirs the version reads, and the columns and bucket count its table
    * is bucketed on (empty: plain parquet). The bucketing rides in the
    * meta, so a session that never saw the structure registers its
    * catalog table over exactly the committed dir. */
  final case class Head(version: Long, dataDirs: Seq[String],
      bucketBy: Seq[String], buckets: Int) {
    def tombstone: Boolean = isTomb(dataDirs)
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def readHead(fs: FileSystem, p: Path): Head = {
    val in = fs.open(p)
    val o = try Json.readTree(in) finally in.close()
    def lines(name: String, sep: Char): Seq[String] =
      Option(o.get(name)).toSeq.flatMap(_.asText.split(sep)).filter(_.nonEmpty)
    Head(metaVersion(p.getName).get, lines("dataDirs", '\n'),
      lines("bucketBy", ','), Option(o.get("buckets")).fold(0)(_.asInt))
  }

  /** a plain-head directory: the dirs of its indexes, BM25 batch sets
    * and snapshots. Nothing reads a superseded plain version on purpose,
    * so only the head is kept past the grace window. */
  def apply(fs: FileSystem, dir: Path): VersionedDir =
    new VersionedDir(fs, dir, p => readHead(fs, p).dataDirs, keepVersions = 1)
}
