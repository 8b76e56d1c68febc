package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Exclusive writer lease for durable index directories.
  *
  * Every durable index in this library (dedup key/band/vector indexes,
  * cluster labels, the BM25 inverted index) documents a SINGLE-WRITER
  * contract: mutations are appends into the head version plus occasional
  * rewrites committed as new versions ([[VersionedDir]]), and two
  * concurrent writers could interleave appends with a rewrite and lose
  * an append. This lease makes the contract
  * ENFORCED instead of documented: the second writer fails fast with
  * [[ConcurrentWriterException]] rather than corrupting state.
  *
  * Mechanics: `<dir>.writer.lease` — a SIBLING of the index dir, never
  * inside it, so nothing that lists or reaps the index sees it — is
  * created with `FileSystem.create(p, overwrite = false)`, an atomic
  * create-if-absent on HDFS-compatible filesystems (local, HDFS; object
  * stores without atomic create fall back to best-effort, the same caveat
  * every Hadoop lock file carries). The lease holds a unique holder id
  * (caller tag + nonce) and a wall-clock stamp, and is RENEWED while
  * held: a daemon heartbeat bumps the lease mtime every `staleMs / 4`,
  * so a legitimate write or compaction that outlasts the horizon keeps
  * its exclusivity instead of getting "broken" mid-hold. Only a lease
  * whose holder stopped heartbeating for `staleMs` is presumed crashed.
  *
  * Breaking a stale lease is rename-based, not delete-based: the breaker
  * atomically renames the lease aside (exactly one concurrent breaker
  * wins the rename), then RE-CHECKS the captured file's age — if the
  * rename actually captured a fresh lease (one a faster breaker
  * re-created between this breaker's age check and its rename), the
  * captured file is renamed back and this breaker fails fast. A
  * delete-based break cannot detect that race: the delete destroys the
  * evidence along with the fresh lease.
  *
  * Release verifies ownership: the lease is deleted only if it still
  * carries THIS holder's id, so a holder that was (wrongly or rightly)
  * broken and superseded cannot delete the successor's lease on exit.
  *
  * Readers never take the lease — an index read resolves each part's
  * committed head once and reads only the data it names.
  */
object WriterLease {

  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** default staleness horizon: long enough to absorb heartbeat jitter
    * (the holder renews 4× per horizon), short enough that a crashed
    * writer doesn't wedge the pipeline */
  val DefaultStaleMs: Long = 30L * 60L * 1000L

  private def leasePath(dir: String) =
    new Path(dir.stripSuffix("/") + ".writer.lease")

  private def tryCreate(fs: FileSystem, p: Path, holderId: String): Boolean =
    try {
      val out = fs.create(p, false)
      try out.write(s"$holderId@${System.currentTimeMillis()}\n".getBytes("UTF-8"))
      finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  private def readContent(fs: FileSystem, p: Path): Option[String] =
    try Some(new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(p)),
      "UTF-8").trim)
    catch { case _: java.io.IOException => None }

  /** age since last heartbeat (mtime renewal counts), MaxValue if gone */
  private def ageMs(fs: FileSystem, p: Path): Long =
    try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
    catch { case _: java.io.IOException => Long.MaxValue }

  /** Run `f` holding the exclusive writer lease on `dir`; release on every
    * exit path. Throws [[ConcurrentWriterException]] when another live
    * writer holds it. */
  def withLease[A](spark: SparkSession, dir: String, tag: String,
      staleMs: Long = DefaultStaleMs)(f: => A): A = {
    val p = leasePath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    if (parent != null) fs.mkdirs(parent) // first append: parent may not exist
    // nonce makes the id unique per acquisition, so release/heartbeat can
    // verify THIS hold still owns the file (a bare tag would collide with
    // a retry of the same operation)
    val holderId =
      s"$tag#${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
    def owned(): Boolean =
      readContent(fs, p).exists(_.startsWith(holderId + "@"))
    var acquired = tryCreate(fs, p, holderId)
    if (!acquired && ageMs(fs, p) > staleMs) {
      // presumed crashed holder (no heartbeat for a full horizon): break
      // via ATOMIC RENAME so a concurrent breaker race is detectable —
      // exactly one rename captures the file; the capture is then
      // re-verified before anything is destroyed
      val captured = new Path(
        p.toString + ".breaking." +
          java.util.UUID.randomUUID().toString.takeWhile(_ != '-'))
      val renamed = try fs.rename(p, captured)
      catch { case _: java.io.IOException => false }
      if (renamed) {
        if (ageMs(fs, captured) > staleMs) {
          // genuinely stale: discard it and take the lease
          try fs.delete(captured, false) catch { case _: java.io.IOException => () }
          acquired = tryCreate(fs, p, holderId)
        } else {
          // the rename captured a FRESH lease — a faster breaker already
          // broke the stale one and re-created between our age check and
          // our rename. Undo: put the live lease back and fail fast. If
          // the rename-back itself loses (a THIRD writer's tryCreate
          // landed while the lease path was vacant), do NOT delete the
          // captured file: it is the live faster-breaker's lease, and
          // destroying it would let that holder keep running `f` while
          // believing it is exclusive. Park it where it is — the unique
          // `.breaking.` path — and log; the faster-breaker's heartbeat
          // notices the loss (it re-verifies ownership each beat and
          // escalates, below) so at most one writer proceeds.
          val back = try fs.rename(captured, p)
          catch { case _: java.io.IOException => false }
          if (!back) System.err.println(
            s"[graft] WriterLease: could not restore captured fresh lease " +
              s"$captured to $p (a third writer re-created the lease); " +
              "leaving it parked — its holder's heartbeat will detect the " +
              "loss and abort")
        }
      } else {
        // another breaker won the rename; the atomic create resolves the
        // remaining race cleanly — at most one of us acquires
        acquired = tryCreate(fs, p, holderId)
      }
    }
    if (!acquired) {
      val holder = readContent(fs, p).getOrElse("<unreadable>")
      throw new ConcurrentWriterException(
        s"index $dir already has a live writer ($holder); these indexes " +
          "are single-writer — serialize appends, or delete the lease " +
          "file if the holder is known dead")
    }
    // heartbeat: renew the lease mtime 4× per horizon while `f` runs, so
    // a large compaction exceeding staleMs keeps its exclusivity. The
    // renewal re-verifies ownership first — if the lease was broken and
    // reacquired by someone else despite the heartbeat (e.g. a long GC
    // pause past the horizon), bumping the successor's mtime would extend
    // a lease we don't hold. Ownership loss mid-hold ESCALATES: the beat
    // stops renewing, logs loudly, and withLease throws after `f` returns
    // — the caller must not treat a write that lost exclusivity mid-way
    // as safely committed. The interval is clamped to staleMs/2 so a tiny
    // horizon (tests use sub-second ones) still renews inside it.
    val stop = new java.util.concurrent.CountDownLatch(1)
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val beat = new Thread(() => {
      val interval =
        math.max(20L, math.min(math.max(250L, staleMs / 4), staleMs / 2))
      while (!lost.get &&
          !stop.await(interval, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try {
          readContent(fs, p) match {
            case Some(c) if c.startsWith(holderId + "@") =>
              fs.setTimes(p, System.currentTimeMillis(), -1)
            case Some(other) =>
              // a different holder's content is DEFINITIVE loss — a
              // breaker judged us stale and a successor took over
              lost.set(true)
              System.err.println(
                s"[graft] WriterLease LOST mid-hold on $dir (tag=$tag): " +
                  s"lease now held by $other; this writer's exclusivity " +
                  "is void and withLease will throw on completion")
            case None =>
              // unreadable OR missing. A transient read error must not
              // abort a long compaction — only confirmed ABSENCE counts.
              // A vacant lease while we believe we hold it means a
              // breaker judged us stale: either a usurper already came
              // AND WENT (re-creating our id here would mask that two
              // writers mutated the index), or a breaker is mid-capture
              // right now. Both void our exclusivity — escalate, never
              // silently re-create.
              val present =
                try fs.exists(p) catch { case _: java.io.IOException => true }
              if (!present) {
                lost.set(true)
                System.err.println(
                  s"[graft] WriterLease LOST mid-hold on $dir (tag=$tag): " +
                    "lease file vanished while held — a breaker judged " +
                    "this holder stale; withLease will throw on completion")
              }
          }
        } catch { case _: java.io.IOException => () }
      }
    }, s"writer-lease-heartbeat-$tag")
    beat.setDaemon(true)
    beat.start()
    try {
      val result = f
      if (lost.get)
        throw new ConcurrentWriterException(
          s"writer lease on $dir was broken mid-hold (tag=$tag): another " +
            "writer may have run concurrently; treat this write as suspect")
      result
    } finally {
      stop.countDown()
      beat.join(5000)
      // delete only if still ours: a superseded holder must not delete
      // the successor's lease on exit
      try { if (owned()) fs.delete(p, false) } catch { case _: Throwable => () }
    }
  }
}
