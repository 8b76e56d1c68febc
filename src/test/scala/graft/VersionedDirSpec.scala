package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.VersionedDir

/** The retention rule of [[VersionedDir.cleanup]] on a plain-head
  * directory, with commit times set by hand (no Spark). */
class VersionedDirSpec extends AnyFunSuite {

  private val fs: FileSystem =
    FileSystem.getLocal(new Configuration()).getRawFileSystem

  test("a superseded plain version ages out the grace window after it " +
      "was superseded, not after its own commit") {
    val dir = new Path(java.nio.file.Files.createTempDirectory("vdir").toString)
    val vd = VersionedDir(fs, dir)
    def commit(head: Option[Long]): String = {
      val next = vd.next(head)
      val d = next.dataDir()
      fs.mkdirs(new Path(dir, d))
      vd.commit(next, Seq(d))
      d
    }
    val d0 = commit(None)
    val d1 = commit(Some(0L))
    val now = System.currentTimeMillis()
    def age(name: String, ms: Long): Unit =
      fs.setTimes(new Path(dir, name), now - ms, -1L)
    def names: Set[String] = fs.listStatus(dir).map(_.getPath.getName).toSet
    val hour = 3600L * 1000
    // v0 committed two hours ago, superseded by v1 a minute ago: a reader
    // that resolved v0 just before may still be scanning it
    Seq(d0, "meta-0.json", d1).foreach(age(_, 2 * hour))
    age("meta-1.json", 60L * 1000)
    vd.cleanup()
    assert(Set(d0, "meta-0.json", d1, "meta-1.json").subsetOf(names))
    // superseded past the window: only the head (keep 1) stays
    age("meta-1.json", hour)
    vd.cleanup()
    assert(names == Set(d1, "meta-1.json"))
    assert(vd.head.map(_.dataDirs) == Some(Seq(d1)))
  }
}
