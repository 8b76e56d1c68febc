package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree hygiene: no control bytes hiding in .scala files, the
  * cache layer reporting through one channel, and durable structures
  * committing through one helper.
  *
  * A raw NUL (or other C0 control byte) inside a source file makes git
  * treat the file as BINARY — diffs collapse to "Bin X -> Y bytes" and the
  * change becomes invisible to textual review. It also silently diverges
  * from what the rendered source appears to say (a NUL renders like a
  * space in most viewers). This spec walks every tracked source file and
  * fails loudly on any byte < 0x09, 0x0B-0x0C handled, 0x0E-0x1F, or 0x7F
  * (TAB, LF, CR allowed).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def sourceFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(_.toString.endsWith(".scala"))
      .toSeq

  test("no raw control bytes in any .scala source file") {
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
      .filter(Files.isDirectory(_))
    assert(roots.nonEmpty, "expected to run from the repo root")
    val allowed = Set[Byte](9, 10, 13) // TAB LF CR
    val offenders = for {
      root <- roots
      p <- sourceFiles(root)
      bytes = Files.readAllBytes(p)
      i <- bytes.indices
      b = bytes(i)
      if (b >= 0 && b < 32 && !allowed(b)) || b == 127
    } yield s"$p: byte 0x%02x at offset $i".format(b)
    assert(offenders.isEmpty,
      "control bytes found (these make git diff the file as binary):\n" +
        offenders.take(20).mkString("\n"))
  }

  test("the cache layer neither prints nor reads the environment") {
    // it reports through graft.log.CacheEvent only, and is configured
    // through QueryCacheConfig only
    val dirs = Seq("exec", "cache", "plans", "ext", "rewrite", "analysis")
      .map(d => Paths.get(s"src/main/scala/graft/$d"))
    assert(dirs.forall(Files.isDirectory(_)), "expected to run from the repo root")
    val banned = """System\.(err|out)|Console\.(err|out)|\bprintln\(|sys\.env|System\.getenv""".r
    val offenders = for {
      p <- dirs.flatMap(sourceFiles)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("durable structures commit through VersionedDir: no other rename") {
    // a rename is how a durable structure publishes a version; every
    // structure in the cache and operators layers commits through
    // graft.util.VersionedDir. The one exception is IVF's durable model
    // cache: content-keyed and best-effort, a lost file there costs a
    // re-fit, never a wrong answer.
    val dirs = Seq("cache", "operators")
      .map(d => Paths.get(s"src/main/scala/graft/$d"))
    assert(dirs.forall(Files.isDirectory(_)), "expected to run from the repo root")
    val allowed = Set("src/main/scala/graft/operators/IVF.scala: " +
      "if (!f.rename(tmp, dest)) f.delete(tmp, false)")
    val offenders = for {
      p <- dirs.flatMap(sourceFiles)
      line <- Files.readAllLines(p).asScala
      if """\brename\(""".r.findFirstIn(line).isDefined
      entry = s"$p: ${line.trim}"
      if !allowed(entry)
    } yield entry
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
