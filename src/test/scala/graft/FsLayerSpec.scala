package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The index commit protocol has one filesystem layer, graft.util.FsUtil.
  * `java.io.File` and `java.nio.file` read a `file:` URI as a relative
  * path (markers land in a stray `./file:` dir and resume never sees them),
  * so they must not reappear in the packages that read or write index
  * roots, and Hadoop `FileSystem` is resolved in FsUtil alone. The
  * protocol commits by creating a manifest, never by a rename, which
  * object stores do not make atomic.
  */
class FsLayerSpec extends AnyFunSuite {

  private val Packages = Seq("index", "engine", "pipeline", "streaming", "util")
  private val LocalFsApi = """java\.io\.File\b|java\.nio\.file|java\.io\.\{[^}]*\bFile\b""".r
  private val HadoopFs = """getFileSystem|FileSystem\.get""".r
  private val Rename = """rename\(""".r

  private def sources(pkgs: Seq[String]): Seq[Path] = pkgs.flatMap { pkg =>
    val dir = Paths.get(s"src/main/scala/graft/$pkg")
    assert(Files.isDirectory(dir), s"missing $dir")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def lines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex

  test("no java.io.File or java.nio.file in the index-root packages; " +
       "Hadoop FileSystem only in FsUtil") {
    val files = sources(Packages)
    assert(files.exists(_.endsWith("FsUtil.scala")))
    val offending = for {
      f <- files
      (line, i) <- lines(f)
      if LocalFsApi.findFirstIn(line).isDefined ||
        Rename.findFirstIn(line).isDefined ||
        (HadoopFs.findFirstIn(line).isDefined && !f.endsWith("FsUtil.scala"))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }

  test("the markers of the layout before manifests are named only by " +
       "migrate()'s legacy reader") {
    val markers = """TOMBSTONE_INTENT|REPO_REFRESH_INTENT|MERGING|COMPACTING""".r
    val named = for {
      f <- sources(Seq("."))
      (line, i) <- lines(f)
      m <- markers.findAllIn(line)
    } yield (f.getFileName.toString, m)
    assert(named.map(_._2).toSet ==
      Set("TOMBSTONE_INTENT", "REPO_REFRESH_INTENT", "MERGING", "COMPACTING"))
    assert(named.map(_._1).toSet == Set("LegacyLayout.scala"), named)
  }

  for (form <- TestSpark.RootForms)
    test("FsUtil markers, listing and create-if-absent" + form.label) {
      import graft.util.FsUtil
      val dir = TestSpark.tempDir(s"fsutil${form.tag}")
      val root = form.of(dir)
      assert(FsUtil.readMarker(s"$root/a/FORMAT").isEmpty)
      FsUtil.writeMarker(s"$root/a/FORMAT", "v1\n") // creates a/
      assert(FsUtil.readMarker(s"$root/a/FORMAT").contains("v1"))
      // a plain file at the bare dir: no checksum side file to go stale
      Files.writeString(Paths.get(s"$dir/a/FORMAT"), "v2")
      assert(FsUtil.readMarker(s"$root/a/FORMAT").contains("v2"))
      FsUtil.writeMarker(s"$root/b/_SUCCESS", "")
      assert(FsUtil.isCommitted(s"$root/b") && !FsUtil.isCommitted(s"$root/a"))
      assert(FsUtil.list(root).map(_.getPath.getName).sorted == Seq("a", "b"))
      assert(FsUtil.list(s"$root/missing").isEmpty)
      // create-if-absent makes parent dirs and no checksum side file, and
      // refuses an existing file or dir, leaving it as it was
      FsUtil.createNew(s"$root/c/manifest-1", "one\nend\n")
      assert(FsUtil.readMarker(s"$root/c/manifest-1").contains("one\nend"))
      assert(new java.io.File(s"$dir/c").list().toSeq == Seq("manifest-1"))
      intercept[java.io.IOException](FsUtil.createNew(s"$root/c/manifest-1", "two"))
      assert(FsUtil.readMarker(s"$root/c/manifest-1").contains("one\nend"))
      intercept[java.io.IOException](FsUtil.createNew(s"$root/b", "x"))
      assert(FsUtil.isCommitted(s"$root/b"))
      FsUtil.rmTree(s"$root/c")
      FsUtil.rmTree(s"$root/c") // missing: no error
      assert(!FsUtil.exists(s"$root/c"))
      assert(!new java.io.File("file:").exists(), "stray file: dir under the cwd")
    }
}
