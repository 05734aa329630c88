package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The index commit protocol has one filesystem layer, graft.util.FsUtil.
  * `java.io.File` and `java.nio.file` read a `file:` URI as a relative
  * path (markers land in a stray `./file:` dir and resume never sees them),
  * so they must not reappear in the packages that read or write index
  * roots, and Hadoop `FileSystem` is resolved in FsUtil alone.
  */
class FsLayerSpec extends AnyFunSuite {

  private val Packages = Seq("index", "engine", "pipeline", "streaming", "util")
  private val LocalFsApi = """java\.io\.File\b|java\.nio\.file|java\.io\.\{[^}]*\bFile\b""".r
  private val HadoopFs = """getFileSystem|FileSystem\.get""".r

  test("no java.io.File or java.nio.file in the index-root packages; " +
       "Hadoop FileSystem only in FsUtil") {
    val sources = Packages.flatMap { pkg =>
      val dir = java.nio.file.Paths.get(s"src/main/scala/graft/$pkg")
      assert(java.nio.file.Files.isDirectory(dir), s"missing $dir")
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.endsWith("FsUtil.scala")))
    val offending = for {
      f <- sources
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if LocalFsApi.findFirstIn(line).isDefined ||
        (HadoopFs.findFirstIn(line).isDefined && !f.endsWith("FsUtil.scala"))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }

  for (form <- TestSpark.RootForms)
    test("FsUtil markers, listing and rename" + form.label) {
      import graft.util.FsUtil
      val dir = TestSpark.tempDir(s"fsutil${form.tag}")
      val root = form.of(dir)
      assert(FsUtil.readMarker(s"$root/a/FORMAT").isEmpty)
      FsUtil.writeMarker(s"$root/a/FORMAT", "v1\n") // creates a/
      assert(FsUtil.readMarker(s"$root/a/FORMAT").contains("v1"))
      // a plain file at the bare dir: no checksum side file to go stale
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/a/FORMAT"), "v2")
      assert(FsUtil.readMarker(s"$root/a/FORMAT").contains("v2"))
      FsUtil.writeMarker(s"$root/b/_SUCCESS", "")
      assert(FsUtil.isCommitted(s"$root/b") && !FsUtil.isCommitted(s"$root/a"))
      assert(FsUtil.list(root).map(_.getPath.getName).sorted == Seq("a", "b"))
      assert(FsUtil.list(s"$root/missing").isEmpty)
      // an existing target is refused (Hadoop would move a/ inside b/),
      // and so is a missing source
      intercept[java.io.IOException](FsUtil.renameOrThrow(s"$root/a", s"$root/b"))
      intercept[java.io.IOException](FsUtil.renameOrThrow(s"$root/x", s"$root/y"))
      FsUtil.renameOrThrow(s"$root/a", s"$root/c")
      assert(new java.io.File(s"$dir/c/FORMAT").isFile)
      assert(!new java.io.File(s"$dir/a").exists())
      FsUtil.rmTree(s"$root/c")
      FsUtil.rmTree(s"$root/c") // missing: no error
      assert(!FsUtil.exists(s"$root/c") && FsUtil.writable(root))
      assert(!new java.io.File("file:").exists(), "stray file: dir under the cwd")
    }
}
