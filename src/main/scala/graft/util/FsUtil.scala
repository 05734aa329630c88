package graft.util

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsAction
import org.apache.hadoop.security.AccessControlException
import org.apache.spark.sql.SparkSession

/** The one filesystem layer of the index commit protocol. Each path
  * resolves to a Hadoop `FileSystem` from its own URI (bare = default FS)
  * under the session's Hadoop conf, as Spark resolves the data, so a
  * `file:`, `hdfs:` or bare root keeps its markers beside its data.
  *
  * The protocol:
  *   - a stage dir is committed iff Spark's job commit wrote `_SUCCESS` in
  *     it (isCommitted); resume skips committed stages;
  *   - FORMAT gate: `<root>/FORMAT` names the layout; a build over another
  *     one wipes the root, a reader refuses it (IVF dirs use SPEC likewise);
  *   - versioned dirs `tombstones-N` / `repoIndex-N`: the highest committed
  *     N is live, older ones are removed after it commits;
  *   - intent markers TOMBSTONE_INTENT / REPO_REFRESH_INTENT are written
  *     before a mutation and deleted after it; a survivor says what to heal;
  *   - MERGING / COMPACTING are commit points, after which finishMerge and
  *     finishCompaction delete the old dirs and rename `delta-merged` →
  *     `delta-1` and `base-new` → `base`.
  *
  * Those two renames assume an atomic directory rename. Local disks and
  * HDFS give it; object stores (S3, GCS) copy then delete, so a crash there
  * can leave a half-copied generation. They would need a commit-pointer
  * file, which this layout does not have.
  */
object FsUtil {

  private def withFs[T](path: String)(f: (FileSystem, Path) => T): T = {
    val p = new Path(path)
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration)
    f(p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = withFs(path)(_.exists(_))

  /** Spark's job commit wrote `_SUCCESS` in `dir`. */
  def isCommitted(dir: String): Boolean = exists(s"$dir/_SUCCESS")

  /** Trimmed text of a small marker file; None when it is absent. */
  def readMarker(path: String): Option[String] = withFs(path) { (fs, p) =>
    try {
      val bytes = Using.resource(fs.open(p))(_.readAllBytes())
      Some(new String(bytes, UTF_8).trim)
    } catch { case _: FileNotFoundException => None }
  }

  /** Create or overwrite a marker, creating missing parent dirs. Written
    * without a `.crc` side file, so a marker stays a plain text file that
    * can be edited by hand without failing a checksum on the next read.
    */
  def writeMarker(path: String, text: String): Unit = withFs(path) { (fs, p) =>
    val plain = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    Using.resource(plain.create(p, true))(_.write(text.getBytes(UTF_8)))
  }

  /** Children of `dir`; empty when it is absent. */
  def list(dir: String): Seq[FileStatus] = withFs(dir) { (fs, p) =>
    try fs.listStatus(p).toSeq catch { case _: FileNotFoundException => Nil }
  }

  /** Recursive delete of a file or directory; tolerates a missing path. */
  def rmTree(path: String): Unit = withFs(path)(_.delete(_, true))

  /** False when `dir` exists and this user may not write to it. */
  def writable(dir: String): Boolean = withFs(dir) { (fs, p) =>
    try { fs.access(p, FsAction.WRITE); true } catch {
      case _: FileNotFoundException => true
      case _: AccessControlException => false
    }
  }

  /** Rename that THROWS on failure instead of returning false — silent
    * rename failures around directory swaps are how index generations get
    * lost. An existing target is refused: Hadoop would move `from` inside
    * it.
    */
  def renameOrThrow(from: String, to: String): Unit =
    withFs(from) { (fs, src) =>
      val dst = new Path(to)
      if (fs.exists(dst) || !fs.rename(src, dst))
        throw new IOException(s"rename failed: $from -> $to")
    }
}
