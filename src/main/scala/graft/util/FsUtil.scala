package graft.util

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one filesystem layer of the index commit protocol. Each path
  * resolves to a Hadoop `FileSystem` from its own URI (bare = default FS)
  * under the session's Hadoop conf, as Spark resolves the data, so a
  * `file:`, `hdfs:` or bare root keeps its markers beside its data.
  *
  * The protocol writes new directories, then creates one manifest:
  *   - a stage dir is committed iff Spark's job commit wrote `_SUCCESS` in
  *     it (isCommitted); IndexBuilder's resume skips committed stages;
  *   - FORMAT gate: `<root>/FORMAT` names the layout; a build over another
  *     one wipes the root, a reader refuses it (IVF dirs use SPEC likewise);
  *   - an incremental root (IncrementalIndexer) commits each state by
  *     creating `manifest-N` with createNew. Nothing is renamed.
  *
  * createNew is the one primitive that commit needs: a create that
  * refuses an existing path. HDFS makes it atomic (the NameNode refuses a
  * second create of a path). The local filesystem checks for the path,
  * then creates it, and so does an object-store connector that does not
  * use the store's conditional write, so two writers there could both
  * create the same manifest; the single-writer contract of
  * IncrementalIndexer covers those stores. An object store shows a file
  * only once its upload completes; on a disk or HDFS a crash can leave a
  * torn manifest, which its closing line exposes.
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

  /** Create or overwrite a marker, creating missing parent dirs. */
  def writeMarker(path: String, text: String): Unit = write(path, text, overwrite = true)

  /** Create `path` holding `text`, creating missing parent dirs; an
    * existing path is refused with an IOException and left as it was.
    */
  def createNew(path: String, text: String): Unit = write(path, text, overwrite = false)

  /** Written without a `.crc` side file, so a marker stays a plain text
    * file that can be edited by hand without failing a checksum on the
    * next read.
    */
  private def write(path: String, text: String, overwrite: Boolean): Unit =
    withFs(path) { (fs, p) =>
      val plain = fs match {
        case c: ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
      Using.resource(plain.create(p, overwrite))(_.write(text.getBytes(UTF_8)))
    }

  /** Children of `dir`; empty when it is absent. */
  def list(dir: String): Seq[FileStatus] = withFs(dir) { (fs, p) =>
    try fs.listStatus(p).toSeq catch { case _: FileNotFoundException => Nil }
  }

  /** Recursive delete of a file or directory; tolerates a missing path. */
  def rmTree(path: String): Unit = withFs(path)(_.delete(_, true))
}
