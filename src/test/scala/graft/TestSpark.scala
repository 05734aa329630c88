package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tempDir(name: String): String = {
    val d = new java.io.File(s"target/testidx/$name").getAbsolutePath
    graft.util.FsUtil.rmTree(d)
    new java.io.File(d).mkdirs()
    d
  }

  /** One spelling of a local index root: `label` suffixes the test name,
    * `tag` the temp dir name, `of` maps the bare dir to the root string.
    */
  case class RootForm(label: String, tag: String, of: String => String)

  /** Commit-protocol tests run over both spellings of the same directory:
    * the bare path (label "", so the test keeps its name) and its `file:`
    * URI.
    */
  val RootForms: Seq[RootForm] = Seq(
    RootForm("", "", identity),
    RootForm(" (file: URI root)", "-uri", d => "file://" + d))
}
