package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.FsUtil

/** Reader of an incremental root written before manifests, for
  * IncrementalIndexer.migrate(). That layout kept its state in `base/`,
  * `delta-1/`, `delta-2/`, … (committed by their docs `_SUCCESS`), the
  * highest committed `tombstones-N/`, and markers: COMPACTING and MERGING
  * made a committed `base-new/` or `delta-merged/` authoritative before
  * its rename, TOMBSTONE_INTENT and REPO_REFRESH_INTENT named a mutation
  * still to finish. This object is the only code that reads those names.
  */
private[index] object LegacyLayout {

  private val Markers =
    Set("TOMBSTONE_INTENT", "REPO_REFRESH_INTENT", "MERGING", "COMPACTING")
  private val Tombstones = """tombstones-(\d+)""".r

  /** A root entry of the legacy layout that no manifest reads (its
    * `delta-N`, `tombstones-N` and `repoIndex-N` share the manifest root's
    * names), swept once a manifest is live.
    */
  def owns(name: String): Boolean =
    Set("base", "base-new", "delta-merged")(name) || Markers(name) ||
      name.endsWith(".staging")

  /** Live generation dirs, in order; empty when `root` is not legacy. A
    * committed `base-new` under COMPACTING replaces every generation, a
    * committed `delta-merged` under MERGING every delta.
    */
  def generations(root: String): Seq[String] = {
    def committed(g: String) = FsUtil.isCommitted(s"$root/$g/docs")
    def marked(m: String) = FsUtil.exists(s"$root/$m")
    if (marked("COMPACTING") && committed("base-new")) Seq("base-new")
    else Seq("base").filter(committed) ++
      (if (marked("MERGING") && committed("delta-merged")) Seq("delta-merged")
       else Iterator.from(1).map(g => s"delta-$g").takeWhile(committed).toSeq)
  }

  /** The corpus rows of a legacy root's live documents, re-read from their
    * stored fields, and the root's bucketSize from its generations' stats
    * (`defaultBucketSize` for stats that do not store it); None when
    * `root` is not legacy. Tombstones apply unless a compaction's
    * `base-new` (fresh docIds) is read. An ingest that stopped before its
    * re-add tombstones left both versions of a key live, so only the
    * newest (highest docId) version of each (repo, path, commit) is kept.
    * A pre-v7 table without `branch` reads as "".
    */
  def liveRows(spark: SparkSession, root: String,
               defaultBucketSize: Long): Option[(DataFrame, Long)] = {
    import spark.implicits._
    val gens = generations(root)
    Option.when(gens.nonEmpty) {
      val stats = spark.read.parquet(gens.map(g => s"$root/$g/stats"): _*)
      val bucketSize =
        if (!stats.columns.contains("bucketSize")) defaultBucketSize
        else IndexStats.merge(stats.as[IndexStats].collect().toSeq).bucketSize
      val raw = spark.read.parquet(gens.map(g => s"$root/$g/docs"): _*)
      val docs =
        if (raw.columns.contains("branch")) raw else raw.withColumn("branch", lit(""))
      val tombstones = if (gens == Seq("base-new")) None else FsUtil.list(root)
        .map(_.getPath.getName).collect { case Tombstones(v) => v.toInt }
        .filter(v => FsUtil.isCommitted(s"$root/tombstones-$v")).maxOption
      val live = tombstones.fold(docs)(v => docs.join(
        spark.read.parquet(s"$root/tombstones-$v"), Seq("docId"), "left_anti"))
      live.filter($"indexed")
        .withColumn("newest", max($"docId")
          .over(Window.partitionBy($"repo", $"path", $"commit")))
        .filter($"docId" === $"newest")
        .select(IncrementalIndexer.CorpusColumns.map(col): _*) -> bucketSize
    }
  }
}
