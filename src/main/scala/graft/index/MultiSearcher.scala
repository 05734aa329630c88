package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Hit, Searcher}

/** Searcher over multiple index generations (base + deltas) with tombstone
  * filtering — the query-time face of IncrementalIndexer.
  *
  * Semantics (the Lucene/tantivy multi-segment model the reference runs
  * on, indexes.rs:244-246):
  *   - postings/docs: union over generations; tombstoned docIds excluded
  *     from results;
  *   - dict / corpus stats: aggregated over generations INCLUDING
  *     tombstoned docs — deleted docs keep contributing to df/avgdl until
  *     a compaction, exactly like Lucene deletes before a segment merge.
  *     After IncrementalIndexer.compact(), scores equal a from-scratch
  *     rebuild (IncrementalSpec).
  *
  * Tombstones at scale (round-1 VERDICT weak spot): the set is size-gated.
  *   - ≤ TombstoneShipMax ids: collected once, sorted, shipped to
  *     executors; block-max WAND runs with the dead-doc skip (a dead doc
  *     never occupies a local top-k slot) and docs/scoreAll use a
  *     broadcast anti-join.
  *   - larger (delete a 1B-doc repo): nothing is collected or broadcast —
  *     docs/scoreAll use a shuffle anti-join, and WAND runs through the
  *     tombstone COGROUP path (Searcher.wandTopKCogroup): dead docIds are
  *     co-partitioned with the posting runs on the docId-range bucket, so
  *     every task sees exactly its range's slice. Correct at any size, no
  *     executor OOM, block-max pruning preserved.
  */
class MultiSearcher(spark0: SparkSession, generations: Seq[String],
                    tombstones: DataFrame,
                    /** Ship-to-executor gate: 2M sorted longs = 16 MB —
                      * comfortably below executor/task broadcast budgets.
                      * A constructor param so tests can force the cogroup
                      * path on small corpora.
                      */
                    val TombstoneShipMax: Long = 2000000L,
                    /** Live repo-name sub-index location (the one an
                      * IncrementalIndexer manifest names).
                      */
                    repoIndexPath: Option[String] = None)
    extends Searcher(spark0, generations.head) {
  import spark0.implicits._

  require(generations.nonEmpty, "no live index generations")
  // every generation must carry the engine's layout version — a mixed
  // v8-base + v9-delta root must refuse to open, not half-work
  generations.foreach(IndexBuilder.requireFormat)

  override protected def repoIndexRoot: Option[String] =
    repoIndexPath.orElse(super.repoIndexRoot)

  @transient private lazy val shippedTombstones: Option[Array[Long]] = {
    val c = tombstones.limit((TombstoneShipMax + 1).toInt).count()
    if (c <= TombstoneShipMax)
      Some(tombstones.select($"docId").as[Long].collect().sorted)
    else None
  }

  /** Tombstone side of an anti-join: broadcast only when gated small. */
  private def tombstoneSide: DataFrame =
    if (shippedTombstones.isDefined) broadcast(tombstones) else tombstones

  override private[graft] def shippedDeadDocIds: Option[Array[Long]] =
    shippedTombstones

  override lazy val postings: Dataset[PostingRun] =
    spark0.read.parquet(generations.map(g => s"$g/postings"): _*)
      .as[PostingRun]

  override lazy val dict: Dataset[DictEntry] =
    DictEntry.aggregate(spark0.read.parquet(generations.map(g => s"$g/dict"): _*))

  override lazy val stats: IndexStats = IndexStats.merge(
    spark0.read.parquet(generations.map(g => s"$g/stats"): _*)
      .as[IndexStats].collect().toSeq)

  override lazy val docs: DataFrame =
    spark0.read.parquet(generations.map(g => s"$g/docs"): _*)
      .join(tombstoneSide, Seq("docId"), "left_anti")

  /** Tombstone filter before top-k; postings of dead docs still decode but
    * never surface.
    */
  override def scoreAll(terms: Seq[String], weights: Map[String, Float],
                        conjunctive: Boolean): Dataset[Hit] =
    super.scoreAll(terms, weights, conjunctive)
      .join(tombstoneSide, Seq("docId"), "left_anti")
      .as[Hit]

  /** WAND stays on at every tombstone size: shipped dead-doc skip when the
    * set is small, bucket-cogroup WAND when it is not.
    */
  override def search(terms0: Seq[String], k: Int, conjunctive: Boolean,
                      useWand: Boolean): Dataset[Hit] = {
    if (!useWand || shippedTombstones.isDefined)
      return super.search(terms0, k, conjunctive, useWand)
    val terms = terms0.distinct.sorted
    val ts = termStats(terms)
    if (conjunctive && terms.exists(t => ts(t)._1 == 0L))
      return spark0.emptyDataset[Hit]
    wandTopKCogroup(terms, ts.map { case (t, (_, w)) => t -> w }, k,
      conjunctive, tombstones.select($"docId").as[Long])
  }
}
