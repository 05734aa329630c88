package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.FsUtil
import graft.util.FsUtil.isCommitted

/** Incremental index maintenance — the Spark shape of the reference's
  * repo-sync pipeline (SURVEY §3.2, §4.5): bloop keeps a sqlite FileCache
  * of blake3 keys, indexes only changed files and deletes stale docs by
  * unique_hash (server/bleep/src/cache.rs:108-129,223-260,
  * indexes/file.rs:211-215). Here:
  *
  *   base index  = IndexBuilder output (immutable snapshot)
  *   delta index = IndexBuilder output over ONLY the new/changed rows,
  *                 with docIds offset past the base (generation dirs
  *                 delta-1, delta-2, …)
  *   tombstones  = docIds whose (docKey) was re-added or deleted — the
  *                 delete-by-hash / delete-by-repo analog (S8)
  *
  * A MultiSearcher unions postings across generations, aggregates dict/
  * stats globally (tantivy does the same across segments), and filters
  * tombstoned docIds — so scores equal a from-scratch rebuild's scores
  * (verified by IncrementalSpec; docIds differ by construction, identity
  * is on (repo, path, commit, score)).
  *
  * The freshness check is the D2 anti-join: rows whose (docKey,
  * contentSha, branch) already exist in a live generation are skipped.
  *
  * CONCURRENCY CONTRACT — single accessor per root. Like the reference's
  * single tantivy IndexWriter per index (indexes.rs holds one writer;
  * sqlite serializes the cache), one IncrementalIndexer at a time may
  * touch a root: every entry point (ingest / compact / mergeDeltas /
  * migrate / searcher) may HEAL crash state — replay intent markers,
  * remove partial deltas, bootstrap the repo index — and healing races
  * an in-flight mutation on the same root (a concurrent searcher() would
  * consume the mutation's REPO_REFRESH_INTENT mid-flight and delete
  * files its refresh is writing). Callers that share a root across
  * threads (e.g. a streaming ingest plus ad-hoc readers) must serialize
  * through one indexer instance, exactly as they would share bloop's one
  * writer. searcher() on a READ-ONLY root skips healing and refuses to
  * serve when recovery work is pending (requireNoPendingRecovery).
  */
class IncrementalIndexer(@transient val spark: SparkSession, root: String,
                         bucketSize: Long = 1L << 20) {
  import spark.implicits._

  def basePath = s"$root/base"
  def deltaPath(gen: Int) = s"$root/delta-$gen"

  /** Count of live delta generations, by exact directory-basename match —
    * a root path that itself contains "delta-" must not be miscounted
    * (round-1 ADVICE).
    */
  private def deltaCount(): Int =
    Iterator.from(1)
      .takeWhile(g => isCommitted(s"${deltaPath(g)}/docs"))
      .size

  /** Live generation roots, in creation order. Adopts a committed but
    * unfinished compaction first (crash recovery — see finishCompaction),
    * so readers never observe the half-swapped state.
    */
  def generations(): Seq[String] = {
    finishCompaction()
    finishMerge()
    val gens = rawGenerations()
    // refuse to ingest onto / read from a stale-layout generation (round-3
    // ADVICE): a v8 base with a v9 delta would silently half-work.
    // migrate() is the upgrade path (it enumerates via rawGenerations).
    gens.foreach(IndexBuilder.requireFormat)
    gens
  }

  /** Generation dirs by on-disk markers only — no layout-version gate.
    * migrate() reads through this to rebuild stale-format roots.
    */
  private def rawGenerations(): Seq[String] =
    (if (isCommitted(s"$basePath/docs")) Seq(basePath) else Seq.empty) ++
      (1 to deltaCount()).map(deltaPath)

  def buildBase(corpus: DataFrame): Unit =
    new IndexBuilder(spark, basePath, bucketSize).build(corpus)

  private def liveDocs(): Option[DataFrame] = {
    val gens = generations()
    if (gens.isEmpty) None
    else Some(gens.map(g => spark.read.parquet(s"$g/docs")
        .select($"docId", $"repo", $"path", $"commit", $"contentSha",
          $"branch"))
      .reduce(_ union _)
      .join(readTombstones(), Seq("docId"), "left_anti"))
  }

  /** Tombstones are versioned dirs tombstones-N (FsUtil's protocol): the
    * highest committed N is the live set, so Spark's job commit IS the
    * pointer flip and a crash never leaves a window where the set is lost
    * (round-1 ADVICE: the old rm+rename swap had one).
    */
  private def tombstoneDir(v: Int) = s"$root/tombstones-$v"

  /** Every N of a dir family `<prefix>-N` under the root, ascending, by
    * exact basename match — shared by tombstones, the repo sub-index
    * refresh and finishMerge's delta sweep.
    */
  private def versions(prefix: String): Seq[Int] = {
    val re = ("^" + java.util.regex.Pattern.quote(prefix) + "-(\\d+)$").r
    FsUtil.list(root).map(_.getPath.getName).collect { case re(v) => v.toInt }
      .sorted
  }

  private def tombstoneVersions(): Seq[Int] =
    versions("tombstones").filter(v => isCommitted(tombstoneDir(v)))

  def readTombstones(): DataFrame =
    tombstoneVersions().lastOption match {
      case Some(v) => spark.read.parquet(tombstoneDir(v))
      // No legacy `tombstones/` fallback: the pre-versioning layout only
      // ever existed under index format v2, which the current format cannot
      // read anyway — honoring it here could resurrect a STALE delete set
      // after compact() (round-2 ADVICE).
      case None => Seq.empty[Long].toDF("docId")
    }

  private def maxDocId(): Long = {
    val gens = generations()
    if (gens.isEmpty) 0L
    else gens.map(g => spark.read.parquet(s"$g/docs")
      .agg(coalesce(max($"docId"), lit(0L))).head().getLong(0)).max
  }

  /** Ingest a batch of corpus rows:
    *   1. freshness anti-join (D2): unchanged (docKey, contentSha, branch)
    *      skipped — content OR branch-list changes re-add;
    *   2. changed keys: old docIds tombstoned (delete-by-hash, S8);
    *   3. remaining rows → a new delta generation, docIds offset past all
    *      existing ones.
    * Returns the number of newly indexed rows.
    */
  def ingest(batch: DataFrame): Long = ingest(batch, crashAfterDelta = false)

  /** Test face: `crashAfterDelta` stops right after the delta generation
    * commits — the crash window between the delta and its re-add
    * tombstones that healIngest() must recover.
    */
  private[graft] def ingest(batch: DataFrame,
                            crashAfterDelta: Boolean): Long = {
    healIngest()
    val withSha0 =
      if (batch.columns.contains("contentSha")) batch
      else batch.withColumn("contentSha", sha2($"content", 256))
    // branch normalized exactly as buildDocs does (absent → "") so it can
    // join against the stored field. branch is PART of the freshness key:
    // a row whose branch list changed but whose content did not (a release
    // branch moved onto the commit) must re-add, or `branch:` queries
    // serve the stale list forever — the anti-join would otherwise
    // classify it as unchanged (round-5 review).
    val withSha =
      if (withSha0.columns.contains("branch")) withSha0
      else withSha0.withColumn("branch", lit(""))
    val fresh = liveDocs() match {
      case None => withSha
      case Some(live) =>
        withSha.join(
          live.select($"repo", $"path", $"commit", $"contentSha", $"branch"),
          Seq("repo", "path", "commit", "contentSha", "branch"), "left_anti")
    }
    // Materialize the fresh rows ONCE to a staging dir before touching the
    // tombstone files: the `fresh` plan scans the current tombstone
    // parquet (via liveDocs), and appendTombstones below swaps those files
    // out — re-evaluating the lazy plan afterwards would read deleted
    // files. Staging also means the multi-generation anti-join runs once,
    // not once per downstream action.
    val gen = deltaCount() + 1
    val staging = s"${deltaPath(gen)}.staging"
    FsUtil.rmTree(staging)
    fresh.write.mode("overwrite").parquet(staging)
    val freshDf = spark.read.parquet(staging)
    val freshCount = freshDf.count()
    if (freshCount == 0) { FsUtil.rmTree(staging); return 0L }
    // intent marker BEFORE the first repo-set mutation: a crash between the
    // delta/tombstone commit and the repo-index refresh would otherwise
    // leave increments lost forever — the incremental liveRepoNames derives
    // from the PREVIOUS sub-index, so the error would persist until a full
    // compact() (round-3 ADVICE). A surviving marker forces the next
    // refresh onto the self-healing liveDocs bootstrap path.
    val staleIntent = beginRepoMutation()
    val offset = maxDocId()
    // DELTA FIRST, re-add tombstones AFTER (round-4 review): the round-3
    // order (tombstone, then build) permanently LOST documents when a
    // crash hit between the two — old versions already dead, new versions
    // never committed, and the freshness anti-join would skip an
    // identical re-ingest. In this order the worst crash state is
    // duplicates (old + new both live), and the TOMBSTONE_INTENT marker
    // written before the build lets healIngest() finish the delete on the
    // next mutation/searcher. The marker carries (gen, offset) so healing
    // can tell old versions (docId ≤ offset) from the delta's own rows.
    FsUtil.writeMarker(tombstoneIntentMarker, s"$gen $offset")
    // deltas skip the per-generation repo sub-index; the live-set repo
    // index is refreshed out of band below (the reference likewise
    // rewrites its Repo index out of band of file deltas, indexes/repo.rs)
    val builder = new IndexBuilder(spark, deltaPath(gen), bucketSize,
      docIdOffset = offset, includeRepoIndex = false)
    builder.build(freshDf)
    if (crashAfterDelta) { FsUtil.rmTree(staging); return freshCount }
    // tombstone old versions of keys being re-added (update = delete+add,
    // reference indexes.rs:244 semantics) — live rows with docId ≤ offset
    // are by construction not the delta's own
    tombstoneStaleVersions(deltaPath(gen), offset)
    FsUtil.rmTree(tombstoneIntentMarker)
    FsUtil.rmTree(staging)
    // added names come from the just-committed delta's own docs — a
    // column-pruned scan of ONE generation, O(batch)
    refreshRepoIndex(added =
      Some(spark.read.parquet(s"${deltaPath(gen)}/docs").select($"repo")),
      forceBootstrap = staleIntent)
    freshCount
  }

  /** Tombstone every live OLD version (docId ≤ offset) of the keys the
    * committed delta at `dp` re-added. Shared by the normal ingest path
    * and healIngest's crash replay; idempotent (a second run finds no
    * live old versions).
    */
  private def tombstoneStaleVersions(dp: String, offset: Long): Unit = {
    liveDocs().foreach { live =>
      val keys = spark.read.parquet(s"$dp/docs")
        .select($"repo", $"path", $"commit")
      val stale = live.filter($"docId" <= offset)
        .join(keys, Seq("repo", "path", "commit"), "left_semi")
        .select($"docId")
      if (stale.limit(1).count() > 0) appendTombstones(stale)
    }
  }

  private def tombstoneIntentMarker = s"$root/TOMBSTONE_INTENT"

  /** Crash healing for the ingest pipeline, run at the head of every
    * mutation and of searcher() — deliberately NOT from generations()
    * (liveDocs would recurse):
    *   - a counted delta missing its dict/_SUCCESS is a crashed PARTIAL
    *     build: remove it — in the round-4 ordering its old versions were
    *     not yet tombstoned, so dropping it restores the pre-ingest state
    *     (and un-breaks generations(), which would otherwise hand readers
    *     a postings-less dir);
    *   - a TOMBSTONE_INTENT marker naming a fully committed delta means
    *     the crash hit between the delta commit and the re-add tombstone
    *     append: old versions of the delta's keys are still live
    *     (duplicate results) — finish the delete now.
    */
  private def healIngest(): Unit = {
    (deltaCount() to 1 by -1)
      .takeWhile(g => !isCommitted(s"${deltaPath(g)}/dict"))
      .foreach(g => FsUtil.rmTree(deltaPath(g)))
    FsUtil.readMarker(tombstoneIntentMarker).foreach { m =>
      val Array(gen, offset) = m.split(" ")
      if (isCommitted(s"${deltaPath(gen.toInt)}/dict"))
        tombstoneStaleVersions(deltaPath(gen.toInt), offset.toLong)
      // marker without a committed delta: the partial delta was removed
      // above — nothing was mutated, nothing to tombstone
      FsUtil.rmTree(tombstoneIntentMarker)
    }
  }

  /** Delete every document of a repo (reference delete-by-repo,
    * indexes/file.rs:221-226) via tombstones; physical removal happens at
    * the next compact().
    */
  def deleteRepo(repo: String): Unit = {
    healIngest()
    val staleIntent = beginRepoMutation()
    liveDocs().foreach { live =>
      appendTombstones(live.filter($"repo" === repo).select($"docId"))
    }
    refreshRepoIndex(removed = Some(repo), forceBootstrap = staleIntent)
  }

  /** Repo-index refresh intent marker: written before the first mutation
    * the incremental liveRepoNames could miss, cleared when the refresh
    * commits. `true` ⇒ a PREVIOUS mutation crashed before its refresh, so
    * the caller must route its own refresh through the liveDocs bootstrap
    * (the increments it would pass describe only ITS batch, not the lost
    * one).
    */
  private def intentMarker = s"$root/REPO_REFRESH_INTENT"
  private def beginRepoMutation(): Boolean = {
    val stale = FsUtil.exists(intentMarker)
    FsUtil.writeMarker(intentMarker, "repo-index refresh pending")
    stale
  }

  /** Write existing ∪ new as the next tombstone version, then clean up
    * older versions. No coalesce(1): a delete-whole-repo tombstone set can
    * be billions of ids — the write keeps the shuffle's natural
    * partitioning (round-1 VERDICT scale item).
    */
  private def appendTombstones(docIds: DataFrame): Unit = {
    val versions = tombstoneVersions()
    val next = versions.lastOption.getOrElse(0) + 1
    readTombstones().union(docIds.select($"docId")).distinct()
      .write.mode("overwrite").parquet(tombstoneDir(next))
    versions.foreach(v => FsUtil.rmTree(tombstoneDir(v)))
  }

  /** Repo-name sub-index versions: `repoIndex-N` dirs written by
    * refreshRepoIndex, complete when dict/_SUCCESS exists — same
    * versioned-dir commit pattern as the tombstones.
    */
  private def repoIndexVersions(): Seq[Int] =
    versions("repoIndex").filter(v => isCommitted(s"$root/repoIndex-$v/dict"))

  /** Latest live repo-name sub-index: the newest refresh version, else the
    * base generation's own sub-index (built by buildBase).
    */
  def repoIndexPath: Option[String] =
    repoIndexVersions().lastOption.map(v => s"$root/repoIndex-$v")
      .orElse(Some(s"$basePath/repoIndex").filter(p => isCommitted(s"$p/dict")))

  /** Live repo-name set, maintained INCREMENTALLY: the current sub-index's
    * own names ∪ the batch's names − a deleted repo. A small ingest or a
    * delete therefore costs O(#repos + batch) — never a scan of every
    * generation's docs (round-2 VERDICT item 3: at 10^12 files that scan
    * dominated small ingests). The set stays exact because the only
    * delete API is whole-repo (deleteRepo) and re-adds keep their repo:
    * a name leaves the live set iff deleteRepo names it, enters iff a
    * batch carries it. Falls back to the full live-docs scan only to
    * BOOTSTRAP a root with no sub-index yet (compaction rebuilds the base
    * sub-index from scratch anyway). Exposed for PlanSpec-style scan
    * assertions.
    */
  private[graft] def liveRepoNames(added: Option[DataFrame],
                                   removed: Option[String]): Option[DataFrame] = {
    val current: Option[DataFrame] = repoIndexPath.map(p =>
      spark.read.parquet(s"$p/docs").select($"repo"))
    val base = (current, added) match {
      case (Some(cur), Some(add)) => Some(cur.union(add.select($"repo")))
      case (Some(cur), None) => Some(cur)
      case (None, _) => liveDocs().map(_.select($"repo")) // bootstrap
    }
    base.map(df => removed.fold(df)(r => df.filter($"repo" =!= r)))
  }

  /** Rebuild the repo-name sub-index — called after every ingest / delete
    * so `repo:` search tracks new and deleted repos without waiting for
    * compaction. Name set derived incrementally (liveRepoNames), then the
    * tiny nested build. Versioned-dir commit; older versions cleaned after
    * the new one is complete (crash-safe, never a missing-index window).
    *
    * forceBootstrap (set by ingest/deleteRepo when a refresh-intent marker
    * from a CRASHED earlier mutation survives): derive the name set from
    * the full liveDocs scan instead of the increments — the increments
    * describe only the current batch, not the lost one, and the
    * incremental path would propagate the gap until compaction.
    */
  def refreshRepoIndex(added: Option[DataFrame] = None,
                       removed: Option[String] = None,
                       forceBootstrap: Boolean = false): Unit = {
    val names =
      (if (forceBootstrap) liveDocs().map(_.select($"repo"))
       else liveRepoNames(added, removed)) match {
        case Some(n) => n
        case None =>
          // nothing to refresh (no live docs, no sub-index): the pending
          // intent is vacuously served — a leaked marker would force the
          // full liveDocs bootstrap on every later mutation (round-4
          // review)
          FsUtil.rmTree(intentMarker)
          return
      }
    val v = repoIndexVersions().lastOption.getOrElse(0) + 1
    val dst = s"$root/repoIndex-$v"
    // a crashed partial build of this version could otherwise RESUME: its
    // committed stages (written under an older live set) would be kept by
    // the _SUCCESS gates and a stale name set would go live
    FsUtil.rmTree(dst)
    IndexBuilder.buildRepoIndexAt(spark, names, dst, bucketSize)
    repoIndexVersions().filter(_ < v)
      .foreach(o => FsUtil.rmTree(s"$root/repoIndex-$o"))
    FsUtil.rmTree(intentMarker) // refresh committed: the intent is served
  }

  /** Searcher over all live generations with tombstone filtering and
    * globally aggregated stats. Crash recovery before serving: finish
    * pending ingest deletes (healIngest) AND a pending repo-index refresh
    * — a surviving REPO_REFRESH_INTENT means a mutation crashed before
    * its refresh, so `repo:` queries would silently serve the stale name
    * set until the NEXT mutation (round-4 ADVICE). Healing writes; on a
    * read-only root the searcher serves directly when nothing is pending
    * and throws a clear error (instead of an opaque write failure or a
    * silently stale read) when recovery work exists.
    */
  def searcher(): MultiSearcher = {
    if (FsUtil.writable(root)) {
      healIngest()
      if (FsUtil.exists(intentMarker)) refreshRepoIndex(forceBootstrap = true)
    } else requireNoPendingRecovery()
    new MultiSearcher(spark, generations(),
      readTombstones(), repoIndexPath = repoIndexPath)
  }

  /** Read-only-root gate for searcher(): every crash-recovery state the
    * write paths would heal must be absent, because serving through it
    * would return wrong results (lost deletes, duplicate versions, stale
    * repo names) and healing needs writes.
    */
  private def requireNoPendingRecovery(): Unit = {
    val partialDeltas = (1 to deltaCount()).filterNot(g =>
      isCommitted(s"${deltaPath(g)}/dict")).map(_ => "partial-delta")
    val pending = Seq(tombstoneIntentMarker, intentMarker, mergeMarker,
      compactMarker).filter(FsUtil.exists).map(_.stripPrefix(s"$root/")) ++
      partialDeltas
    if (pending.nonEmpty) throw new IllegalStateException(
      s"index at $root has pending crash-recovery work " +
        s"(${pending.mkString(", ")}) but the root is read-only — " +
        "heal it on a writable mount first")
  }

  /** Compaction — the segment-merge analog (reference indexes.rs:205-210
    * commit + merge): rebuild a single base generation from the LIVE rows
    * (stored fields carry content), drop deltas and tombstones. After
    * compact(), stats/df exclude deleted docs and scores equal a
    * from-scratch rebuild.
    */
  def compact(): Unit = {
    healIngest()
    val gens = generations()
    if (gens.isEmpty) return
    // indexed docs only: metadata stubs store empty content (D7), so
    // feeding them back through the builder would turn them into indexed
    // empty documents and shift N/avgdl away from a true rebuild.
    // Compaction therefore drops stubs (documented divergence: the
    // reference re-creates stubs on the next sync sweep).
    val live = spark.read.parquet(gens.map(g => s"$g/docs"): _*)
      .filter($"indexed")
      .join(readTombstones(), Seq("docId"), "left_anti")
      .select($"repo", $"path", $"commit", $"lang", $"content",
        $"contentSha", $"branch")
    swapInNewBase(live)
  }

  /** Build `live` as base-new and make it the only generation. */
  private def swapInNewBase(live: DataFrame): Unit = {
    FsUtil.rmTree(newBasePath) // a stale pre-marker attempt is dead weight
    new IndexBuilder(spark, newBasePath, bucketSize).build(live)
    // COMMIT POINT: once the marker exists, base-new is the authoritative
    // index and every read path (generations()) finishes the swap before
    // answering — there is no window where deltas/tombstones are gone but
    // the new base is not live, or where deleted docs resurrect.
    FsUtil.writeMarker(compactMarker, "base-new is authoritative")
    finishCompaction()
  }

  /** Upgrade path for an OLDER-LAYOUT root that the read-time FORMAT
    * gates refuse to open (round-4 review: without this, persisted data
    * under a previous format was stranded — searcher/ingest/compact all
    * throw before anything can be re-read). Stored fields are the source
    * of truth: rebuild the base generation from every on-disk
    * generation's docs with tombstones applied, re-tokenizing under the
    * CURRENT format, then swap via the same compaction commit marker.
    * Tolerates a missing `branch` column (pre-v7 layouts). Like
    * compact(), metadata-only stubs are dropped and re-created by the
    * next sync sweep.
    */
  def migrate(): Unit = {
    finishCompaction()
    finishMerge()
    val gens = rawGenerations()
    if (gens.isEmpty) return
    val raw = spark.read.parquet(gens.map(g => s"$g/docs"): _*)
    val withBranch =
      if (raw.columns.contains("branch")) raw
      else raw.withColumn("branch", lit(""))
    // An ingest that crashed between its delta commit and the re-add
    // tombstones leaves BOTH versions of a key live — healIngest() would
    // replay the pending TOMBSTONE_INTENT, but it cannot run on a
    // stale-format root (generations() throws before it), which is the
    // exact state migrate() serves (round-4 ADVICE). Keep only the
    // NEWEST version of each key: docIds ascend across generations, so
    // max-docId per (repo, path, commit) is the replay's survivor — the
    // SAME key tombstoneStaleVersions uses (a branch-string change rides
    // a re-add, so keying on branch too would keep both versions of a
    // file whose branch list grew; round-5 review).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"repo", $"path", $"commit")
    val live = withBranch
      .filter($"indexed")
      .join(readTombstones(), Seq("docId"), "left_anti")
      .withColumn("maxDocId", max($"docId").over(w))
      .filter($"docId" === $"maxDocId")
      .select($"repo", $"path", $"commit", $"lang", $"content",
        $"contentSha", $"branch")
    swapInNewBase(live)
    // any pending delete died with the deltas, and the rebuilt base carries
    // a fresh repo sub-index
    Seq(tombstoneIntentMarker, intentMarker).foreach(FsUtil.rmTree)
  }

  /** Size-tiered delta MERGE — the LSM-style maintenance step between full
    * compactions: folds ALL current delta generations into ONE merged delta
    * with docIds PRESERVED, so query results (docIds AND scores) are
    * bit-identical before and after (IncrementalSpec asserts this). Unlike
    * compact() it never touches the base generation, never re-tokenizes,
    * and keeps tombstones/stats exactly as they were — its cost is
    * Σ|deltas|, not |corpus|, which is what keeps a 10^12-file index's
    * generation count bounded (MultiSearcher unions one parquet dir per
    * generation; an ingest-heavy root would otherwise grow that union
    * without bound until a full — corpus-proportional — compact()).
    *
    * Why ids can be preserved: generations own disjoint, ascending docId
    * ranges (each delta's offset is past every existing id), and codec
    * blocks delta-decode from zero (PostingCodec), so a merged
    * (term,bucket) run is just the generations' runs' blocks concatenated
    * in firstDocId order with df/cf summed and maxTfNorm maxed — no
    * re-encode, no re-tokenize. The same concatenation argument is why
    * tantivy segment merges can stream postings (the reference's
    * IndexWriter merge, indexes.rs:205-215).
    */
  def mergeDeltas(): Unit = mergeDeltas(crashBeforeSwap = false)

  /** Wall-seconds per stage of the LAST mergeDeltas run — benchmark
    * attribution (round-4 VERDICT #2: an unexplained merge-time move must
    * decompose into heal/docs/postings/dict/stats/swap before it is
    * believed or dismissed).
    */
  private[graft] val lastMergeStageTimes =
    scala.collection.mutable.LinkedHashMap.empty[String, Double]

  private def mergeStage[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    lastMergeStageTimes(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  /** Test face: `crashBeforeSwap` stops at the commit point (marker
    * written, swap not run) — the crash window generations() must recover.
    */
  private[graft] def mergeDeltas(crashBeforeSwap: Boolean): Unit = {
    lastMergeStageTimes.clear()
    mergeStage("heal") {
      finishCompaction()
      finishMerge()
      healIngest()
    }
    val n = deltaCount()
    if (n < 2) return
    val gens = (1 to n).map(deltaPath)
    FsUtil.rmTree(mergedPath)
    // docs and lineage: plain unions — ids preserved
    mergeStage("docs") {
      spark.read.parquet(gens.map(g => s"$g/docs"): _*)
        .write.options(IndexBuilder.PageOptions.docs)
        .parquet(s"$mergedPath/docs")
      val linDirs = gens.map(g => s"$g/lineage").filter(FsUtil.exists)
      if (linDirs.nonEmpty)
        spark.read.parquet(linDirs: _*).write.parquet(s"$mergedPath/lineage")
    }
    mergeStage("postings") {
      spark.read.parquet(gens.map(g => s"$g/postings"): _*).as[PostingRun]
        .groupByKey(r => (r.term, r.bucket))
        .mapGroups { (key: (String, Int), it: Iterator[PostingRun]) =>
          val rs = it.toArray.sortBy(
            _.blocks.headOption.map(_.firstDocId).getOrElse(Long.MaxValue))
          PostingRun(key._1, key._2, rs.map(_.df).sum, rs.map(_.cf).sum,
            rs.map(_.maxTfNorm).max, rs.iterator.flatMap(_.blocks).toVector)
        }
        .sortWithinPartitions($"term") // keep the sorted-by-term write
        // property the row-group min/max pruning relies on (PlanSpec)
        .write.options(IndexBuilder.PageOptions.postings)
        .parquet(s"$mergedPath/postings")
    }
    mergeStage("dict") {
      // per-term stats are sums/maxes over generation runs, and each
      // generation's dict already holds its own sums — aggregating the
      // gens' DICTS is value-identical to re-aggregating the merged
      // postings, without re-reading the postings parquet the previous
      // stage just wrote (r6, guide §1.2 step 1: one fewer
      // data-proportional pass)
      spark.read.parquet(gens.map(g => s"$g/dict"): _*)
        .groupBy($"term")
        .agg(sum($"df").as("df"), sum($"cf").as("cf"),
          max($"maxTfNorm").as("maxTfNorm"))
        .as[DictEntry]
        .write.parquet(s"$mergedPath/dict")
    }
    mergeStage("stats") {
      // stats: exact sums — deleted docs keep contributing until compact(),
      // exactly as MultiSearcher aggregates the per-generation rows today.
      // One multi-path read instead of one tiny job per generation (r6).
      val parts = spark.read.parquet(gens.map(g => s"$g/stats"): _*)
        .as[IndexStats].collect().toSeq
      val nn = parts.map(_.n).sum
      val t = parts.map(_.totalTokens).sum
      Seq(IndexStats(nn, t, if (nn == 0) 0.0 else t.toDouble / nn, bucketSize))
        .toDS().coalesce(1).write.parquet(s"$mergedPath/stats")
      IndexBuilder.writeFormat(mergedPath)
    }
    // COMMIT POINT: once the marker exists the merged delta is
    // authoritative; generations() finishes the swap before answering
    FsUtil.writeMarker(mergeMarker,
      "delta-merged is authoritative for every delta-N")
    if (!crashBeforeSwap) mergeStage("swap") { finishMerge() }
  }

  private def mergedPath = s"$root/delta-merged"
  private def mergeMarker = s"$root/MERGING"

  /** Idempotent second half of mergeDeltas(), re-entered from
    * generations() after a crash past the commit point. Deltas are
    * enumerated by basename (NOT contiguous counting: a crashed earlier
    * attempt may already have removed delta-1, which would hide delta-2+
    * from deltaCount and orphan rows into duplicates); the merged dir is
    * only renamed while it still exists, so re-running any suffix of the
    * steps is safe.
    */
  private def finishMerge(): Unit = {
    if (!FsUtil.exists(mergeMarker)) return
    if (isCommitted(s"$mergedPath/docs")) {
      versions("delta").foreach(g => FsUtil.rmTree(deltaPath(g)))
      FsUtil.renameOrThrow(mergedPath, deltaPath(1))
    }
    // marker without a complete merged dir: the rename already happened on
    // a previous attempt — only the marker is left to clear
    FsUtil.rmTree(mergeMarker)
  }

  private def newBasePath = s"$root/base-new"
  private def compactMarker = s"$root/COMPACTING"

  /** Idempotent second half of compact(), re-entered from generations()
    * after a crash anywhere past the commit point. Every step tolerates
    * having already run; the old base is only deleted while base-new still
    * exists, so a crash between any two steps just re-runs the rest.
    */
  private def finishCompaction(): Unit = {
    if (!FsUtil.exists(compactMarker)) return
    if (isCommitted(s"$newBasePath/docs")) {
      (1 to deltaCount()).foreach(g => FsUtil.rmTree(deltaPath(g)))
      tombstoneVersions().foreach(v => FsUtil.rmTree(tombstoneDir(v)))
      repoIndexVersions().foreach(v => FsUtil.rmTree(s"$root/repoIndex-$v"))
      FsUtil.rmTree(basePath)
      FsUtil.renameOrThrow(newBasePath, basePath)
    }
    // marker without a complete base-new: the rename already happened on a
    // previous attempt (or the build never committed and the old state is
    // still fully intact) — either way only the marker is left to clear
    FsUtil.rmTree(compactMarker)
  }
}
