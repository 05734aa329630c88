package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.score.{Bm25, SmallFloat}
import graft.tokenize.CodeTokenizer
import graft.util.FsUtil
import graft.util.FsUtil.isCommitted

/** Input corpus row (BASELINE.json.input_hint shape + sha). */
case class CorpusRow(repo: String, path: String, commit: String,
                     lang: String, content: String, contentSha: String)

case class IdRow(docId: Long, repo: String, path: String,
                 commit: String, lang: String, content: String,
                 contentSha: String, branch: String)

/** Map-side PARTIAL posting run for (term, bucket): one map partition's
  * slice, already delta+varint compressed — the unit the postings shuffle
  * moves (phase 1 of the two-phase merge); the merger orders a group's
  * partials by their first block's firstDocId itself.
  */
private case class TokPartial(term: String, bucket: Int,
                              blocks: Seq[Block])

private case class SlimDoc(docId: Long, path: String, content: String,
                           normId: Byte, lang: String)

private case class KeyedRow(bucket: Int, docKey: String, repo: String,
                            path: String, commit: String, lang: String,
                            content: String, contentSha: String,
                            branch: String)

/** Distributed inverted-index builder (SURVEY §3.2 Spark shape):
  *
  *   corpus → filter (reference indexability limits)
  *          → deterministic docId assignment (global rank, scalable)
  *   stage "docs":     per-doc stored/fast fields + corpus stats
  *   stage "postings": tokenize → narrow in-partition sort → PARTIAL
  *                     delta/varint run encode → shuffle of compressed
  *                     partials on (term, bucket) [bucket = docId range =
  *                     deterministic salt for hot terms, SURVEY §4.3]
  *                     → k-way merge + re-encode (two-phase merge)
  *   stage "dict":     per-term global df/cf/maxTfNorm from run partials
  *
  * Each stage is idempotent, `_SUCCESS`-gated for resume-after-failure, and
  * checkpoints per-partition lineage + metrics (SURVEY §4.5). Replaces the
  * reference's single-node tantivy write path (multi-threaded writer with
  * 500 MB buffer + segment merge, server/bleep/src/indexes.rs:233-237):
  * Spark's sort-shuffle with spill is the buffer, the (term,bucket) merge
  * is the segment merge.
  *
  * Scale notes (100 TB / 10^12 files): both heavy stages are single-shuffle;
  * the docId rank needs one tiny count-per-partition job (no extra data
  * movement beyond the range partitioning a global sort needs anyway); no
  * row data is collected to the driver; hot-term shuffle groups are bounded
  * by bucketSize regardless of term frequency.
  */
class IndexBuilder(
    @transient val spark: SparkSession,
    val indexRoot: String,
    bucketSize: Long = 1L << 20,
    numPartitions: Int = 0,
    docIdOffset: Long = 0L,
    includeRepoIndex: Boolean = true,
    /** Index 1–2-grams of CONTENT too (full NgramTokenizer(1,3) surface) —
      * on for the repo-name sub-index, whose content is the bounded set of
      * repo names, so short `repo:` queries are index lookups. Off for the
      * main index: a content 1-gram posting at 10^12 docs is df≈N per byte
      * and nothing reads it (word terms are indexed whole).
      */
    shortContentGrams: Boolean = false,
    /** Per-partition lineage rows (D8 worker stats). Off for the nested
      * repo-name sub-index, where the two lineage-append jobs are pure
      * fixed cost against an O(#repos) input.
      */
    recordLineage: Boolean = true) {

  import spark.implicits._
  import IndexBuilder._

  private def P: Int =
    if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism

  def docsPath = s"$indexRoot/docs"
  def postingsPath = s"$indexRoot/postings"
  def dictPath = s"$indexRoot/dict"
  def statsPath = s"$indexRoot/stats"
  def lineagePath = s"$indexRoot/lineage"

  /** Deterministic 1-based docId = global rank of the document key
    * docKey = sha256(repo ∥ '\0' ∥ path ∥ '\0' ∥ commit), ascending.
    *
    * Why a hashed key instead of raw (repo, path, commit) order: a raw-key
    * global sort needs `repartitionByRange`, whose boundaries come from
    * SAMPLING seeded by the physical RDD id — two actions over the same
    * Dataset can place rows differently, which broke rank assignment at
    * 9k docs (duplicate ids). The sha key's uniform distribution gives
    * FIXED range boundaries by construction (bucket = keyPrefix·P / 2^32):
    * no sampling job, no nondeterminism, and perfectly balanced partitions
    * at any scale. The dedup/delete handle of the reference is likewise a
    * content-addressed hash (unique_hash, indexes/file.rs:56-87).
    *
    * Two metadata-light jobs: (1) count per fixed bucket → prefix offsets;
    * (2) shuffle on bucket + in-partition sort by (bucket, docKey) + narrow
    * rank tagging. Rank is partitioning-invariant because buckets are pure
    * functions of the key.
    */
  def withDocIds(corpus: DataFrame): Dataset[IdRow] = {
    val withSha0 =
      if (corpus.columns.contains("contentSha")) corpus
      else corpus.withColumn("contentSha", sha2($"content", 256))
    // branch is schema-optional (the input_hint corpus has none): absent
    // column -> empty string, and `branch:` queries match nothing on such
    // corpora (reference indexes per-doc branch lists, indexes/file.rs:575)
    val withSha =
      if (withSha0.columns.contains("branch")) withSha0
      else withSha0.withColumn("branch", lit(""))
    val p = P
    val keyed = withSha
      .withColumn("docKey",
        sha2(concat_ws("\u0000", $"repo", $"path", $"commit"), 256))
      .withColumn("bucket",
        ((conv(substring($"docKey", 1, 8), 16, 10).cast("long") * p) /
          4294967296L).cast("int"))
      .select($"bucket", $"docKey", $"repo", $"path", $"commit", $"lang",
        $"content", $"contentSha", $"branch")
      .as[KeyedRow]
    val offsets = new Array[Long](p + 1)
    if (p > 1) { // p == 1: one bucket at offset 0 — the count job is pure cost
      val counts = keyed.groupBy("bucket").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      var acc = 0L
      (0 until p).foreach { b =>
        offsets(b) = acc; acc += counts.getOrElse(b, 0L)
      }
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val idOffset = docIdOffset // delta generations start past the base
    keyed
      .repartition(p, $"bucket")
      // contentSha as final sort key: duplicate docKeys (same repo/path/
      // commit, different content) would otherwise get a nondeterministic
      // relative order, breaking byte-determinism of resume/scaling runs
      // (round-1 ADVICE). OracleEngine mirrors this sort.
      .sortWithinPartitions("bucket", "docKey", "contentSha")
      .mapPartitions { it =>
        // a hash partition may hold several buckets; they arrive contiguous
        var curBucket = -1
        var next = 0L
        it.map { r =>
          if (r.bucket != curBucket) {
            curBucket = r.bucket
            next = idOffset + bOffsets.value(r.bucket)
          }
          next += 1
          IdRow(next, r.repo, r.path, r.commit, r.lang, r.content,
            r.contentSha, r.branch)
        }
      }
  }

  // ---------------------------------------------------------------------
  /** Stage "docs": stored fields + fast-field analogs (SURVEY §1.2) and
    * corpus stats. lineEnds mirrors line_end_indices
    * (indexes/file.rs:713-721, incl. the implicit trailing newline).
    */
  def buildDocs(corpus: DataFrame): Unit = {
    ensureFormat()
    if (isCommitted(docsPath) && isCommitted(statsPath)) return
    ProgressReporter.inStage(spark, "docs") { buildDocsBody(corpus) }
  }

  private def buildDocsBody(corpus: DataFrame): Unit = {
    val lin = newLineageAcc()
    // ALL rows get a doc — files failing the indexability limits become
    // metadata-only stubs with empty stored content (reference D7,
    // indexes/file.rs:644-673); only indexed docs feed postings and the
    // BM25 stats
    val docs = withDocIds(corpus).mapPartitions { it =>
      instrument[Doc]("docs", lin)(it.map(buildDoc))(
        d => s"${d.docId}:${d.contentSha}")
    }
    // Corpus stats ride the write job via Observation — fusing the
    // aggregation into the write saves a full re-scan of the just-written
    // docs parquet (one fewer data-proportional job per build).
    val obs = org.apache.spark.sql.Observation()
    docs
      .observe(obs,
        sum(when($"indexed", 1L).otherwise(0L)).as("n"),
        sum(when($"indexed", $"docLen").otherwise(0L)).as("t"))
      .write.options(PageOptions.docs).mode("overwrite").parquet(docsPath)
    writeLineage(lin)
    val row = obs.get
    val n = Option(row("n")).fold(0L)(_.asInstanceOf[Long])
    val t = Option(row("t")).fold(0L)(_.asInstanceOf[Long])
    val stats = IndexStats(n, t, if (n == 0) 0.0 else t.toDouble / n,
      bucketSize)
    Seq(stats).toDS().coalesce(1).write.mode("overwrite").parquet(statsPath)
  }

  def readStats(): IndexStats =
    spark.read.parquet(statsPath).as[IndexStats].head()

  /** Stage "postings": the inverted index proper — the north star's
    * two-phase partial-posting merge, literally:
    *
    *   phase 1 (map side): sort each partition's raw postings in place
    *     (narrow — no data movement) and stream-encode them into PARTIAL
    *     delta+varint runs per (term, bucket);
    *   shuffle: the compressed partials (≈4-6 bytes/posting instead of a
    *     ~30-byte raw row — the shuffle that dominated the build shrinks
    *     ~5×, and the per-row serialization overhead amortizes over whole
    *     runs);
    *   phase 2 (reduce side): group partials by (term, bucket) — bucket =
    *     (docId-1)/bucketSize chops every hot term into bounded,
    *     non-overlapping docId ranges (deterministic salting) — k-way
    *     MERGE the pre-sorted partial streams (no reduce-side sort of raw
    *     postings) and re-encode the full run.
    *
    * The re-encode makes final artifacts byte-identical to a single-phase
    * build: block boundaries depend only on the merged entry stream, never
    * on how the map side was partitioned.
    */
  /** Sources from the docs stage output (docIds, normIds and the
    * indexability filter are already materialized there) — deliberately
    * takes NO corpus argument so a caller cannot assume a different input
    * would matter.
    */
  def buildPostings(): Unit = {
    ensureFormat()
    if (isCommitted(postingsPath)) return
    ProgressReporter.inStage(spark, "postings") { buildPostingsBody() }
  }

  private def buildPostingsBody(): Unit = {
    // Phase 1 runs at the docs-parquet READ parallelism: pin the split
    // size to docsBytes/P for the duration of the stage so the map-side
    // accumulate+encode gets P-way splits. Default bin-packing would
    // coalesce the (deliberately small at test scale) docs files into a
    // handful of fat partitions, capping exactly the stage that replaced
    // the 128-way reduce sort — observed as 8-core postings time DOUBLING
    // while 2-core stayed flat. Each docs file is a single row group, so
    // file-granularity splits are always achievable; at production sizes
    // docsBytes/P ≥ the 128 MB default and this is a no-op.
    val docsBytes = FsUtil.list(docsPath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val splitTarget = math.max(1L << 20, docsBytes / math.max(1, P))
    // the pin lives on a CHILD session (shared context, isolated SQLConf):
    // mutating the shared session's conf would leak the small split sizes
    // into any concurrent read — a query served mid-build, or a racing
    // second build whose interleaved set/restore could stick permanently
    // (round-3 ADVICE). newSession starts from the context defaults, so
    // copy the parent's runtime conf first (static entries throw — skip).
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v) catch { case _: Throwable => () }
    }
    s2.conf.set("spark.sql.files.maxPartitionBytes", splitTarget.toString)
    // openCost well BELOW the split target: at openCost ≈ target every
    // file's phantom cost halves the effective split budget and the stage
    // ran ~2× P tiny tasks (r6 measured 237 tasks for P = 128 — guide
    // §6 input-split sizing); an eighth keeps tiny-file storms bounded
    // while real splits land at the target
    s2.conf.set("spark.sql.files.openCostInBytes",
      math.max(4096L, math.min(splitTarget / 8, 1L << 20)).toString)
    buildPostingsPhases(s2)
  }

  /** Two-phase build proper. Phase 1 (map side) is ONE mapPartitions over
    * the docs read: tokenize and accumulate postings into per-chunk hash
    * maps of primitive buffers, encoding partial delta+varint runs per
    * (term, bucket) at each bounded chunk boundary (StrPhase1Iterator /
    * GramPhase1Iterator — no tungsten sort round-trip; grouping needs
    * contiguity, not order). Only the compressed partials (≈4-6
    * bytes/posting vs a ~30-byte raw row) reach the shuffle; packed gram
    * codes never shuffle at all. Phase 2 groups partials by (term, bucket)
    * — bucket = (docId-1)/bucketSize chops hot terms into bounded
    * disjoint docId ranges (deterministic salting) — k-way merges the
    * pre-sorted partial streams and RE-ENCODES the full run, making final
    * artifacts byte-identical to a single-phase build no matter how the
    * map side chunked or partitioned.
    *
    * `sql` carries the per-stage read-split pin on an isolated session.
    */
  private def buildPostingsPhases(sql: SparkSession): Unit = {
    val stats = readStats()
    val bNormCache = spark.sparkContext.broadcast(
      Bm25.normCache(stats.avgdl.toFloat))
    val bs = bucketSize
    val shortG = shortContentGrams
    val lin = newLineageAcc()
    // Source from the docs stage output: docIds, normIds and the
    // indexability filter are already materialized there — one corpus
    // pass and one tokenization fewer than re-deriving from the raw input.
    val slim = sql.read.parquet(docsPath)
      .filter($"indexed")
      .select("docId", "path", "content", "normId", "lang")
      .as[SlimDoc]
    val strPartials: Dataset[TokPartial] = slim.mapPartitions(it =>
      new StrPhase1Iterator(it, bNormCache.value, bs))
    def mergePhase(partials: Dataset[TokPartial]): Dataset[PostingRun] =
      partials
        .repartition(P, $"term", $"bucket")
        .sortWithinPartitions($"term", $"bucket")
        .mapPartitions { it =>
          instrument[PostingRun]("postings", lin)(
            new PartialMergeIterator(it, bNormCache.value))(
            r => s"${r.term}:${r.bucket}:${r.df}")
        }
    // Gram namespaces ("g:" content 3-grams — 1–3-grams for the repo-name
    // sub-index — and "p:" path 1–3-gram windows, reference
    // NgramTokenizer(1,3) indexes.rs:249). Not-indexed stubs (D7) still
    // get "p:" PATH grams: the reference indexes the relative_path of
    // oversize files too, so `path:` queries and fuzzy autocomplete see
    // them even though their content is never scored.
    val gramPartials: Dataset[TokPartial] = slim.mapPartitions(it =>
      new GramPhase1Iterator(it, bNormCache.value, bs, shortG, stubs = false))
    val stubPartials: Dataset[TokPartial] = sql.read.parquet(docsPath)
      .filter(!$"indexed")
      .select("docId", "path", "content", "normId", "lang")
      .as[SlimDoc]
      .mapPartitions(it =>
        new GramPhase1Iterator(it, bNormCache.value, bs, shortG, stubs = true))
    mergePhase(strPartials.union(gramPartials).union(stubPartials))
      .write.options(PageOptions.postings).mode("overwrite")
      .parquet(postingsPath)
    writeLineage(lin)
  }

  /** Stage "dict": global per-term stats from the (term,bucket) partials —
    * the second phase of the two-phase merge: partials are tiny (one row
    * per term×bucket), so this groupBy is skew-proof even for `if`.
    */
  def buildDict(): Unit = {
    ensureFormat()
    if (isCommitted(dictPath)) return
    ProgressReporter.inStage(spark, "dict") {
    DictEntry.aggregate(spark.read.parquet(postingsPath))
      .write.mode("overwrite").parquet(dictPath)
    }
  }

  /** Full build with resume: stages skip when their `_SUCCESS` marker is
    * present (kill mid-build ⇒ unfinished stage has no marker ⇒ reruns;
    * outputs are deterministic so resume reproduces identical artifacts).
    * A FORMAT marker carries the index layout version (the reference's
    * schema-version reset-on-change, indexes.rs:117-129): a version
    * mismatch wipes and rebuilds instead of resuming onto a stale layout.
    */
  def build(corpus: DataFrame): Unit = {
    buildDocs(corpus)
    buildPostings()
    buildDict()
    if (includeRepoIndex) buildRepoIndex()
  }

  /** Repo-name sub-index (reference Repo index, indexes/schema.rs:146-168 +
    * RepoReader dispatch query/execute.rs:377-379): a second, much smaller
    * index in the SAME layout under `repoIndex/`, whose "documents" are the
    * distinct repo names (content = name). Free-text repo-name search then
    * reuses the whole Searcher machinery: the "g:" trigram namespace of
    * this sub-index plays the role of the reference's NgramTokenizer(1,3)
    * name field (indexes.rs:249), scored with BM25 and substring/regex
    * verified by the executor (BytesFilterCollector analog).
    *
    * Scale: `distinct` over repo names is one shuffle of short strings
    * (10^8 repos from 10^12 files), and the nested build is the same
    * distributed pipeline as the main index — nothing driver-side.
    */
  def buildRepoIndex(): Unit = {
    if (isCommitted(s"$indexRoot/repoIndex/dict")) return
    IndexBuilder.buildRepoIndexAt(spark,
      spark.read.parquet(docsPath).select($"repo"),
      s"$indexRoot/repoIndex", bucketSize, numPartitions)
  }

  /** Layout-version gate, run before any stage resumes: a FORMAT mismatch
    * (or version-less artifacts) wipes the root — never resume onto a
    * stale layout.
    */
  private def ensureFormat(): Unit = {
    val found = formatOf(indexRoot)
    // no FORMAT over a committed docs stage: pre-versioning artifacts
    val stale = found.fold(isCommitted(docsPath))(_ != FormatVersion)
    if (stale) FsUtil.rmTree(indexRoot)
    if (stale || found.isEmpty) writeFormat(indexRoot)
  }

  // ----------------------------------------------------------------- lineage
  private def newLineageAcc(): CollectionAccumulator[LineageRow] =
    spark.sparkContext.collectionAccumulator[LineageRow]("lineage")

  private def writeLineage(acc: CollectionAccumulator[LineageRow]): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = acc.value.asScala.toSeq
    if (recordLineage && rows.nonEmpty)
      rows.toDS().coalesce(1).write.mode("append").parquet(lineagePath)
  }
}

object IndexBuilder {

  /** Index layout version — bump on any schema/codec/tokenizer-spec change
    * so cached index directories cannot be resumed across layouts.
    */
  // v10: "c:" exact-case token namespace + per-language symbol grammars
  // v11: keyword-less method-definition signatures (Java/C/C++/C#) join
  //      the "s:" symbol namespace
  val FormatVersion = "graft-index-v11"

  /** Parquet page bounds of the `docs` and `postings` writes (the build's
    * stages and IncrementalIndexer.mergeDeltas), one set per table: pages
    * of a few rows, so that the per-key filter of a driver-local read
    * (engine.LocalIndex) skips every page of a file's sorted key column
    * that cannot hold a wanted key and decodes only the rows of the pages
    * left, in every column. Readers need no setting: the bounds change
    * the layout, not the FORMAT, and an index written without them reads
    * the same rows, only slower.
    *
    * Parquet checks a page's size only every `row.check.min` rows (100 by
    * default), so a byte bound alone cuts no page before its 100th row:
    * docs content pages of an 8 KB bound held about 100 rows (~128 KB),
    * and reading 7 docIds assembled 992 of an index's 1000 docs rows.
    * Both tables therefore check after every row (min 1, max 16) and
    * bound the rows per page.
    *
    * Docs pages hold at most 16 rows, so a regex verify or a page of
    * winners decodes a few small pages per docId (the docId column's
    * pages set the row ranges every column decodes; at 64 rows codebench
    * `search` op p50 went 6.56 → 8.11 ms, seeds 1801–1804, slower in
    * 4 of 4, the `page` class 5.5 → 8.0 ms). Postings pages hold at
    * most 128 rows, chosen from a grid measured with the page indexes
    * cached per Searcher (engine.LocalIndex; uncached, each call re-read
    * them, and smaller pages measured slower) and vectored reads still
    * on: codebench `search` on this
    * layout's 1000-file index, seeds 1602–1606, `local[4]` on a 4-core
    * host, op p50 median of 5 runs and index bytes per content byte —
    * 64 rows 8.53 ms, 3.50; 128 rows 8.48 ms, 3.21; 256 rows 9.41 ms,
    * 3.13; the earlier reader and layout (an `in` filter, page indexes
    * re-read per call, 8 KB / 512-row pages checked every ≥100 rows)
    * 11.3–11.7 ms, 2.80–2.86 (2 seeds). 128 is the smallest index that
    * keeps the gain.
    */
  object PageOptions {
    private def bounded(rows: Int): Map[String, String] = Map(
      "parquet.page.size" -> (8 << 10).toString,
      "parquet.page.row.count.limit" -> rows.toString,
      "parquet.page.size.row.check.min" -> "1",
      "parquet.page.size.row.check.max" -> "16")

    val docs: Map[String, String] = bounded(16)
    val postings: Map[String, String] = bounded(128)
  }

  /** Namespace bit for packed trigram codes: set = "p:" (path), clear =
    * "g:" (content). Codes use 48 low bits (3 UTF-16 chars).
    */
  val PathNsBit: Long = 1L << 62

  /** The layout-version marker every index root carries. */
  def formatOf(root: String): Option[String] =
    FsUtil.readMarker(s"$root/FORMAT")
  def writeFormat(root: String): Unit =
    FsUtil.writeMarker(s"$root/FORMAT", FormatVersion)

  /** READ-time layout gate (round-3 ADVICE): ensureFormat only guards
    * build resume — a persisted older-format root (or a version-less dir)
    * would otherwise OPEN silently, and query paths that assume this
    * format's postings (e.g. short path/repo grams, v9) would silently
    * match nothing. Searcher/MultiSearcher and the incremental reader call
    * this and fail fast instead.
    */
  def requireFormat(root: String): Unit = {
    val found = formatOf(root).getOrElse("<missing>")
    if (found != FormatVersion)
      throw new IllegalStateException(
        s"index at $root has layout '$found' but this engine expects " +
          s"'$FormatVersion' — rebuild it, or run IncrementalIndexer" +
          ".migrate() to upgrade an incremental root in place")
  }

  /** Build a repo-name sub-index at `rootDir` from a one-column frame of
    * repo names (shared by the eager in-build path and the incremental
    * indexer's out-of-band refresh). The distinct names are persisted —
    * the nested stages would otherwise each re-derive them by re-scanning
    * the source (data-proportional at 10^12 files) for this O(#repos)
    * frame.
    */
  def buildRepoIndexAt(spark: SparkSession, repoNames: DataFrame,
                       rootDir: String, bucketSize: Long,
                       numPartitions: Int = 0): Unit = {
    import spark.implicits._
    val names = repoNames.select($"repo").distinct()
      .select($"repo", lit("").as("path"), lit("").as("commit"),
        lit("").as("lang"), $"repo".as("content"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Size the nested build's parallelism to the NAME count, not the
      // parent corpus: a caller's numPartitions is scaled for files
      // (10^12), while this input is #repos (10^8) — and at small scale a
      // handful of names would otherwise pay 32-task fixed costs across
      // every nested stage (the round-2 index_build throughput regression).
      // ~5k names per partition, capped at the session's parallelism.
      val p = math.max(1L, math.min(
        spark.sparkContext.defaultParallelism.toLong,
        names.count() / 5000L + 1L)).toInt
      new IndexBuilder(spark, rootDir, bucketSize,
        numPartitions = p, docIdOffset = 0L, includeRepoIndex = false,
        shortContentGrams = true, // names get the full 1–3-gram surface
        recordLineage = false)
        .build(names)
    } finally names.unpersist()
  }

  /** Per-doc field derivation (stage "docs" row transform). Oversize rows
    * (reference limits: >600 KB or >20 000 lines, repo/iterator.rs:21-23)
    * become metadata-only stubs: indexed=false, empty stored content —
    * browsable, never scored (D7, indexes/file.rs:644-673).
    */
  def buildDoc(r: IdRow): Doc = {
    if (!isIndexable(r.content))
      return Doc(r.docId, r.repo, r.path, r.commit, r.lang, "", r.contentSha,
        0, 0.toByte, 0.0, Array.empty, indexed = false, branch = r.branch)
    val docLen = CodeTokenizer.tokenize(r.content).length
    val b = scala.collection.mutable.ArrayBuilder.make[Int]
    var i = 0
    while (i < r.content.length) {
      if (r.content.charAt(i) == '\n') b += i
      i += 1
    }
    if (r.content.isEmpty || r.content.last != '\n') b += r.content.length
    val lineEnds = b.result()
    Doc(r.docId, r.repo, r.path, r.commit, r.lang, r.content, r.contentSha,
      docLen, SmallFloat.intToByte4(docLen),
      if (lineEnds.length == 0) 0.0
      else r.content.length.toDouble / lineEnds.length,
      lineEnds, indexed = true, branch = r.branch)
  }

  /** Pure predicate form of the reference indexability limits. Surrogate
    * pairs count as the 4 UTF-8 bytes they encode to, not 3+3 (round-1
    * ADVICE: astral-plane content near the 600 KB limit was over-rejected).
    */
  def isIndexable(content: String): Boolean = {
    var bytes = 0L
    var lines = 1
    var i = 0
    while (i < content.length) {
      val c = content.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < content.length &&
          Character.isLowSurrogate(content.charAt(i + 1))) {
        bytes += 4
        i += 2
      } else {
        bytes += (if (c < 0x80) 1 else if (c < 0x800) 2 else 3)
        if (c == '\n') lines += 1
        i += 1
      }
      if (bytes > 600000) return false
    }
    bytes <= 600000 && lines <= 20001
  }

  /** Tokenize one doc into its STRING-keyed raw postings. Namespaces
    * (SURVEY §2.3):
    *   - plain code tokens with tf (the BM25-scored `content` field,
    *     lowercased — one-lookup case-insensitive queries);
    *   - "c:" exact-CASE tokens with tf (`case:sensitive` scoring parity:
    *     the reference stores case-preserved terms, compiler.rs:235-312);
    *   - "s:" symbol-definition tokens with tf (the `symbols` field,
    *     indexes/file.rs:704-711, via the per-language extractor — D5).
    * The gram namespaces ("g:" content trigrams, "p:" path 1–3-grams) are
    * owned exclusively by GramPhase1Iterator's packed-code path — the old
    * string-building trigram branch here was a dead duplicate of that
    * logic (round-4 review).
    */
  def tokenizeDoc(docId: Long, content: String, normId: Byte,
                  lang: String = ""): Iterator[RawPosting] = {
    // ONE tokenizer scan: split boundaries ignore case, so the lowercase
    // token stream is the cased stream mapped through lowerToken (round-4
    // review — the second full content scan was pure hot-loop waste)
    val casedToks = CodeTokenizer.tokenizeCased(content)
    val lowerToks = new Array[String](casedToks.length)
    var li = 0
    while (li < casedToks.length) {
      lowerToks(li) = CodeTokenizer.lowerToken(casedToks(li)); li += 1
    }
    val (terms, counts, _) = CodeTokenizer.termFreqFromTokens(lowerToks)
    val toks = terms.indices.iterator.map(i =>
      RawPosting(terms(i), docId, counts(i), normId))
    val (cTerms, cCounts, _) = CodeTokenizer.termFreqFromTokens(casedToks)
    val cased = cTerms.indices.iterator.map(i =>
      RawPosting("c:" + cTerms(i), docId, cCounts(i), normId))
    val symTf = scala.collection.mutable.HashMap.empty[String, Int]
    graft.tokenize.SymbolExtractor.symbolTerms(content, lang).foreach { t =>
      symTf.update(t, symTf.getOrElse(t, 0) + 1)
    }
    val syms = symTf.iterator.map { case (t, f) =>
      RawPosting("s:" + t, docId, f, normId)
    }
    toks ++ cased ++ syms
  }

  /** Wrap a stage's per-partition output iterator with row counting, output
    * digesting and wall-time; registers one LineageRow per partition on
    * task completion (no extra pass over the data).
    */
  def instrument[T](stage: String, acc: CollectionAccumulator[LineageRow])
                   (out: Iterator[T])(digest: T => String): Iterator[T] = {
    val pid = TaskContext.getPartitionId()
    val t0 = System.nanoTime()
    var rows = 0L
    var bytes = 0L
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val it = out.map { r =>
      rows += 1
      val d = digest(r)
      bytes += d.length
      md.update(d.getBytes("UTF-8"))
      r
    }
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      acc.add(LineageRow(stage, pid, rows, rows, bytes,
        md.digest().map("%02x".format(_)).mkString,
        (System.nanoTime() - t0) / 1000000))
    }
    it
  }
}

/** Growable per-term posting accumulator for the phase-1 chunk maps:
  * parallel primitive arrays (docId; tf<<8|normId packed into an Int — tf
  * of one term in one doc is ≤ docLen ≤ the 600 KB indexability cap, well
  * under 2^24). Appends track docId monotonicity so the common case (docs
  * arrive in ascending docId order within a read split) skips the sort.
  */
private final class PostBuf {
  var ids = new Array[Long](4)
  var tfn = new Array[Int](4)
  var n = 0
  var needsSort = false
  def add(docId: Long, tf: Int, normId: Byte): Unit = {
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, n * 2)
      tfn = java.util.Arrays.copyOf(tfn, n * 2)
    }
    if (n > 0 && ids(n - 1) > docId) needsSort = true
    ids(n) = docId
    tfn(n) = (tf << 8) | (normId & 0xff)
    n += 1
  }
  /** Restore ascending docId order (a read partition can interleave files
    * whose rank ranges are out of order). Pack (docId << 22 | index) into
    * one long so a single primitive sort orders both arrays — docIds stay
    * < 2^41 even at 10^12 files, and a chunk holds < 2^22 entries.
    */
  def sortIfNeeded(): Unit = {
    if (!needsSort) return
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) { keys(i) = (ids(i) << 22) | i; i += 1 }
    java.util.Arrays.sort(keys)
    val ids2 = new Array[Long](n)
    val tfn2 = new Array[Int](n)
    i = 0
    while (i < n) {
      val src = (keys(i) & 0x3fffff).toInt
      ids2(i) = ids(src)
      tfn2(i) = tfn(src)
      i += 1
    }
    ids = ids2
    tfn = tfn2
    needsSort = false
  }
}

/** Minimal open-addressing Long→AnyRef map (linear probing, power-of-two
  * capacity) — the gram-code chunk index. No per-lookup boxing: the
  * measured phase-1 limiter is allocation/memory traffic, not CPU.
  * Key 0 is reserved (gram codes always carry a nonzero length field).
  * Deliberately parallel to CodeTokenizer.LongSet (same probing/growth/
  * zero-key invariants, value array added) — a shared base would cost the
  * set's hot path an unused values array; keep the two in lockstep when
  * touching either.
  */
private final class LongObjMap(initialCapacity: Int) {
  private var cap = math.max(16, Integer.highestOneBit(initialCapacity) * 2)
  private var keys = new Array[Long](cap)
  private var vals = new Array[AnyRef](cap)
  private var n = 0
  def size: Int = n
  @inline private def hash(v: Long): Int = {
    val h = v * -7046029254386353131L
    (h ^ (h >>> 32)).toInt
  }
  def getOrNull(k: Long): AnyRef = {
    var idx = hash(k) & (cap - 1)
    while (true) {
      val cur = keys(idx)
      if (cur == k) return vals(idx)
      if (cur == 0L) return null
      idx = (idx + 1) & (cap - 1)
    }
    null
  }
  def put(k: Long, v: AnyRef): Unit = {
    if (n * 4 >= cap * 3) grow()
    var idx = hash(k) & (cap - 1)
    while (true) {
      val cur = keys(idx)
      if (cur == 0L || cur == k) {
        if (cur == 0L) n += 1
        keys(idx) = k
        vals(idx) = v
        return
      }
      idx = (idx + 1) & (cap - 1)
    }
  }
  def foreachEntry(f: (Long, AnyRef) => Unit): Unit = {
    var i = 0
    while (i < cap) {
      if (keys(i) != 0L) f(keys(i), vals(i))
      i += 1
    }
  }
  private def grow(): Unit = {
    val ok = keys
    val ov = vals
    cap *= 2
    keys = new Array[Long](cap)
    vals = new Array[AnyRef](cap)
    n = 0
    var i = 0
    while (i < ok.length) {
      if (ok(i) != 0L) put(ok(i), ov(i))
      i += 1
    }
  }
}

/** Shared flush logic: split one term's accumulated entries on docId-range
  * bucket boundaries and encode one TokPartial per (term, bucket).
  */
private object Phase1 {
  /** Entries per chunk before a flush — the primitive-array budget
    * (~12 bytes/entry). 2^22 also keeps PostBuf's packed sort indices
    * valid. This alone does NOT bound heap for distinct-term-heavy
    * content (minified sources: ~every posting a new String key + map
    * node + PostBuf ≈ 100-150 B), so the string path ALSO tracks
    * approximate key bytes and flushes at ChunkKeyBytes — together they
    * are the explicit spill-safety budget that replaced the tungsten
    * sort's spill files (round-4 review).
    */
  val ChunkEntries: Int = 4 << 20
  /** Approximate accumulated KEY cost (string chars + per-key object
    * overhead) that forces a flush on distinct-term-heavy chunks.
    */
  val ChunkKeyBytes: Long = 128L << 20

  def emit(term: String, buf: PostBuf, bucketSize: Long,
           normCache: Array[Float],
           out: scala.collection.mutable.ArrayBuffer[TokPartial]): Unit = {
    buf.sortIfNeeded()
    var start = 0
    while (start < buf.n) {
      val bucket = ((buf.ids(start) - 1) / bucketSize).toInt
      var end = start + 1
      while (end < buf.n && ((buf.ids(end) - 1) / bucketSize).toInt == bucket)
        end += 1
      val s = start
      val e = end
      val entries = new Iterator[(Long, Int, Byte)] {
        private var i = s
        def hasNext: Boolean = i < e
        def next(): (Long, Int, Byte) = {
          val r = (buf.ids(i), buf.tfn(i) >>> 8, (buf.tfn(i) & 0xff).toByte)
          i += 1
          r
        }
      }
      out += TokPartial(term, bucket, PostingCodec.encodeRun(entries, normCache))
      start = end
    }
  }
}

/** Phase 1 for STRING-keyed postings (code tokens + "s:" symbols): one
  * mapPartitions pass that tokenizes each doc and accumulates postings in
  * a per-chunk hash map of primitive buffers, then encodes partial runs at
  * each chunk boundary. Replaces the round-3 shape (Dataset flatMap →
  * tungsten sortWithinPartitions → grouping iterator), which round-tripped
  * every raw posting through UnsafeRow encode + comparison sort + decode —
  * 3-4 extra memory passes that showed up as the postings stage's 2.78×
  * (of 4×) core-scaling ceiling on the shared-memory host. Grouping needs
  * only per-key contiguity, never lexical order, so a hash map does the
  * work of the sort in one O(n) pass; the bounded chunk (Phase1
  * .ChunkEntries) replaces sort-spill as the memory-safety valve, and the
  * phase-2 merge is indifferent to how many partials a (term,bucket) got.
  */
private class StrPhase1Iterator(
    docs: Iterator[SlimDoc],
    normCache: Array[Float],
    bucketSize: Long) extends Iterator[TokPartial] {
  private val map = new java.util.HashMap[String, PostBuf]()
  private var entries = 0
  private var keyBytes = 0L
  private var pending: Iterator[TokPartial] = Iterator.empty

  // hasNext LOOKS AHEAD through chunks: a chunk of docs can legitimately
  // produce zero postings (empty indexed files tokenize to nothing), and a
  // `pending.hasNext || docs.hasNext` answer would send next() into an
  // unbounded fill loop on such a tail (round-4 review)
  override def hasNext: Boolean = {
    while (!pending.hasNext && docs.hasNext) fill()
    pending.hasNext
  }

  override def next(): TokPartial = {
    if (!hasNext) throw new NoSuchElementException("phase-1 exhausted")
    pending.next()
  }

  private def fill(): Unit = {
    while (docs.hasNext && entries < Phase1.ChunkEntries &&
        keyBytes < Phase1.ChunkKeyBytes) {
      val d = docs.next()
      IndexBuilder.tokenizeDoc(d.docId, d.content, d.normId,
        lang = d.lang).foreach { p =>
        var buf = map.get(p.term)
        if (buf == null) {
          buf = new PostBuf
          map.put(p.term, buf)
          keyBytes += 2L * p.term.length + 96 // String + map node + PostBuf
        }
        buf.add(p.docId, p.tf, p.normId)
        entries += 1
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[TokPartial]
    map.forEach((term, buf) => Phase1.emit(term, buf, bucketSize, normCache, out))
    map.clear()
    entries = 0
    keyBytes = 0L
    pending = out.iterator
  }
}

/** Phase 1 for PACKED-GRAM postings ("g:" content / "p:" path windows):
  * same chunked-accumulation shape as StrPhase1Iterator but keyed by the
  * packed long gram code in an allocation-free open-addressing map — codes
  * never materialize as strings until one term string per (code, chunk)
  * at encode time, and never reach the shuffle at all. `stubs` restricts
  * to path grams (metadata-only stubs index their path, never content).
  */
private class GramPhase1Iterator(
    docs: Iterator[SlimDoc],
    normCache: Array[Float],
    bucketSize: Long,
    shortContentGrams: Boolean,
    stubs: Boolean) extends Iterator[TokPartial] {
  private var map = new LongObjMap(1 << 12)
  private var entries = 0
  private var pending: Iterator[TokPartial] = Iterator.empty

  // chunk lookahead — same zero-posting-tail guard as StrPhase1Iterator
  override def hasNext: Boolean = {
    while (!pending.hasNext && docs.hasNext) fill()
    pending.hasNext
  }

  override def next(): TokPartial = {
    if (!hasNext) throw new NoSuchElementException("phase-1 exhausted")
    pending.next()
  }

  @inline private def add(code: Long, docId: Long, normId: Byte): Unit = {
    var buf = map.getOrNull(code).asInstanceOf[PostBuf]
    if (buf == null) { buf = new PostBuf; map.put(code, buf) }
    buf.add(docId, 1, normId)
    entries += 1
  }

  private def fill(): Unit = {
    while (docs.hasNext && entries < Phase1.ChunkEntries) {
      val d = docs.next()
      if (!stubs) {
        val g =
          if (shortContentGrams) CodeTokenizer.distinctGramCodes123(d.content)
          else CodeTokenizer.distinctTrigramCodes(d.content)
        var i = 0
        while (i < g.length) { add(g(i), d.docId, d.normId); i += 1 }
      }
      val p = CodeTokenizer.distinctGramCodes123(d.path)
      var j = 0
      while (j < p.length) {
        add(p(j) | IndexBuilder.PathNsBit, d.docId, d.normId)
        j += 1
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[TokPartial]
    map.foreachEntry { (code, v) =>
      val ns = if ((code & IndexBuilder.PathNsBit) != 0L) "p:" else "g:"
      val term = ns + CodeTokenizer.decodeTrigram(
        code & ~IndexBuilder.PathNsBit)
      Phase1.emit(term, v.asInstanceOf[PostBuf], bucketSize, normCache, out)
    }
    map = new LongObjMap(1 << 12)
    entries = 0
    pending = out.iterator
  }
}

/** Phase-2 merger: consumes TokPartial rows grouped by (term, bucket);
  * orders each group's partials by first docId, k-way-merges the entry
  * streams and RE-ENCODES the full run — df/cf/maxTfNorm are recomputed
  * from the merged stream, so the output is byte-identical to a
  * single-phase encode regardless of how the map side was partitioned.
  * Partial docId ranges usually abut (docs files hold contiguous rank
  * ranges) but can interleave when parquet bin-packing mixes files into
  * one read partition — the cheap non-overlap check keeps the common case
  * a plain concatenation of decode streams.
  */
private class PartialMergeIterator(
    it: Iterator[TokPartial],
    normCache: Array[Float]) extends Iterator[PostingRun] {
  private val buf = it.buffered
  override def hasNext: Boolean = buf.hasNext
  override def next(): PostingRun = {
    val term = buf.head.term
    val bucket = buf.head.bucket
    val parts = scala.collection.mutable.ArrayBuffer.empty[Seq[Block]]
    while (buf.hasNext && buf.head.term == term && buf.head.bucket == bucket)
      parts += buf.next().blocks
    val nonEmpty = parts.filter(_.nonEmpty)
    val ordered = nonEmpty.sortBy(_.head.firstDocId)
    val disjoint = (1 until ordered.size).forall(i =>
      ordered(i - 1).last.lastDocId < ordered(i).head.firstDocId)
    val merged: Iterator[(Long, Int, Byte)] =
      if (disjoint) ordered.iterator.flatMap(PostingCodec.decodeRun)
      else {
        val pq = new java.util.PriorityQueue[BufferedIterator[(Long, Int, Byte)]](
          math.max(1, ordered.size),
          Ordering.by((h: BufferedIterator[(Long, Int, Byte)]) => h.head._1))
        ordered.foreach { p =>
          val h = PostingCodec.decodeRun(p).buffered
          if (h.hasNext) pq.add(h)
        }
        new Iterator[(Long, Int, Byte)] {
          def hasNext: Boolean = !pq.isEmpty
          def next(): (Long, Int, Byte) = {
            val h = pq.poll()
            val e = h.next()
            if (h.hasNext) pq.add(h)
            e
          }
        }
      }
    var df = 0L
    var cf = 0L
    val counted = merged.map { e => df += 1; cf += e._2; e }
    val blocks = PostingCodec.encodeRun(counted, normCache)
    val maxTfNorm = if (blocks.isEmpty) 0f else blocks.map(_.maxTfNorm).max
    PostingRun(term, bucket, df, cf, maxTfNorm, blocks)
  }
}
