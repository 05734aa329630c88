package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{max, sum}

/** Index artifact schemas (FIXTURES.md §2). All tables are plain parquet
  * directories under an index root:
  *
  *   root/docs      one row per document
  *   root/postings  one row per (term, bucket) — bucketed posting runs
  *   root/dict      one row per term (global df/cf/maxTfNorm)
  *   root/stats     single row (corpus-level BM25 stats)
  *   root/lineage   per-stage, per-partition build metrics (resume + audit)
  *
  * The reference's single tantivy index (server/bleep/src/indexes/schema.rs)
  * splits here into docs (stored fields / fast fields) + postings+dict (the
  * inverted index) + stats (what tantivy keeps in segment metadata).
  */

/** One document. docId is the 1-based global rank of (repo, path, commit) —
  * deterministic and cluster-size-invariant (SURVEY §7.1).
  * normId is the SmallFloat-quantized token count (SURVEY §2.8);
  * lineEnds mirrors the reference's line_end_indices stored field
  * (indexes/file.rs:713-721) and drives snippet line math.
  */
case class Doc(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    contentSha: String,
    docLen: Int,
    normId: Byte,
    avgLineLength: Double,
    lineEnds: Array[Int],
    indexed: Boolean,
    branch: String)

/** One compressed posting block: up to PostingCodec.BlockSize entries of
  * (delta-docId varint, tf varint, normId byte).
  *
  * Block-max metadata: (maxTf, minNormId) — the block upper bound is
  * derived AT QUERY TIME as weight·partial(maxTf, normCache(minNormId))
  * (BlockCursor), because the norm cache depends on the QUERY's avgdl: a
  * MultiSearcher merges stats across generations, so a bound baked with
  * the building generation's avgdl (the old maxTfNorm float) stops being
  * an upper bound when the merged avgdl is larger — WAND would silently
  * prune true top-k docs. minNormId is the minimum UNSIGNED SmallFloat id
  * (ids are monotone in doc length, so min id = min norm under ANY avgdl).
  * maxTfNorm (baked with the build avgdl) is kept for the dict stats row.
  */
case class Block(
    firstDocId: Long,
    lastDocId: Long,
    maxTf: Int,
    maxTfNorm: Float,
    minNormId: Int,
    n: Int,
    bytes: Array[Byte])

/** Posting run for (term, bucket): all docs in the bucket's docId range
  * containing term, as sorted compressed blocks. Buckets are fixed docId
  * ranges (docId / bucketSize) — the deterministic "salt" that splits hot
  * terms (`if`, `return`, `import`) across partitions; a query merges a
  * term's buckets back in docId order (they are non-overlapping sorted
  * runs, so concatenation in bucket order IS the merge — the two-phase
  * partial-posting merge of BASELINE.json.north_star, SURVEY §4.3).
  */
case class PostingRun(
    term: String,
    bucket: Int,
    df: Long,
    cf: Long,
    maxTfNorm: Float,
    blocks: Seq[Block])

/** Global per-term stats (term dictionary). */
case class DictEntry(term: String, df: Long, cf: Long, maxTfNorm: Float)

object DictEntry {
  /** Per-term dict over rows carrying (term, df, cf, maxTfNorm): posting
    * runs, or the dicts of several generations. df and cf sum, maxTfNorm
    * maxes.
    */
  def aggregate(rows: DataFrame): Dataset[DictEntry] = {
    import rows.sparkSession.implicits._
    rows.groupBy($"term")
      .agg(sum($"df").as("df"), sum($"cf").as("cf"),
        max($"maxTfNorm").as("maxTfNorm"))
      .as[DictEntry]
  }
}

/** Corpus-level scoring stats: n docs, total tokens, avgdl = total/n.
  * bucketSize is the build's docId-range bucket width — stored so
  * query-time operators (e.g. the tombstone cogroup WAND) can re-derive a
  * docId's bucket without the builder.
  */
case class IndexStats(n: Long, totalTokens: Long, avgdl: Double,
                      bucketSize: Long)

object IndexStats {
  /** Stats of the union of generations: n and totalTokens sum. Their
    * posting buckets only merge at one bucketSize, so they must agree.
    */
  def merge(parts: Seq[IndexStats]): IndexStats = {
    val n = parts.map(_.n).sum
    val t = parts.map(_.totalTokens).sum
    val bs = parts.map(_.bucketSize).distinct
    require(bs.size == 1,
      s"generations disagree on bucketSize: $bs — cannot merge buckets")
    IndexStats(n, t, if (n == 0) 0.0 else t.toDouble / n, bs.head)
  }
}

/** Per-stage per-partition lineage + metrics row (SURVEY §4.5): enables
  * resume-after-failure audit and is the scale observability surface.
  */
case class LineageRow(
    stage: String,
    partitionId: Int,
    inRows: Long,
    outRows: Long,
    bytes: Long,
    outSha: String,
    wallMs: Long)

/** One raw posting before compression — oracle/debug path and the unit the
  * tokenize stage emits. Terms are namespaced: plain code tokens as-is,
  * content trigrams as "g:xyz" (regex prefilter path), path trigrams as
  * "p:xyz" (fuzzy path search). SURVEY §2.3.
  */
case class RawPosting(term: String, docId: Long, tf: Int, normId: Byte)
