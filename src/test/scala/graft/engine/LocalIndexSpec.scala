package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, concat, expr, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, PostingRun}

/** The driver-local read layer returns exactly the rows a Spark scan of
  * the same tables returns — for bare-path and `file:` URI roots, and for
  * files of many row groups, where parquet skips the row groups that
  * cannot hold a wanted key — and the local regex verify reads its
  * candidates in rank order, stopping once k pass.
  */
class LocalIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val searcher: Searcher = {
    val root = TestSpark.tempDir("localindex")
    new IndexBuilder(spark, root, bucketSize = 16, numPartitions = 3)
      .build(CorpusGen.synth(spark, 8, 40, seed = 5L))
    new Searcher(spark, root)
  }

  private def key(r: PostingRun) = (r.term, r.bucket, r.df, r.cf,
    r.maxTfNorm, r.blocks.map(b => (b.firstDocId, b.lastDocId, b.maxTf,
      b.maxTfNorm, b.minNormId, b.n, b.bytes.toSeq)))

  private val terms = Seq("if", "parse", "g:ret", "s:read", "absentterm")

  /** `li` returns the postings and docs rows a Spark scan of `postings`
    * and `docs` returns, for `terms` and `ids`.
    */
  private def matchesSparkScan(li: LocalIndex, postings: DataFrame,
                               docs: DataFrame, ids: Set[Long]): Unit = {
    val want = postings.filter(col("term").isin(terms: _*))
      .as(Encoders.product[PostingRun]).collect().map(key).toSet
    assert(want.nonEmpty)
    assert(li.postingRuns(terms).map(key).toSet == want)

    val rows = docs.filter(col("docId").isin(ids.toSeq: _*))
      .select("docId", "repo", "path", "lang", "content", "lineEnds")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getSeq[Int](5)))).toMap
    assert(rows.nonEmpty)
    val got = li.docRows(ids, content = true)
    assert(got.keySet == rows.keySet)
    got.foreach { case (id, p) =>
      assert((p.repo, p.path, p.lang, p.content, p.lineEnds.toSeq) == rows(id))
    }
    val meta = li.docRows(ids, content = false)
    assert(meta.values.forall(p => p.content == null && p.lineEnds == null))
    assert(meta.map { case (id, p) => id -> p.path } ==
      got.map { case (id, p) => id -> p.path })
  }

  for ((name, root) <- Seq(
      "bare path" -> (() => searcher.indexRoot),
      "file: URI" -> (() => new java.io.File(searcher.indexRoot).toURI.toString)))
    test(s"posting runs and docs rows match a Spark scan ($name)") {
      val postings = spark.read.parquet(s"${root()}/postings")
      val docs = spark.read.parquet(s"${root()}/docs")
      matchesSparkScan(new LocalIndex(spark, postings, docs), postings, docs,
        Set(1L, 7L, 30L, 59L, 60L, 1000L))
    }

  /** Writes `df` sorted by `key` into `path`, at most `rows` rows per
    * row group, and checks that every file holds several row groups.
    */
  private def writeRowGroups(df: DataFrame, key: String, path: String,
                             rows: Int): DataFrame = {
    df.repartition(2).sortWithinPartitions(key)
      .write.option("parquet.block.row.count.limit", rows.toString)
      .parquet(path)
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    for (f <- dir.getFileSystem(conf).listStatus(dir)
         if f.getPath.getName.endsWith(".parquet")) {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try assert(r.getRowGroups.size > 1, f.getPath)
      finally r.close()
    }
    spark.read.parquet(path)
  }

  test("files of many row groups: posting runs and docs rows match a Spark scan") {
    val dir = TestSpark.tempDir("localindex-rowgroups")
    val postings = writeRowGroups(searcher.postings.toDF(), "term",
      s"$dir/postings", 8)
    val docs = writeRowGroups(searcher.docs, "docId", s"$dir/docs", 8)
    val ids = docs.select("docId").collect().map(_.getLong(0)).sorted
    matchesSparkScan(new LocalIndex(spark, postings, docs), postings, docs,
      ids.grouped(7).map(_.head).toSet)
  }

  /** Bytes read from local files so far, over every thread. */
  private def bytesRead(): Long =
    FileSystem.getGlobalStorageStatistics.iterator.asScala
      .map(s => Option(s.getLong("bytesRead")).fold(0L)(_.longValue)).sum

  test("a docs read skips the row groups that cannot hold a wanted docId") {
    // 64 docs of ~64 KB of hex each, 8 per row group: a row group is far
    // larger than the reader's buffers and footers
    val dir = TestSpark.tempDir("localindex-skip")
    val wide = spark.range(64).select(col("id").as("docId"),
      lit("r").as("repo"), concat(lit("p"), col("id")).as("path"),
      lit("rust").as("lang"),
      expr("concat_ws('', transform(sequence(1, 1000), " +
        "i -> sha2(cast(id * 1000 + i as string), 256)))").as("content"),
      expr("array(0)").as("lineEnds"))
    val docs = writeRowGroups(wide, "docId", s"$dir/docs", 8)
    val li = new LocalIndex(spark, searcher.postings, docs)
    // vectored reads bypass the file system's byte counters
    spark.conf.set("parquet.hadoop.vectored.io.enabled", "false")
    try {
      val b0 = bytesRead()
      assert(li.docRows((0L until 64L).toSet, content = true).size == 64)
      val all = bytesRead() - b0
      val b1 = bytesRead()
      assert(li.docRows(Set(37L), content = true).keySet == Set(37L))
      val one = bytesRead() - b1
      assert(all > 64 * 64 * 1000 / 2, s"all docIds read $all bytes")
      // the docId's range sits in one row group of each of the 2 files:
      // 2 of the 8 row groups are read
      assert(one * 3 < all, s"one docId read $one bytes, all docIds $all")
    } finally spark.conf.unset("parquet.hadoop.vectored.io.enabled")
  }

  test("regex verify reads the best-ranked candidates first and stops once k pass") {
    val asked = mutable.ArrayBuffer.empty[Int]
    val li = new LocalIndex(spark, searcher.postings, searcher.docs) {
      override def scanDocs(ids: collection.Set[Long], content: Boolean)
                           (f: PageRow => Unit): Unit = {
        asked += ids.size
        super.scanDocs(ids, content)(f)
      }
    }
    val ls = new LocalSearch(searcher, li, Array.emptyLongArray, Long.MaxValue)
    def viaSpark(pattern: String, k: Int): Seq[(Long, Float)] =
      searcher.regexAll(pattern).orderBy(col("score").desc, col("docId").asc)
        .limit(k).select("docId", "score").collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    def candidates(pattern: String): Long = {
      val grams = graft.query.RegexPlanner.requiredGrams(
        graft.query.RegexPlanner.plan(pattern)).map("g:" + _).toSeq.sorted
      searcher.scoreAll(grams, searcher.termStats(grams)
        .map { case (t, (_, w)) => t -> w }, conjunctive = true).count()
    }

    // many candidates, the best-ranked ones match: one chunk is read
    val n = candidates("return")
    assert(n > LocalSearch.VerifyChunk * 2, n)
    for (k <- Seq(1, 10)) {
      asked.clear()
      val got = ls.regex("return", k).get.map(r => (r.docId, r.score))
      assert(got == viaSpark("return", k))
      assert(asked.toSeq == Seq(LocalSearch.VerifyChunk), s"k=$k")
    }

    // the same candidates, none of which matches: a second pass reads
    // all the others
    asked.clear()
    assert(ls.regex("return[0-9]q", 1).get.isEmpty)
    assert(viaSpark("return[0-9]q", 1).isEmpty)
    assert(asked.toSeq == Seq(LocalSearch.VerifyChunk, n - LocalSearch.VerifyChunk))
  }
}
