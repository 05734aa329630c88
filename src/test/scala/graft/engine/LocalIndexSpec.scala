package graft.engine

import java.io.IOException
import java.net.URI
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus,
  FileSystem, Path, RawLocalFileSystem}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, concat, expr, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.CorpusGen
import graft.index.{IncrementalIndexer, IndexBuilder, PostingRun}
import graft.util.FsUtil

/** A local file system under the `trackfs:` scheme that counts the bytes
  * its input streams read (vectored reads included) and the streams it
  * opens and closes, per file name the streams opened, the streams that
  * read any of the file's last 8 bytes (parquet's footer length and
  * magic: one footer read) and the streams that read any byte of the
  * file's range in `regions`, and fails to open the files named in
  * `poisoned`.
  */
class TrackingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("trackfs:///")
  override def getScheme: String = "trackfs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (TrackingFs.poisoned.contains(f.getName))
      throw new IOException(s"poisoned ${f.getName}")
    val file = new java.io.RandomAccessFile(pathToFile(f), "r")
    TrackingFs.opened.incrementAndGet()
    TrackingFs.count(TrackingFs.opens, f.getName)
    val tail = file.length() - 8
    val region = TrackingFs.regions.get(f.getName)
    val counted = new FSInputStream {
      private var closed = false
      private var footer = false
      private var inRegion = false
      private def touched(pos: Long, n: Int): Unit = {
        if (!footer && pos + n > tail) {
          footer = true
          TrackingFs.count(TrackingFs.footerReads, f.getName)
        }
        for ((start, end) <- region
             if !inRegion && pos < end && pos + n > start) {
          inRegion = true
          TrackingFs.count(TrackingFs.regionReads, f.getName)
        }
      }
      override def seek(pos: Long): Unit = file.seek(pos)
      override def getPos: Long = file.getFilePointer
      override def seekToNewSource(pos: Long): Boolean = false
      override def read(): Int = {
        val pos = file.getFilePointer
        val b = file.read()
        if (b >= 0) {
          TrackingFs.bytesRead.incrementAndGet()
          touched(pos, 1)
        }
        b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val pos = file.getFilePointer
        val n = file.read(b, off, len)
        if (n > 0) {
          TrackingFs.bytesRead.addAndGet(n)
          touched(pos, n)
        }
        n
      }
      override def close(): Unit = synchronized {
        if (!closed) { closed = true; TrackingFs.closed.incrementAndGet() }
        file.close()
      }
    }
    // unbuffered: the count is what the reader asks for, not read-ahead
    new FSDataInputStream(counted)
  }
}

object TrackingFs {
  val bytesRead = new AtomicLong()
  val opened = new AtomicInteger()
  val closed = new AtomicInteger()
  /** Streams opened, by file name. */
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  /** Streams that read the file's footer, by file name. */
  val footerReads = new ConcurrentHashMap[String, AtomicInteger]()
  /** Byte ranges [start, end) watched, by file name. */
  @volatile var regions = Map.empty[String, (Long, Long)]
  /** Streams that read any byte of the file's watched range, by file name. */
  val regionReads = new ConcurrentHashMap[String, AtomicInteger]()
  @volatile var poisoned = Set.empty[String]

  private def count(m: ConcurrentHashMap[String, AtomicInteger],
                    name: String): Unit =
    m.computeIfAbsent(name, _ => new AtomicInteger()).incrementAndGet()

  /** The count of `name` in `m` (opens, footerReads or regionReads). */
  def of(m: ConcurrentHashMap[String, AtomicInteger], name: String): Int =
    Option(m.get(name)).fold(0)(_.get)

  /** The `trackfs:` spelling of a local path, with the scheme registered. */
  def root(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.trackfs.impl", classOf[TrackingFs].getName)
    s"trackfs://$path"
  }
}

/** The driver-local read layer returns exactly the rows a Spark scan of
  * the same tables returns — for bare-path and `file:` URI roots, and for
  * files of many row groups, where parquet skips the row groups that
  * cannot hold a wanted key — and the local regex verify reads its
  * candidates in rank order, stopping once k pass. The index writes
  * small pages, so a one-term or few-docId read decodes a small part of
  * a table, and a read of a file's first and last key decodes their
  * pages, not the ones between; the per-file reads of a call run in
  * parallel, concurrent callers get the sequential answers, and a failed
  * file read reaches the caller with every reader closed. A table is
  * opened once: each file's footer and page indexes are read once per
  * Searcher, and a file of zero rows is never read again.
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

  /** The parquet files of the table directory `dir`. */
  private def parquetFiles(dir: String): Seq[FileStatus] =
    FsUtil.list(dir).filter(_.getPath.getName.endsWith(".parquet"))

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

  /** The bytes a one-term postingRuns over the postings of the index at
    * `root` reads, for a term of df 1, and the bytes of those files.
    */
  private def oneTermRead(root: String): (Long, Long) = {
    val term = spark.read.parquet(s"$root/dict").filter(col("df") === 1)
      .orderBy("term").select("term").head().getString(0)
    val li = new LocalIndex(spark,
      spark.read.parquet(s"${TrackingFs.root(spark, root)}/postings"),
      searcher.docs)
    val size = parquetFiles(s"$root/postings").map(_.getLen).sum
    val b0 = TrackingFs.bytesRead.get
    assert(li.postingRuns(Seq(term)).map(_.term).toSeq == Seq(term))
    (TrackingFs.bytesRead.get - b0, size)
  }

  test("a one-term postings read of a built index reads a small part of its bytes") {
    val (read, size) = oneTermRead(searcher.indexRoot)
    assert(read * 5 < size, s"one term read $read of $size postings bytes")
  }

  /** The bytes a docRows with content over the docs of the index at
    * `root` reads, for 3 docIds spread over its largest docs file, and the
    * bytes of that file.
    */
  private def fewDocsRead(root: String): (Long, Long) = {
    val file = parquetFiles(s"$root/docs").maxBy(_.getLen)
    val ids = spark.read.parquet(file.getPath.toString).select("docId")
      .collect().map(_.getLong(0)).sorted
    val few = Seq(ids.size / 4, ids.size / 2, ids.size * 3 / 4).map(ids).toSet
    val li = new LocalIndex(spark, searcher.postings,
      spark.read.parquet(s"${TrackingFs.root(spark, root)}/docs"))
    val b0 = TrackingFs.bytesRead.get
    assert(li.docRows(few, content = true).keySet == few)
    (TrackingFs.bytesRead.get - b0, file.getLen)
  }

  /** The generation mergeDeltas wrote from two ingested deltas. */
  lazy val merged: String = {
    val root = TestSpark.tempDir("localindex-merge")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 16)
    inc.buildBase(CorpusGen.synth(spark, 2, 10, seed = 6L))
    for (seed <- Seq(7L, 8L))
      inc.ingest(CorpusGen.synth(spark, 4, 40, seed = seed)
        .withColumn("repo", concat(lit(s"d$seed-"), col("repo"))))
    inc.mergeDeltas()
    val gens = inc.generations()
    assert(gens.size == 2)
    gens.last
  }

  test("a one-term postings read of a mergeDeltas generation reads a small part of its bytes") {
    val (read, size) = oneTermRead(merged)
    assert(read * 5 < size, s"one term read $read of $size postings bytes")
  }

  test("a few-docId docs read of a mergeDeltas generation reads a small part of its docs file") {
    val (read, size) = fewDocsRead(merged)
    assert(read * 3 < size,
      s"3 docIds read $read bytes, their docs file holds $size")
  }

  /** The bytes each of `reads` reads, after one unmeasured run of each
    * (which opens the tables and reads the page indexes they use).
    */
  private def bytesOf(reads: (() => Any)*): Seq[Long] = {
    reads.foreach(_())
    reads.map { r =>
      val b0 = TrackingFs.bytesRead.get
      r()
      TrackingFs.bytesRead.get - b0
    }
  }

  test("a read of a file's first and last key reads their pages, not every page between") {
    val root = TrackingFs.root(spark, searcher.indexRoot)
    def largest(table: String): DataFrame = spark.read.parquet(
      s"$root/$table/" + parquetFiles(s"${searcher.indexRoot}/$table")
        .maxBy(_.getLen).getPath.getName)
    val postings = largest("postings")
    val docs = largest("docs")
    val li = new LocalIndex(spark, postings, docs)
    // in file order
    val terms = postings.select("term").collect().map(_.getString(0)).toSeq
    val ids = docs.select("docId").collect().map(_.getLong(0)).toSeq
    val ends = Seq(terms.head, terms.last)
    val endIds = Set(ids.head, ids.last)
    assert(terms.size > 1000 && ids.size > 64, (terms.size, ids.size))
    assert(li.postingRuns(ends).map(_.term).toSet == ends.toSet)
    assert(li.docRows(endIds, content = true).keySet == endIds)
    val Seq(allRuns, endRuns, allDocs, endDocs) = bytesOf(
      () => li.postingRuns(terms), () => li.postingRuns(ends),
      () => li.docRows(ids.toSet, content = true),
      () => li.docRows(endIds, content = true))
    assert(endRuns * 5 < allRuns,
      s"first and last term read $endRuns bytes, every term $allRuns")
    assert(endDocs * 3 < allDocs,
      s"first and last docId read $endDocs bytes, every docId $allDocs")
  }

  /** The byte range [start, end) of the page indexes of the parquet file
    * `f`: every column and offset index its footer points to.
    */
  private def pageIndexRange(f: FileStatus): (Long, Long) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()))
    try {
      val refs = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .flatMap(c => Seq(c.getColumnIndexReference, c.getOffsetIndexReference))
      assert(refs.forall(_ != null), f.getPath)
      (refs.map(_.getOffset).min, refs.map(i => i.getOffset + i.getLength).max)
    } finally r.close()
  }

  test("one LocalIndex reads each file's page indexes once over many reads") {
    val files = Seq("postings", "docs").map(t =>
      t -> parquetFiles(s"${searcher.indexRoot}/$t").filter(rowCount(_) > 0))
      .toMap
    assert(files.values.forall(_.size > 1))
    def firstOf(f: FileStatus, column: String): Any =
      spark.read.parquet(f.getPath.toString).select(column).head().get(0)
    // a key of every file, so each read decodes a page of every file
    val terms = files("postings").map(firstOf(_, "term").asInstanceOf[String])
    val ids = files("docs").map(firstOf(_, "docId").asInstanceOf[Long]).toSet
    val names = files.values.flatten.map(_.getPath.getName).toSeq
    TrackingFs.regions = files.values.flatten
      .map(f => f.getPath.getName -> pageIndexRange(f)).toMap
    try {
      val root = TrackingFs.root(spark, searcher.indexRoot)
      val li = new LocalIndex(spark, spark.read.parquet(s"$root/postings"),
        spark.read.parquet(s"$root/docs"))
      val before = names.map(TrackingFs.of(TrackingFs.regionReads, _))
      for (_ <- 1 to 20) {
        assert(li.postingRuns(terms).map(_.term).toSet == terms.toSet)
        assert(li.docRows(ids, content = true).keySet == ids)
      }
      val reads = names.map(TrackingFs.of(TrackingFs.regionReads, _))
        .zip(before).map { case (a, b) => a - b }
      assert(reads.forall(_ == 1), names.zip(reads))
    } finally TrackingFs.regions = Map.empty
  }

  test("a per-file read that throws reaches the caller, with every reader closed") {
    val root = TrackingFs.root(spark, searcher.indexRoot)
    val li = new LocalIndex(spark, spark.read.parquet(s"$root/postings"),
      spark.read.parquet(s"$root/docs"))
    val want = li.postingRuns(terms).map(key).toSet
    val ids = Set(1L, 7L, 30L, 59L, 60L)
    val wantDocs = li.docRows(ids, content = true).keySet
    assert(want.nonEmpty && wantDocs == ids)
    assert(TrackingFs.opened.get > 0)
    assert(TrackingFs.opened.get == TrackingFs.closed.get)
    def names(table: String): Seq[String] =
      parquetFiles(s"${searcher.indexRoot}/$table").map(_.getPath.getName)
        .sorted
    def poisonedCause(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.isInstanceOf[IOException] &&
          String.valueOf(c.getMessage).startsWith("poisoned"))
    try {
      for ((table, read) <- Seq[(String, () => Any)](
          "postings" -> (() => li.postingRuns(terms)),
          "docs" -> (() => li.docRows(ids, content = true)));
          bad <- names(table)) {
        assert(names(table).size > 1)
        TrackingFs.poisoned = Set(bad)
        val e = intercept[Throwable](read())
        assert(poisonedCause(e), s"$table $bad: $e")
        assert(TrackingFs.opened.get == TrackingFs.closed.get,
          s"$table $bad: ${TrackingFs.opened.get} opened, " +
            s"${TrackingFs.closed.get} closed")
      }
    } finally TrackingFs.poisoned = Set.empty
    // the shared pool still serves reads
    assert(li.postingRuns(terms).map(key).toSet == want)
    assert(li.docRows(ids, content = true).keySet == wantDocs)
    assert(TrackingFs.opened.get == TrackingFs.closed.get)
  }

  /** The number of rows the footer of `f` counts. */
  private def rowCount(f: FileStatus): Long = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()))
    try r.getRecordCount
    finally r.close()
  }

  test("a zero-row docs file is dropped when the table opens, and no later read opens it") {
    val dir = TestSpark.tempDir("localindex-empty")
    searcher.docs.repartition(2).write.parquet(s"$dir/docs")
    // an empty frame still writes one part file, holding no rows
    searcher.docs.limit(0).write.mode("append").parquet(s"$dir/docs")
    val files = parquetFiles(s"$dir/docs")
    val (empty, full) = files.partition(rowCount(_) == 0)
    assert(empty.size == 1 && full.size == 2, files.map(_.getPath))
    val emptyName = empty.head.getPath.getName
    val docs = spark.read.parquet(s"${TrackingFs.root(spark, dir)}/docs")
    val li = new LocalIndex(spark, searcher.postings, docs)
    val ids = Set(1L, 7L, 30L, 59L, 60L)
    val opens0 = TrackingFs.of(TrackingFs.opens, emptyName)
    // the first read opens the table: the empty file's footer, once
    matchesSparkScan(li, searcher.postings.toDF(), searcher.docs, ids)
    assert(TrackingFs.of(TrackingFs.opens, emptyName) == opens0 + 1)
    for (content <- Seq(true, false))
      assert(li.docRows(ids, content).keySet == ids)
    assert(li.foldDocs(ids, content = false)(_.size).sum == ids.size)
    assert(TrackingFs.of(TrackingFs.opens, emptyName) == opens0 + 1)
    assert(full.forall(f => TrackingFs.of(TrackingFs.opens, f.getPath.getName) > 1))
  }

  test("one Searcher reads each postings and docs footer once over many queries") {
    val tracked = new Searcher(spark, TrackingFs.root(spark, searcher.indexRoot))
    // what the Searcher loads through Spark: the tables' schemas, the
    // dict and the stats
    tracked.postings.schema
    tracked.docs.schema
    tracked.termStats(Seq("parse"))
    assert(tracked.dictCached)
    val names = Seq("postings", "docs").flatMap(t =>
      parquetFiles(s"${searcher.indexRoot}/$t").map(_.getPath.getName))
    assert(names.size > 2)
    val before = names.map(TrackingFs.of(TrackingFs.footerReads, _))
    val qe = new QueryExecutor(tracked)
    // one-term, two-term, regex, labelled and page queries, 20 in all
    val queries: Seq[() => DataFrame] = Seq("parse", "if", "return",
        "read parse", "if return", "/return [a-z]+Build/", "/par.e/",
        "repo:repo1 parse", "lang:rust if", "path:mod1 return")
      .flatMap(q => Seq(() => qe.executeAny(q, 10),
        () => qe.executeWithSnippets(q, 100)))
    assert(queries.size == 20)
    queries.foreach { q =>
      val df = q()
      assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      df.collect()
    }
    val reads = names.map(TrackingFs.of(TrackingFs.footerReads, _))
      .zip(before).map { case (a, b) => a - b }
    assert(reads.forall(_ == 1), names.zip(reads))
  }

  /** A LocalIndex over the spec's index that records the size of each
    * docId set it is asked to read.
    */
  private def askingIndex(asked: mutable.Buffer[Int]): LocalIndex =
    new LocalIndex(spark, searcher.postings, searcher.docs) {
      override def foldDocs[A](ids: collection.Set[Long], content: Boolean)
                              (perFile: Iterator[PageRow] => A): Seq[A] = {
        asked += ids.size
        super.foldDocs(ids, content)(perFile)
      }
    }

  test("eight concurrent callers of one QueryExecutor each get the sequential answer") {
    val qe = new QueryExecutor(searcher)
    val twoPass = "/return [a-z]+Build/"
    // fewer than k = 10 of its best VerifyChunk candidates pass, so the
    // regex verify reads docs twice
    val asked = mutable.ArrayBuffer.empty[Int]
    val li = askingIndex(asked)
    assert(new LocalSearch(searcher, li, Array.emptyLongArray, Long.MaxValue)
      .checked(LocalSearch.Regex(twoPass.stripPrefix("/").stripSuffix("/")),
        Nil, None, 10).get.size == 10)
    assert(asked.size == 2, asked)
    val queries: Seq[() => DataFrame] = Seq(
      () => qe.executeAny("parse", 10),
      () => qe.executeAny("symbol:read", 10),
      () => qe.executeAny(twoPass, 10),
      () => qe.execute(twoPass, 10).toDF(),
      () => qe.executeWithSnippets("index", 100),
      () => qe.executeWithSnippets(twoPass, 10))
    def run(q: () => DataFrame): Seq[Row] = {
      val df = q()
      assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
      df.collect().toSeq
    }
    val want = queries.map(run)
    assert(want.forall(_.nonEmpty))
    val threads = Executors.newFixedThreadPool(8)
    try {
      val got = (0 until 8).map(t => threads.submit(new Callable[Seq[Seq[Row]]] {
        // each thread runs every query 4 times, starting at its own one
        def call(): Seq[Seq[Row]] = (0 until 4 * queries.size).map(i =>
          run(queries((t + i) % queries.size)))
      }))
      got.zipWithIndex.foreach { case (f, t) =>
        f.get(5, TimeUnit.MINUTES).zipWithIndex.foreach { case (rows, i) =>
          assert(rows == want((t + i) % queries.size), s"thread $t call $i")
        }
      }
    } finally threads.shutdownNow()
  }

  test("regex verify reads the best-ranked candidates first and stops once k pass") {
    val asked = mutable.ArrayBuffer.empty[Int]
    val li = askingIndex(asked)
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
      val got = ls.checked(LocalSearch.Regex("return"), Nil, None, k).get
        .map(r => (r.docId, r.score))
      assert(got == viaSpark("return", k))
      assert(asked.toSeq == Seq(LocalSearch.VerifyChunk), s"k=$k")
    }

    // the same candidates, none of which matches: a second pass reads
    // all the others
    asked.clear()
    assert(ls.checked(LocalSearch.Regex("return[0-9]q"), Nil, None, 1).get.isEmpty)
    assert(viaSpark("return[0-9]q", 1).isEmpty)
    assert(asked.toSeq == Seq(LocalSearch.VerifyChunk, n - LocalSearch.VerifyChunk))
  }
}
