package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.engine.{Hit, QueryExecutor, Searcher}
import graft.index.{IncrementalIndexer, IndexBuilder, MultiSearcher}
import graft.oracle.OracleEngine

/** The driver-local small-query path of QueryExecutor: rank identity with
  * the oracle and with the Spark path (ids, f32 scores, order, stored
  * fields, snippets), zero Spark jobs, and the gate — every shape outside
  * it runs as a Spark plan.
  */
class LocalPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val corpus = CorpusGen.synth(spark, 8, 16, seed = 11L).cache()
  lazy val oracle = new OracleEngine(
    corpus.select("repo", "path", "commit", "lang", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq)
  lazy val searcher: Searcher = {
    val root = TestSpark.tempDir("localpath")
    new IndexBuilder(spark, root, bucketSize = 32, numPartitions = 3)
      .build(corpus)
    new Searcher(spark, root)
  }
  lazy val local = new QueryExecutor(searcher)
  lazy val viaSpark = new QueryExecutor(searcher, localDfMax = 0L)

  /** A base + delta index with one repo deleted; its tombstones ship. */
  lazy val inc: IncrementalIndexer = {
    val root = TestSpark.tempDir("localpath-inc")
    val i = new IncrementalIndexer(spark, root, bucketSize = 32)
    i.buildBase(corpus)
    i.ingest(CorpusGen.synth(spark, 3, 10, seed = 12L)
      .withColumn("repo", concat(lit("d-"), col("repo"))))
    i.deleteRepo(corpus.select("repo").distinct().orderBy("repo")
      .head().getString(0))
    i
  }

  private def isLocal(df: Dataset[_]): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("LocalTableScan") && !plan.contains("FileScan")
  }

  /** Names, types and nullability of a frame's columns. */
  private def shape(df: Dataset[_]): Seq[(String, DataType, Boolean)] =
    df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq

  /** A collected value's class and, for a row, its schema, nested rows and
    * sequences included.
    */
  private def anatomy(v: Any): Any = v match {
    case r: Row => (r.getClass, r.schema, r.toSeq.map(anatomy))
    case s: scala.collection.Seq[_] => (s.getClass, s.map(anatomy).toSeq)
    case null => null
    case x => x.getClass
  }

  /** `rows`, the collect() of the local frame `got`, are what a Spark-planned
    * collect of the same frame returns, and are built like `want`, the
    * Spark path's rows: each row carries the frame's schema, the nested
    * highlight structs Spark's struct schema, and every field the Spark
    * path's class. count() and head(1) agree with them.
    */
  private def collectsLikeSpark(got: Dataset[_], rows: Seq[Any],
                                want: Seq[Any], what: String): Unit = {
    val planned = got.toDF().collect().toSeq
    rows.foreach {
      case r: Row => assert(r.schema == got.schema, what)
      case h => assert(h.getClass == classOf[Hit], what)
    }
    assert(rows.map {
      case h: Hit => Row(h.docId, h.score)
      case r => r
    } == planned, what)
    if (rows.forall(_.isInstanceOf[Row]))
      assert(rows.map(anatomy) == planned.map(anatomy), what)
    assert(rows.map(anatomy) == want.map(anatomy), what)
    assert(got.count() == rows.size, what)
    assert(got.head(1).toSeq == rows.take(1), what)
  }

  // plain literals (one and two tokens), symbol, and regex targets: one
  // required gram (fragment narrowing), several, a fused two-word regex
  val targets = Seq("parse", "index", "read_token", "symbol:read",
    "case:ignore import", "/par.e/", "/return [a-z]+/", "if return",
    "global_regex:true index.*query")

  for (q <- targets; k <- Seq(1, 10, 100)) {
    test(s"local == oracle == Spark path: '$q' k=$k") {
      val got = local.execute(q, k)
      assert(isLocal(got), got.queryExecution.executedPlan.toString)
      val gotHits = got.collect().toSeq
      val hits = gotHits.map(h => (h.docId, h.score))
      assert(hits.nonEmpty)
      assert(hits == oracle.executeQuery(q, k),
        s"\nlocal:  ${hits.take(5)}\noracle: ${oracle.executeQuery(q, k).take(5)}")
      val sparkHits = viaSpark.execute(q, k).collect().toSeq
      assert(gotHits == sparkHits)
      collectsLikeSpark(got, gotHits, sparkHits, "execute")
      val any = local.executeAny(q, k)
      assert(isLocal(any))
      val (anyRows, sparkAny) =
        (any.collect().toSeq, viaSpark.executeAny(q, k).collect().toSeq)
      assert(anyRows == sparkAny)
      collectsLikeSpark(any, anyRows, sparkAny, "executeAny")
      val page = local.executeWithSnippets(q, k)
      assert(isLocal(page))
      val (pageRows, sparkPage) = (page.collect().toSeq,
        viaSpark.executeWithSnippets(q, k).collect().toSeq)
      assert(pageRows == sparkPage)
      collectsLikeSpark(page, pageRows, sparkPage, "executeWithSnippets")
      // the local frames have the Spark frames' schemas
      assert(shape(got) == shape(viaSpark.execute(q, k)))
      assert(shape(any) == shape(viaSpark.executeAny(q, k)))
      assert(shape(page) == shape(viaSpark.executeWithSnippets(q, k)))
    }
  }

  test("local == Spark path on a MultiSearcher with shipped tombstones") {
    val ms = inc.searcher()
    val mLocal = new QueryExecutor(ms)
    val mSpark = new QueryExecutor(ms, localDfMax = 0L)
    for (q <- targets; k <- Seq(1, 10, 100)) {
      val any = mLocal.executeAny(q, k)
      assert(isLocal(any), s"'$q' k=$k")
      assert(any.collect().toSeq == mSpark.executeAny(q, k).collect().toSeq,
        s"'$q' k=$k")
      assert(mLocal.executeWithSnippets(q, k).collect().toSeq ==
        mSpark.executeWithSnippets(q, k).collect().toSeq, s"'$q' k=$k")
    }
  }

  // a content, symbol or regex target with metadata labels: each label
  // kind, a regex org (anchored, so it holds on the org segment and not
  // on the whole name), a scored and a regex path, two labels, and one
  // no candidate passes; mixed-case literals match case-insensitively
  val labelled = Seq("repo:repo1 parse", "org:org2 return",
    "repo:REPO1 parse", "org:ORG2 return", "path:MOD1 if",
    "org:/^org[12]$/ return", "lang:rust index",
    "path:mod1 if", "path:/mod[0-3]/ parse", "repo:repo lang:python return",
    "repo:org3 symbol:read", "lang:go /return [a-z]+/",
    "org:doesnotexist parse")
  // bare repo-name searches, answered from the repo sub-index
  val bareRepo = Seq("repo:repo3", "repo:org", "org:org1 repo:repo",
    "repo:REPO3")

  /** The local answers of `q` equal `spark`'s (rows, the rows' schemas and
    * field classes, and frame shapes) and run no Spark plan.
    */
  private def sameAsSpark(qe: QueryExecutor, spark: QueryExecutor, q: String,
                          k: Int): Unit = {
    val frames: Seq[QueryExecutor => Dataset[_]] =
      if (bareRepo.contains(q))
        Seq(_.executeAny(q, k), _.executeRepo(q, k),
          _.executeRepoHighlightedDF(q, k))
      else Seq(_.execute(q, k), _.executeAny(q, k),
        _.executeWithSnippets(q, k))
    frames.foreach { f =>
      val (got, want) = (f(qe), f(spark))
      assert(isLocal(got), s"'$q' k=$k: ${got.queryExecution.executedPlan}")
      assert(!isLocal(want), s"'$q' k=$k")
      val (rows, wantRows) = (got.collect().toSeq, want.collect().toSeq)
      assert(rows == wantRows, s"'$q' k=$k")
      collectsLikeSpark(got, rows, wantRows, s"'$q' k=$k")
      assert(shape(got) == shape(want), s"'$q' k=$k")
    }
  }

  for (q <- labelled ++ bareRepo; k <- Seq(1, 10, 100)) {
    test(s"labels: local == oracle == Spark path: '$q' k=$k") {
      sameAsSpark(local, viaSpark, q, k)
      if (bareRepo.contains(q)) {
        val got = local.executeRepo(q, k).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getFloat(2))).toSeq
        assert(got.nonEmpty)
        assert(got == oracle.executeRepoQuery(q, k))
      } else {
        val hits = local.execute(q, k).collect()
          .map(h => (h.docId, h.score)).toSeq
        assert(hits.isEmpty == q.startsWith("org:doesnotexist"), hits)
        assert(hits == oracle.executeQuery(q, k))
      }
    }
  }

  test("labels: local == Spark path on a MultiSearcher with shipped tombstones") {
    val ms = inc.searcher()
    val mLocal = new QueryExecutor(ms)
    val mSpark = new QueryExecutor(ms, localDfMax = 0L)
    for (q <- labelled ++ bareRepo; k <- Seq(1, 10, 100))
      sameAsSpark(mLocal, mSpark, q, k)
    // a repo label on the deleted repo: its docs match before the delete
    // and nothing after it
    val deleted = "repo:/^github.com\\/org0\\/repo0$/ parse"
    assert(oracle.executeQuery(deleted, 10).nonEmpty)
    val gone = mLocal.executeAny(deleted, 10)
    assert(isLocal(gone))
    assert(gone.collect().isEmpty)
    assert(mSpark.executeAny(deleted, 10).collect().isEmpty)
  }

  /** The Spark jobs and the SQL executions that `body` starts. Listener
    * events arrive in submission order, so `body` is followed by a marker
    * job: once it is seen, every earlier event has been counted.
    */
  private def started(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val (jobs, executions) = (new AtomicInteger(0), new AtomicInteger(0))
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.marker") != null)
          marker.countDown()
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(marker.await(60, TimeUnit.SECONDS))
      (jobs.get(), executions.get())
    } finally sc.removeSparkListener(listener)
  }

  /** Warms what loads once (the dict cache, stats and the index footers,
    * for the index and for its repo sub-index).
    */
  private def warmLocal(): Unit = {
    local.executeAny("parse", 10).collect()
    local.executeWithSnippets("/return [a-z]+/", 10).collect()
    local.executeAny("repo:repo1", 10).collect()
  }

  test("a local executeAny / executeWithSnippets submits zero Spark jobs") {
    warmLocal()
    val (jobs, _) = started {
      // plain, symbol, regex and fused-regex targets, then the benchmark's
      // filtered shapes: repo:, lang: and a scored path: with a term
      for (q <- Seq("parse", "symbol:read", "/return [a-z]+/", "if return",
                    "repo:repo1 parse", "lang:rust index", "path:mod1 if")) {
        local.executeAny(q, 10).collect()
        local.executeWithSnippets(q, 10).collect()
      }
      // and a bare repo: (a repo-name search, not a content query)
      local.executeAny("repo:org2", 10).collect()
    }
    assert(jobs == 0, s"$jobs Spark jobs on the local path")
  }

  test("a local answer's collect() posts zero SQL executions, on every face") {
    warmLocal()
    val calls = Seq[(String, () => Dataset[_])](
      "execute" -> (() => local.execute("parse", 10)),
      "executeAny" -> (() => local.executeAny("parse", 10)),
      "executeAny regex" -> (() => local.executeAny("/return [a-z]+/", 10)),
      "executeAny labelled" -> (() => local.executeAny("repo:repo1 parse", 10)),
      "executeAny bare repo:" -> (() => local.executeAny("repo:org2", 10)),
      "executeWithSnippets" -> (() => local.executeWithSnippets("path:mod1 if", 10)),
      "executeRepo" -> (() => local.executeRepo("org:org1 repo:repo", 10)),
      "executeRepoHighlightedDF" ->
        (() => local.executeRepoHighlightedDF("repo:repo3", 10)))
    for ((face, call) <- calls) {
      val (jobs, executions) = started(assert(call().collect().nonEmpty, face))
      assert((jobs, executions) == ((0, 0)),
        s"$face: $jobs Spark jobs, $executions SQL executions")
    }
  }

  test("local queries create no broadcast") {
    val blocks = org.apache.spark.SparkEnv.get.blockManager
    def broadcasts() = blocks.getMatchingBlockIds(_.isBroadcast).toSet
    // warm, as above: what loads once may broadcast
    warmLocal()
    val before = broadcasts()
    for (q <- Seq("parse", "symbol:read", "/return [a-z]+/", "if return",
                  "repo:repo1 parse", "lang:rust index", "path:mod1 if",
                  "index", "/par.e/")) {
      local.executeAny(q, 10).collect()
      local.executeWithSnippets(q, 10).collect()
    }
    // and two bare repo-name searches, over the repo sub-index
    for (q <- Seq("repo:org2", "repo:repo3")) local.executeAny(q, 10).collect()
    // the ContextCleaner may remove broadcasts meanwhile, never add one
    val added = broadcasts() -- before
    assert(added.isEmpty, s"${added.size} broadcasts over 20 local queries")
  }

  test("an index opened at a bare path and at a file: URI gives the same local frames") {
    val uri = new QueryExecutor(new Searcher(spark, "file://" + searcher.indexRoot))
    for (q <- Seq("parse", "repo:repo1 parse", "/return [a-z]+/")) {
      val frames: Seq[QueryExecutor => Dataset[_]] = Seq(_.execute(q, 10),
        _.executeAny(q, 10), _.executeWithSnippets(q, 10))
      frames.foreach { f =>
        val (got, want) = (f(uri), f(local))
        assert(isLocal(got) && isLocal(want), q)
        assert(got.collect().toSeq == want.collect().toSeq, q)
        assert(shape(got) == shape(want), q)
      }
    }
    assert(!new java.io.File("file:").exists(), "stray file: dir under the cwd")
  }

  /** The query runs as a Spark plan and still matches the oracle. */
  private def fallsBack(qe: QueryExecutor, q: String, k: Int,
                        want: Seq[(Long, Float)]): Unit = {
    val got = qe.execute(q, k)
    assert(!isLocal(got), s"'$q' k=$k must fall back to Spark")
    assert(!isLocal(qe.executeAny(q, k)))
    assert(got.collect().map(h => (h.docId, h.score)).toSeq == want, q)
  }

  test("gate: branch:, two DNF branches, case:sensitive, listings fall back") {
    for (q <- Seq("branch:main parse", "parse or index",
                  "case:sensitive Index", "lang:rust", "repo:/r.p/"))
      fallsBack(local, q, 10, oracle.executeQuery(q, 10))
    val repo = local.executeRepo("repo:/r.p/", 10)
    assert(!isLocal(repo))
    assert(repo.collect().map(r => (r.getLong(0), r.getString(1),
      r.getFloat(2))).toSeq == oracle.executeRepoQuery("repo:/r.p/", 10))
  }

  test("gate: k above BroadcastKMax falls back") {
    val got = local.execute("parse", 10001)
    assert(!isLocal(got))
    assert(got.collect().map(h => (h.docId, h.score)).toSeq ==
      oracle.executeQuery("parse", 10001))
  }

  test("gate: a summed df at the gate falls back") {
    val df = searcher.termStats(Seq("parse"))("parse")._1
    val atGate = new QueryExecutor(searcher, localDfMax = df)
    fallsBack(atGate, "parse", 10, oracle.executeQuery("parse", 10))
    assert(isLocal(new QueryExecutor(searcher, localDfMax = df + 1)
      .execute("parse", 10)))
  }

  test("gate: a regex without a required gram falls back") {
    fallsBack(local, "/ab|cd/", 10, oracle.executeQuery("/ab|cd/", 10))
  }

  test("gate: cogroup-sized tombstones keep every query on Spark") {
    val normal = inc.searcher()
    val big = new MultiSearcher(spark, inc.generations(),
      inc.readTombstones(), TombstoneShipMax = 0L)
    val qe = new QueryExecutor(big)
    for (q <- Seq("parse", "/return [a-z]+/")) {
      val got = qe.execute(q, 10)
      assert(!isLocal(got), q)
      assert(got.collect().toSeq ==
        new QueryExecutor(normal).execute(q, 10).collect().toSeq, q)
    }
  }
}
