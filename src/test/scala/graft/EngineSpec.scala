package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.engine.{QueryExecutor, Searcher}
import graft.index.IndexBuilder
import graft.oracle.OracleEngine

/** End-to-end rank-identity suite (BASELINE.md (b)): the distributed engine
  * must return IDENTICAL top-k docIds and f32 BM25 scores to the in-repo
  * oracle on the reference query set (FIXTURES.md §3), at every parallelism
  * level, through both physical paths (exhaustive and block-max WAND),
  * before and after a simulated failure + resume.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val NRepos = 12
  val FilesPerRepo = 20

  lazy val corpus = CorpusGen.synth(spark, NRepos, FilesPerRepo, seed = 42L).cache()

  lazy val oracle: OracleEngine = new OracleEngine(
    corpus.select("repo", "path", "commit", "lang", "content")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq)

  lazy val indexRoot: String = {
    val root = TestSpark.tempDir("engine")
    new IndexBuilder(spark, root, bucketSize = 64, numPartitions = 4)
      .build(corpus)
    root
  }
  lazy val searcher = new Searcher(spark, indexRoot)

  // FIXTURES.md §3: literal/content targets from the reference's own tests
  val literalQueries = Seq(
    "ParseError", "hello", "const", "a",
    "if", "return", "import", // hot-skew terms (BASELINE.json.north_star)
    "parse index", "readToken", "if return import")

  val regexQueries = Seq(
    "pars.", "parse.*index", "im.ort", "(if|return)z?", "read[a-c]?",
    "abc.def", "token(izer)?", "impl\\s+\\w+",
    "parse|merge", "(parse|merge)Index", "wri(te|ting) cache")

  private def hits(ds: org.apache.spark.sql.Dataset[graft.engine.Hit]) =
    ds.collect().map(h => (h.docId, h.score)).toSeq
      .sortBy { case (d, s) => (-s, d) }

  test("corpus is deterministic and carries the sha invariant") {
    val rows = corpus.limit(5).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("contentSha") ==
        CorpusGen.sha256Hex(r.getAs[String]("content")))
    }
    assert(corpus.count() == NRepos.toLong * FilesPerRepo)
  }

  test("oracle and docs table agree on corpus stats") {
    val st = searcher.stats
    assert(st.n == oracle.n)
    assert(st.totalTokens == oracle.totalTokens)
    assert(st.avgdl.toFloat == oracle.avgdl)
  }

  test("docs table sha256 matches oracle rows (per-row invariant)") {
    val docShas = searcher.docs.select("docId", "contentSha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docShas.size == oracle.docs.size)
    oracle.docs.foreach { d =>
      assert(docShas(d.docId) == CorpusGen.sha256Hex(d.content))
    }
  }

  test("dict df matches oracle df (token namespace)") {
    val engineDf = searcher.dict
      .filter(!$"term".startsWith("g:") && !$"term".startsWith("p:") &&
        !$"term".startsWith("s:") && !$"term".startsWith("c:"))
      .collect().map(d => d.term -> d.df).toMap
    assert(engineDf == oracle.df)
  }

  test("dict df matches oracle df (exact-case 'c:' namespace, format v10)") {
    val engineDf = searcher.dict
      .filter($"term".startsWith("c:"))
      .collect().map(d => d.term.stripPrefix("c:") -> d.df).toMap
    assert(engineDf == oracle.casedDf)
  }

  for (q <- literalQueries; k <- Seq(10, 100)) {
    test(s"rank identity, literal '$q' k=$k: exhaustive == oracle") {
      val got = hits(searcher.searchLiteral(q, k, useWand = false))
      val want = oracle.searchLiteral(q, k)
      assert(got == want, s"\nengine: $got\noracle: $want")
    }
    test(s"rank identity, literal '$q' k=$k: WAND == oracle") {
      val got = hits(searcher.searchLiteral(q, k, useWand = true))
      val want = oracle.searchLiteral(q, k)
      assert(got == want, s"\nengine: $got\noracle: $want")
    }
  }

  test("tweaked scoring (DocumentTweaker factors) rank identity") {
    val now = 1700000000L // frozen, SURVEY §7.3
    for (q <- Seq("if", "parse index", "readToken")) {
      val got = hits(searcher.searchLiteralTweaked(q, 20, now))
      val want = oracle.searchLiteralTweaked(q, 20, now)
      assert(got == want, s"tweaked '$q'\nengine: $got\noracle: $want")
    }
  }

  test("pagination offset (TopDocs and_offset semantics)") {
    val all = hits(searcher.searchLiteral("if", 30))
    val page = searcher.searchPage("if", 10, 5)
      .map(h => (h.docId, h.score)).toSeq
    assert(page == all.slice(5, 15))
  }

  test("disjunctive (OR) path: WAND == exhaustive == oracle") {
    val terms = Seq("parse", "zebra", "import", "reader")
    for (k <- Seq(5, 50)) {
      val ex = hits(searcher.search(terms, k, conjunctive = false, useWand = false))
      val wd = hits(searcher.search(terms, k, conjunctive = false, useWand = true))
      val or = oracle.searchAny(terms, k)
      assert(ex == or)
      assert(wd == or)
    }
  }

  for (pat <- regexQueries) {
    test(s"rank identity, regex '$pat' k=10") {
      val got = searcher.searchRegex(pat, 10).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        .sortBy { case (d, s) => (-s, d) }
      val want = oracle.searchRegex(pat, 10)
      assert(got == want, s"\nengine: $got\noracle: $want")
    }
  }

  test("alternation regex prunes via fragment union (no full scan)") {
    import graft.query.RegexPlanner
    val frag = RegexPlanner.plan("parse|merge")
    // requiredGrams is empty (branches share nothing) …
    assert(RegexPlanner.requiredGrams(frag).isEmpty)
    // … but the fragment evaluation still yields a candidate subset
    val cand = searcher.fragmentCandidates(frag)
    assert(cand.isDefined)
    val nCand = cand.get.count()
    val nDocs = searcher.docs.count()
    assert(nCand < nDocs, s"fragment candidates $nCand of $nDocs docs")
    // and it is a superset of the true matches
    val truth = oracle.docs.count(d =>
      java.util.regex.Pattern.compile("(?i)parse|merge")
        .matcher(d.content).find())
    assert(nCand >= truth)
  }

  test("regex two-phase equals naive regex scan (superset-safety)") {
    // verify stage must not lose docs the prefilter should have kept
    val pat = "parse.*index"
    val naive = oracle.docs.filter(d =>
      java.util.regex.Pattern.compile("(?i)" + pat).matcher(d.content).find())
      .map(_.docId).toSet
    val got = searcher.searchRegex(pat, 100000).collect().map(_.getLong(0)).toSet
    assert(got == naive)
  }

  test("parallelism invariance: identical results at 2 and 7 partitions (N vs 4N stand-in)") {
    val root2 = TestSpark.tempDir("engine-p2")
    val root7 = TestSpark.tempDir("engine-p7")
    new IndexBuilder(spark, root2, bucketSize = 64, numPartitions = 2).build(corpus)
    new IndexBuilder(spark, root7, bucketSize = 1000000, numPartitions = 7).build(corpus)
    val s2 = new Searcher(spark, root2)
    val s7 = new Searcher(spark, root7)
    for (q <- Seq("if", "ParseError", "parse index")) {
      val a = hits(s2.searchLiteral(q, 20))
      val b = hits(s7.searchLiteral(q, 20))
      val c = hits(searcher.searchLiteral(q, 20))
      assert(a == c, s"p2 differs for '$q'")
      assert(b == c, s"p7 differs for '$q'")
    }
    // dict identical regardless of partitioning/bucketing
    val d2 = s2.dict.collect().map(d => (d.term, d.df, d.cf)).toSet
    val d7 = s7.dict.collect().map(d => (d.term, d.df, d.cf)).toSet
    assert(d2 == d7)
    // byte-level determinism: SAME bucketing at different partition counts
    // must produce identical compressed posting blocks
    val rootB = TestSpark.tempDir("engine-p5-b64")
    new IndexBuilder(spark, rootB, bucketSize = 64, numPartitions = 5).build(corpus)
    def blockBytes(root: String) =
      new Searcher(spark, root).postings.collect()
        .map(r => (r.term, r.bucket,
          r.blocks.map(b => java.util.Arrays.hashCode(b.bytes)).toSeq))
        .sortBy(x => (x._1, x._2)).toSeq
    assert(blockBytes(rootB) == blockBytes(indexRoot),
      "compressed posting bytes must be partition-count-invariant")
  }

  test("postings build completes when every doc tokenizes to nothing " +
       "(phase-1 chunk lookahead; zero-token files are indexed stubs of " +
       "the token namespaces but still carry path grams)") {
    import spark.implicits._
    val corpus = Seq(
      ("r0", "a.gitkeep", "c1", "text", ""),
      ("r0", "b.bin", "c1", "text", "!!! ... ###"),
      ("r0", "mod1/c.keep", "c1", "text", "--- ---"))
      .toDF("repo", "path", "commit", "lang", "content")
    val root = TestSpark.tempDir("zero-token-docs")
    // pre-fix this HUNG: StrPhase1Iterator.hasNext saw docs remaining,
    // next() filled chunks that never produced a partial, and the fill
    // loop never terminated
    new IndexBuilder(spark, root, bucketSize = 64).build(corpus)
    val se = new Searcher(spark, root)
    assert(se.stats.n == 3 && se.stats.totalTokens == 0)
    // the path namespace still indexed: a path search finds the doc
    assert(new graft.engine.QueryExecutor(se)
      .execute("path:mod1", 10).count() == 1)
  }

  for (form <- TestSpark.RootForms)
    test("resume after simulated failure reproduces identical artifacts" +
         form.label) {
      val dir = TestSpark.tempDir(s"engine-resume${form.tag}")
      val root = form.of(dir)
      val b = new IndexBuilder(spark, root, bucketSize = 64, numPartitions = 4)
      b.buildDocs(corpus)
      // simulate a crash mid-postings: stage output absent → resume rebuilds
      b.build(corpus)
      val s = new Searcher(spark, root)
      for (q <- Seq("if", "ParseError")) {
        assert(hits(s.searchLiteral(q, 20)) == hits(searcher.searchLiteral(q, 20)))
      }
      // now corrupt (delete) the dict and resume: only dict rebuilds. The
      // markers are checked at the bare dir: that is where they must land.
      graft.util.FsUtil.rmTree(s"$root/dict")
      val docsMtime = new java.io.File(s"$dir/docs/_SUCCESS").lastModified()
      b.build(corpus)
      assert(new java.io.File(s"$dir/dict/_SUCCESS").exists())
      assert(new java.io.File(s"$dir/docs/_SUCCESS").lastModified() == docsMtime,
        "docs stage must be skipped on resume")
      assert(hits(new Searcher(spark, root).searchLiteral("if", 10)) ==
        hits(searcher.searchLiteral("if", 10)))
      assert(!new java.io.File("file:").exists(), "stray file: dir under the cwd")
    }

  test("an index built at a bare path opens through its file: URI, " +
       "repo: search included") {
    val s = new Searcher(spark, "file://" + indexRoot)
    assert(s.repoIndex.isDefined)
    val viaUri = new QueryExecutor(s).executeRepo("repo:repo1", 100).collect()
    val viaBare = new QueryExecutor(searcher).executeRepo("repo:repo1", 100)
      .collect()
    assert(viaUri.nonEmpty && viaUri.toSeq == viaBare.toSeq)
    assert(!new java.io.File("file:").exists(), "stray file: dir under the cwd")
  }

  test("lineage: per-partition metrics written for each heavy stage") {
    val lin = spark.read.parquet(s"$indexRoot/lineage")
    val stages = lin.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("docs", "postings"))
    val rows = lin.collect()
    assert(rows.forall(_.getAs[Long]("outRows") >= 0))
    assert(rows.forall(_.getAs[String]("outSha").length == 64))
    // docs rows must cover the whole corpus exactly once
    val docRows = lin.filter($"stage" === "docs")
      .agg(org.apache.spark.sql.functions.sum($"outRows")).head().getLong(0)
    assert(docRows == oracle.n)
  }

  test("oversize files become metadata-only stubs (D7)") {
    import org.apache.spark.sql.functions.col
    val big = ("bigtokenzz " * 60001).trim + "\n" // > 600 KB
    assert(!graft.index.IndexBuilder.isIndexable(big))
    val mixed = corpus.limit(10).select("repo", "path", "commit", "lang", "content")
      .unionByName(Seq(("github.com/stub/r", "huge.bin", "c0ffee", "rust", big))
        .toDF("repo", "path", "commit", "lang", "content"))
    val root = TestSpark.tempDir("engine-stub")
    new IndexBuilder(spark, root, bucketSize = 64, numPartitions = 3)
      .build(mixed)
    val s = new Searcher(spark, root)
    // stub exists as a metadata row with empty stored content
    val stub = s.docs.filter(col("path") === "huge.bin").collect()
    assert(stub.length == 1)
    assert(!stub(0).getAs[Boolean]("indexed"))
    assert(stub(0).getAs[String]("content").isEmpty)
    // never scored: its token is unknown to the dict, stats exclude it
    assert(s.searchLiteral("bigtokenzz", 10).count() == 0)
    assert(s.stats.n == 10)
    // oracle mirrors the same semantics
    val o = new graft.oracle.OracleEngine(
      mixed.collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3), r.getString(4))).toSeq)
    assert(o.n == 10)
    assert(o.docs.count(!_.indexed) == 1)
    assert(o.searchLiteral("bigtokenzz", 10).isEmpty)
    // but its PATH stays searchable: the reference indexes stub paths too
    // — scored path field and fuzzy autocomplete both see huge.bin
    val ex = new graft.engine.QueryExecutor(s)
    val pathHits = ex.execute("path:huge", 10).collect()
    assert(pathHits.length == 1)
    val want = o.executeQuery("path:huge", 10)
    assert(pathHits.map(h => (h.docId, h.score)).toSeq == want)
    assert(graft.engine.FuzzyPath.search(s, "hugebin", 10)
      .exists(_._2 == "huge.bin"))
  }

  test("hot terms are salted: 'if' spans multiple buckets") {
    val buckets = searcher.postings.filter($"term" === "if")
      .select("bucket").distinct().count()
    assert(buckets > 1, "bucketSize=64 must split the hot term across buckets")
  }

  test("live per-stage progress events during a build (D9)") {
    import graft.index.{ProgressEvent, ProgressReporter}
    import scala.jdk.CollectionConverters._
    val events = new java.util.concurrent.ConcurrentLinkedQueue[ProgressEvent]()
    val rep = ProgressReporter.attach(spark)(events.add(_))
    try {
      val root = TestSpark.tempDir("progress")
      new IndexBuilder(spark, root, bucketSize = 64, numPartitions = 3)
        .build(corpus)
      // the listener bus is async; wait until every stage reports complete
      val stages = Set("docs", "postings", "dict")
      def byStage = events.asScala.toVector.groupBy(_.stage)
      def complete(m: Map[String, Vector[ProgressEvent]]): Boolean =
        stages.subsetOf(m.keySet) && stages.forall { st =>
          val last = m(st).last
          last.tasksTotal > 0 && last.tasksDone == last.tasksTotal
        }
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline && !complete(byStage))
        Thread.sleep(200)
      val m = byStage
      assert(complete(m), s"incomplete progress: ${m.view.mapValues(_.last).toMap}")
      for (st <- stages) {
        val done = m(st).map(_.tasksDone)
        assert(done == done.sorted, s"$st progress not monotone")
        assert(m(st).last.percent == 100)
      }
    } finally rep.close()
  }
}
