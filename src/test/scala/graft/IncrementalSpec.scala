package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions.fromString

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.engine.{QueryExecutor, Searcher}
import graft.index.{IncrementalIndexer, IndexBuilder, MultiSearcher}
import graft.util.FsUtil

/** Incremental indexing semantics (SURVEY §4.5, reference cache.rs D2 +
  * delete S8): freshness skip, update = delete+add via tombstones,
  * delete-by-repo, multi-generation search with Lucene-style stale stats,
  * full score parity after compaction, and the manifest commit protocol.
  */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // two disjoint corpus slices from different seeds
  lazy val corpusA = CorpusGen.synth(spark, 6, 12, seed = 100L).cache()
  lazy val corpusB = CorpusGen.synth(spark, 4, 10, seed = 200L)
    .withColumn("repo", concat(lit("b-"), col("repo"))).cache()

  private def repoSet(df: DataFrame): Set[String] =
    df.select("repo").distinct().collect().map(_.getString(0)).toSet
  private lazy val aRepos = repoSet(corpusA)
  private lazy val bRepos = repoSet(corpusB)
  private lazy val victim = aRepos.min

  /** A root holding corpusA's base at bucketSize 64, built once. Tests
    * that start from it copy it (copyOf); the manifest names entries
    * relative to the root, so a copy is a valid root.
    */
  private lazy val baseA: String = {
    val root = TestSpark.tempDir("inc-template-a")
    new IncrementalIndexer(spark, root, bucketSize = 64).buildBase(corpusA)
    root
  }

  /** baseA with corpusB ingested as one delta. */
  private lazy val baseAB: String = {
    val root = copyOf(baseA, "inc-template-ab")
    new IncrementalIndexer(spark, root, bucketSize = 64).ingest(corpusB)
    root
  }

  /** baseAB with the repo `victim` deleted. */
  private lazy val baseABv: String = {
    val root = copyOf(baseAB, "inc-template-abv")
    new IncrementalIndexer(spark, root, bucketSize = 64).deleteRepo(victim)
    root
  }

  /** A copy of the tree at `src` in the fresh temp dir `name`. */
  private def copyOf(src: String, name: String): String = {
    val dir = TestSpark.tempDir(name)
    copyTree(src, dir)
    dir
  }

  /** Copies the tree at `src` to `dst`, which must not exist or be empty. */
  private def copyTree(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val to = Paths.get(dst).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
  }

  private def fullRebuild(dfs: Seq[DataFrame], name: String): Searcher = {
    val root = TestSpark.tempDir(s"inc-full-$name")
    new IndexBuilder(spark, root, bucketSize = 64).build(
      dfs.reduce(_ unionByName _))
    new Searcher(spark, root)
  }

  private lazy val fullAB = fullRebuild(Seq(corpusA, corpusB), "ab")
  private lazy val fullABv = fullRebuild(
    Seq(corpusA.filter(col("repo") =!= victim), corpusB), "ab-victim")

  /** identity on (repo, path, score) — docIds differ across generations
    * by construction.
    */
  private def keyedHits(s: Searcher, q: String): Set[(String, String, Float)] = {
    val hits = s.search(s.queryTerms(q), 1000, conjunctive = true,
      useWand = false)
    s.materialize(hits).select("repo", "path", "score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getFloat(2))).toSet
  }

  /** (docId, score) of every conjunctive hit of `q`. */
  private def docHits(s: Searcher, q: String): Set[(Long, Float)] =
    s.search(s.queryTerms(q), 1000, conjunctive = true, useWand = false)
      .collect().map(h => (h.docId, h.score)).toSet

  private def repoNames(s: Searcher): Set[String] =
    new QueryExecutor(s).executeRepo("repo:org", 1000).collect()
      .map(_.getString(1)).toSet

  /** Root entries that the root's highest manifest does not name: all of
    * them when it has none.
    */
  private def unreferenced(dir: String): Set[String] = {
    val names = new java.io.File(dir).list().toSet
    val live = names.filter(_.startsWith("manifest-"))
      .maxByOption(_.stripPrefix("manifest-").toInt)
    val named = live.toSeq.flatMap(l => Files.readAllLines(Paths.get(dir, l)).asScala)
      .map(_.split(' ')).collect {
        case Array(k, v) if k != "bucketSize" => v.takeWhile(_ != '/')
      }
    names -- named -- live
  }

  /** Every path under `dir`, with its size and modification time. */
  private def tree(dir: String): Set[(Path, Long, Long)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.map(p => (p, Files.size(p),
      Files.getLastModifiedTime(p).toMillis)).toSet
    finally walk.close()
  }

  /** Runs `f` with `dir` at 0555: read-only under Hadoop's permission
    * check even for root, whom the kernel would let write.
    */
  private def readOnly[T](dir: String)(f: => T): T = {
    val d = Paths.get(dir)
    val rw = Files.getPosixFilePermissions(d)
    Files.setPosixFilePermissions(d, fromString("r-xr-xr-x"))
    try f finally Files.setPosixFilePermissions(d, rw)
  }

  /** A one-file batch: corpusA's `idx`-th row by (repo, path), with new
    * content under the same key.
    */
  private def changedRow(idx: Int, content: String): DataFrame = {
    val v = corpusA.orderBy("repo", "path").limit(idx + 1).collect().last
    Seq((v.getString(0), v.getString(1), v.getString(2), v.getString(3),
      content)).toDF("repo", "path", "commit", "lang", "content")
  }

  test("ingest of disjoint batch == full rebuild (scores + doc keys)") {
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-1"),
      bucketSize = 64)
    assert(inc.ingest(corpusB) == corpusB.count())
    val full = fullAB
    val ms = inc.searcher()
    assert(ms.stats == full.stats)
    for (q <- Seq("if", "parse", "return index")) {
      assert(keyedHits(ms, q) == keyedHits(full, q), s"query '$q'")
    }
  }

  test("freshness: re-ingesting identical rows indexes nothing (D2)") {
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-2"),
      bucketSize = 64)
    assert(inc.ingest(corpusA) == 0L)
    assert(inc.generations().size == 1)
  }

  test("update = delete+add: changed content tombstones the old doc") {
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-3"),
      bucketSize = 64)
    // change one file's content (same repo/path/commit key)
    val victim = corpusA.limit(1).collect()(0)
    val changed = Seq((victim.getString(0), victim.getString(1),
      victim.getString(2), victim.getString(3),
      "entirely new uniquetokenxyz content\n"))
      .toDF("repo", "path", "commit", "lang", "content")
    assert(inc.ingest(changed) == 1L)
    val ms = inc.searcher()
    // old content version is gone; new token findable; exactly one live
    // doc for that key
    val hits = ms.search(Seq("uniquetokenxyz"), 10, conjunctive = true,
      useWand = false)
    val mat = ms.materialize(hits).select("repo", "path").collect()
    assert(mat.length == 1)
    assert(mat(0).getString(0) == victim.getString(0))
    val liveForKey = ms.docs.filter(col("repo") === victim.getString(0) &&
      col("path") === victim.getString(1)).count()
    assert(liveForKey == 1L)
  }

  test("branch-only change re-adds: same content, grown branch list " +
    "replaces the old doc (freshness key includes branch)") {
    // baseA has no branch column -> stored as ""
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-branch"),
      bucketSize = 64)
    val victim = corpusA.limit(1).collect()(0)
    val rebranched = Seq((victim.getString(0), victim.getString(1),
      victim.getString(2), victim.getString(3), victim.getString(4),
      "main release-1"))
      .toDF("repo", "path", "commit", "lang", "content", "branch")
    // same content => before the round-5 fix this was skipped as unchanged
    assert(inc.ingest(rebranched) == 1L)
    val ms = inc.searcher()
    val live = ms.docs.filter(col("repo") === victim.getString(0) &&
      col("path") === victim.getString(1)).select("branch").collect()
    assert(live.length == 1, "old branch version must be tombstoned")
    assert(live(0).getString(0) == "main release-1")
    // idempotent: the same branch list again is now unchanged
    assert(inc.ingest(rebranched) == 0L)
  }

  test("second update-ingest after tombstones exist (tombstone-file swap regression)") {
    // regression: `fresh` used to lazily scan the tombstone parquet that
    // appendTombstones had already swapped out → FileNotFoundException
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-6"),
      bucketSize = 64)
    def changed(idx: Int, token: String) =
      changedRow(idx, s"$token fresh content\n")
    assert(inc.ingest(changed(0, "tokaaa")) == 1L)
    assert(inc.ingest(changed(1, "tokbbb")) == 1L) // used to crash here
    val ms = inc.searcher()
    assert(ms.search(Seq("tokaaa"), 5, conjunctive = true, useWand = false)
      .count() == 1)
    assert(ms.search(Seq("tokbbb"), 5, conjunctive = true, useWand = false)
      .count() == 1)
  }

  test("compact() with oversize stubs does not resurrect them as indexed docs") {
    val root = TestSpark.tempDir("inc-7")
    val big = ("stubtok " * 80000) + "\n" // > 600 KB
    val withStub = corpusA
      .select("repo", "path", "commit", "lang", "content")
      .unionByName(Seq(("github.com/stub/r", "huge.bin", "cafe", "go", big))
        .toDF("repo", "path", "commit", "lang", "content"))
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(withStub)
    assert(inc.searcher().stats.n == corpusA.count()) // stub not counted
    inc.compact()
    val after = inc.searcher()
    assert(after.stats.n == corpusA.count(),
      "compaction must not turn a stub into an indexed empty doc")
    assert(after.docs.filter(org.apache.spark.sql.functions.col("indexed") === false)
      .count() == 0) // stubs dropped at compaction (documented)
  }

  test("delete-by-repo tombstones every doc of the repo (S8)") {
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-4"),
      bucketSize = 64)
    val repo = victim
    inc.deleteRepo(repo)
    val ms = inc.searcher()
    assert(ms.docs.filter(col("repo") === repo).count() == 0)
    // hits never surface deleted docs
    val hits = ms.search(Seq("if"), 10000, conjunctive = true, useWand = false)
    assert(ms.materialize(hits).filter(col("repo") === repo).count() == 0)
  }

  test("compact() restores exact rebuild equivalence (docIds AND scores)") {
    val inc = new IncrementalIndexer(spark, copyOf(compactedABv, "inc-5"),
      bucketSize = 64) // compacted
    assert(inc.generations().size == 1)
    val full = fullABv
    val ms = inc.searcher()
    assert(ms.stats == full.stats)
    for (q <- Seq("if", "parse index")) {
      val got = ms.search(ms.queryTerms(q), 50, conjunctive = true,
        useWand = false).collect().map(h => (h.docId, h.score)).toSet
      val want = full.search(full.queryTerms(q), 50, conjunctive = true,
        useWand = false).collect().map(h => (h.docId, h.score)).toSet
      assert(got == want, s"query '$q' after compact")
    }
  }

  test("multi-generation WAND == exhaustive (tombstone-aware dead-doc skip)") {
    val inc = new IncrementalIndexer(spark, copyOf(baseABv, "inc-wand"),
      bucketSize = 64)
    val repo = victim
    val ms = inc.searcher()
    for (q <- Seq("if", "parse", "return index", "if return import")) {
      val terms = ms.queryTerms(q)
      def hits(wand: Boolean) =
        ms.search(terms, 25, conjunctive = true, useWand = wand)
          .collect().map(h => (h.docId, h.score)).toSeq
          .sortBy { case (d, s) => (-s, d) }
      assert(hits(wand = true) == hits(wand = false), s"query '$q'")
      // and the deleted repo never surfaces through the WAND path
      assert(ms.materialize(ms.search(terms, 1000, conjunctive = true,
        useWand = true)).filter(col("repo") === repo).count() == 0)
    }
  }

  test("oversize tombstone set: cogroup WAND, no ship, stays rank-identical") {
    // base + delta: multi-generation buckets through the cogroup too
    val inc = new IncrementalIndexer(spark, copyOf(baseABv, "inc-bigtomb"),
      bucketSize = 64)
    val repo = victim
    // force the >gate path (as if billions of tombstones): WAND now runs
    // via Searcher.wandTopKCogroup — tombstones co-partitioned on the
    // docId-range bucket, nothing collected or broadcast
    val big = new MultiSearcher(spark, inc.generations(),
      inc.readTombstones(), TombstoneShipMax = 0L)
    val normal = inc.searcher()
    assert(big.docs.filter(col("repo") === repo).count() == 0)
    for ((q, conj) <- Seq(("if", true), ("parse", true),
        ("return index", true), ("if return import", false))) {
      def sorted(hits: Array[graft.engine.Hit]) =
        hits.map(h => (h.docId, h.score)).toSeq.sortBy { case (d, s) => (-s, d) }
      val got = sorted(big.search(big.queryTerms(q), 50, conjunctive = conj,
        useWand = true).collect())
      val want = sorted(normal.search(normal.queryTerms(q), 50,
        conjunctive = conj, useWand = false).collect())
      assert(got == want, s"query '$q' conj=$conj")
      // the deleted repo never surfaces through the cogroup WAND path
      assert(big.materialize(big.search(big.queryTerms(q), 1000,
        conjunctive = conj, useWand = true))
        .filter(col("repo") === repo).count() == 0)
    }
  }

  test("skewed-avgdl generations: WAND == exhaustive at small k (merged-stats block bounds)") {
    // base has short docs, delta much longer ones → the merged avgdl is far
    // from the base generation's own; a block bound baked with the BUILD
    // avgdl underestimates true merged-avgdl scores and WAND silently
    // drops top-k docs (round-2 review finding). Bounds are now derived at
    // query time from (maxTf, minNormId).
    val shortDocs = (1 to 60).map { i =>
      (s"r/short", s"s/f$i.rs", "c1", "rust",
        ("alpha " * (i % 4 + 1)) + "beta gamma")
    }.toDF("repo", "path", "commit", "lang", "content")
    val longDocs = (1 to 60).map { i =>
      (s"r/long", s"l/f$i.rs", "c1", "rust",
        "alpha beta " + ("filler " * (50 + i % 40)).trim)
    }.toDF("repo", "path", "commit", "lang", "content")
    val root = TestSpark.tempDir("inc-avgdl")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(shortDocs)
    inc.ingest(longDocs)
    val ms = inc.searcher()
    for {
      (q, conj) <- Seq(("alpha", true), ("beta", true), ("alpha beta", true),
        ("gamma", true), ("alpha gamma", false))
      k <- Seq(1, 2, 5, 10)
    } {
      def sorted(wand: Boolean) =
        ms.search(ms.queryTerms(q), k, conjunctive = conj, useWand = wand)
          .collect().map(h => (h.docId, h.score)).toSeq
          .sortBy { case (d, s) => (-s, d) }
      assert(sorted(wand = true) == sorted(wand = false),
        s"query '$q' k=$k conj=$conj")
    }
  }

  test("repo-name search tracks ingests and deletes (live repo sub-index)") {
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-repoidx"),
      bucketSize = 64)
    assert(repoNames(inc.searcher()) == aRepos) // base's own sub-index
    inc.ingest(corpusB) // refresh picks up the new repos immediately
    assert(repoNames(inc.searcher()) == aRepos ++ bRepos)
    inc.deleteRepo(victim) // and drops deleted ones without compaction
    assert(repoNames(inc.searcher()) == (aRepos - victim) ++ bRepos)
  }

  test("repo-index refresh derives names without scanning generation docs " +
       "(O(#repos + batch), round-2 VERDICT item 3)") {
    val inc = new IncrementalIndexer(spark, copyOf(baseAB, "inc-repoidx-incr"),
      bucketSize = 64)
    // the name set for a subsequent delete derives from the live
    // sub-index's OWN docs — the generations' file docs never enter the
    // plan, so refresh cost is O(#repos), not O(#files)
    val names = inc.liveRepoNames(added = None, removed = Some(victim)).get
    val plan = names.queryExecution.executedPlan.toString
    assert(plan.contains("repoIndex"), plan.take(2000))
    assert(inc.generations().forall(g => !plan.contains(s"$g/docs")),
      s"refresh must not scan generation docs:\n${plan.take(3000)}")
    val got = names.distinct().collect().map(_.getString(0)).toSet
    assert(got == aRepos ++ bRepos - victim)
  }

  test("compact() works on a delta-only root (ingest without buildBase)") {
    val root = TestSpark.tempDir("inc-deltaonly")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.ingest(corpusA) // no base generation exists
    inc.compact()
    assert(inc.generations() == Seq(s"$root/base-3"))
    val s = inc.searcher()
    val full = fullRebuild(Seq(corpusA), "deltaonly")
    for (q <- Seq("if", "parse"))
      assert(keyedHits(s, q) == keyedHits(full, q), s"query '$q'")
  }

  test("mergeDeltas: bit-identical results (docIds AND scores), one merged delta") {
    val root = copyOf(baseA, "inc-merge")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    // two delta generations + a live tombstone set (update of one doc) —
    // the full state a merge must carry through unchanged
    val victim = corpusA.limit(1).collect()(0)
    val changed = Seq((victim.getString(0), victim.getString(1),
      victim.getString(2), victim.getString(3),
      "entirely new mergetokenxyz content\n"))
      .toDF("repo", "path", "commit", "lang", "content")
    assert(inc.ingest(changed) == 1L)
    assert(inc.ingest(corpusB) == corpusB.count())
    assert(inc.generations().size == 3)
    // docId-LEVEL snapshot: merge preserves ids, so unlike compact() the
    // comparison needs no re-keying — exhaustive AND WAND paths
    def snapshot(s: Searcher): Map[String, Set[(Long, Float)]] =
      (for {
        q <- Seq("if", "parse", "mergetokenxyz", "return index")
        wand <- Seq(false, true)
      } yield s"$q/wand=$wand" -> s.search(s.queryTerms(q), 1000,
        conjunctive = true, useWand = wand)
        .collect().map(h => (h.docId, h.score)).toSet).toMap
    val msBefore = inc.searcher()
    val before = snapshot(msBefore)
    val statsBefore = msBefore.stats
    inc.mergeDeltas()
    assert(inc.generations() == Seq(s"$root/base-2", s"$root/delta-5"))
    val msAfter = inc.searcher()
    assert(snapshot(msAfter) == before)
    assert(msAfter.stats == statsBefore)
    // the old doc version stays tombstoned (not resurrected by the merge)
    assert(msAfter.docs
      .filter(col("repo") === victim.getString(0) &&
        col("path") === victim.getString(1)).count() == 1)
    // idempotent: a single remaining delta is a no-op
    inc.mergeDeltas()
    assert(inc.generations().size == 2)
    // and a later ingest lands as a new delta on top of the merged one
    val extra = Seq(("x-repo", "x/path", "c1", "scala",
      "post merge extratokenabc\n"))
      .toDF("repo", "path", "commit", "lang", "content")
    assert(inc.ingest(extra) == 1L)
    assert(inc.searcher()
      .search(Seq("extratokenabc"), 10, conjunctive = true, useWand = false)
      .count() == 1)
  }

  /** What a state serves: the live generations' names, the stats, the
    * hits of a broad query, and the repo names.
    */
  private type Served = (Seq[String], graft.index.IndexStats,
    Set[(Long, Float)], Set[String])
  private def served(inc: IncrementalIndexer): Served = {
    val s = inc.searcher()
    (inc.generations().map(_.split('/').last), s.stats, docHits(s, "if"),
      repoNames(s))
  }

  private val ghost = "github.com/org-ghost/zzz"

  /** One of each mutation, in an order where each has work to do. */
  private lazy val mutations: Seq[(String, IncrementalIndexer => Unit)] = Seq(
    "ingest" -> (i => i.ingest(changedRow(12, "if crashtokenqq updated\n"))),
    "deleteRepo" -> (_.deleteRepo(bRepos.min)),
    "refreshRepoIndex" ->
      (_.refreshRepoIndex(added = Some(Seq(ghost).toDF("repo")))),
    "mergeDeltas" -> (_.mergeDeltas()),
    "compact" -> (_.compact()),
    "migrate" -> (_.migrate()))

  /** A clean run of `mutations` over a copy of baseABv (bucketSize 64):
    * what the root serves before them and after each, and a copy of the
    * root at each of those points.
    */
  private lazy val cleanRun: Seq[(Served, String)] = {
    val root = copyOf(baseABv, "inc-clean")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    def point(i: Int) = (served(inc), copyOf(root, s"inc-clean-$i"))
    point(0) +: mutations.zipWithIndex.map { case ((_, mutate), i) =>
      mutate(inc)
      point(i + 1)
    }
  }

  test("a reopened root keeps its bucketSize: ingest and merge under the " +
       "default constructor equal a run at the built one") {
    val ingested = new IncrementalIndexer(spark,
      copyOf(cleanRun(0)._2, "inc-bucket-ingest"))
    mutations(0)._2(ingested)
    assert(served(ingested) == cleanRun(1)._1)
    val merged = new IncrementalIndexer(spark,
      copyOf(cleanRun(3)._2, "inc-bucket-merge"))
    mutations(3)._2(merged)
    assert(served(merged) == cleanRun(4)._1)
    assert(cleanRun(4)._1._2.bucketSize == 64L)
  }

  for (form <- TestSpark.RootForms)
    test("a mutation stopped before its manifest commit leaves the previous " +
         "state live, and its rerun equals a clean run" + form.label) {
      val dir = copyOf(baseABv, s"inc-crash${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      val clean = cleanRun.map(_._1)
      assert(clean(3)._4(ghost) && !clean(2)._4(bRepos.min))
      for (((name, mutate), i) <- mutations.zipWithIndex) {
        inc.crashBeforeCommit = true
        val e = intercept[IllegalStateException](mutate(inc))
        assert(e.getMessage.contains("stopped before manifest-"), name)
        inc.crashBeforeCommit = false
        assert(unreferenced(dir).nonEmpty, s"$name wrote nothing")
        // a reader that did not run the mutation, and one without writes
        val reader = new IncrementalIndexer(spark, root)
        assert(served(reader) == clean(i), s"stopped $name")
        assert(readOnly(dir)(served(reader)) == clean(i),
          s"stopped $name, read-only")
        mutate(inc)
        assert(served(inc) == clean(i + 1), s"rerun of $name")
        assert(unreferenced(dir).isEmpty, s"leftovers after the rerun of $name")
      }
    }

  for (form <- TestSpark.RootForms)
    test("a first mutation stopped before its commit leaves a new root, " +
         "not a legacy one" + form.label) {
      val dir = TestSpark.tempDir(s"inc-first-crash${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      for ((name, mutate) <- Seq[(String, () => Any)](
             "buildBase" -> (() => inc.buildBase(corpusA)),
             "ingest" -> (() => inc.ingest(corpusA)))) {
        inc.crashBeforeCommit = true
        intercept[IllegalStateException](mutate())
        inc.crashBeforeCommit = false
        assert(unreferenced(dir).nonEmpty, s"$name wrote nothing")
        // the stopped first commit's dirs are never read as a legacy root
        val reader = new IncrementalIndexer(spark, root)
        assert(reader.generations().isEmpty && reader.repoIndexPath.isEmpty, name)
      }
      assert(inc.ingest(corpusA) == corpusA.count())
      assert(unreferenced(dir).isEmpty)
      val full = fullRebuild(Seq(corpusA), s"first-crash${form.tag}")
      for (q <- Seq("if", "parse"))
        assert(keyedHits(inc.searcher(), q) == keyedHits(full, q), s"query '$q'")
    }

  /** baseABv compacted. */
  private lazy val compactedABv: String = {
    val root = copyOf(baseABv, "inc-template-compacted")
    new IncrementalIndexer(spark, root, bucketSize = 64).compact()
    root
  }

  for (form <- TestSpark.RootForms)
    test("crash after the compaction commit point: readers adopt and " +
         "finish the swap" + form.label) {
      // compact() commits with its manifest; a crash right after, before
      // the superseded state is removed, leaves it beside the new base —
      // copies of every entry of baseABv stand in for it, its manifest
      // included
      val dir = copyOf(compactedABv, s"inc-compact-crash${form.tag}")
      val root = form.of(dir)
      new java.io.File(baseABv).list()
        .foreach(n => copyTree(s"$baseABv/$n", s"$dir/$n"))
      // a reader adopts the committed base
      val inc = new IncrementalIndexer(spark, root)
      assert(inc.generations() == Seq(s"$root/base-5"))
      val s = inc.searcher()
      assert(s.docs.filter(col("repo") === victim).count() == 0)
      for (q <- Seq("if", "parse", "return index")) {
        assert(docHits(s, q) == docHits(fullABv, q), s"query '$q'")
        assert(keyedHits(s, q) == keyedHits(fullABv, q), s"query '$q'")
      }
      // and the next mutation, even one with nothing to add, removes the
      // superseded state
      assert(inc.ingest(corpusB) == 0L)
      assert(unreferenced(dir).isEmpty && !new java.io.File(s"$dir/base-2").exists())
    }

  for (form <- TestSpark.RootForms)
    test("mergeDeltas crash windows: commit-point and mid-swap states " +
         "both recover" + form.label) {
      // two deltas, the second holding the one doc of "crashtokenqq"
      val dir = copyOf(cleanRun(1)._2, s"inc-merge-crash${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      val before = keyedHits(inc.searcher(), "if")
      val deltas = inc.generations().tail
      // stopped right before the commit: the deltas stay live
      inc.crashBeforeCommit = true
      intercept[IllegalStateException](inc.mergeDeltas())
      inc.crashBeforeCommit = false
      assert(inc.generations().tail == deltas)
      assert(keyedHits(inc.searcher(), "if") == before)
      // committed, but stopped while removing the merged deltas: a copy
      // of one stands in for the one not yet removed
      val last = deltas.last.split('/').last
      val saved = copyOf(s"$dir/$last", s"inc-merge-crash-saved${form.tag}")
      inc.mergeDeltas()
      val merged = inc.generations()
      assert(merged.size == 2 && !merged.exists(deltas.contains))
      copyTree(saved, s"$dir/$last")
      val inc2 = new IncrementalIndexer(spark, root, bucketSize = 64)
      assert(inc2.generations() == merged)
      assert(keyedHits(inc2.searcher(), "if") == before)
      assert(inc2.searcher()
        .search(Seq("crashtokenqq"), 10, conjunctive = true, useWand = false)
        .count() == 1)
      assert(inc2.ingest(corpusB) == 0L) // the next mutation removes it
      assert(unreferenced(dir).isEmpty)
    }

  test("crashed partial repo-index refresh cannot resume a stale name set") {
    val root = copyOf(baseA, "inc-repoidx-crash")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    // simulate a refresh that crashed after committing its docs stage
    // under an OLD live set (corpusA's repos and a ghost) but before dict:
    // rebuilding that dir instead of replacing it would RESUME onto the
    // stale docs stage
    val stale = s"$root/repoIndex-3"
    IndexBuilder.buildRepoIndexAt(spark,
      corpusA.select(col("repo")).union(Seq(ghost).toDF("repo")), stale,
      bucketSize = 64)
    FsUtil.rmTree(s"$stale/dict") // crash before dict committed
    assert(repoNames(inc.searcher()) == aRepos, "an unreferenced dir is never read")
    inc.ingest(corpusB) // refresh must wipe the partial version, not resume
    assert(repoNames(inc.searcher()) == aRepos ++ bRepos,
      "stale docs stage must not survive the refresh")
  }

  test("read-only root: searcher() writes nothing and serves the live " +
       "manifest over a crashed mutation's leftovers") {
    val dir = copyOf(baseA, "inc-readonly")
    val inc = new IncrementalIndexer(spark, dir, bucketSize = 64)
    // what a crashed ingest can leave: staged rows, a partial delta and a
    // torn manifest naming it
    corpusB.write.parquet(s"$dir/staging-3")
    new IndexBuilder(spark, s"$dir/delta-3", bucketSize = 64,
      docIdOffset = 1000L, includeRepoIndex = false).buildDocs(corpusB)
    Files.writeString(Paths.get(dir, "manifest-3"),
      "bucketSize 64\ngeneration base-2\ngeneration delta-3\n")
    val before = tree(dir)
    def servesBase(ms: MultiSearcher): Unit = {
      assert(ms.stats.n == corpusA.count())
      assert(repoNames(ms) == aRepos)
      assert(ms.docs.count() == corpusA.count())
    }
    readOnly(dir)(servesBase(inc.searcher()))
    servesBase(inc.searcher())
    assert(tree(dir) == before, "searcher() wrote to the root")
    // the next mutation sweeps the leftovers and commits above the torn
    // manifest's number
    assert(inc.ingest(changedRow(0, "readonlytokqq\n")) == 1L)
    assert(new java.io.File(dir).list().filter(_.startsWith("manifest-"))
      .toSeq == Seq("manifest-4"))
    assert(unreferenced(dir).isEmpty)
  }

  test("read-time FORMAT gate: a stale-layout root refuses to open") {
    val root = TestSpark.tempDir("inc-format-gate")
    new IndexBuilder(spark, root, bucketSize = 64).build(corpusA)
    new Searcher(spark, root).stats // current format opens fine
    Files.writeString(Paths.get(s"$root/FORMAT"), "graft-index-v8")
    val e = intercept[IllegalStateException](new Searcher(spark, root))
    assert(e.getMessage.contains("graft-index-v8"))
    // and an incremental root with a stale generation refuses ingest
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-format-gate2"),
      bucketSize = 64)
    Files.writeString(Paths.get(s"${inc.generations().head}/FORMAT"),
      "graft-index-v8")
    intercept[IllegalStateException](inc.ingest(corpusB))
  }

  for (form <- TestSpark.RootForms)
    test("crashed PARTIAL delta (docs committed, no dict) is removed by the " +
         "next mutation instead of breaking generation reads" + form.label) {
      val dir = copyOf(baseA, s"inc-crash-partial${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      // simulate a build that died between the docs and postings stages
      // of the next delta
      new IndexBuilder(spark, s"$root/delta-3", bucketSize = 64,
        docIdOffset = 1000L, includeRepoIndex = false)
        .buildDocs(corpusB)
      // an unreferenced dir is never read
      val ms = inc.searcher()
      assert(ms.stats.n == corpusA.count())
      // nor resumed: the next ingest builds delta-3 afresh, ids from 1 past
      // the base's instead of the partial's 1000
      assert(inc.ingest(corpusB) == corpusB.count())
      val ids = inc.searcher().docs.agg(min("docId"), max("docId")).head()
      assert(ids.getLong(0) == 1L &&
        ids.getLong(1) == corpusA.count() + corpusB.count())
      assert(unreferenced(dir).isEmpty)
    }

  test("migrate() upgrades a stale-format root in place from stored fields") {
    val inc = new IncrementalIndexer(spark, copyOf(baseABv, "inc-migrate"),
      bucketSize = 64)
    // age every generation's layout: the engine must refuse, then migrate
    inc.generations().foreach { g =>
      Files.writeString(Paths.get(s"$g/FORMAT"), "graft-index-v9")
    }
    intercept[IllegalStateException](inc.searcher())
    inc.migrate()
    // docIds change (fresh rank over the live set) but the (repo, path,
    // score) surface equals the pre-migration index — scores too, since
    // migrate() drops tombstoned rows like compact()
    assert(keyedHits(inc.searcher(), "index") == keyedHits(fullABv, "index"))
  }

  /** baseAB in the layout written before manifests: `base/` (corpusA),
    * `delta-1/` (corpusB) and the refreshed `repoIndex-3/`.
    */
  private def legacyAB(name: String): String = {
    val root = copyOf(baseAB, name)
    Files.move(Paths.get(root, "base-2"), Paths.get(root, "base"))
    Files.move(Paths.get(root, "delta-3"), Paths.get(root, "delta-1"))
    Files.delete(Paths.get(root, "manifest-3"))
    root
  }

  private def writeTombstones(root: String, v: Int, repo: String): Unit =
    spark.read.parquet(s"$root/base/docs", s"$root/delta-1/docs")
      .filter(col("repo") === repo).select("docId")
      .write.parquet(s"$root/tombstones-$v")

  /** migrate() turns the legacy root into `want`'s docIds, scores and
    * repo names, and leaves only its manifest and base. The indexer has
    * the default bucketSize: the root keeps the 64 it was built at.
    */
  private def assertMigrates(root: String, want: Searcher): Unit = {
    val inc = new IncrementalIndexer(spark, root)
    inc.migrate()
    val got = inc.searcher()
    for (q <- Seq("if", "parse", "index"))
      assert(docHits(got, q) == docHits(want, q), s"query '$q'")
    assert(got.stats == want.stats)
    assert(repoNames(got) == repoNames(want))
    assert(new java.io.File(root).list().toSet == Set("manifest-1", "base-1"))
  }

  test("a root written before manifests is refused by every entry point " +
       "but migrate(), which rebuilds its live rows") {
    val root = legacyAB("inc-legacy")
    writeTombstones(root, 2, victim)
    FsUtil.writeMarker(s"$root/REPO_REFRESH_INTENT", "pending")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    val refusals = Seq[(String, () => Any)](
      "generations" -> (() => inc.generations()),
      "searcher" -> (() => inc.searcher()),
      "readTombstones" -> (() => inc.readTombstones()),
      "repoIndexPath" -> (() => inc.repoIndexPath),
      "buildBase" -> (() => inc.buildBase(corpusB)),
      "ingest" -> (() => inc.ingest(corpusB)),
      "deleteRepo" -> (() => inc.deleteRepo(victim)),
      "refreshRepoIndex" -> (() => inc.refreshRepoIndex()),
      "mergeDeltas" -> (() => inc.mergeDeltas()),
      "compact" -> (() => inc.compact()))
    for ((name, call) <- refusals) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("migrate()"), name)
    }
    assertMigrates(root, fullABv)
  }

  test("migrate() replays a pending re-add delete: crashed ingest + " +
       "format upgrade must not resurrect old versions (round-4 ADVICE)") {
    val updated = corpusA.withColumn("content",
      concat(col("content"), lit(" migratemarker"))).drop("contentSha")
    // the legacy ingest wrote its delta and TOMBSTONE_INTENT, then died
    // before tombstoning the old versions: both versions of every key live
    val root = copyOf(baseA, "inc-migrate-dup")
    Files.move(Paths.get(root, "base-2"), Paths.get(root, "base"))
    Files.delete(Paths.get(root, "manifest-2"))
    new IndexBuilder(spark, s"$root/delta-1", bucketSize = 64,
      docIdOffset = corpusA.count(), includeRepoIndex = false).build(updated)
    FsUtil.writeMarker(s"$root/TOMBSTONE_INTENT", s"1 ${corpusA.count()}")
    // the migrated index equals a from-scratch build over the UPDATED
    // rows only — old versions (same key, lower docId) must be gone
    val want = fullRebuild(Seq(updated), "migrate-dup")
    assertMigrates(root, want)
    val got = new IncrementalIndexer(spark, root).searcher()
    assert(keyedHits(got, "migratemarker") == keyedHits(want, "migratemarker"))
    assert(got.stats.n == corpusA.count())
  }

  test("migrate() reads an interrupted compaction's base-new and merge's " +
       "delta-merged in place of the dirs they replace") {
    // COMPACTING beside a committed base-new: the swap had already removed
    // the tombstones, so base/ + delta-1/ alone would revive the victim
    val compacting = legacyAB("inc-legacy-compact")
    copyTree(fullABv.indexRoot, s"$compacting/base-new")
    FsUtil.writeMarker(s"$compacting/COMPACTING", "base-new is authoritative")
    assertMigrates(compacting, fullABv)
    // MERGING beside a committed delta-merged: every delta-N was already
    // removed, so base/ alone would lose corpusB
    val merging = legacyAB("inc-legacy-merge")
    Files.move(Paths.get(merging, "delta-1"), Paths.get(merging, "delta-merged"))
    FsUtil.writeMarker(s"$merging/MERGING", "delta-merged is authoritative")
    assertMigrates(merging, fullAB)
  }

  test("structured streaming ingest drains arriving corpus files") {
    val inDir = TestSpark.tempDir("inc-stream-in")
    val ckpt = TestSpark.tempDir("inc-stream-ckpt")
    val inc = new IncrementalIndexer(spark, copyOf(baseA, "inc-stream"),
      bucketSize = 64)
    val q = graft.streaming.StreamingIngest.start(spark, inDir, inc, ckpt)
    try {
      corpusB.select("repo", "path", "commit", "lang", "content")
        .coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      val ms = inc.searcher()
      assert(ms.stats.n == corpusA.count() + corpusB.count())
      // second arrival of the same files: freshness skips them
      corpusB.select("repo", "path", "commit", "lang", "content")
        .coalesce(1).write.mode("append").parquet(inDir)
      q.processAllAvailable()
      assert(inc.searcher().stats.n == corpusA.count() + corpusB.count())
    } finally q.stop()
  }
}
