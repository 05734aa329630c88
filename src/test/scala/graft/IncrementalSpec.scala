package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.engine.Searcher
import graft.index.{IncrementalIndexer, IndexBuilder}

/** Incremental indexing semantics (SURVEY §4.5, reference cache.rs D2 +
  * delete S8): freshness skip, update = delete+add via tombstones,
  * delete-by-repo, multi-generation search with Lucene-style stale stats,
  * and full score parity after compaction.
  */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // two disjoint corpus slices from different seeds
  lazy val corpusA = CorpusGen.synth(spark, 6, 12, seed = 100L).cache()
  lazy val corpusB = CorpusGen.synth(spark, 4, 10, seed = 200L)
    .withColumn("repo", concat(lit("b-"), col("repo"))).cache()

  private def fullRebuild(dfs: Seq[DataFrame], name: String): Searcher = {
    val root = TestSpark.tempDir(s"inc-full-$name")
    new IndexBuilder(spark, root, bucketSize = 64).build(
      dfs.reduce(_ unionByName _))
    new Searcher(spark, root)
  }

  /** identity on (repo, path, score) — docIds differ across generations
    * by construction.
    */
  private def keyedHits(s: Searcher, q: String): Set[(String, String, Float)] = {
    val hits = s.search(s.queryTerms(q), 1000, conjunctive = true,
      useWand = false)
    s.materialize(hits).select("repo", "path", "score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getFloat(2))).toSet
  }

  test("ingest of disjoint batch == full rebuild (scores + doc keys)") {
    val root = TestSpark.tempDir("inc-1")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    assert(inc.ingest(corpusB) == corpusB.count())
    val full = fullRebuild(Seq(corpusA, corpusB), "ab")
    val ms = inc.searcher()
    assert(ms.stats == full.stats)
    for (q <- Seq("if", "parse", "return index")) {
      assert(keyedHits(ms, q) == keyedHits(full, q), s"query '$q'")
    }
  }

  test("freshness: re-ingesting identical rows indexes nothing (D2)") {
    val root = TestSpark.tempDir("inc-2")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    assert(inc.ingest(corpusA) == 0L)
    assert(inc.generations().size == 1)
  }

  test("update = delete+add: changed content tombstones the old doc") {
    val root = TestSpark.tempDir("inc-3")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
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
    val root = TestSpark.tempDir("inc-branch")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA) // no branch column -> stored as ""
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
    val root = TestSpark.tempDir("inc-6")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    def changed(idx: Int, token: String) = {
      val v = corpusA.orderBy("repo", "path").limit(idx + 1).collect().last
      Seq((v.getString(0), v.getString(1), v.getString(2), v.getString(3),
        s"$token fresh content\n"))
        .toDF("repo", "path", "commit", "lang", "content")
    }
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
    val root = TestSpark.tempDir("inc-4")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    val repo = corpusA.select("repo").distinct().orderBy("repo")
      .limit(1).collect()(0).getString(0)
    inc.deleteRepo(repo)
    val ms = inc.searcher()
    assert(ms.docs.filter(col("repo") === repo).count() == 0)
    // hits never surface deleted docs
    val hits = ms.search(Seq("if"), 10000, conjunctive = true, useWand = false)
    assert(ms.materialize(hits).filter(col("repo") === repo).count() == 0)
  }

  test("compact() restores exact rebuild equivalence (docIds AND scores)") {
    val root = TestSpark.tempDir("inc-5")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    inc.ingest(corpusB)
    val repo = corpusA.select("repo").distinct().orderBy("repo")
      .limit(1).collect()(0).getString(0)
    inc.deleteRepo(repo)
    inc.compact()
    assert(inc.generations().size == 1)
    val live = corpusA.filter(col("repo") =!= repo)
    val full = fullRebuild(Seq(live, corpusB), "compacted")
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
    val root = TestSpark.tempDir("inc-wand")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    inc.ingest(corpusB)
    val repo = corpusA.select("repo").distinct().orderBy("repo")
      .limit(1).collect()(0).getString(0)
    inc.deleteRepo(repo)
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
    val root = TestSpark.tempDir("inc-bigtomb")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    inc.ingest(corpusB) // multi-generation buckets through the cogroup too
    val repo = corpusA.select("repo").distinct().orderBy("repo")
      .limit(1).collect()(0).getString(0)
    inc.deleteRepo(repo)
    // force the >gate path (as if billions of tombstones): WAND now runs
    // via Searcher.wandTopKCogroup — tombstones co-partitioned on the
    // docId-range bucket, nothing collected or broadcast
    val big = new graft.index.MultiSearcher(spark, inc.generations(),
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
    val root = TestSpark.tempDir("inc-repoidx")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    def repoNames(): Set[String] =
      new graft.engine.QueryExecutor(inc.searcher())
        .executeRepo("repo:org", 1000).collect().map(_.getString(1)).toSet
    val aRepos = corpusA.select("repo").distinct().collect()
      .map(_.getString(0)).toSet
    val bRepos = corpusB.select("repo").distinct().collect()
      .map(_.getString(0)).toSet
    assert(repoNames() == aRepos) // base generation's own sub-index
    inc.ingest(corpusB) // refresh picks up the new repos immediately
    assert(repoNames() == aRepos ++ bRepos)
    val victim = aRepos.min
    inc.deleteRepo(victim) // and drops deleted ones without compaction
    assert(repoNames() == (aRepos - victim) ++ bRepos)
  }

  test("repo-index refresh derives names without scanning generation docs " +
       "(O(#repos + batch), round-2 VERDICT item 3)") {
    val root = TestSpark.tempDir("inc-repoidx-incr")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    inc.ingest(corpusB)
    // the name set for a subsequent delete derives from the live
    // sub-index's OWN docs — the generations' file docs never enter the
    // plan, so refresh cost is O(#repos), not O(#files)
    val victim = corpusA.select("repo").distinct().orderBy("repo")
      .limit(1).collect()(0).getString(0)
    val names = inc.liveRepoNames(added = None, removed = Some(victim)).get
    val plan = names.queryExecution.executedPlan.toString
    assert(plan.contains("repoIndex"), plan.take(2000))
    assert(!plan.contains("/base/docs") && !plan.contains("/delta-"),
      s"refresh must not scan generation docs:\n${plan.take(3000)}")
    val got = names.distinct().collect().map(_.getString(0)).toSet
    val want = corpusA.select("repo").distinct().collect()
      .map(_.getString(0)).toSet ++
      corpusB.select("repo").distinct().collect()
        .map(_.getString(0)).toSet - victim
    assert(got == want)
  }

  test("compact() works on a delta-only root (ingest without buildBase)") {
    val root = TestSpark.tempDir("inc-deltaonly")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.ingest(corpusA) // no base generation exists
    inc.compact()
    assert(inc.generations() == Seq(s"$root/base"))
    val s = inc.searcher()
    val full = fullRebuild(Seq(corpusA), "deltaonly")
    for (q <- Seq("if", "parse"))
      assert(keyedHits(s, q) == keyedHits(full, q), s"query '$q'")
  }

  for (form <- TestSpark.RootForms)
    test("crash after the compaction commit point: readers adopt and " +
         "finish the swap" + form.label) {
      val dir = TestSpark.tempDir(s"inc-compact-crash${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      inc.buildBase(corpusA)
      inc.ingest(corpusB)
      val repo = corpusA.select("repo").distinct().orderBy("repo")
        .limit(1).collect()(0).getString(0)
      inc.deleteRepo(repo)
      // replay compact() up to (and including) the marker write, then "crash"
      val live = spark.read.parquet(inc.generations().map(g => s"$g/docs"): _*)
        .filter($"indexed")
        .join(inc.readTombstones(), Seq("docId"), "left_anti")
        .select($"repo", $"path", $"commit", $"lang", $"content",
          $"contentSha", $"branch")
      new IndexBuilder(spark, s"$root/base-new", bucketSize = 64).build(live)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/COMPACTING"), "x")
      // reopen: the first read path must finish the swap before answering
      val inc2 = new IncrementalIndexer(spark, root, bucketSize = 64)
      assert(inc2.generations() == Seq(s"$root/base"))
      assert(!new java.io.File(s"$dir/COMPACTING").exists())
      assert(!new java.io.File(s"$dir/base-new").exists())
      val s = inc2.searcher()
      assert(s.docs.filter(col("repo") === repo).count() == 0)
      val full = fullRebuild(Seq(corpusA.filter(col("repo") =!= repo),
        corpusB), "compact-crash")
      for (q <- Seq("if", "parse", "return index"))
        assert(keyedHits(s, q) == keyedHits(full, q), s"query '$q'")
    }

  test("mergeDeltas: bit-identical results (docIds AND scores), one merged delta") {
    val root = TestSpark.tempDir("inc-merge")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
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
    assert(inc.generations() == Seq(s"$root/base", s"$root/delta-1"))
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
    // and a later ingest lands as delta-2 on top of the merged delta
    val extra = Seq(("x-repo", "x/path", "c1", "scala",
      "post merge extratokenabc\n"))
      .toDF("repo", "path", "commit", "lang", "content")
    assert(inc.ingest(extra) == 1L)
    assert(inc.searcher()
      .search(Seq("extratokenabc"), 10, conjunctive = true, useWand = false)
      .count() == 1)
  }

  for (form <- TestSpark.RootForms)
    test("mergeDeltas crash windows: commit-point and mid-swap states " +
         "both recover" + form.label) {
      val dir = TestSpark.tempDir(s"inc-merge-crash${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      inc.buildBase(corpusA)
      inc.ingest(corpusB)
      inc.ingest(Seq(("c-repo", "c/path", "c1", "scala", "crashtokenqq here\n"))
        .toDF("repo", "path", "commit", "lang", "content"))
      val before = keyedHits(inc.searcher(), "if")
      // crash exactly at the commit point (marker written, swap not run)
      inc.mergeDeltas(crashBeforeSwap = true)
      assert(new java.io.File(s"$dir/MERGING").exists())
      // ...and then again mid-swap: delta-1 already removed, delta-2+ not —
      // the state that would orphan duplicates under contiguous counting
      graft.util.FsUtil.rmTree(s"$root/delta-1")
      val inc2 = new IncrementalIndexer(spark, root, bucketSize = 64)
      assert(inc2.generations() == Seq(s"$root/base", s"$root/delta-1"))
      assert(!new java.io.File(s"$dir/MERGING").exists())
      assert(!new java.io.File(s"$dir/delta-merged").exists())
      assert(!new java.io.File(s"$dir/delta-2").exists())
      assert(keyedHits(inc2.searcher(), "if") == before)
      assert(inc2.searcher()
        .search(Seq("crashtokenqq"), 10, conjunctive = true, useWand = false)
        .count() == 1)
    }

  test("crashed partial repo-index refresh cannot resume a stale name set") {
    val root = TestSpark.tempDir("inc-repoidx-crash")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    // simulate a refresh that crashed after committing its docs stage
    // under an OLD live set (only corpusA's repos) but before dict:
    // version 1 is incomplete (no dict/_SUCCESS) so it is not live, but a
    // naive rebuild of version 1 would RESUME onto the stale docs stage
    val stale = s"$root/repoIndex-1"
    graft.index.IndexBuilder.buildRepoIndexAt(spark,
      corpusA.select(col("repo")), stale, bucketSize = 64)
    graft.util.FsUtil.rmTree(s"$stale/dict") // crash before dict committed
    inc.ingest(corpusB) // refresh must wipe the partial version, not resume
    val names = new graft.engine.QueryExecutor(inc.searcher())
      .executeRepo("repo:org", 1000).collect().map(_.getString(1)).toSet
    val want = corpusA.select("repo").distinct().collect()
      .map(_.getString(0)).toSet ++
      corpusB.select("repo").distinct().collect().map(_.getString(0)).toSet
    assert(names == want, "stale docs stage must not survive the refresh")
  }

  test("read-only root: searcher() serves a clean root and refuses one " +
       "with pending recovery instead of healing it") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions.fromString
    val root = TestSpark.tempDir("inc-readonly")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    val dir = Paths.get(root)
    val rw = Files.getPosixFilePermissions(dir)
    def readOnly[T](f: => T): T = {
      Files.setPosixFilePermissions(dir, fromString("r-xr-xr-x"))
      try f finally Files.setPosixFilePermissions(dir, rw)
    }
    // a 0555 dir is read-only under Hadoop's permission check even for
    // root, which the kernel would let write
    assert(readOnly(inc.searcher()).stats.n == corpusA.count())
    Files.writeString(dir.resolve("REPO_REFRESH_INTENT"), "pending")
    val e = intercept[IllegalStateException](readOnly(inc.searcher()))
    assert(e.getMessage.contains("REPO_REFRESH_INTENT"))
    assert(Files.exists(dir.resolve("REPO_REFRESH_INTENT")))
    inc.searcher() // writable again: heals
    assert(!Files.exists(dir.resolve("REPO_REFRESH_INTENT")))
  }

  test("read-time FORMAT gate: a stale-layout root refuses to open") {
    val root = TestSpark.tempDir("inc-format-gate")
    new IndexBuilder(spark, root, bucketSize = 64).build(corpusA)
    new Searcher(spark, root).stats // current format opens fine
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/FORMAT"), "graft-index-v8")
    val e = intercept[IllegalStateException](new Searcher(spark, root))
    assert(e.getMessage.contains("graft-index-v8"))
    // and an incremental root with a stale generation refuses ingest
    val incRoot = TestSpark.tempDir("inc-format-gate2")
    val inc = new IncrementalIndexer(spark, incRoot, bucketSize = 64)
    inc.buildBase(corpusA)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$incRoot/base/FORMAT"), "graft-index-v8")
    intercept[IllegalStateException](inc.ingest(corpusB))
  }

  test("refresh-intent marker: a crashed mutation forces the liveDocs " +
       "bootstrap on the next refresh (round-3 ADVICE)") {
    val root = TestSpark.tempDir("inc-refresh-intent")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    val aRepos = corpusA.select("repo").distinct().collect()
      .map(_.getString(0)).toSet
    def names(): Set[String] = {
      val p = inc.repoIndexPath.get
      spark.read.parquet(s"$p/docs").select("repo").collect()
        .map(_.getString(0)).toSet
    }
    // forceBootstrap ignores (possibly wrong/lost) increments and heals
    // from the live docs — the crash-recovery path
    inc.refreshRepoIndex(added = Some(Seq("ghost/zzz").toDF("repo")),
      forceBootstrap = true)
    assert(names() == aRepos, "bootstrap must ignore the bogus increment")
    // the incremental path WOULD have trusted it — the two paths differ
    inc.refreshRepoIndex(added = Some(Seq("ghost/zzz").toDF("repo")))
    assert(names() == aRepos + "ghost/zzz")
    // a surviving marker (simulated crash between delta commit and
    // refresh) is cleared by the next completed mutation, which bootstraps
    // — the ghost name a plain incremental refresh would have kept is gone
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/REPO_REFRESH_INTENT"), "pending")
    inc.ingest(corpusB)
    val bRepos = corpusB.select("repo").distinct().collect()
      .map(_.getString(0)).toSet
    assert(names() == aRepos ++ bRepos,
      "post-crash ingest must heal the name set from liveDocs")
    assert(!new java.io.File(s"$root/REPO_REFRESH_INTENT").exists(),
      "completed refresh must clear the intent marker")
  }

  // control for the crash test below: the same update ingested cleanly.
  // Drop the synth corpus's precomputed contentSha — it describes the
  // ORIGINAL content, and the freshness anti-join would otherwise see the
  // update as unchanged
  private lazy val updated = corpusA.withColumn("content",
    concat(col("content"), lit(" updatedmarker"))).drop("contentSha")
  private lazy val ctl = {
    val ctl = new IncrementalIndexer(spark, TestSpark.tempDir("inc-crash-ctl"),
      bucketSize = 64)
    ctl.buildBase(corpusA)
    ctl.ingest(updated)
    ctl
  }

  for (form <- TestSpark.RootForms)
    test("crash between delta commit and re-add tombstones: healIngest " +
         "finishes the delete; documents are never lost (round-4 review)" +
         form.label) {
      // crash: delta committed, old versions NOT yet tombstoned
      val dir = TestSpark.tempDir(s"inc-crash-tomb${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      inc.buildBase(corpusA)
      inc.ingest(updated, crashAfterDelta = true)
      assert(new java.io.File(s"$dir/TOMBSTONE_INTENT").exists())
      // searcher() heals before serving: no duplicate (old+new) versions,
      // results equal the clean-ingest control
      val got = keyedHits(inc.searcher(), "updatedmarker")
      val want = keyedHits(ctl.searcher(), "updatedmarker")
      assert(got == want && got.nonEmpty)
      assert(!new java.io.File(s"$dir/TOMBSTONE_INTENT").exists())
      // and the delete actually finished: the healed root carries tombstones
      assert(inc.readTombstones().count() == corpusA.count())
    }

  for (form <- TestSpark.RootForms)
    test("crashed PARTIAL delta (docs committed, no dict) is removed by the " +
         "next mutation instead of breaking generation reads" + form.label) {
      val dir = TestSpark.tempDir(s"inc-crash-partial${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      inc.buildBase(corpusA)
      // simulate a build that died between the docs and postings stages
      new IndexBuilder(spark, s"$root/delta-1", bucketSize = 64,
        docIdOffset = 1000L, includeRepoIndex = false)
        .buildDocs(corpusB)
      // a reader would otherwise see delta-1 in generations() and fail on
      // the missing postings; searcher() heals by dropping the partial
      val ms = inc.searcher()
      assert(ms.stats.n == corpusA.count())
      assert(!new java.io.File(s"$dir/delta-1").exists())
    }

  test("migrate() upgrades a stale-format root in place from stored fields") {
    val root = TestSpark.tempDir("inc-migrate")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    inc.ingest(corpusB)
    val victim = corpusA.select("repo").distinct().orderBy("repo")
      .limit(1).collect()(0).getString(0)
    inc.deleteRepo(victim)
    // age every generation's layout: the engine must refuse, then migrate
    Seq(s"$root/base/FORMAT", s"$root/delta-1/FORMAT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        "graft-index-v9")
    }
    intercept[IllegalStateException](inc.searcher())
    inc.migrate()
    // docIds change (fresh rank over the live set) but the (repo, path,
    // score) surface equals the pre-migration index — scores too, since
    // migrate() drops tombstoned rows like compact()
    val ctlRoot = TestSpark.tempDir("inc-migrate-ctl")
    val ctl = new IncrementalIndexer(spark, ctlRoot, bucketSize = 64)
    ctl.buildBase(corpusA.unionByName(corpusB)
      .filter(col("repo") =!= victim))
    assert(keyedHits(inc.searcher(), "index") ==
      keyedHits(ctl.searcher(), "index"))
  }

  test("migrate() replays a pending re-add delete: crashed ingest + " +
       "format upgrade must not resurrect old versions (round-4 ADVICE)") {
    val updated = corpusA.withColumn("content",
      concat(col("content"), lit(" migratemarker"))).drop("contentSha")
    // crash between delta commit and re-add tombstones, THEN a format
    // bump strands the root: healIngest cannot run (generations() throws
    // on the stale format), so migrate() itself must dedupe the live set
    val root = TestSpark.tempDir("inc-migrate-dup")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
    inc.ingest(updated, crashAfterDelta = true)
    assert(new java.io.File(s"$root/TOMBSTONE_INTENT").exists())
    Seq(s"$root/base/FORMAT", s"$root/delta-1/FORMAT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        "graft-index-v9")
    }
    intercept[IllegalStateException](inc.searcher())
    inc.migrate()
    // the migrated index equals a from-scratch build over the UPDATED
    // rows only — old versions (same key, lower docId) must be gone
    val ctlRoot = TestSpark.tempDir("inc-migrate-dup-ctl")
    val ctl = new IncrementalIndexer(spark, ctlRoot, bucketSize = 64)
    ctl.buildBase(updated)
    val got = keyedHits(inc.searcher(), "migratemarker")
    assert(got == keyedHits(ctl.searcher(), "migratemarker") && got.nonEmpty)
    assert(inc.searcher().stats.n == corpusA.count())
  }

  for (form <- TestSpark.RootForms)
    test("searcher() heals a surviving repo-refresh intent: repo names " +
         "served after a crashed mutation come from liveDocs (round-4 ADVICE)" +
         form.label) {
      val dir = TestSpark.tempDir(s"inc-searcher-intent${form.tag}")
      val root = form.of(dir)
      val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
      inc.buildBase(corpusA)
      val aRepos = corpusA.select("repo").distinct().collect()
        .map(_.getString(0)).toSet
      // a wrong increment stands in for the stale name set a crashed
      // mutation leaves behind
      inc.refreshRepoIndex(added = Some(Seq("ghost/zzz").toDF("repo")))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/REPO_REFRESH_INTENT"), "pending")
      val ms = inc.searcher()
      val served = spark.read.parquet(s"${inc.repoIndexPath.get}/docs")
        .select("repo").collect().map(_.getString(0)).toSet
      assert(served == aRepos,
        "searcher() must bootstrap the repo index from liveDocs, not serve " +
          "the stale set until the next mutation")
      assert(!new java.io.File(s"$dir/REPO_REFRESH_INTENT").exists())
      assert(ms.stats.n == corpusA.count())
    }

  test("structured streaming ingest drains arriving corpus files") {
    val root = TestSpark.tempDir("inc-stream")
    val inDir = TestSpark.tempDir("inc-stream-in")
    val ckpt = TestSpark.tempDir("inc-stream-ckpt")
    val inc = new IncrementalIndexer(spark, root, bucketSize = 64)
    inc.buildBase(corpusA)
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
