package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() must return rows on sf0.001, and every
  * oracleSql key must have a matching queries entry.
  */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry() returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys, with column parity") {
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert(ok.subsetOf(qk), s"oracle-only keys: ${ok diff qk}")
    // engine-only (rows-only-checked) queries are the e_* family
    assert((qk diff ok).forall(_.startsWith("e_")),
      s"q_* queries without oracle: ${(qk diff ok).filterNot(_.startsWith("e_"))}")
  }

  /** Connected components by driver union-find: node → component min. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def clusters(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // a 40-node chain (the long-diameter shape, several rounds), a 3-clique,
  // an isolated pair and a 4-star
  private val mixedGraph: Seq[(Long, Long)] =
    (1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (101L, 102L), (200L, 201L),
        (300L, 301L), (300L, 302L), (300L, 303L))

  test("duplicateClusters: connected components over candidate pairs") {
    import spark.implicits._
    val small = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 7L))
    val got = clusters(graft.pipeline.Dedup.duplicateClusters(
      small.toDF("doc_id_a", "doc_id_b")))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a longer chain still converges to the global min label
    val chain = (1L until 9L).map(i => (i, i + 1))
    val gotChain = clusters(graft.pipeline.Dedup.duplicateClusters(
      chain.toDF("doc_id_a", "doc_id_b")))
    assert(gotChain == (1L to 9L).map(_ -> 1L).toMap)
    assert(clusters(graft.pipeline.Dedup.duplicateClusters(
      mixedGraph.toDF("doc_id_a", "doc_id_b"))) == unionFind(mixedGraph))
    // and on real LSH star edges from a corpus with duplicates
    val docs = (1 to 40).map(i =>
      (i.toLong, s"shared boilerplate text block ${i % 5}"))
      .toDF("doc_id", "text")
    val edges = graft.pipeline.Dedup.minhashStarEdges(docs)
    val edgeList = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edgeList.nonEmpty)
    assert(clusters(graft.pipeline.Dedup.duplicateClusters(edges)) ==
      unionFind(edgeList))
  }

  test("duplicateClusters releases its rounds: one persistent RDD per call") {
    import spark.implicits._
    val chain = (1L until 40L).map(i => (i, i + 1))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val got = graft.pipeline.Dedup.duplicateClusters(
      chain.toDF("doc_id_a", "doc_id_b"))
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    assert(added.size <= 1, s"persistent RDDs added by one call: $added")
    // the one that stays backs the returned frame, which still reads
    assert(clusters(got) == unionFind(chain))
  }

  test("jaccardVerifiedPairs: LSH candidates carry exact Jaccard, thresholded") {
    import spark.implicits._
    // 1↔2: identical word SETS (different order + a repeat) ⇒ identical
    // minhash signatures ⇒ guaranteed same buckets, exact Jaccard 1.0;
    // 3: superset of 1 with heavy dilution (Jaccard 6/12 = 0.5 vs doc 1);
    // 4: disjoint vocabulary (never a candidate)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "zeta epsilon delta gamma beta alpha alpha"),
      (3L, "alpha beta gamma delta epsilon zeta d1 d2 d3 d4 d5 d6"),
      (4L, "completely different vocabulary here entirely"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.Dedup
      .jaccardVerifiedPairs(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
    // verified pairs are always a subset of the LSH candidates, and the
    // disjoint doc never pairs at any threshold
    val all = graft.pipeline.Dedup
      .jaccardVerifiedPairs(docs, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = graft.pipeline.Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.subsetOf(cand))
    assert(all.forall { case (a, b) => a != 4L && b != 4L })
  }

  test("cosineNearDupLsh: bucketed pairs == brute-force pairs above threshold ∩ same-bucket") {
    import spark.implicits._
    // deterministic small embedding set: near-dup pairs are scaled copies
    // (cosine 1.0), plus unrelated axes
    def vec(seed: Int): Array[Float] =
      Array.tabulate(8)(d => (((seed * 31 + d * 17) % 7) - 3).toFloat)
    // seeds 1,2,4,5 give distinct 3·seed mod 7 phases (seed 9 would alias
    // seed 2 and silently create extra direction-dup pairs)
    val rows = Seq(
      0L -> vec(1), 1L -> vec(1).map(_ * 2f), // exact direction dup
      2L -> vec(2), 3L -> vec(2).map(_ * 0.5f),
      4L -> vec(4), 5L -> vec(5))
    val embs = rows.toDF("vec_id", "embedding")
    val got = graft.pipeline.Similarity.cosineNearDupLsh(embs, 0.999, numPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)) && got.contains((2L, 3L)))
    // scaled copies share every hyperplane sign, so the bucket join can
    // never split a direction-identical pair: got is exactly the cos≥.999
    // brute pairs that share a bucket — and for these fixtures that is all
    assert(got == Set((0L, 1L), (2L, 3L)))
  }

  test("simhashPairs: Hamming-band candidates verified by exact bit_count") {
    import spark.implicits._
    // 1↔2 identical word multisets ⇒ identical 64-bit fingerprint ⇒
    // hamming 0; 3 unrelated vocabulary (any shared band word is filtered
    // by the verify unless truly within distance 3)
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),
      (3L, "totally different words here now"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.Dedup.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.contains((1L, 2L, 0)))
    // every emitted pair honors the threshold, and pairs are verified
    // against the true 64-bit fingerprint distance (Σ band bit_count)
    val bands = graft.pipeline.Dedup.simhash64Bands(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.forall { case (a, b, h) =>
      h <= 3 && (0 until 4).map(band =>
        java.lang.Long.bitCount(bands((a, band)) ^ bands((b, band)))).sum == h })
  }

  test("simhashPairs maxBucket cap drops over-cap buckets' pairs only") {
    import spark.implicits._
    // 6 near-identical docs (one shared 16-bit band word of size 6 per
    // band) plus one distinctive pair
    val docs = ((1 to 6).map(i => (i.toLong, "common shared words here")) ++
      Seq((10L, "rare unique vocabulary alpha"),
        (11L, "alpha vocabulary unique rare")))
      .toDF("doc_id", "text")
    val unc = graft.pipeline.Dedup.simhashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unc.contains((10L, 11L)))
    assert((1 to 6).combinations(2).forall { case Seq(a, b) =>
      unc.contains((a.toLong, b.toLong)) })
    // cap 2 kills the size-6 clone bucket, keeps the pair bucket
    val capped = graft.pipeline.Dedup.simhashPairs(docs, maxBucket = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((10L, 11L)))
    assert(capped.forall { case (a, b) => a >= 10L && b >= 10L })
  }

  test("orgSegOf (Column) == orgOf (Java) on degenerate repo names") {
    import spark.implicits._
    val names = Seq("github.com/acme/repo", "acme/repo", "repo", "acme/",
      "a//b", "//", "", "/x", "a//", "x/y/z/")
    import org.apache.spark.sql.functions.col
    val got = names.toDF("name")
      .select(col("name"),
        graft.engine.QueryExecutor.orgSegOf(col("name")).as("org"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    names.foreach { n =>
      assert(got(n) == graft.engine.QueryExecutor.orgOf(n),
        s"name '$n': column=${got(n)} java=${graft.engine.QueryExecutor.orgOf(n)}")
    }
  }

  test("tokenCounts: BPE-ish regex sub-token count (n_bpe_regex)") {
    import spark.implicits._
    val docs = Seq((1L, "hello world42 foo.bar", 21L))
      .toDF("doc_id", "text", "n_chars")
    val r = graft.pipeline.TextOps.tokenCounts(docs).collect().head
    // tokens: "hello"," world","42"," foo",".","bar" → 6
    assert(r.getLong(3) == 6L)
  }

  test("chunks: deterministic token-budget boundaries with overlap (chunk.rs analog)") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (2L, "only three words"),
      (3L, ""))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextOps.chunks(docs, budget = 16, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // 30 tokens, budget 16, stride 12 → starts 0/12/24, sizes 16/16/6
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._4).toSeq == Seq(16, 16, 6))
    assert(d1(0)._3.startsWith("w1 ") && d1(1)._3.startsWith("w13 ") &&
      d1(2)._3.startsWith("w25 "))
    // overlap: the last 4 tokens of chunk i are the first 4 of chunk i+1
    assert(d1(0)._3.split(" ").takeRight(4).toSeq ==
      d1(1)._3.split(" ").take(4).toSeq)
    // ≤budget tokens → exactly one chunk; empty doc → none
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, "only three words", 3)))
    assert(!got.exists(_._1 == 3L))
  }

  test("chunks feed the embedding/ANN family (chunk → embed → cosine top-k)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (1L to 20L).map(i =>
      (i, (1 to 40).map(j => s"t${(i * 7 + j) % 13}").mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = graft.pipeline.TextOps.chunks(docs, budget = 16, overlap = 4)
    // deterministic stand-in embedder (no model in this container): 8 dims
    // derived from the chunk's rolling hash — the real pipeline swaps this
    // one select for a model UDF, the ANN side is unchanged
    val emb = chunks.select(
      (col("doc_id") * 100 + col("chunk_id")).as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (pmod(graft.pipeline.TextOps.charHash(col("chunk")) * (d + 1),
          lit(997)).cast("double") / 997.0).cast("float")).as("embedding"))
    val nChunks = emb.count()
    assert(nChunks > 20, "docs must split into multiple chunks")
    val top = graft.pipeline.Similarity.cosineTopK(emb, 100L, 5).collect()
    assert(top.length == 5)
    val cos = top.map(_.getDouble(1)).toSeq
    assert(cos == cos.sorted.reverse && cos.forall(c => c >= -1 && c <= 1))
  }

  test("IVF artifacts: persisted centroids/cells reproduce the inline-" +
       "training results and survive a spec-mismatch rebuild") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val embs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 31 + d * 7) % 97) / 97.0f - 0.5f))))
      .toDF("vec_id", "embedding")
    val inline = graft.pipeline.Similarity.ivfTopK(embs, 3L, 5, nlist = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dir = TestSpark.tempDir("ivf-artifacts")
    graft.pipeline.Similarity.buildIvfIndex(embs, dir, nlist = 4)
    val indexed = graft.pipeline.Similarity.ivfTopKIndexed(embs, dir, 3L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == inline,
      "persisted-artifact query must equal the inline-training spec")
    // resume: a second build is a no-op (same SPEC marker + _SUCCESS)
    val mtime = new java.io.File(s"$dir/cells/_SUCCESS").lastModified()
    graft.pipeline.Similarity.buildIvfIndex(embs, dir, nlist = 4)
    assert(new java.io.File(s"$dir/cells/_SUCCESS").lastModified() == mtime)
    // spec change (different nlist) must rebuild, not resume stale cells
    graft.pipeline.Similarity.buildIvfIndex(embs, dir, nlist = 8)
    val spec = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/SPEC"))
    assert(spec.contains("nlist=8"))
  }

  test("lshTopK multi-probe: deterministic, ordered, and bucket-bounded") {
    import spark.implicits._
    val embs = (0L until 80L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 17 + d * 11) % 101) / 101.0f - 0.5f))))
      .toDF("vec_id", "embedding")
    val a = graft.pipeline.Similarity.lshTopK(embs, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.pipeline.Similarity.lshTopK(embs, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b, "probe choice must be deterministic")
    assert(a.nonEmpty && a.map(_._2) == a.map(_._2).sorted.reverse)
    // every candidate's bucket is within `probeBits` sign flips of the
    // query's bucket, and every flipped plane is one of the query's
    // lowest-|proj| planes
    val projs = graft.pipeline.Similarity.lshProjections(embs, 6)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val buckets = graft.pipeline.Similarity.lshBuckets(embs, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qb = buckets(0L)
    val flipSet = (0 until 6).sortBy(h => (math.abs(projs((0L, h))), h))
      .take(3).map(h => 1L << h).toSet
    a.foreach { case (v, _) =>
      val diff = buckets(v) ^ qb
      assert((0 until 6).forall(h =>
        (diff & (1L << h)) == 0L || flipSet.contains(1L << h)),
        s"vec $v bucket outside the ranked probe set")
    }
  }

  test("piiScrub masks emails, IPv4s and long digit runs, counting each") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob.smith@corp.example.org at 192.168.0.1 acct 12345678 ok"),
      (2L, "clean text only"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextOps.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got(1L) == (("contact <EMAIL> at <IP> acct <NUM> ok", 3)))
    assert(got(2L) == (("clean text only", 0)))
  }

  test("repetitionRatio flags dominant-word boilerplate") {
    import spark.implicits._
    val docs = Seq((1L, "spam spam spam spam ham"), (2L, "a b c d"))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextOps.repetitionRatio(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((5L, 0.8, 0.6)))
    assert(got(2L) == ((4L, 0.25, 0.0)))
  }

  test("stratifiedSample keeps everything at rate 1.0, nothing at 0.0, " +
    "and lower-rate survivors are a subset of higher-rate survivors") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"lang${i % 3}"))
      .toDF("doc_id", "lang")
    def kept(r: Double): Set[Long] =
      graft.pipeline.TextOps.stratifiedSample(docs, Map.empty, r)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(1.0).size == 200)
    assert(kept(0.0).isEmpty)
    val half = kept(0.5)
    val quarter = kept(0.25)
    assert(quarter.subsetOf(half)) // thresholding one hash => nested samples
    assert(half.size > 60 && half.size < 140) // roughly proportional
    // per-stratum override: rate 1.0 for lang0 keeps ALL lang0 docs
    val mixed = graft.pipeline.TextOps
      .stratifiedSample(docs, Map("lang0" -> 1.0), 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mixed == (0L until 200L).filter(_ % 3 == 0).toSet)
    assert(kept(0.5) == half) // deterministic under re-run
  }

  test("sampleHash covers both parities and survives the full id domain " +
    "without overflow") {
    import spark.implicits._
    val small = (0L until 64L).map(Tuple1(_)).toDF("doc_id")
    val parities = small
      .select((graft.pipeline.TextOps.sampleHash(org.apache.spark.sql.functions.col("doc_id")) % 2)
        .as("p")).distinct().collect().map(_.getLong(0)).toSet
    assert(parities == Set(0L, 1L)) // a pow2-modulus chain yields only evens
    // ids far beyond the raw-Knuth overflow point (~3.5e9) must not throw
    // (ANSI mode) nor go negative (wrap)
    val big = Seq(4000000000L, 123456789012345L, Long.MaxValue - 1)
      .map(Tuple1(_)).toDF("doc_id")
    val hs = big.select(graft.pipeline.TextOps.sampleHash(org.apache.spark.sql.functions.col("doc_id"))
      .as("h")).collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < graft.pipeline.TextOps.SampleM))
  }

  test("packSequences assigns shard/seq/offset by sharded cumulative " +
    "token counts") {
    import spark.implicits._
    def txt(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(4, 3, 5, 2, 6, 1).zipWithIndex
      .map { case (n, i) => (i.toLong, txt(n)) }.toDF("doc_id", "text")
    val got = graft.pipeline.TextOps
      .packSequences(docs, budget = 10, shardSize = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // shard 0: ids 0-3, cum_before 0,4,7,12 -> seq 0,0,0,1; off 0,4,7,2
    assert(got(0L) == ((0L, 0L, 0L, 4L)))
    assert(got(1L) == ((0L, 0L, 4L, 3L)))
    assert(got(2L) == ((0L, 0L, 7L, 5L)))
    assert(got(3L) == ((0L, 1L, 2L, 2L)))
    // shard 1: ids 4,5, cum_before 0,6 -> seq 0,0; off 0,6
    assert(got(4L) == ((1L, 0L, 0L, 6L)))
    assert(got(5L) == ((1L, 0L, 6L, 1L)))
  }

  test("keepAfterClustering drops non-representative cluster members " +
    "and keeps singletons by absence") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, "en", i * 10))
      .toDF("doc_id", "lang", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val kept = graft.pipeline.Dedup.keepAfterClustering(docs, clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("vocab counts BPE pre-tokens corpus-wide with a deterministic " +
    "(freq desc, token asc) tiebreak and a hard top-k bound") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abc abc xyz"),  // " abc" x1 leading-space + "abc" x1 + " xyz"
      (2L, "abc 42, 42"))   // "abc" head form + " 42" x2 + ","
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextOps.vocab(docs, k = 4).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // Pre-tokens: doc1 -> "abc"," abc"," xyz"; doc2 -> "abc"," 42",","," 42"
    // freq: "abc"=2, " 42"=2, " abc"=1, " xyz"=1, ","=1 -> top-4 with
    // asc-token tiebreak at both the 2-band and the 1-band cut
    // (" "=0x20 sorts before letters and before ",").
    assert(got.toSeq ==
      Seq((" 42", 2L), ("abc", 2L), (" abc", 1L), (" xyz", 1L)))
  }

  test("decontaminate flags n-gram overlap with the eval set, counting " +
    "occurrences; short docs carry no grams") {
    import spark.implicits._
    val leak = "one two three four five" // 5 words -> 3 grams at n=3
    val docs = Seq(
      (1L, s"prefix words here $leak suffix tail"), // contains all 3 grams
      (2L, s"$leak and again $leak"),               // 3 grams, two sites:
      // "three four five and" breaks the repeat — grams at both sites
      // re-match individually (occurrence counting)
      (3L, "completely unrelated content with many words present"),
      (4L, "too short"))                            // < n words: absent
      .toDF("doc_id", "text")
    val evalSet = Seq(Tuple1(leak)).toDF("text")
    val got = graft.pipeline.TextOps.decontaminate(docs, evalSet, n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got(1L) == ((8L, 3L, true)))
    assert(got(2L)._2 == 6L && got(2L)._3) // both leak sites counted
    assert(got(3L)._2 == 0L && !got(3L)._3)
    assert(!got.contains(4L))
  }

  test("unigramScore trains a top-V ppm vocab and scores docs by mean " +
    "in-vocab token probability with OOV → 0") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "a d"))
      .toDF("doc_id", "text")
    // freq: a=3 b=2 c=1 d=1, total 7; vocab(2) ppm: a=428571, b=285714
    val got = graft.pipeline.TextOps.unigramScore(docs, vocabSize = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((3L, 0L, 380952.0)))
    assert(got(2L) == ((2L, 1L, 142857.0)))
    assert(got(3L) == ((2L, 1L, 214285.5)))
    // the freq-1 tie resolves word-asc: k=3 admits c, never d
    val oov3 = graft.pipeline.TextOps.unigramScore(docs, vocabSize = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(oov3(2L) == 0L && oov3(3L) == 1L)
  }

  test("importanceWeights scores docs by the mean target-vs-corpus ppm " +
    "gap with OOV contributing zero") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "a d"))
      .toDF("doc_id", "text")
    val target = Seq((0L, "a b")).toDF("doc_id", "text")
    // target ppm (V=2): a=500000, b=500000 (freq 1/2 each)
    // corpus ppm (V=2): a=3/7→428571, b=2/7→285714; c,d OOV in both
    val got = graft.pipeline.TextOps.importanceWeights(docs, target, 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((3L, 119048.0)))  // (71429*2 + 214286) / 3
    assert(got(2L) == ((2L, 107143.0)))  // 214286 / 2
    assert(got(3L) == ((2L, 35714.5)))   // 71429 / 2
  }

  test("mixingWeights computes α=1/2 temperature weights with exact " +
    "integer normalization") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => (i, if (i <= 4) "en" else "de"))
      .toDF("doc_id", "lang")
    // s: en floor(sqrt(4)·1e6)=2000000, de 1000000; Σs=3000000
    val got = graft.pipeline.TextOps.mixingWeights(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got("en") == ((4L, 0.8, 0.666667)))
    assert(got("de") == ((1L, 0.2, 0.333333)))
  }

  test("spanDedupStats counts cross-document duplicated 13-gram spans; " +
    "intra-document repeats never count") {
    import spark.implicits._
    val span = (1 to 13).map("s" + _).mkString(" ")
    val docs = Seq(
      (1L, span + " x1 x2"),    // 15 words -> 3 grams; gram@1 = the span
      (2L, "y0 " + span),       // 14 words -> 2 grams; gram@2 = the span
      (3L, (1 to 13).map("u" + _).mkString(" ")), // 1 unique gram
      (4L, "short doc only"),                     // < 13 words: absent
      // the same 13-gram twice WITHIN one doc: distinct-doc count is 1
      (5L, ((1 to 13).map("z" + _) ++ (1 to 13).map("z" + _)).mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextOps.spanDedupStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((3L, 1L, 0.3333)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((1L, 0L, 0.0)))
    assert(!got.contains(4L))
    assert(got(5L) == ((14L, 0L, 0.0)))
  }

  test("removeDuplicateSpans drops exactly the words covered by " +
    "cross-document duplicated 13-grams; every doc survives") {
    import spark.implicits._
    val span = (1 to 13).map("s" + _).mkString(" ")
    val docs = Seq(
      (1L, span + " x1 x2"),  // dup gram @1 covers words 1-13; x1 x2 kept
      (2L, "y0 " + span),     // dup gram @2 covers words 2-14; y0 kept
      (3L, (1 to 13).map("u" + _).mkString(" ")), // unique gram: untouched
      (4L, "short doc only")) // < 13 words: untouched by construction
      .toDF("doc_id", "text")
    val got = graft.pipeline.TextOps.removeDuplicateSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("x1 x2", 13L)))
    assert(got(2L) == (("y0", 13L)))
    assert(got(3L) == (((1 to 13).map("u" + _).mkString(" "), 0L)))
    assert(got(4L) == (("short doc only", 0L)))
    assert(got.size == 4) // no doc disappears
  }

  test("gramRows (typed flatMap) is bit-identical to the Column-expression " +
    "spec: charHash/charHash2 word folds + gramHashes/gramHashes2 — the " +
    "DuckDB oracle mirrors the Column spec, so this identity is what keeps " +
    "the fast path oracle-gated") {
    import org.apache.spark.sql.functions.{arrays_zip, col, posexplode}
    import spark.implicits._
    val T = graft.pipeline.TextOps
    val n = 5
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again ok"),
      (2L, (1 to 40).map(i => "w" + (i % 7)).mkString(" ")),
      (3L, "exactly five words here now"),   // len == n: one gram
      (4L, "short one"),                     // len < n: no grams
      (5L, ""),                              // empty: no grams
      (6L, "  double  spaced   words kept intact here "), // empty tokens dropped
      (7L, null))                            // NULL text: no grams, no NPE
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))
    val spec = docs
      .select(col("doc_id"), T.wordHashes(col("text")).as("wh1"),
        T.wordHashes2(col("text")).as("wh2"))
      .select(col("doc_id"), T.gramHashes(col("wh1"), n).as("ga"),
        T.gramHashes2(col("wh2"), n).as("gb"))
      .select(col("doc_id"), posexplode(arrays_zip(col("ga"), col("gb"))))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        col("col.ga"), col("col.gb"))
      .collect().map(key).sorted.toSeq
    val fast = T.gramRows(docs, n, "text")
      .collect().map(key).sorted.toSeq
    assert(fast.nonEmpty && fast == spec)
  }

  test("span family's duplicated-gram rule is a combinable aggregate + " +
    "equijoin, not a window — a gram shared by EVERY doc cannot " +
    "single-partition a window sort (r6, round-5 VERDICT wrong #1)") {
    import spark.implicits._
    // the degenerate shape: one boilerplate 13-gram present in every doc
    // (license headers at corpus scale) — the old window partitioned all
    // its occurrences into ONE sorted partition
    val span = (1 to 13).map("b" + _).mkString(" ")
    val docs = (1L to 500L).map(i => (i, s"$span tail$i extra$i"))
      .toDF("doc_id", "text")
    val stats = graft.pipeline.TextOps.spanDedupStats(docs)
    val plan = stats.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(3000))
    val got = stats.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 15 words -> 3 grams; only gram@1 (the shared span) is duplicated
    assert(got.size == 500 && got.values.forall(_ == ((3L, 1L))))
    val rmPlan = graft.pipeline.TextOps.removeDuplicateSpans(docs)
      .queryExecution.executedPlan.toString
    assert(!rmPlan.contains("Window"), rmPlan.take(3000))
  }

  test("synth meta projection prunes content generation; the content " +
    "column is byte-identical to genRow (r6: the bucket-count job paid a " +
    "second full generation pass)") {
    val df = graft.corpus.CorpusGen.synth(spark, 2, 5, seed = 9L)
    // metadata-only consumers (the docId-rank count job's shape) must not
    // evaluate the content generator
    val meta = df.select("repo", "path", "commit")
    assert(!meta.queryExecution.optimizedPlan.toString.contains("UDF"),
      meta.queryExecution.optimizedPlan.toString.take(2000))
    // content must be generated ONCE even though contentSha re-reads it
    // (CollapseProject must not inline the non-cheap generator twice)
    val fullPlan = df.queryExecution.optimizedPlan.toString
    assert(fullPlan.split("UDF", -1).length - 1 == 1, fullPlan.take(2000))
    val rows = df.select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (0L until 10L).foreach { idx =>
      val (_, path, _, _, content) =
        graft.corpus.CorpusGen.genRow(9L, 2, 5, idx)
      assert(rows(path) == content, s"content drift at idx $idx")
    }
  }

  test("minhashCandidates giant-bucket cap drops degenerate buckets only") {
    import spark.implicits._
    // 6 identical docs -> one clique bucket per band; 2 distinct docs
    val docs = ((1 to 6).map(i => (i.toLong, "the same words exactly")) ++
      Seq((7L, "completely different payload seven"),
        (8L, "another unrelated text eight")))
      .toDF("doc_id", "text")
    val uncapped = graft.pipeline.Dedup.minhashCandidates(docs).count()
    assert(uncapped == 15) // C(6,2) identical-doc pairs
    val capped = graft.pipeline.Dedup.minhashCandidates(docs, maxBucket = Some(3))
    assert(capped.count() == 0) // the size-6 bucket is skipped
    val loose = graft.pipeline.Dedup.minhashCandidates(docs, maxBucket = Some(6))
    assert(loose.count() == 15) // cap above the bucket size changes nothing
  }
}
