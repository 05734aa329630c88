package graft

import org.apache.spark.sql.functions.{col, length, sum}

import graft.engine.Searcher
import graft.index.IndexBuilder
import graft.pipeline.{Dedup, Similarity}
import graft.util.LocalSpark

/** Per-round benchmark (driver contract): one JSON line with total seconds
  * and a per-operator breakdown, on SPARK_GRAFT_SF_DIR at
  * local[SPARK_GRAFT_CPUS].
  *
  * Headline numbers (BASELINE.md (b)):
  *   - index_build: full inverted-index build (docs+postings+dict) over the
  *     corpus derived from the documents table, fresh directory — reported
  *     also as files_per_sec;
  *   - query latencies: the FIXTURES.md §3 reference query set, p50/p99 over
  *     repeated runs (top-k k=10, block-max WAND path);
  *   - pipeline ops: minhash bands, simhash, cosine top-k.
  */
object Bench {

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def freshDir(path: String): String = {
    graft.util.FsUtil.rmTree(path)
    path
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus
    val spark = LocalSpark.session("graft-bench", cpus)

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // --- index build throughput (fresh build every bench run), timed per
    // stage so a files/sec move is attributable (round-2 VERDICT item 1):
    // docs = id-rank + stored fields + stats; postings = tokenize + the one
    // (term,bucket) shuffle + block encode; dict = per-term global agg;
    // repo = the nested repo-name sub-index build (a round-2 feature the
    // r1 number did not include).
    def stagedBuild(b: IndexBuilder, corpus: org.apache.spark.sql.DataFrame,
                    tag: String): Double = {
      val (_, tDocs) = timed(b.buildDocs(corpus))
      val (_, tPost) = timed(b.buildPostings())
      val (_, tDict) = timed(b.buildDict())
      val (_, tRepo) = timed(b.buildRepoIndex())
      results += s"${tag}_docs" -> tDocs
      results += s"${tag}_postings" -> tPost
      results += s"${tag}_dict" -> tDict
      results += s"${tag}_repoidx" -> tRepo
      tDocs + tPost + tDict + tRepo
    }
    val corpus = SparkEntry.corpusFromDocuments(spark, sfDir)
    val nFiles = corpus.count()
    val root = freshDir(s"/tmp/graft-bench-idx")
    val tBuild = stagedBuild(
      new IndexBuilder(spark, root, bucketSize = 1024), corpus, "index_build")
    results += "index_build" -> tBuild
    val searcher = new Searcher(spark, root)

    // --- synthetic 20k-file build: large enough that per-job fixed costs
    // stop dominating files/sec (the documents table is only ~5k rows)
    val synth = graft.corpus.CorpusGen.synth(spark, 50, 400, seed = 42L)
    val synthRoot = freshDir(s"/tmp/graft-bench-synth")
    val tSynth = stagedBuild(new IndexBuilder(spark, synthRoot,
      bucketSize = 4096, numPartitions = 128), synth, "synth20k")
    results += "index_build_synth20k" -> tSynth

    // --- query latency over the reference query set (WAND path, k=10)
    val querySet = Seq("merge join", "scan", "filter window", "customer",
      "the fast", "vector stream", "hash join order", "slow batch")
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    // warm-up (JIT + parquet footer cache)
    searcher.searchLiteral(querySet.head, 10).collect()
    querySet.foreach { q =>
      (0 until 3).foreach { _ =>
        val (_, t) = timed(searcher.searchLiteral(q, 10).collect())
        lat += t
      }
    }
    val sorted = lat.sorted
    val p50 = sorted(sorted.size / 2)
    val p99 = sorted(math.min(sorted.size - 1, (sorted.size * 99) / 100))
    results += "query_p50" -> p50
    results += "query_p99" -> p99

    val (_, tRegex) = timed(
      searcher.searchRegex("merge (join|sort)", 10).collect())
    results += "regex_search" -> tRegex

    val (_, tRepo) = timed(new graft.engine.QueryExecutor(searcher)
      .executeRepo("repo:rc1", 10).collect())
    results += "repo_search" -> tRepo

    // production search page: top-k + executor-side snippets (reference
    // page size 100) — the non-oracle snippet path, no full-set collect
    val (_, tSnip) = timed(new graft.engine.QueryExecutor(searcher)
      .executeWithSnippets("merge join", 100).collect())
    results += "snippet_page" -> tSnip

    // one-pass page metadata on a BROAD query: top-k + total + bounded
    // top-N lang/repo histograms from one cached candidate pass (the
    // driver-side cost stays ≤ statsTopN rows per field at any hit count)
    val (_, tPage) = timed(new graft.engine.QueryExecutor(searcher)
      .executePage("the", 10))
    results += "page_meta_broad" -> tPage

    // metadata-filtered queries through executeAny at k = 10: repo:, lang:
    // and a scored path: with a term, and a bare repo-name search; p50 of
    // 3 runs of each after one warm-up of each. Timed after every other
    // query key, so none of them runs on warmer state than before
    val filteredExec = new graft.engine.QueryExecutor(searcher)
    val filteredSet = Seq("repo:src7 merge", "lang:de window",
      "path:doc/12 scan", "repo:rc1")
    filteredSet.foreach(q => filteredExec.executeAny(q, 10).collect())
    val filteredLat = filteredSet.flatMap(q => (0 until 3).map(_ =>
      timed(filteredExec.executeAny(q, 10).collect())._2)).sorted
    results += "query_filtered_p50" -> filteredLat(filteredLat.size / 2)

    // the reference query set through executeAny at k = 10 (the driver-
    // local path, where the gate admits it), p50 of 3 runs of each after
    // one warm-up of each; then bare repo:rc1 on the warmed executor, p50
    // of 3 (repo_search above times a cold first open). Timed after every
    // other query key
    querySet.foreach(q => filteredExec.executeAny(q, 10).collect())
    val localLat = querySet.flatMap(q => (0 until 3).map(_ =>
      timed(filteredExec.executeAny(q, 10).collect())._2)).sorted
    results += "query_local_p50" -> localLat(localLat.size / 2)
    val repoLat = (0 until 3).map(_ =>
      timed(filteredExec.executeRepo("repo:rc1", 10).collect())._2).sorted
    results += "repo_search_warm" -> repoLat(1)

    // --- pipeline ops
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (_, tMin) = timed(Dedup.minhashBands(docs).count())
    results += "minhash_bands" -> tMin
    val (_, tSim) = timed(Dedup.simhash(docs).count())
    results += "simhash" -> tSim
    val (_, tCos) = timed(Similarity.cosineTopK(embs, 0L, 20).collect())
    results += "cosine_topk" -> tCos
    // benchmark decontamination (13-gram eval overlap, broadcast eval
    // side) over the same derived eval set the q_decontaminate oracle
    // uses. NOTE on forcing, here and below: a bare count() lets Catalyst
    // prune the value columns — a left join against a provably-distinct
    // key set is ELIMINATED and window/projection work never runs — so
    // every key whose op ends in such a join/window aggregates its value
    // columns instead, making the timed plan the production plan.
    val (_, tDecon) = timed(graft.pipeline.TextOps.decontaminate(docs,
      graft.pipeline.TextOps.derivedEvalSet(docs))
      .agg(sum("n_matched")).collect())
    results += "decontaminate" -> tDecon
    // round-5 pipeline family: tokenizer-training count, data mixing,
    // sequence packing, order-based near-dedup (all per-operation latency)
    val (_, tVocab) = timed(
      graft.pipeline.TextOps.vocab(docs, k = SparkEntry.VocabK).collect())
    results += "vocab_top200" -> tVocab
    val (_, tSample) = timed(graft.pipeline.TextOps.stratifiedSample(
      docs, SparkEntry.SampleRates, SparkEntry.SampleDefault).count())
    results += "stratified_sample" -> tSample
    val (_, tPack) = timed(graft.pipeline.TextOps.packSequences(
      docs, budget = SparkEntry.PackBudget,
      shardSize = SparkEntry.PackShardSize)
      .agg(sum("seq_id"), sum("offset")).collect())
    results += "pack_sequences" -> tPack
    val (_, tFw) = timed(Dedup.firstWinsKeep(docs).count())
    results += "dedup_firstwins" -> tFw
    // round-5 session-4 family: corpus-trained unigram quality score and
    // the cross-document repeated-span (exact-substring dedup) signal —
    // span_dedup13 is the heavy one: a gram-level count-distinct shuffle
    val (_, tUni) = timed(graft.pipeline.TextOps.unigramScore(
      docs, vocabSize = SparkEntry.UnigramV)
      .agg(sum("n_oov"), sum("score_ppm")).collect())
    results += "unigram_lm" -> tUni
    val (_, tDsir) = timed(graft.pipeline.TextOps.importanceWeights(
      docs, graft.pipeline.TextOps.derivedTargetSet(docs),
      vocabSize = SparkEntry.UnigramV)
      .agg(sum("dsir_score")).collect())
    results += "dsir_weights" -> tDsir
    val (_, tSpan) = timed(graft.pipeline.TextOps.spanDedupStats(docs)
      .agg(sum("n_dup"), sum("n_grams")).collect())
    results += "span_dedup13" -> tSpan
    val (_, tSpanRm) = timed(graft.pipeline.TextOps.removeDuplicateSpans(docs)
      .agg(sum(length(col("cleaned"))), sum("n_removed")).collect())
    results += "span_removal" -> tSpanRm
    // IVF split train vs probe (round-3 VERDICT: training is an
    // index-build artifact — ivf_topk times the PRODUCTION query path
    // over persisted centroids/cells, ivf_train the one-time build)
    val ivfDir = freshDir("/tmp/graft-bench-ivf")
    val (_, tIvfTrain) = timed(Similarity.buildIvfIndex(embs, ivfDir))
    results += "ivf_train" -> tIvfTrain
    val (ivfRows, tIvf) = timed(
      Similarity.ivfTopKIndexed(embs, ivfDir, 0L, 10).collect())
    results += "ivf_topk" -> tIvf
    // train-cost scaling point at a larger fixed cell count (the auto
    // nlist is ~√N; assignment work grows with nlist × N)
    val ivfDir64 = freshDir("/tmp/graft-bench-ivf64")
    val (_, tIvfTrain64) = timed(
      Similarity.buildIvfIndex(embs, ivfDir64, nlist = 64))
    results += "ivf_train_nlist64" -> tIvfTrain64

    // ANN recall@10 vs the brute-force scan (k-means-refined IVF and
    // multi-probe LSH) — quality alongside the latency numbers; the IVF
    // rows come from the timed run above (no retraining just for recall).
    // candidate_frac = fraction of the corpus the probe actually scans:
    // recall without its cost is not a quality number (BENCH notes carry
    // the measured LSH recall/fraction grid for this corpus).
    val nVecs = embs.count().toDouble
    val brute10 = Similarity.cosineTopK(embs, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    val ivf10 = ivfRows.map(_.getLong(0)).toSet
    val lsh10 = Similarity.lshTopK(embs, 0L, 10).collect()
      .map(_.getLong(0)).toSet
    results += "ivf_recall_at10" -> brute10.intersect(ivf10).size / 10.0
    results += "lsh_recall_at10" -> brute10.intersect(lsh10).size / 10.0
    results += "ivf_candidate_frac" ->
      Similarity.ivfCandidates(embs, ivfDir, 0L).count() / nVecs
    results += "lsh_candidate_frac" ->
      Similarity.lshCandidates(embs, 0L).count() / nVecs
    // dedup clusters split into edges (minhash + LSH buckets + star
    // reduction, materialized) vs CC rounds (min-label + pointer jump) so
    // a key-level move is attributable (round-4 VERDICT #2)
    val (starEdges, tEdges) = timed(
      Dedup.minhashStarEdges(docs).localCheckpoint())
    results += "dedup_edges" -> tEdges
    val (_, tCc) = timed(Dedup.duplicateClusters(starEdges).count())
    results += "dedup_cc_rounds" -> tCc
    results += "dedup_clusters" -> (tEdges + tCc) // aggregate (cross-round key)

    // --- incremental maintenance: two delta ingests then the tiered merge
    // (docIds preserved; cost is Σ|deltas|, not |corpus| — timed alone)
    val incRoot = freshDir("/tmp/graft-bench-inc")
    val inc = new graft.index.IncrementalIndexer(spark, incRoot,
      bucketSize = 1024)
    inc.ingest(graft.corpus.CorpusGen.synth(spark, 10, 200, seed = 7L))
    inc.ingest(graft.corpus.CorpusGen.synth(spark, 10, 200, seed = 8L)
      .withColumn("repo",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("m-"),
          org.apache.spark.sql.functions.col("repo"))))
    val (_, tMerge) = timed(inc.mergeDeltas())
    results += "delta_merge_4k" -> tMerge // aggregate (cross-round key)
    // per-stage attribution (round-4 VERDICT #2): heal/docs/postings/
    // dict/stats/swap must explain any future delta_merge_4k move
    inc.lastMergeStageTimes.foreach { case (stage, secs) =>
      results += s"delta_merge_$stage" -> secs
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    // wall-seconds only, each second counted once: skip the two staged
    // AGGREGATE keys (their stages are already in the map), the
    // dimensionless recall ratios (round-3 review: the old sum
    // double-counted every build second and added ratios as seconds),
    // and the one-time IVF training — it is an index-build artifact, not
    // per-operation latency, which is the whole point of the
    // ivf_train/ivf_topk split (round-4 ADVICE)
    val aggregateKeys = Set("index_build", "index_build_synth20k",
      "dedup_clusters", "delta_merge_4k")
    val addedKeys = Set("query_filtered_p50", "query_local_p50",
      "repo_search_warm")
    val total = results.iterator.collect {
      // the query keys added since are left out too, so the total sums
      // the same keys as before they were added
      case (k, v) if !aggregateKeys(k) && !addedKeys(k) &&
        !k.endsWith("_recall_at10") &&
        !k.endsWith("_candidate_frac") && !k.startsWith("ivf_train") => v
    }.sum
    val fps = nFiles / tBuild
    val fpsSynth = 20000.0 / tSynth
    // latest N→4N scaling evidence, if ScalingBench has produced it
    val scaling = try {
      val j = java.nio.file.Files.readString(
        java.nio.file.Paths.get("BENCH/scaling.json")).trim
      s""","scaling":$j"""
    } catch { case _: Throwable => "" }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","files":$nFiles,"files_per_sec":${f"$fps%.1f"},""" +
      s""""files_per_sec_synth20k":${f"$fpsSynth%.1f"},""" +
      s""""cpus":$cpus$scaling}"""
    // The driver greps stdout for the JSON line, but sbt prefixes run
    // output with "[info] " (round-1 BENCH parsed:null). Belt and braces:
    // raw line on stdout AND a file the driver/judge can read directly.
    println(json)
    new java.io.File("BENCH").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/bench.json"), json + "\n")
    spark.stop()
    // After spark.stop() sbt stops interleaving executor logs; emit the
    // bare line once more as the very last stdout of the run.
    println(json)
  }
}
