package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Similarity, TextOps}
import graft.util.LocalSpark

/** Optimization-round profiling harness (guide §1.1/§1.4/§1.5) — NOT part
  * of the frozen driver bench. Times individual pipeline stages with the
  * noop sink so the computation is measured without the output write, and
  * records per-Spark-stage task metrics (run/CPU time, shuffle bytes,
  * spill) through a listener so a slow wall-clock number is attributable
  * to compute vs shuffle vs GC vs host steal.
  *
  *   sbt "runMain graft.BenchExtra [keys…]"
  */
object BenchExtra {

  case class StageRow(jobDesc: String, stageId: Int, name: String,
                      tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
                      shufReadMB: Double, shufWriteMB: Double,
                      spillMB: Double, inputMB: Double)

  def main(args: Array[String]): Unit = {
    val keys = if (args.nonEmpty) args.toSet else Set.empty[String]
    def want(k: String): Boolean = keys.isEmpty || keys.contains(k)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session("graft-bench-extra")

    val stages = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    spark.sparkContext.addSparkListener(new SparkListener {
      // a stage's key is the job description `timed` set before its job
      // was submitted, read from the stage's own properties; only the
      // listener thread touches this map
      private val descOf = scala.collection.mutable.Map.empty[Int, String]
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => descOf(e.stageInfo.stageId) = d)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        val desc = descOf.remove(e.stageInfo.stageId).getOrElse("")
        stages.synchronized {
          stages += StageRow(desc, e.stageInfo.stageId,
            e.stageInfo.name.takeWhile(_ != '\n').take(60),
            e.stageInfo.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
            m.jvmGCTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.memoryBytesSpilled / 1e6, m.inputMetrics.bytesRead / 1e6)
        }
      }
    })

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // EXTRA_REPEATS>1: per-key warm repeats — repeat 1 absorbs JIT, the
    // reported value is the MIN (steal-robust; guide §1: measure the
    // computation, not the host)
    val repeats = sys.env.getOrElse("EXTRA_REPEATS", "1").toInt
    def timed(key: String)(f: => Any): Unit = if (want(key)) {
      spark.sparkContext.setJobDescription(key)
      val ts = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      val dt = ts.min
      results += key -> dt
      println(f"EXTRA $key%-28s $dt%8.3f s  all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // ---- synthetic corpus generation vs docs stage
    lazy val synth = graft.corpus.CorpusGen.synth(spark, 50, 400, seed = 42L)
    timed("synth_gen_noop") { noop(synth) }
    timed("synth_gen_meta_noop") { noop(synth.select("repo", "path", "commit")) }
    val synthRoot = Bench.freshDir("/tmp/graft-extra-synth")
    val sb = new graft.index.IndexBuilder(spark, synthRoot,
      bucketSize = 4096, numPartitions = 128)
    timed("synth_docs_stage") { sb.buildDocs(synth) }
    timed("synth_postings_stage") { sb.buildPostings() }
    timed("synth_dict_stage") { sb.buildDict() }
    timed("synth_repoidx_stage") { sb.buildRepoIndex() }
    // tokenization-only pass over the written docs (phase-1 CPU floor)
    timed("synth_tokenize_scan") {
      val ds = spark.read.parquet(s"$synthRoot/docs")
        .filter(col("indexed"))
        .select("docId", "content", "normId", "lang")
      import spark.implicits._
      val n = ds.as[(Long, String, Byte, String)].mapPartitions { it =>
        var c = 0L
        it.foreach { case (id, content, norm, lang) =>
          c += graft.index.IndexBuilder.tokenizeDoc(id, content, norm, lang).size
        }
        Iterator.single(c)
      }.reduce(_ + _)
      println(s"  postings(str) = $n")
    }

    // ---- ivf internals
    timed("ivf_centroids_auto") { Similarity.ivfCentroids(embs) }
    timed("ivf_cells_auto") { noop(Similarity.ivfCells(embs)) }
    timed("ivf_centroids_64") { Similarity.ivfCentroids(embs, nlist = 64) }

    // ---- dedup family, noop-isolated
    timed("minhash_bands_noop") { noop(Dedup.minhashBands(docs)) }
    timed("simhash_noop") { noop(Dedup.simhash(docs)) }
    timed("simhash64_noop") { noop(Dedup.simhash64Bands(docs)) }
    timed("firstwins_noop") { noop(Dedup.firstWinsKeep(docs)) }
    timed("star_edges_noop") { noop(Dedup.minhashStarEdges(docs)) }

    // ---- span/gram family, noop-isolated
    timed("span_dedup_noop") { noop(TextOps.spanDedupStats(docs)) }
    timed("span_removal_noop") { noop(TextOps.removeDuplicateSpans(docs)) }
    timed("decontaminate_noop") {
      noop(TextOps.decontaminate(docs, TextOps.derivedEvalSet(docs)))
    }
    timed("unigram_noop") { noop(TextOps.unigramScore(docs, SparkEntry.UnigramV)) }
    timed("dsir_noop") {
      noop(TextOps.importanceWeights(docs, TextOps.derivedTargetSet(docs),
        SparkEntry.UnigramV))
    }
    timed("cosine_topk_collect") { Similarity.cosineTopK(embs, 0L, 20).collect() }

    // ---- per-stage attribution table
    println("STAGES jobDesc | stage | tasks | runMs | cpuMs | gcMs | " +
      "shufRd | shufWr | spill | input | name")
    stages.foreach { s =>
      println(f"STAGE ${s.jobDesc}%-24s ${s.stageId}%5d ${s.tasks}%5d " +
        f"${s.runMs}%7d ${s.cpuMs}%7d ${s.gcMs}%6d ${s.shufReadMB}%8.1f " +
        f"${s.shufWriteMB}%8.1f ${s.spillMB}%7.1f ${s.inputMB}%8.1f ${s.name}")
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"bench_extra","queries":$qs}""")
    spark.stop()
  }
}
