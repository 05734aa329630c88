package codebench

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.engine.{QueryExecutor, Searcher}
import graft.index.IndexBuilder
import graft.oracle.OracleEngine

/** `search`: read-only query traffic, one client in a closed loop, over an
  * index built during set-up. The mix has a class that a small-query path
  * would speed up (`selective`) and one it would not (`broad`).
  */
object SearchBench {
  val CopyShare = 0.1
  val Cycles = 2 // distinct queries: two cycles of the 20-query mix

  /** Builds an index with the four public IndexBuilder stages, each
    * traced as its own span.
    */
  def build(ctx: Ctx, corpus: DataFrame, root: String): Unit = {
    val t = ctx.tracer
    val b = new IndexBuilder(ctx.spark, root)
    t.span("index.build") {
      t.span("index.docs")(b.buildDocs(corpus))
      t.span("index.postings")(b.buildPostings())
      t.span("index.dict")(b.buildDict())
      t.span("index.repoidx")(b.buildRepoIndex())
    }
  }

  def warm(qe: QueryExecutor, q: Query): Unit =
    if (q.page) qe.executeWithSnippets(q.text, q.k).collect()
    else qe.executeAny(q.text, q.k).collect()

  def profile(c: Corpus, report: Report): Unit = {
    report.profile("files") = c.rows.size.toString
    report.profile("content bytes") = c.contentBytes.toString
    report.profile("distinct terms") = c.df.size.toString
    report.profile("repos") = c.rows.map(_.repo).distinct.size.toString
    report.profile("files in fork families") = f"${c.forkShare * 100}%.1f%%"
  }

  def run(ctx: Ctx, report: Report, sessionS: Double): Unit = {
    val n = ctx.scale.searchFiles
    val runner = new QueryRunner(ctx)
    // Set-up, repeated: generate and write the corpus, build the index,
    // open it and warm every query class. The last one is measured.
    var last: (Corpus, Searcher, QueryExecutor, Vector[Query]) = null
    val buildMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setups = (0 until ctx.scale.searchSetupReps).map { r =>
      Stats.timeMs {
        val c = new Gen(ctx.seed, n).corpus(n, CopyShare)
        val path = ctx.dir(s"search-corpus-$r")
        ctx.spark.createDataFrame(c.rows).write.parquet(path)
        val root = ctx.dir(s"search-index-$r")
        buildMs += Stats.timeMs(build(ctx, ctx.spark.read.parquet(path), root))._2
        val se = new Searcher(ctx.spark, root)
        val qe = new QueryExecutor(se)
        val pool = Queries.pool(c, ctx.seed, Cycles)
        Queries.Classes.foreach(cls => pool.find(_.cls == cls).foreach(warm(qe, _)))
        if (last != null) graft.util.FsUtil.rmTree(last._2.indexRoot)
        last = (c, se, qe, pool)
      }._2 / 1e3
    }
    report.put("setup_s", sessionS + Stats.median(setups))
    report.put("build_files_per_s", n / (Stats.median(buildMs.toSeq) / 1e3))
    val (c, se, qe, pool) = last
    profile(c, report)
    Queries.profile(pool, c, report)

    // Untimed, after set-up: one pass over the pool. Latency falls by about
    // a quarter over a JVM's first cycle of queries (JIT warm-up), and a
    // window that starts cold measures how far that got, not the engine.
    val order = new Random(ctx.seed).shuffle(pool)
    order.foreach(warm(qe, _))

    // Measured phase: the pool in the same order, cycled until time is up.
    // A traced run alternates traced and untraced queries, swapping the
    // two halves every cycle, and runs at least two cycles, so that each
    // query runs both ways; the untraced ones give its latency figures and
    // the tracing overhead. The mid-run heap sample (forced collections)
    // is left out of the throughput's wall time.
    val heap = new HeapSampler
    heap.sample()
    val t0 = System.nanoTime()
    var i = 0
    var heapMs = 0.0
    val minQueries = if (ctx.tracer.enabled) 2 * order.size else 0
    while (i < minQueries || !ctx.deadline(t0)) {
      val q = order(i % order.size)
      report.attempted += 1
      if (runner.run(se, qe, q, traced = (i + i / order.size) % 2 == 0).isEmpty)
        report.fail(s"${q.cls} '${q.text}' threw")
      i += 1
      if (heapMs == 0.0 && (System.nanoTime() - t0) / 1e9 >= ctx.seconds / 2)
        heapMs = Stats.timeMs(heap.sample())._2
    }
    val wallS = (System.nanoTime() - t0) / 1e9 - heapMs / 1e3
    heap.sample()
    runner.reportLatency(report)
    report.put("op_p50_ms", report.values("query_p50_ms"))
    report.put("throughput_per_s", i / wallS)
    report.put("live_heap_mb", heap.peakMb)
    report.put("leaked_blocks", ctx.spark.sparkContext.getPersistentRDDs.size)
    report.put("index_bytes_ratio",
      Stats.du(se.indexRoot).toDouble / c.contentBytes)

    if (ctx.tracer.enabled) {
      runner.reportLayers(report, se, qe)
      Layers.selfTimes(ctx.tracer, report)
      Layers.build(ctx.tracer, report)
      Layers.tokenize(c, report)
    }

    // Correctness, after the measured phase: every distinct query's
    // result against the single-JVM oracle over the same rows.
    val oracle = new OracleEngine(
      c.rows.map(r => (r.repo, r.path, r.commit, r.lang, r.content)))
    QueryRunner.check(runner, oracle, qe, ctx.perturb, report)
  }
}

object Layers {
  /** Self time of each layer per traced operation. */
  def selfTimes(t: Tracer, report: Report): Unit = {
    val reqs = t.all.map(_.request).filter(_ >= 0).distinct.size
    if (reqs == 0) return
    t.selfMsByLayer.foreach { case (layer, ms) =>
      report.put(s"$layer.self_ms_per_op", ms / reqs)
    }
  }

  /** The four IndexBuilder stages and the build's Spark work, median over
    * the traced builds.
    */
  def build(t: Tracer, report: Report): Unit = {
    def medS(name: String) = Stats.median(t.named(name).map(_.ms)) / 1e3
    Seq("docs", "postings", "dict", "repoidx").foreach(s =>
      report.put(s"index.${s}_s", medS(s"index.$s")))
    val builds = t.named("index.build").map(t.sparkOf)
    report.put("index.build_jobs", Stats.median(builds.map(_.jobs.toDouble)))
    report.put("index.build_task_ms", Stats.median(builds.map(_.taskMs.toDouble)))
    report.put("index.build_shuffle_bytes",
      Stats.median(builds.map(_.shuffleBytes.toDouble)))
  }

  /** Single-thread IndexBuilder.tokenizeDoc over the corpus, outside
    * timing: the tokenize floor of the postings stage.
    */
  def tokenize(c: Corpus, report: Report): Unit = {
    val contents = c.rows.map(_.content)
    val ms = (0 until 2).map(_ => Stats.timeMs(contents.zipWithIndex.foreach {
      case (s, i) => graft.index.IndexBuilder.tokenizeDoc(i.toLong, s, 0.toByte)
        .foreach(_ => ())
    })._2).min
    report.put("tokenize.ns_per_byte", ms * 1e6 / contents.map(_.length.toLong).sum)
  }
}
