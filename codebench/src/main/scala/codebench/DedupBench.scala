package codebench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.pipeline.Dedup

/** `dedup`: the training-data pipeline over the generated corpus as
  * (doc_id, text), repeated in one long-lived session. It calls nothing in
  * graft.engine or graft.index, so it is the workload on which an engine
  * or index change should change nothing.
  */
object DedupBench {
  val CopyShare = 0.1
  val Parts = 4

  /** Forces a frame by aggregating its value columns. A bare count() lets
    * Catalyst prune joins and projections, so it would time a different
    * plan.
    */
  def force(df: DataFrame, cols: String*): Unit =
    df.agg(count(lit(1)), cols.map(c => sum(c)): _*).collect()

  def run(ctx: Ctx, report: Report, sessionS: Double): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val t = ctx.tracer
    val n = ctx.scale.dedupFiles
    // Each run dedups Parts corpora drawn from its seed, one per pass in
    // turn: the number of connected-components rounds depends on the edge
    // graph's shape, so the median over several corpora is steadier than
    // one corpus' figure.
    var corpora: Vector[Corpus] = null
    var frames: Vector[DataFrame] = null
    val setups = (0 until ctx.scale.setupReps).map { r =>
      Stats.timeMs {
        corpora = Vector.tabulate(Parts)(p =>
          new Gen(ctx.seed * Parts + p, n).corpus(n, CopyShare))
        frames = corpora.zipWithIndex.map { case (c, p) =>
          val path = ctx.dir(s"dedup-docs-$r-$p")
          spark.createDataFrame(c.rows.zipWithIndex
            .map { case (row, i) => (i.toLong, row.content) })
            .toDF("doc_id", "text").write.parquet(path)
          val docs = spark.read.parquet(path)
          force(docs, "doc_id")
          docs
        }
      }._2 / 1e3
    }
    report.put("setup_s", sessionS + Stats.median(setups))
    System.err.println(s"codebench: session $sessionS s, set-ups ${setups.mkString(" ")} s")
    SearchBench.profile(corpora.head, report)
    report.profile("corpora") = s"$Parts of $n files, one per pass in turn"
    report.profile("exact-copy families") =
      corpora.map(_.families.count(_.exact)).mkString(", ")

    val edges0 = Dedup.minhashStarEdges(frames.head).localCheckpoint()
    force(Dedup.duplicateClusters(edges0), "doc_id", "cluster_id")
    force(Dedup.jaccardVerifiedPairs(frames.head), "doc_id_a", "doc_id_b", "jaccard")
    val heap = new HeapSampler
    heap.sample()
    val passMs = mutable.ArrayBuffer.empty[Double]
    val persistentAfter = mutable.ArrayBuffer.empty[Double]
    var edges: DataFrame = null
    var clusters: DataFrame = null
    val traced = mutable.ArrayBuffer.empty[Boolean]
    // Measured passes follow one untimed warm-up pass (JIT and code
    // generation). A traced run alternates traced and untraced passes,
    // swapping the two halves every round of the corpora so that each
    // corpus runs both ways, and reports its own overhead. The live heap
    // is sampled after the first two passes only: blocks leak with every
    // pass, and a fixed count keeps the figure independent of how many
    // passes fit the time. The samples are left out of the throughput's
    // wall time.
    val t0 = System.nanoTime()
    var heapMs = 0.0
    val minPasses = if (t.enabled) 2 * Parts else Parts
    while (passMs.size < minPasses || !ctx.deadline(t0)) {
      val p = passMs.size
      val docs = frames(p % Parts)
      traced += (p + p / Parts) % 2 == 0
      passMs += t.withTracing(traced.last) {
        t.newRequest()
        Stats.timeMs(t.span("bench.dedup") {
          edges = t.span("pipeline.edges") {
            val e = Dedup.minhashStarEdges(docs).localCheckpoint()
            force(e, "doc_id_a", "doc_id_b")
            e
          }
          persistentAfter += sc.getPersistentRDDs.size
          clusters = t.span("pipeline.cc") {
            val c = Dedup.duplicateClusters(edges)
            force(c, "doc_id", "cluster_id")
            c
          }
          persistentAfter += sc.getPersistentRDDs.size
          t.span("pipeline.verify")(force(Dedup.jaccardVerifiedPairs(docs),
            "doc_id_a", "doc_id_b", "jaccard"))
          persistentAfter += sc.getPersistentRDDs.size
        })._2
      }
      report.attempted += 3
      if (passMs.size <= 2) heapMs += Stats.timeMs(heap.sample())._2
    }
    val wallS = (System.nanoTime() - t0) / 1e9 - heapMs / 1e3
    val last = (passMs.size - 1) % Parts
    report.put("op_p50_ms", Stats.median(passMs.toSeq))
    report.put("throughput_per_s", passMs.size * n / wallS)
    report.put("live_heap_mb", heap.peakMb)
    report.put("dedup_s", Stats.median(passMs.toSeq) / 1e3)
    report.put("leaked_blocks", sc.getPersistentRDDs.size)

    if (t.enabled) {
      t.drain()
      report.put("trace.overhead_ms",
        Stats.median(passMs.indices.filter(traced).map(passMs)) -
          Stats.median(passMs.indices.filterNot(traced).map(passMs)))
      Layers.selfTimes(t, report)
      def medS(name: String) = Stats.median(t.named(name).map(_.ms)) / 1e3
      report.put("pipeline.edges_s", medS("pipeline.edges"))
      report.put("pipeline.cc_s", medS("pipeline.cc"))
      report.put("pipeline.verify_s", medS("pipeline.verify"))
      report.put("pipeline.cc_jobs",
        Stats.mean(t.named("pipeline.cc").map(t.sparkOf(_).jobs.toDouble)))
      report.put("pipeline.shuffle_bytes",
        Stats.mean(t.named("bench.dedup").map(t.sparkOf(_).shuffleBytes.toDouble)))
      report.put("pipeline.persistent_rdds_after", persistentAfter.last)
      // outside timing: how many LSH candidate pairs survive verification
      val cand = Dedup.minhashCandidates(frames(last)).count()
      val verified = Dedup.jaccardVerifiedPairs(frames(last)).count()
      if (cand > 0) report.put("pipeline.verify_precision", verified.toDouble / cand)
    }

    // Correctness, after the measured phase, on the last pass: the
    // clusters are the connected components of their own edge set, and
    // every exact-copy family lies in one cluster.
    val edgeList = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edgeList.flatMap { case (a, b) => Seq(a, b) }.toSet
    val compMin = nodes.groupBy(find).values.flatMap(c => c.map(_ -> c.min)).toMap
    report.attempted += 1
    if (compMin != labels)
      report.fail(s"clusters differ from the edge set's components: " +
        s"${(compMin.toSet diff labels.toSet).take(3)} vs " +
        s"${(labels.toSet diff compMin.toSet).take(3)}", passMs.size)
    corpora(last).families.filter(_.exact).foreach { f =>
      report.attempted += 1
      val ids = f.members.map(m => labels.get(m.toLong))
      if (ids.exists(_.isEmpty) || ids.distinct.size != 1)
        report.fail(s"exact-copy family ${f.members} split over clusters $ids")
    }
  }
}
