package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen
import graft.index.IndexBuilder
import graft.util.LocalSpark

/** N-vs-4N scaling evidence (BASELINE.json north_rule; sandbox stand-in per
  * driver instruction): the SAME index build at local[N] and local[4N] over
  * the SAME materialized parquet corpus, each measurement in its own JVM
  * (same-JVM back-to-back runs showed 10× noise from GC/JIT state carried
  * between SparkContexts). Reports files/sec at both levels and
  * eff = (T_N / T_4N) / 4 into `BENCH/BASELINE.md`.
  *
  * Campaign protocol (round-3: the headline is the MEDIAN of interleaved
  * pairs, not a best pair): alternate `run N` / `run 4N` / `control N` /
  * `control 4N` three times — every `run`/`control` APPENDS to a history
  * file — then `report N 4N` pairs the i-th runs chronologically, computes
  * each pair's efficiency, and publishes the median. The `control` job is
  * pure CPU (no I/O, no shuffle): its pair efficiency measures the HOST's
  * concurrent 2→8 scaling ceiling in the same minutes as the engine pair,
  * so engine numbers can be read against what the shared box allowed.
  *
  * Usage (each line a separate JVM):
  *   runMain graft.ScalingBench gen <nRepos> <filesPerRepo>
  *   runMain graft.ScalingBench run 2        (×3, alternating with:)
  *   runMain graft.ScalingBench run 8
  *   runMain graft.ScalingBench control 2
  *   runMain graft.ScalingBench control 8
  *   runMain graft.ScalingBench report 2 8
  */
object ScalingBench {

  val CorpusPath = "/tmp/graft-scaling-corpus"
  private def resultPath(cores: Int) = s"/tmp/graft-scaling-t$cores.txt"
  private def histPath(kind: String, cores: Int) =
    s"/tmp/graft-scaling-hist-$kind-$cores.txt"

  private def appendHist(kind: String, cores: Int, line: String): Unit = {
    val p = java.nio.file.Paths.get(histPath(kind, cores))
    java.nio.file.Files.writeString(p, line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  private def readHist(kind: String, cores: Int): Seq[Array[Double]] = {
    val p = java.nio.file.Paths.get(histPath(kind, cores))
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else java.nio.file.Files.readString(p).linesIterator
      .filter(_.nonEmpty).map(_.split(" ").map(_.toDouble)).toSeq
  }

  /** Remove all campaign history — MUST run between campaigns that change
    * the engine or the corpus: report() blends whatever is in the history
    * files, and a median/min over mixed binaries describes no engine
    * (round-3 review).
    */
  def clearHistory(): Unit =
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft-scaling-hist-"))
      .foreach(_.delete())

  def gen(nRepos: Int, filesPerRepo: Int): Unit = {
    val spark = session(32, "graft-scaling-gen")
    try {
      clearHistory() // new corpus invalidates every prior measurement
      Bench.freshDir(CorpusPath)
      CorpusGen.synth(spark, nRepos, filesPerRepo, seed = 42L, partitions = 64)
        .write.mode("overwrite").parquet(CorpusPath)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$CorpusPath.count"),
        (nRepos.toLong * filesPerRepo).toString)
    } finally spark.stop()
  }

  def run(cores: Int): Unit = {
    // Pin the CORPUS read split to corpusBytes/128: the 960k-file corpus
    // compresses to a few hundred MB, which default bin-packing coalesces
    // into a handful of 128 MB splits — the docs stage's map side (scan +
    // sha + shuffle write) then caps at that handful of concurrent tasks:
    // invisible at 2 cores, a wall at 8 (round-4 VERDICT #5 measured the
    // docs stage at ~0.8 of ideal; the postings stage got the same pin in
    // round 3). 128 splits matches the builder's fixed task granularity;
    // set at session build time — each measurement owns its JVM, nothing
    // leaks. docIds are split-invariant by construction (sha-rank).
    val corpusBytes = Option(new java.io.File(CorpusPath).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val extra =
      if (corpusBytes <= 0) Map.empty[String, String]
      else {
        val split = math.max(1L << 20, corpusBytes / 128)
        // open cost stays at the 1 MB floor regardless of split size (a
        // min(split, 1MB) with split ≥ 1MB would be a dead expression —
        // round-5 review): small files must not be padded up to the split
        Map("spark.sql.files.maxPartitionBytes" -> split.toString,
          "spark.sql.files.openCostInBytes" -> (1L << 20).toString)
      }
    val spark = session(cores, s"graft-scaling-$cores", extra)
    try {
      val corpus = spark.read.parquet(CorpusPath)
      // untimed warm-up on a small slice: JIT + codegen + classloading are
      // per-JVM one-time costs, not part of indexing throughput
      val warmRoot = Bench.freshDir(s"/tmp/graft-scaling-warm-$cores")
      new IndexBuilder(spark, warmRoot, bucketSize = 4096, numPartitions = 8)
        .build(corpus.limit(2000))
      // page-cache warm-up: decode EVERY corpus row (all columns) once,
      // untimed. Without it the first level measured pays cold-file I/O
      // the second does not (observed as a systematic run-over-run
      // speedup), which corrupts the N-vs-4N ratio; a real cluster reads
      // from distributed storage where this asymmetry does not exist.
      corpus.foreach(_ => ())
      val root = Bench.freshDir(s"/tmp/graft-scaling-idx-$cores")
      // fixed partition count at BOTH levels: granular tasks amortize skew
      // (a 2-wave schedule lets the slowest task set the wall clock) and
      // make N vs 4N a pure parallelism comparison
      val b = new IndexBuilder(spark, root, bucketSize = 4096,
        numPartitions = 128)
      val (_, tDocs) = Bench.timed(b.buildDocs(corpus))
      val (_, tPost) = Bench.timed(b.buildPostings())
      val (_, tDict) = Bench.timed(b.buildDict())
      val t = tDocs + tPost + tDict
      System.err.println(
        f"[scaling] cores=$cores docs=$tDocs%.2fs postings=$tPost%.2fs dict=$tDict%.2fs total=$t%.2fs")
      val line = f"$t%.4f $tDocs%.4f $tPost%.4f $tDict%.4f"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(resultPath(cores)), line)
      appendHist("run", cores, line)
    } finally spark.stop()
  }

  /** Pure-CPU host-ceiling control: a fixed amount of integer hash work
    * (no I/O, no shuffle, one narrow stage of 128 tasks — the same task
    * granularity as the engine runs). The N-vs-4N efficiency of this job
    * is what the SHARED HOST allows a perfectly parallel workload in the
    * same minutes; the engine's pair efficiency should be read against it.
    */
  def control(cores: Int): Unit = {
    val spark = session(cores, s"graft-scaling-ctl-$cores")
    try {
      import spark.implicits._
      val work = 6000000000L // ~25 s at 8 busy threads on this box
      def job(total: Long): Long = spark.range(0, 128, 1, 128).map { i =>
        var x = i * 2654435761L + 1
        var acc = 0L
        var k = 0L
        val per = total / 128
        while (k < per) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; k += 1 }
        acc
      }.reduce(_ + _)
      job(work / 16) // untimed JIT/scheduler warm-up
      val (_, t) = Bench.timed(job(work))
      System.err.println(f"[scaling-control] cores=$cores t=$t%.2fs")
      appendHist("control", cores, f"$t%.4f")
    } finally spark.stop()
  }

  /** Memory-bandwidth-bound host-ceiling control: per task, stream-xor a
    * 64 MB long array at cache-line stride — all LLC misses, almost no
    * ALU. The pure-CPU control (registers only) measures the host's core
    * scaling; THIS one measures its shared memory-system scaling, which
    * is what actually bounds an 8-thread shuffle/sort stage on one node.
    * On a real N→4N-executor cluster every executor brings its own memory
    * system, so this ceiling is a single-node stand-in artifact — the
    * engine should be read against it.
    */
  def controlMem(cores: Int): Unit = {
    val spark = session(cores, s"graft-scaling-ctlmem-$cores")
    try {
      import spark.implicits._
      def job(passes: Int): Long = spark.range(0, 128, 1, 128).map { i =>
        val n = 8 << 20 // 8M longs = 64 MB per task
        val a = new Array[Long](n)
        var j = 0
        while (j < n) { a(j) = i + j; j += 1 }
        var acc = 0L
        var pass = 0
        while (pass < passes) {
          var k = (pass % 8)
          while (k < n) { acc ^= a(k); k += 8 } // one read per cache line
          pass += 1
        }
        acc
      }.reduce(_ ^ _)
      job(1) // untimed warm-up
      val (_, t) = Bench.timed(job(16))
      System.err.println(f"[scaling-control-mem] cores=$cores t=$t%.2fs")
      appendHist("control-mem", cores, f"$t%.4f")
    } finally spark.stop()
  }

  def report(cN: Int, c4N: Int): Unit = {
    val n = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$CorpusPath.count")).trim.toLong
    val rN = readHist("run", cN)
    val r4N = readHist("run", c4N)
    require(rN.nonEmpty && r4N.nonEmpty,
      s"no run history for cores $cN/$c4N — run the campaign first")
    val pairs = rN.zip(r4N) // chronological pairing (interleaved campaign)
    def eff(tn: Double, t4: Double) = (tn / t4) / (c4N.toDouble / cN)
    val effs = pairs.map { case (a, b) => eff(a(0), b(0)) }
    val median = effs.sorted.apply(effs.size / 2)
    val ctl = readHist("control", cN).zip(readHist("control", c4N))
      .map { case (a, b) => eff(a(0), b(0)) }
    val ctlMedian =
      if (ctl.isEmpty) Double.NaN else ctl.sorted.apply(ctl.size / 2)
    val ctlMem = readHist("control-mem", cN).zip(readHist("control-mem", c4N))
      .map { case (a, b) => eff(a(0), b(0)) }
    val ctlMemMedian =
      if (ctlMem.isEmpty) Double.NaN else ctlMem.sorted.apply(ctlMem.size / 2)
    // steal-robust estimator: external steal only ever ADDS time, so the
    // per-level minimum over the campaign approaches the clean-host time
    val effMin = eff(rN.map(_(0)).min, r4N.map(_(0)).min)
    // representative pair for absolute numbers: the median-eff pair
    val repIdx = effs.indexOf(median)
    val (repN, rep4N) = pairs(repIdx)
    val fpsN = n / repN(0)
    val fps4N = n / rep4N(0)
    val json =
      s"""{"metric":"scaling_efficiency","value":${f"$median%.3f"},"unit":"ratio",""" +
      s""""protocol":"median of ${effs.size} interleaved pairs","files":$n,""" +
      s""""cores_n":$cN,"cores_4n":$c4N,""" +
      s""""t_n_sec":${f"${repN(0)}%.2f"},"t_4n_sec":${f"${rep4N(0)}%.2f"},""" +
      s""""files_per_sec_n":${f"$fpsN%.1f"},"files_per_sec_4n":${f"$fps4N%.1f"},""" +
      s""""pair_effs":[${effs.map(e => f"$e%.3f").mkString(",")}],""" +
      s""""eff_min_of_campaign":${f"$effMin%.3f"},""" +
      s""""host_control_median":${if (ctlMedian.isNaN) "null" else f"$ctlMedian%.3f"},""" +
      s""""host_memctl_median":${if (ctlMemMedian.isNaN) "null" else f"$ctlMemMedian%.3f"}}"""
    println(json)
    // join with "\n|": the enclosing template is stripMargin'd, which eats
    // one leading '|' from EVERY line — continuation lines need a margin
    // pipe of their own or their table border is swallowed.
    // NO per-pair control column: the gated campaign drops DISCARDED
    // engine pairs from the run histories but keeps every gate probe in
    // the control histories, so a chronological zip would attribute
    // discarded windows' probes to the surviving pairs (round-5 review —
    // exactly that misalignment shipped once). Per-slot gate values live
    // in the campaign gate log; the medians below are campaign-window
    // statistics over ALL probe pairs, valid and discarded alike.
    val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
      f"| ${i + 1} | ${a(0)}%.2f | ${b(0)}%.2f | ${eff(a(0), b(0))}%.3f |"
    }.mkString("\n|")
    val md =
      s"""## Measured scaling (ScalingBench campaign, synthetic corpus seed=42, $n files)
         |
         |Protocol: `run $cN` / `run $c4N` / `control $cN` / `control $c4N`
         |repeated ${effs.size}× in strict alternation, ONE JVM per
         |measurement, identical parquet input, page cache pre-warmed with a
         |full untimed corpus read before every timed build. The headline is
         |the MEDIAN pair efficiency of the campaign — not a selected pair.
         |Per-slot host-control (gate probe) values live in the campaign
         |gate log; they are NOT tabulated per pair here because discarded
         |slots keep their probes in the control history while losing
         |their engine pair, so a positional join would misattribute
         |windows.
         |
         |Heap scales with parallelism (3 GiB/core): the north rule's
         |N→4N-EXECUTOR scaling quadruples aggregate cluster memory, so the
         |local[4N] stand-in must not run on the local[N] heap — a fixed
         |heap models adding executors that bring zero memory, and puts the
         |4N level alone past the shuffle-spill cliff (observed: fixed 8 GiB
         |left t_N flat but inflated t_4N ~30% once the v9 gram volume
         |crossed the per-task spill threshold at 4N's smaller
         |memory-per-task).
         |
         || pair | engine t_N s | engine t_4N s | engine eff |
         ||---|---|---|---|
         |$rows
         |
         |**campaign median scaling efficiency (N→4N) = ${f"$median%.3f"}**;
         |steal-robust min-of-campaign estimator = **${f"$effMin%.3f"}**
         |(external steal only ever adds time, so per-level minima approach
         |the clean-host pair). Target ≥ 0.8, BASELINE.json north_rule.
         |Host ceilings across the whole campaign window (medians over ALL
         |gate probe pairs, valid and discarded slots alike): pure-CPU
         |control median ${if (ctlMedian.isNaN) "n/a" else f"$ctlMedian%.3f"}; memory-bandwidth control median
         |${if (ctlMemMedian.isNaN) "n/a" else f"$ctlMemMedian%.3f"} (stream-xor at cache-line stride —
         |the shared memory system, not the cores, is what a shuffle/sort
         |stage actually contends on within ONE node; on a real N→4N
         |EXECUTOR scale-up each executor brings its own memory system, so
         |the engine should be read against this ceiling). Rank identity of
         |query results across parallelism is enforced separately by
         |EngineSpec ("parallelism invariance").
         |
         |Timed stages are the file-index pipeline (docs/postings/dict —
         |the north-rule throughput object). The auxiliary repo-name
         |sub-index is O(#repos) ≪ O(#files) work and is included in
         |`graft.Bench`'s `index_build` timing instead.
         |
         |Pair choice ($cN→$c4N cores): host calibration shows this box
         |gives only ~2.8× pure-CPU speedup from 8→32 threads (shared
         |vCPUs), so 8→32 cannot evidence the engine; 2→8 is the honest
         |N→4N pair. Round-2 history for context: six non-interleaved pairs
         |ranged 0.71–0.86 (median 0.79) with all spread in t_N, tracking a
         |concurrently measured 2.7–3.7× host ceiling swing.
         |""".stripMargin
    new java.io.File("BENCH").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/BASELINE.md"), md)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/scaling.json"), json + "\n")
  }

  private def session(cores: Int, name: String,
                      extra: Map[String, String] = Map.empty): SparkSession = {
    // shuffle scratch on tmpfs when available: spill I/O is the one part
    // of the build that cores cannot parallelize (cluster analog: NVMe
    // shuffle volumes)
    val shm = new java.io.File("/dev/shm")
    val localDir =
      if (shm.isDirectory && shm.canWrite) {
        new java.io.File("/dev/shm/spark-local").mkdirs()
        Map("spark.local.dir" -> "/dev/shm/spark-local")
      } else Map.empty[String, String]
    LocalSpark.session(name, cores, extra ++ localDir)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: nr :: fpr :: Nil => gen(nr.toInt, fpr.toInt)
    case "run" :: cores :: Nil => run(cores.toInt)
    case "control" :: cores :: Nil => control(cores.toInt)
    case "control-mem" :: cores :: Nil => controlMem(cores.toInt)
    case "clear" :: Nil => clearHistory()
    case "report" :: Nil => report(8, 32)
    case "report" :: a :: b :: Nil => report(a.toInt, b.toInt)
    case _ =>
      System.err.println(
        "usage: gen <nRepos> <filesPerRepo> | run <cores> | control <cores> " +
          "| control-mem <cores> | clear | report [N 4N]")
  }
}
