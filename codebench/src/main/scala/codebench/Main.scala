package codebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Input sizes and set-up repetitions. `full` is what the benchmark
  * measures; `tiny` only checks that the benchmark itself works (smoke
  * test). Search repeats its set-up twice, not three times: the first
  * index build in a JVM takes about 20 s, and a third would push the
  * benchmark's runs past their time budget.
  */
final case class Scale(searchFiles: Int, dedupFiles: Int,
                       searchSetupReps: Int, setupReps: Int)
object Scale {
  val full = Scale(searchFiles = 1000, dedupFiles = 150, searchSetupReps = 2,
    setupReps = 3)
  val tiny = Scale(searchFiles = 300, dedupFiles = 120, searchSetupReps = 2,
    setupReps = 2)
}

/** What one run needs: the session, the tracer, its inputs' seed and size,
  * and a scratch directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val scale: Scale, val work: String,
                val perturb: Boolean) {
  def dir(name: String): String = {
    val p = s"$work/$name"
    graft.util.FsUtil.rmTree(p)
    p
  }
  def deadline(startNs: Long): Boolean =
    (System.nanoTime() - startNs) / 1e9 >= seconds
}

/** Metrics of one run, the input profile, and the correctness tally. */
final class Report {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val profile = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def put(name: String, v: Double): Unit = values(name) = v
  /** Records `n` failed operations with one reason. */
  def fail(what: String, n: Long = 1): Unit = { failed += n; failures += what }
}

object Metrics {
  /** End-to-end metrics: every workload reports all of them, untraced. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "live_heap_mb" -> "MB")

  /** Per-layer metrics, from the traced run. A layer a workload does not
    * call reports 0; a non-finite value fails the run (see Main).
    */
  val perLayer: Seq[(String, String)] = Seq(
    "query_p50_ms" -> "ms", "query_p95_ms" -> "ms", "query_samples" -> "count",
    "selective_p50_ms" -> "ms", "broad_p50_ms" -> "ms",
    "regex_p50_ms" -> "ms", "filtered_p50_ms" -> "ms", "page_p50_ms" -> "ms",
    "build_files_per_s" -> "files/s", "index_bytes_ratio" -> "B/B",
    "dedup_s" -> "s", "leaked_blocks" -> "count", "failed_frac" -> "ratio",
    "trace.overhead_ms" -> "ms",
    "bench.self_ms_per_op" -> "ms", "query.self_ms_per_op" -> "ms",
    "engine.self_ms_per_op" -> "ms", "pipeline.self_ms_per_op" -> "ms",
    "query.parse_ms" -> "ms", "engine.term_stats_ms" -> "ms",
    "engine.plan_ms" -> "ms", "engine.exec_ms" -> "ms",
    "engine.exec_selective_ms" -> "ms", "engine.exec_broad_ms" -> "ms",
    "engine.exec_regex_ms" -> "ms", "engine.exec_filtered_ms" -> "ms",
    "engine.exec_page_ms" -> "ms",
    "engine.jobs_per_query" -> "count", "engine.stages_per_query" -> "count",
    "engine.tasks_per_query" -> "count", "engine.idle_ms_per_query" -> "ms",
    "engine.task_ms_per_query" -> "ms", "engine.shuffle_bytes_per_query" -> "B",
    "engine.posting_bytes_per_query" -> "B",
    "engine.read_amplification" -> "B/B", "engine.wand_cpu_ms" -> "ms",
    "engine.materialize_ms" -> "ms", "engine.regex_verify_frac" -> "ratio",
    "tokenize.ns_per_byte" -> "ns/B",
    "index.docs_s" -> "s", "index.postings_s" -> "s", "index.dict_s" -> "s",
    "index.repoidx_s" -> "s", "index.build_jobs" -> "count",
    "index.build_task_ms" -> "ms", "index.build_shuffle_bytes" -> "B",
    "pipeline.edges_s" -> "s", "pipeline.cc_s" -> "s",
    "pipeline.verify_s" -> "s", "pipeline.cc_jobs" -> "count",
    "pipeline.shuffle_bytes" -> "B", "pipeline.verify_precision" -> "ratio",
    "pipeline.persistent_rdds_after" -> "count")

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}

object Main {
  val Workloads = Seq("search", "dedup")

  private def usage(msg: String): Nothing = {
    System.err.println(s"codebench: $msg\nusage: --workload " +
      s"${Workloads.mkString("|")} --seed N --seconds S --trace 0|1 " +
      "[--scale full|tiny] [--work DIR] [--perturb 1]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val scale = opts.getOrElse("scale", "full") match {
      case "full" => Scale.full
      case "tiny" => Scale.tiny
      case s => usage(s"unknown scale $s")
    }
    val work = new java.io.File(opts.getOrElse("work", ".bench_out"))
      .getAbsolutePath
    val runDir = s"$work/run-$workload-$seed-${ProcessHandle.current().pid()}"

    val start = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val (spark, sessionMs) = Stats.timeMs(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("codebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    val report = new Report
    val ctx = new Ctx(spark, new Tracer(trace, spark.sparkContext), seed,
      seconds, scale, runDir, opts.get("perturb").contains("1"))
    try {
      workload match {
        case "search" => SearchBench.run(ctx, report, sessionMs / 1e3)
        case "dedup" => DedupBench.run(ctx, report, sessionMs / 1e3)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.fail(s"run aborted: $e")
    }
    // A metric that was not measured must not read as a good value: a
    // missing, non-finite or non-positive end-to-end metric, or any
    // non-finite per-layer one, fails the run.
    val names = if (trace) Metrics.perLayer else Metrics.endToEnd
    names.foreach { case (k, _) =>
      val v = report.values.get(k)
      if (v.exists(x => x.isNaN || x.isInfinite) ||
          (!trace && !v.exists(_ > 0)))
        report.fail(s"metric $k not measured: ${v.getOrElse("missing")}")
    }
    report.put("failed_frac",
      report.failed.toDouble / math.max(1L, report.attempted))
    if (trace) {
      ctx.tracer.write(java.nio.file.Paths.get(
        s"$work/traces/$workload-seed$seed.jsonl"))
    }
    spark.stop()
    graft.util.FsUtil.rmTree(runDir)
    System.err.println(f"codebench: run took ${(System.nanoTime() - start) / 1e9}%.1f s")

    report.profile.foreach { case (k, v) => println(s"# input $k: $v") }
    report.values.foreach { case (k, v) =>
      println(s"# metric $k = $v ${Metrics.units.getOrElse(k, "")}")
    }
    report.failures.take(20).foreach(f => println(s"# FAILED $f"))
    val metrics = names.map { case (k, unit) =>
      val v = report.values.get(k).filter(x => !x.isNaN && !x.isInfinite)
      s""""$k":{"value":${v.getOrElse(0.0)},"unit":"$unit"}"""
    }.mkString(",")
    val correct = report.failed == 0 && report.attempted > 0
    println(s"""{"correct":$correct,"attempted":${math.max(1L, report.attempted)},""" +
      s""""failed":${report.failed},"metrics":{$metrics}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
