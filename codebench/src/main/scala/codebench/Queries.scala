package codebench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.engine.{BlockCursor, BmwScorer, QueryExecutor, ReaderKind, Searcher}
import graft.index.PostingRun
import graft.query.{QueryParser, RegexPlanner}
import graft.tokenize.CodeTokenizer

/** One query of the mix. `page` queries go through executeWithSnippets,
  * the rest through executeAny.
  */
final case class Query(cls: String, text: String, k: Int) {
  def page: Boolean = cls == "page"
  def regex: Boolean = cls == "regex"
  /** Plain content terms (no filters, no regex). */
  def plainTerms: Boolean = cls == "selective" || cls == "broad" || page
}

object Queries {
  /** Class counts in one 20-query cycle: 40% selective, 20% broad, 15%
    * regex, 10% filtered, 15% page.
    */
  val Mix: Seq[(String, Int)] = Seq("selective" -> 8, "broad" -> 4,
    "regex" -> 3, "filtered" -> 2, "page" -> 3)
  val Classes: Seq[String] = Mix.map(_._1)

  /** df bands, as numbers of files. */
  def tailMax(n: Int): Int = math.max(2, n / 1000)
  def broadMin(n: Int): Int = (n * 0.2).ceil.toInt
  def midBand(n: Int): (Int, Int) = (math.max(3, n / 200), math.max(4, n / 20))

  /** `cycles` cycles of the mix, drawn from `c` with `seed`. */
  def pool(c: Corpus, seed: Long, cycles: Int): Vector[Query] = {
    val rng = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17)
    val n = c.rows.size
    val df = c.df
    val broad = df.filter(_._2 >= broadMin(n)).keys.toVector.sorted
    val (lo, hi) = midBand(n)
    val mid = df.filter { case (_, d) => d >= lo && d <= hi }.keys.toVector.sorted
    def pick[T](v: IndexedSeq[T]): T = v(rng.nextInt(v.size))
    def rowWords(r: FileRow, ok: Int => Boolean): Vector[String] =
      Corpus.words(r.content).toVector.distinct.sorted.filter(w => ok(df(w)))
    def withWords(ok: Int => Boolean): (FileRow, Vector[String]) = {
      var r = pick(c.rows)
      var ws = rowWords(r, ok)
      while (ws.isEmpty) { r = pick(c.rows); ws = rowWords(r, ok) }
      (r, ws)
    }
    def some(ws: Vector[String]): String =
      if (ws.size < 2 || rng.nextBoolean()) pick(ws)
      else { val a = pick(ws); pick(ws.filter(_ != a)) + " " + a }

    def make(cls: String, i: Int): Query = cls match {
      case "selective" =>
        Query(cls, some(withWords(_ <= tailMax(n))._2), 10)
      case "broad" => Query(cls, some(broad), 10)
      case "regex" =>
        val w = pick(mid.filter(_.length >= 6))
        Query(cls, if (i % 2 == 0) s"/${w.take(3)}[a-z]*${w.takeRight(3)}/"
                   else s"/return $w/", 10)
      case "filtered" =>
        val (r, ws) = withWords(d => d >= 2 && d <= hi)
        val w = pick(ws)
        Query(cls, i % 4 match {
          case 0 => s"repo:${r.repo.split('/').last} $w"
          case 1 => s"lang:${r.lang} $w"
          case 2 => s"path:${r.path.split('/')(1)} $w"
          case _ => s"repo:${r.repo.split('/')(1)}"
        }, 10)
      case "page" => Query(cls, pick(mid), 100)
    }
    (0 until cycles).toVector.flatMap(cy => Mix.flatMap { case (cls, cnt) =>
      (0 until cnt).map(i => make(cls, cy * cnt + i))
    })
  }

  /** Input profile of a pool: share of each class, and the df band of its
    * terms as a share of files.
    */
  def profile(pool: Seq[Query], c: Corpus, report: Report): Unit = {
    val n = c.rows.size.toDouble
    pool.groupBy(_.cls).toSeq.sortBy(_._1).foreach { case (cls, qs) =>
      val dfs = qs.flatMap(q => termsOf(q)).filterNot(_.contains(':'))
        .flatMap(c.df.get)
      val band = if (dfs.isEmpty) "n/a" else
        f"${dfs.min / n * 100}%.3f%%..${dfs.max / n * 100}%.3f%%"
      report.profile(s"class $cls") =
        f"${qs.size * 100.0 / pool.size}%.0f%% of mix, term df $band of files"
    }
  }

  /** Terms a query scores on, as termStats takes them. */
  def termsOf(q: Query): Seq[String] =
    if (q.regex) RegexPlanner.requiredGrams(RegexPlanner.plan(q.text.drop(1)
      .dropRight(1))).map("g:" + _).toSeq.sorted
    else CodeTokenizer.tokenize(
      q.text.split(' ').filterNot(_.contains(':')).mkString(" ")).distinct.sorted.toSeq

  def num(x: Any): Double = x.asInstanceOf[Number].doubleValue()

  /** (docId or repoId, score) of a result, in result order. */
  def hitsOf(q: Query, rows: Array[Row]): Seq[(Long, Float)] =
    if (q.page) rows.toSeq.map(r => (r.getLong(0), num(r.get(1)).toFloat))
    else rows.toSeq.map(r => (r.getLong(1), num(r.get(4)).toFloat))

  /** A result equals the oracle's: same ids, same f32 scores, same order.
    * `perturb` shifts the first score by one ulp, to show that the check
    * catches a wrong result.
    */
  def matches(got0: Seq[(Long, Float)], want: Seq[(Long, Float)],
              perturb: Boolean): Boolean = {
    val got = if (perturb && got0.nonEmpty)
      (got0.head._1, Math.nextUp(got0.head._2)) +: got0.tail else got0
    got == want
  }
}

/** Runs queries, optionally traced, and keeps what the checks and the
  * layer metrics need.
  */
final class QueryRunner(ctx: Ctx) {
  private val t = ctx.tracer
  final case class Sample(q: Query, ms: Double, traced: Boolean, request: Int)
  val samples = mutable.ArrayBuffer.empty[Sample]
  val lastHits = mutable.LinkedHashMap.empty[Query, Seq[(Long, Float)]]

  /** Runs `q`; returns its rows, or None when it threw. */
  def run(se: Searcher, qe: QueryExecutor, q: Query,
          traced: Boolean = true): Option[Array[Row]] = t.withTracing(traced) {
    val req = t.newRequest()
    val t0 = System.nanoTime()
    try {
      val rows = t.span("bench.query") {
        if (t.tracing) {
          t.span("query.parse")(QueryParser.parse(q.text))
          t.span("engine.term_stats")(se.termStats(Queries.termsOf(q)))
        }
        val df = t.span("engine.plan")(
          if (q.page) qe.executeWithSnippets(q.text, q.k)
          else qe.executeAny(q.text, q.k))
        t.span("engine.exec")(df.collect())
      }
      samples += Sample(q, (System.nanoTime() - t0) / 1e6, t.tracing, req)
      lastHits(q) = Queries.hitsOf(q, rows)
      Some(rows)
    } catch {
      case e: Exception =>
        System.err.println(s"query failed: ${q.text}: $e")
        None
    }
  }

  /** Latencies of `xs`, from its untraced samples when it has any. */
  private def latencies(xs: Seq[Sample]): Seq[Double] =
    (if (xs.exists(!_.traced)) xs.filter(!_.traced) else xs).map(_.ms)

  /** Latency metrics of the whole mix and of each class seen. */
  def reportLatency(report: Report): Unit = {
    val all = latencies(samples.toSeq)
    report.put("query_p50_ms", Stats.median(all))
    report.put("query_p95_ms", Stats.pct(all, 0.95))
    report.put("query_samples", all.size)
    Queries.Classes.foreach { c =>
      val xs = latencies(samples.toSeq.filter(_.q.cls == c))
      if (xs.nonEmpty) report.put(s"${c}_p50_ms", Stats.median(xs))
    }
  }

  /** Layer metrics from the traced samples, plus measurements made outside
    * the timed calls (posting bytes, driver-side WAND, materialize, regex
    * verify ratio), one per distinct query.
    */
  def reportLayers(report: Report, se: Searcher, qe: QueryExecutor): Unit = {
    t.drain()
    val traced = samples.toSeq.filter(_.traced)
    val untraced = samples.toSeq.filter(!_.traced)
    if (traced.isEmpty) return
    if (untraced.nonEmpty)
      report.put("trace.overhead_ms",
        Stats.median(traced.map(_.ms)) - Stats.median(untraced.map(_.ms)))
    val byReq = t.all.groupBy(_.request)
    def spanOf(s: Sample, name: String) =
      byReq.getOrElse(s.request, Nil).find(_.name == name)
    def med(name: String, xs: Seq[Sample]) =
      Stats.median(xs.flatMap(spanOf(_, name)).map(_.ms))
    report.put("query.parse_ms", med("query.parse", traced))
    report.put("engine.term_stats_ms", med("engine.term_stats", traced))
    report.put("engine.plan_ms", med("engine.plan", traced))
    report.put("engine.exec_ms", med("engine.exec", traced))
    Queries.Classes.foreach { c =>
      val xs = traced.filter(_.q.cls == c)
      if (xs.nonEmpty) report.put(s"engine.exec_${c}_ms", med("engine.exec", xs))
    }
    val roots = traced.flatMap(s => spanOf(s, "bench.query").map(s -> _))
    val totals = roots.map { case (s, sp) => s -> t.sparkOf(sp) }
    report.put("engine.jobs_per_query", Stats.mean(totals.map(_._2.jobs.toDouble)))
    report.put("engine.stages_per_query", Stats.mean(totals.map(_._2.stages.toDouble)))
    report.put("engine.tasks_per_query", Stats.mean(totals.map(_._2.tasks.toDouble)))
    report.put("engine.task_ms_per_query", Stats.mean(totals.map(_._2.taskMs.toDouble)))
    report.put("engine.shuffle_bytes_per_query",
      Stats.mean(totals.map(_._2.shuffleBytes.toDouble)))
    report.put("engine.idle_ms_per_query",
      Stats.median(traced.flatMap(spanOf(_, "engine.exec")).map(t.idleMs)))

    // Outside timing, once per distinct query.
    val distinct = traced.map(_.q).distinct
    val postingBytes = mutable.HashMap.empty[Query, Long]
    val wandMs = mutable.ArrayBuffer.empty[Double]
    distinct.filter(_.plainTerms).foreach { q =>
      val terms = Queries.termsOf(q)
      val runs = se.postings.filter(col("term").isin(terms: _*)).collect()
      postingBytes(q) = runs.iterator.flatMap(_.blocks).map(_.bytes.length.toLong).sum
      if (!q.page) wandMs += (0 until 2).map(_ => Stats.timeMs(
        QueryRunner.driverWand(se, terms, runs, q.k))._2).last
    }
    val pb = postingBytes.values.toSeq
    if (pb.nonEmpty) {
      report.put("engine.posting_bytes_per_query", Stats.mean(pb.map(_.toDouble)))
      val withBytes = totals.filter(x => postingBytes.getOrElse(x._1.q, 0L) > 0)
      val input = withBytes.map(_._2.inputBytes.toDouble).sum
      val posting = withBytes.map(x => postingBytes(x._1.q).toDouble).sum
      if (posting > 0) report.put("engine.read_amplification", input / posting)
    }
    if (wandMs.nonEmpty) report.put("engine.wand_cpu_ms", Stats.median(wandMs.toSeq))
    val mat = distinct.filter(_.page).map { q =>
      val withSnip = Stats.timeMs(qe.executeWithSnippets(q.text, q.k).collect())._2
      val bare = Stats.timeMs(qe.execute(q.text, q.k).collect())._2
      withSnip - bare
    }
    if (mat.nonEmpty) report.put("engine.materialize_ms", Stats.median(mat))
    val rx = distinct.filter(_.regex).flatMap { q =>
      val pattern = q.text.drop(1).dropRight(1)
      se.fragmentCandidates(RegexPlanner.plan(pattern)).map(c =>
        (se.regexAll(pattern).count().toDouble, c.count().toDouble))
    }
    if (rx.nonEmpty && rx.map(_._2).sum > 0)
      report.put("engine.regex_verify_frac", rx.map(_._1).sum / rx.map(_._2).sum)
  }
}

object QueryRunner {
  /** The engine's per-bucket conjunctive block-max WAND, run in the driver
    * over already-collected posting runs: the scoring floor of a query
    * with no Spark job around it.
    */
  def driverWand(se: Searcher, terms: Seq[String], runs: Array[PostingRun],
                 k: Int): Seq[(Long, Float)] = {
    val weights = se.termWeights(terms)
    val norm = Searcher.normCacheFor(se.stats.avgdl.toFloat)
    runs.groupBy(_.bucket).valuesIterator.flatMap { rs =>
      val cursors = rs.groupBy(_.term).toArray.sortBy(_._1).map { case (term, tr) =>
        new BlockCursor(term, weights(term),
          tr.sortBy(_.blocks.headOption.map(_.firstDocId).getOrElse(Long.MaxValue))
            .flatMap(_.blocks).toIndexedSeq, norm)
      }
      if (cursors.length != terms.size) Iterator.empty
      else BmwScorer.conjunctive(cursors, k)
    }.toSeq.sortBy(h => (-h.score, h.docId)).take(k).map(h => (h.docId, h.score))
  }

  /** Checks every distinct query's last result against the oracle. */
  def check(runner: QueryRunner, oracle: graft.oracle.OracleEngine,
            qe: QueryExecutor, perturb: Boolean, report: Report): Unit =
    runner.lastHits.foreach { case (q, got) =>
      val want =
        if (qe.dispatch(q.text).contains(ReaderKind.Repo))
          oracle.executeRepoQuery(q.text, q.k).map(x => (x._1, x._3))
        else oracle.executeQuery(q.text, q.k)
      if (!Queries.matches(got, want, perturb)) {
        report.fail(s"${q.cls} '${q.text}': engine ${got.take(3)} != " +
          s"oracle ${want.take(3)}", runner.samples.count(_.q == q))
      }
    }
}
