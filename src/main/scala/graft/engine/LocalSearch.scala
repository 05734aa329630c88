package graft.engine

import scala.collection.mutable

import graft.query.{Fragment, RegexPlanner}
import graft.tokenize.CodeTokenizer

/** Driver-local evaluation of one compiled query branch over a Searcher's
  * index files, read through `local`, with the Spark path's semantics. It
  * reads what QueryExecutor compiled (LocalSearch.Target, the scored path
  * literal's `p:` grams, a row predicate for the labels) and derives none
  * of it:
  *   - terms: conjunctive BM25, f32 sum in ascending term order, per-bucket
  *     block-max scoring (Searcher.scoreBucket) merged to the global
  *     (score desc, docId asc) top-k;
  *   - regex: the target's required grams pick and score the candidates,
  *     its narrowing fragment tree (LocalSearch.narrowing) is evaluated to
  *     driver-side docId sets, then its verify pattern runs on content
  *     (null content never matches);
  *   - label-checked terms or regex: every conjunctive candidate ranked,
  *     then checked on its docs row by the row predicate (for a regex also
  *     the content match), in rank order until k pass — those k are the
  *     result;
  *   - scored path field: only candidates that also hold every `p:` gram
  *     count, scored t + p * 10f in f32 (p the conjunctive `p:`-gram
  *     score), the Spark plan's sum.
  *
  * A Terms target's `verify` is not evaluated here: case-sensitive
  * branches run on Spark (QueryExecutor.localShape).
  *
  * Dead docIds come from the Searcher's shipped tombstones. Every call
  * returns None, leaving the query to Spark, when the summed df of the
  * terms it would read is `dfMax` or more.
  */
private[engine] final class LocalSearch(se: Searcher, local: LocalIndex,
                                        dead: Array[Long], dfMax: Long) {
  import LocalSearch._

  private def byRank(a: Hit, b: Hit): Boolean =
    a.score > b.score || (a.score == b.score && a.docId < b.docId)

  /** All conjunctive matches of `terms` (sorted, distinct, all present)
    * ranked, at most k of them.
    */
  private def topK(runs: Seq[graft.index.PostingRun], terms: Seq[String],
                   weights: Map[String, Float], k: Int): IndexedSeq[Hit] = {
    val avgdl = se.stats.avgdl.toFloat
    runs.groupBy(_.bucket).valuesIterator.flatMap(rs =>
      Searcher.scoreBucket(rs.iterator, dead, weights, avgdl, k,
        conjunctive = true, terms.size)).toVector.sortWith(byRank).take(k)
  }

  /** Term stats of `terms`, or None when over the df gate. */
  private def gated(terms: Seq[String]): Option[Map[String, (Long, Float)]] = {
    val ts = se.termStats(terms)
    if (ts.valuesIterator.map(_._1).sum < dfMax) Some(ts) else None
  }

  /** Conjunctive top-k of a term set. */
  def terms(target: Terms, k: Int): Option[Seq[Hit]] = {
    val terms = target.terms
    gated(terms).map { ts =>
      if (terms.isEmpty || terms.exists(t => ts(t)._1 == 0L)) Nil
      else topK(local.postingRuns(terms).toSeq, terms,
        ts.map { case (t, (_, w)) => t -> w }, k)
    }
  }

  /** Top-k of `target` whose docs rows pass `check`, as docs rows: with
    * content for a regex target (whose rows must also match its verify
    * pattern), metadata only otherwise. A non-empty `pathGrams` (the `p:`
    * grams of a scored path literal) keeps only the candidates holding all
    * of them and adds 10 × their score. None when over the df gate (target
    * terms, narrowing grams and path grams count) or for a regex with no
    * required gram.
    */
  def checked(target: Target, pathGrams: Seq[String],
              check: Option[PageRow => Boolean],
              k: Int): Option[Seq[PageRow]] = {
    val (grams, narrow, reCheck) = target match {
      case Terms(ts, _) => (ts, None, None)
      case re: Regex =>
        if (re.grams.isEmpty) return None
        val p = java.util.regex.Pattern.compile(re.verify)
        (re.grams, re.narrow,
          Some((r: PageRow) => r.content != null && p.matcher(r.content).find()))
    }
    val narrowGrams =
      narrow.flatMap(narrowing(_)(identity)(_.flatten, _.flatten)).getOrElse(Nil)
    val all = (grams ++ narrowGrams ++ pathGrams).distinct.sorted
    gated(all).map { ts =>
      if (grams.isEmpty || (grams ++ pathGrams).exists(g => ts(g)._1 == 0L)) Nil
      else {
        val runs = local.postingRuns(all).toSeq
        def ranked(terms: Seq[String]): IndexedSeq[Hit] = {
          val want = terms.toSet
          topK(runs.filter(r => want(r.term)), terms,
            terms.map(t => t -> ts(t)._2).toMap, Int.MaxValue)
        }
        val cands = ranked(grams)
        val byTerm = runs.groupBy(_.term)
        val narrowed = narrow.flatMap(narrowing(_)(holdingAll(_, byTerm))(
            _.reduce(_ intersect _), _.reduce(_ union _)))
          .fold(cands)(ids => cands.filter(h => ids(h.docId)))
        val scored =
          if (pathGrams.isEmpty) narrowed
          else {
            val p = ranked(pathGrams).iterator.map(h => h.docId -> h.score).toMap
            narrowed.flatMap(h => p.get(h.docId).map(ps =>
              Hit(h.docId, h.score + ps * 10f))).sortWith(byRank)
          }
        val checks = reCheck.toSeq ++ check
        verify(scored, r => checks.forall(_(r)), reCheck.isDefined, k)
      }
    }
  }

  /** The docs holding every one of `grams`, from runs already read. */
  private def holdingAll(grams: Seq[String],
                         runs: Map[String, Seq[graft.index.PostingRun]])
      : Set[Long] = {
    // a doc holds every gram iff it shows up once per gram
    val seen = mutable.HashMap.empty[Long, Int]
    grams.foreach(g => runs.getOrElse(g, Nil).foreach(r =>
      graft.index.PostingCodec.decodeRun(r.blocks).foreach(e =>
        seen(e._1) = seen.getOrElse(e._1, 0) + 1)))
    seen.iterator.collect { case (id, n) if n == grams.size => id }.toSet
  }

  /** The first k ranked candidates whose docs rows pass `check`, in at
    * most two rank-ordered passes over docs: the best max(k, VerifyChunk)
    * candidates, then — only when fewer than k of them passed — all the
    * others. A pass folds each docs file to its own best k, at most k
    * rows: a row whose rank cannot enter that file's best k so far is not
    * even checked. The files' best k merge to the pass's. Rows carry
    * their candidate's score, and content only with `content`.
    */
  private def verify(ranked: IndexedSeq[Hit], check: PageRow => Boolean,
                     content: Boolean, k: Int): Seq[PageRow] = {
    var best = Seq.empty[(Int, PageRow)]
    def pass(from: Int, until: Int): Unit = {
      val rank = (from until until).iterator.map(i => ranked(i).docId -> i).toMap
      val files = local.foldDocs(rank.keySet, content) { rows =>
        // max-heap on rank: the head is the worst of the best k so far
        val top = mutable.PriorityQueue.empty[(Int, PageRow)](Ordering.by(_._1))
        rows.foreach { r =>
          val i = rank(r.docId)
          if ((top.size < k || i < top.head._1) && check(r)) {
            top.enqueue(i -> r)
            if (top.size > k) top.dequeue()
          }
        }
        top.toSeq
      }
      best = (best ++ files.flatten).sortBy(_._1).take(k)
    }
    val first = math.min(ranked.size, math.max(k, VerifyChunk))
    pass(0, first)
    // the first pass holds the best-ranked candidates: once k of them
    // passed, no later candidate can enter the best k
    if (best.size < k && first < ranked.size) pass(first, ranked.size)
    best.map { case (i, r) => r.copy(score = ranked(i).score) }
  }
}

private[engine] object LocalSearch {
  /** Candidates in the first verify pass when k is smaller. */
  val VerifyChunk = 64

  /** What a branch scores, compiled once (QueryExecutor.CompiledBranch)
    * and read by both evaluators: LocalSearch in the driver, and
    * QueryExecutor's Spark plan with Searcher.regexAll.
    */
  sealed trait Target

  /** Conjunctive BM25 over `terms` (distinct, ascending). With `verify`,
    * every hit's content must also match that pattern (case:sensitive).
    */
  final case class Terms(terms: Seq[String], verify: Option[String] = None)
      extends Target

  /** A regex through its trigram plan: the `g:` grams every match must
    * contain pick and score the candidates; with fewer than 3 of them the
    * fragment tree narrows the candidates further (`narrow`); `verify`
    * is the pattern each candidate's content is matched with.
    */
  final case class Regex(pattern: String, caseSensitive: Boolean = false)
      extends Target {
    lazy val frag: Fragment = RegexPlanner.plan(pattern)
    lazy val grams: Seq[String] =
      RegexPlanner.requiredGrams(frag).map("g:" + _).toSeq.sorted
    // the fragment set-ops pass is worth its cost only when the required
    // grams are a weak prefilter (few or none, e.g. pure alternations);
    // with 3 or more the candidate set is already tight
    def narrow: Option[Fragment] = if (grams.size >= 3) None else Some(frag)
    def verify: String = (if (caseSensitive) "" else "(?i)") + pattern
  }

  /** A regex fragment tree as a candidate docId set, with the set
    * operations of the evaluator: a literal of at least 3 chars is the
    * docs holding all its distinct `g:` trigrams (`lit`, given them
    * sorted); And is the intersection of its constrained children (`and`);
    * Or the union of its children (`or`), or no constraint when one child
    * has none; Break and shorter literals constrain nothing (None).
    */
  def narrowing[A](frag: Fragment)(lit: Seq[String] => A)
                  (and: Seq[A] => A, or: Seq[A] => A): Option[A] = frag match {
    case Fragment.Break => None
    case Fragment.Lit(s) =>
      if (s.length < 3) None
      else Some(lit(CodeTokenizer.distinctTrigrams(s, "g:").toSeq.sorted))
    case Fragment.And(cs) =>
      val sets = cs.flatMap(narrowing(_)(lit)(and, or))
      if (sets.isEmpty) None else Some(and(sets))
    case Fragment.Or(cs) =>
      val sets = cs.map(narrowing(_)(lit)(and, or))
      if (sets.exists(_.isEmpty)) None else Some(or(sets.flatten))
  }
}
