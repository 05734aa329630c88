package graft.engine

import scala.collection.mutable

import graft.query.{Fragment, RegexPlanner}
import graft.tokenize.CodeTokenizer

/** Driver-local evaluation of one conjunctive query branch over a
  * Searcher's index files, read through `local`, with the Spark path's
  * semantics:
  *   - terms: conjunctive BM25, f32 sum in ascending term order, per-bucket
  *     block-max scoring (Searcher.scoreBucket) merged to the global
  *     (score desc, docId asc) top-k — what Searcher.wandTopK computes
  *     with one task per bucket;
  *   - regex: the Searcher.regexAll rules — required-gram conjunctive
  *     candidates and scores, narrowed by the fragment docId sets when
  *     there are fewer than 3 required grams, then a `(?i)` find() on
  *     content (null content never matches);
  *   - label-checked terms or regex: every conjunctive candidate ranked,
  *     then checked on its docs row by a row predicate (the branch's
  *     metadata labels, compiled by QueryExecutor with filterDocs'
  *     semantics; for a regex also the content match), in rank order
  *     until k pass — those k are the result;
  *   - scored path field: only candidates that also hold every `p:` gram
  *     of the path literal count, scored t + p * 10f in f32 (p the
  *     conjunctive `p:`-gram score), the pathHits / branchHits sum.
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
  def terms(terms0: Seq[String], k: Int): Option[Seq[Hit]] = {
    val terms = terms0.distinct.sorted
    gated(terms).map { ts =>
      if (terms.isEmpty || terms.exists(t => ts(t)._1 == 0L)) Nil
      else topK(local.postingRuns(terms).toSeq, terms,
        ts.map { case (t, (_, w)) => t -> w }, k)
    }
  }

  /** Top-k of `target` whose docs rows pass `check`, as docs rows: with
    * content for a regex target (whose rows must also match it,
    * case-insensitively), metadata only otherwise. A non-empty
    * `pathGrams` (the `p:` grams of a scored path literal) keeps only the
    * candidates holding all of them and adds 10 × their score. None when
    * over the df gate (target terms, fragment grams and path grams count)
    * or for a regex with no required gram.
    */
  def checked(target: Target, pathGrams: Seq[String],
              check: Option[PageRow => Boolean],
              k: Int): Option[Seq[PageRow]] = {
    val (grams, narrow, reCheck) = target match {
      case Terms(ts) =>
        (ts.distinct.sorted, None, None)
      case Regex(pattern) =>
        val frag = RegexPlanner.plan(pattern)
        val grams = RegexPlanner.requiredGrams(frag).map("g:" + _).toSeq.sorted
        if (grams.isEmpty) return None
        val re = java.util.regex.Pattern.compile("(?i)" + pattern)
        (grams, if (grams.size >= 3) None else Some(frag),
          Some((r: PageRow) => r.content != null && re.matcher(r.content).find()))
    }
    val fragGrams = narrow.toSeq.flatMap(litGrams)
    val pGrams = pathGrams.distinct.sorted
    val all = (grams ++ fragGrams ++ pGrams).distinct.sorted
    gated(all).map { ts =>
      if (grams.isEmpty || (grams ++ pGrams).exists(g => ts(g)._1 == 0L)) Nil
      else {
        val runs = local.postingRuns(all).toSeq
        def ranked(terms: Seq[String]): IndexedSeq[Hit] = {
          val want = terms.toSet
          topK(runs.filter(r => want(r.term)), terms,
            terms.map(t => t -> ts(t)._2).toMap, Int.MaxValue)
        }
        val cands = ranked(grams)
        val narrowed = narrow.flatMap(fragmentDocs(_, runs.groupBy(_.term)))
          .fold(cands)(ids => cands.filter(h => ids(h.docId)))
        val scored =
          if (pGrams.isEmpty) narrowed
          else {
            val p = ranked(pGrams).iterator.map(h => h.docId -> h.score).toMap
            narrowed.flatMap(h => p.get(h.docId).map(ps =>
              Hit(h.docId, h.score + ps * 10f))).sortWith(byRank)
          }
        val checks = reCheck.toSeq ++ check
        verify(scored, r => checks.forall(_(r)), reCheck.isDefined, k)
      }
    }
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

  /** Grams of the fragment tree's literals (what fragmentDocs reads). */
  private def litGrams(frag: Fragment): Seq[String] = frag match {
    case Fragment.Lit(s) if s.length >= 3 =>
      CodeTokenizer.distinctTrigrams(s, "g:").toSeq
    case Fragment.And(cs) => cs.flatMap(litGrams)
    case Fragment.Or(cs) => cs.flatMap(litGrams)
    case _ => Nil
  }

  /** Searcher.fragmentCandidates over runs already read: Lit → docs
    * holding all its grams; And → intersection; Or → union; Break → None.
    */
  private def fragmentDocs(frag: Fragment,
                           runs: Map[String, Seq[graft.index.PostingRun]])
      : Option[Set[Long]] = frag match {
    case Fragment.Break => None
    case Fragment.Lit(s) =>
      val grams = CodeTokenizer.distinctTrigrams(s, "g:")
      if (s.length < 3 || grams.isEmpty) None
      else {
        // a doc holds every gram iff it shows up once per gram
        val seen = mutable.HashMap.empty[Long, Int]
        grams.foreach(g => runs.getOrElse(g, Nil).foreach(r =>
          graft.index.PostingCodec.decodeRun(r.blocks).foreach(e =>
            seen(e._1) = seen.getOrElse(e._1, 0) + 1)))
        Some(seen.iterator.collect { case (id, n) if n == grams.size => id }
          .toSet)
      }
    case Fragment.And(cs) =>
      val sets = cs.flatMap(fragmentDocs(_, runs))
      if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
    case Fragment.Or(cs) =>
      val sets = cs.map(fragmentDocs(_, runs))
      if (sets.exists(_.isEmpty)) None else Some(sets.flatten.reduce(_ union _))
  }
}

private[engine] object LocalSearch {
  /** Candidates in the first verify pass when k is smaller. */
  val VerifyChunk = 64

  /** What a checked branch scores: a conjunctive term set, or a regex
    * through its required grams.
    */
  sealed trait Target
  final case class Terms(terms: Seq[String]) extends Target
  final case class Regex(pattern: String) extends Target
}
