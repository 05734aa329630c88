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
  *     there are fewer than 3 required grams, then a `(?i)` find() verify
  *     on content (null content never matches), in rank order until k
  *     pass; those k are the result.
  *
  * Dead docIds come from the Searcher's shipped tombstones. Every call
  * returns None, leaving the query to Spark, when the summed df of the
  * terms it would read is `dfMax` or more.
  */
private[engine] final class LocalSearch(se: Searcher, local: LocalIndex,
                                        dead: Array[Long], dfMax: Long) {

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

  /** Top-k verified matches of a case-insensitive regex, as docs rows with
    * content; None also when the pattern has no required gram (its
    * candidate set is every doc).
    */
  def regex(pattern: String, k: Int): Option[Seq[PageRow]] = {
    val frag = RegexPlanner.plan(pattern)
    val grams = RegexPlanner.requiredGrams(frag).map("g:" + _).toSeq.sorted
    if (grams.isEmpty) return None
    val fragGrams = if (grams.size >= 3) Nil else litGrams(frag)
    val all = (grams ++ fragGrams).distinct.sorted
    gated(all).map { ts =>
      if (grams.exists(g => ts(g)._1 == 0L)) Nil
      else {
        val runs = local.postingRuns(all).toSeq
        val required = grams.toSet
        val cands = topK(runs.filter(r => required(r.term)), grams,
          grams.map(g => g -> ts(g)._2).toMap, Int.MaxValue)
        val narrowed =
          if (grams.size >= 3) cands
          else fragmentDocs(frag, runs.groupBy(_.term)) match {
            case Some(ids) => cands.filter(h => ids(h.docId))
            case None => cands
          }
        verify(narrowed, java.util.regex.Pattern.compile("(?i)" + pattern), k)
      }
    }
  }

  /** The first k ranked candidates whose content the regex finds in, in
    * at most two rank-ordered passes over docs: the best max(k,
    * VerifyChunk) candidates, then — only when fewer than k of them
    * passed — all the others. A pass folds each docs file to its own best
    * k, at most k rows: a row whose rank cannot enter that file's best k
    * so far is not even matched. The files' best k merge to the pass's.
    */
  private def verify(ranked: IndexedSeq[Hit], re: java.util.regex.Pattern,
                     k: Int): Seq[PageRow] = {
    var best = Seq.empty[(Int, PageRow)]
    def pass(from: Int, until: Int): Unit = {
      val rank = (from until until).iterator.map(i => ranked(i).docId -> i).toMap
      val files = local.foldDocs(rank.keySet, content = true) { rows =>
        // max-heap on rank: the head is the worst of the best k so far
        val top = mutable.PriorityQueue.empty[(Int, PageRow)](Ordering.by(_._1))
        rows.foreach { r =>
          val i = rank(r.docId)
          if ((top.size < k || i < top.head._1) && r.content != null &&
              re.matcher(r.content).find()) {
            top.enqueue(i -> r)
            if (top.size > k) top.dequeue()
          }
        }
        top.toSeq
      }
      best = (best ++ files.flatten).sortBy(_._1).take(k)
    }
    val first = math.min(ranked.size, math.max(k, LocalSearch.VerifyChunk))
    pass(0, first)
    // the first pass holds the best-ranked candidates: once k of them
    // passed, no later candidate can enter the best k
    if (best.size < k) pass(first, ranked.size)
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
  /** Candidates in the first regex-verify pass when k is smaller. */
  val VerifyChunk = 64
}
