package codebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.tokenize.CodeTokenizer

/** Compares the generator's corpus shape with real source files:
  *
  *   python3 codebench/calibrate.py DIR [SEED]
  *
  * prints, for every source file under DIR, for a generated corpus with as
  * many files, and for one of the search workload's size, the properties
  * the benchmark's figures depend on: file length, term density, the
  * document-frequency curve as the engine's tokenizer sees it, keyword
  * document frequency, and the one-character share of the space-split
  * words that `graft.pipeline.Dedup` hashes.
  */
object Calibrate {
  val Extensions = Set("scala", "rs", "py", "go", "java", "ts", "js")
  val KeywordsShown = Seq("if", "return", "import")
  /** Term density is compared on equal-length prefixes: distinct terms
    * grow slower than length, so files of different lengths do not compare.
    */
  val Prefix = 40

  /** (property, value) rows of one corpus. */
  def profile(contents: Seq[String]): Seq[(String, String)] = {
    val n = contents.size
    val lines = contents.map(c => c.count(_ == '\n').max(1).toDouble)
    val termSets = contents.map(c => CodeTokenizer.tokenize(c).toSet)
    val df = termSets.flatten.groupMapReduce(identity)(_ => 1)(_ + _)
    val dfs = df.values.toSeq.sorted(Ordering[Int].reverse)
    // least-squares slope of log df against log rank over the top 100 terms
    val head = dfs.take(100).zipWithIndex.map { case (d, r) =>
      (math.log(r + 1.0), math.log(d.toDouble)) }
    val (mx, my) = (head.map(_._1).sum / head.size, head.map(_._2).sum / head.size)
    val slope = head.map { case (x, y) => (x - mx) * (y - my) }.sum /
      head.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val spaceWords = contents.flatMap(_.split(" ").filter(_.nonEmpty))
    val words = contents.flatMap("[A-Za-z0-9_]+".r.findAllIn(_))
    val compound = words.count(w => CodeTokenizer.tokenize(w).length > 1)
    def share(x: Double) = f"${x * 100}%.1f%%"
    Seq(
      "files" -> n.toString,
      "lines per file, p10 / p50 / p90" ->
        f"${Stats.pct(lines, 0.1)}%.0f / ${Stats.pct(lines, 0.5)}%.0f / ${Stats.pct(lines, 0.9)}%.0f",
      "bytes per line" -> f"${contents.map(_.length).sum.toDouble / lines.sum}%.1f",
      "distinct terms per file, p50" ->
        f"${Stats.pct(termSets.map(_.size.toDouble), 0.5)}%.0f",
      s"distinct terms in the first $Prefix lines, p50" -> f"${Stats.pct(contents
        .map(_.split("\n")).filter(_.length >= Prefix).map(ls => CodeTokenizer
          .tokenize(ls.take(Prefix).mkString("\n")).toSet.size.toDouble), 0.5)}%.0f",
      "distinct terms / files" -> f"${df.size.toDouble / n}%.2f",
      "terms with df = 1" -> share(dfs.count(_ == 1).toDouble / dfs.size),
      "terms with df >= 20% of files" -> dfs.count(_ >= 0.2 * n).toString,
      "df slope, top 100 terms (log-log)" -> f"$slope%.2f") ++
      KeywordsShown.map(k =>
        s"files holding `$k`" -> share(df.getOrElse(k, 0).toDouble / n)) ++ Seq(
      "1-char share of space-split words" ->
        share(spaceWords.count(_.length == 1).toDouble / spaceWords.size),
      "words the tokenizer splits (camelCase, _)" ->
        share(compound.toDouble / words.size))
  }

  def sources(dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        Extensions(p.getFileName.toString.split('.').last))
      .toSeq.sortBy(_.toString)
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) sys.exit(2)
    val real = sources(Paths.get(args(0)))
    val seed = args.lift(1).map(_.toLong).getOrElse(1L)
    def gen(n: Int) = new Gen(seed, n).corpus(n, SearchBench.CopyShare)
      .rows.map(_.content)
    val n = Scale.full.searchFiles
    val cols = Seq(profile(real), profile(gen(real.size)), profile(gen(n)))
    println(s"| property | ${args(0)} | generated, ${real.size} files | " +
      s"generated, $n files |")
    println("|---|---|---|---|")
    cols.head.indices.foreach(i =>
      println(s"| ${cols.head(i)._1} | ${cols.map(_(i)._2).mkString(" | ")} |"))
  }
}
