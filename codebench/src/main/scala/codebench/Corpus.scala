package codebench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.tokenize.CodeTokenizer

/** One generated source file, in the engine's input row shape. */
final case class FileRow(repo: String, path: String, commit: String,
                         lang: String, content: String)

/** A planted fork family: row indexes of a source file and its copies in
  * other repos. An `exact` family's copies are byte-identical.
  */
final case class Family(members: Vector[Int], exact: Boolean)

final case class Corpus(rows: Vector[FileRow], families: Vector[Family]) {
  /** Document frequency of every term, with the engine's tokenizer. */
  lazy val df: Map[String, Int] = Corpus.docFreq(rows.iterator.map(_.content))
  def contentBytes: Long = rows.iterator.map(_.content.length.toLong).sum
  def forkShare: Double =
    families.iterator.map(_.members.size).sum.toDouble / rows.size
}

object Corpus {
  val Keywords: Vector[String] =
    Vector("if", "return", "import", "for", "let", "fn", "else", "while")
  val Langs: Vector[(String, String)] = Vector("rust" -> "rs",
    "python" -> "py", "go" -> "go", "java" -> "java",
    "typescript" -> "ts", "javascript" -> "js")
  val Dirs: Vector[String] =
    Vector("core", "util", "net", "io", "api", "model", "cmd", "store")

  /** The terms the engine indexes for `content`. */
  def words(content: String): Iterator[String] =
    CodeTokenizer.tokenize(content).iterator

  def docFreq(contents: Iterator[String]): Map[String, Int] = {
    val m = mutable.HashMap.empty[String, Int]
    contents.foreach(c => words(c).toSet.foreach((w: String) =>
      m.update(w, m.getOrElse(w, 0) + 1)))
    m.toMap
  }
}

/** Seeded code-corpus generator. Its shape is calibrated against real
  * source files with codebench/calibrate.py (measured and generated values
  * side by side in codebench/NOTES.md); what no measurement backs is
  * listed there as an assumption. Per file: a log-normal number of lines
  * (the measured spread, the measured median scaled by `LengthScale`),
  * identifiers drawn from a small common head, a Zipf global vocabulary, a
  * repo-local vocabulary (the mid-df band) and words no other file uses
  * (the df = 1 tail), some joined in camelCase; keywords and
  * one-character operators at the measured rates; comment lines. Across
  * files: many repos with a skewed size distribution and a main language
  * each, and fork families of files copied into other repos, exactly or
  * with a few lines edited. Every draw comes from one SplittableRandom, so
  * the same seed and call sequence give the same files.
  */
final class Gen(seed: Long, nFilesHint: Int) {
  import Gen._
  private val rng = new SplittableRandom(seed)
  private val syll: Vector[String] =
    for (c <- "bdfgklmnprstvz".toVector; v <- "aeiou".toVector)
      yield s"$c$v"

  private def word(minSyl: Int, maxSyl: Int): String = {
    val n = minSyl + rng.nextInt(maxSyl - minSyl + 1)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb ++= syll(rng.nextInt(syll.size)))
    if (rng.nextInt(3) == 0) sb += "xrnlk".charAt(rng.nextInt(5))
    sb.toString
  }

  private val used = mutable.HashSet.empty[String] ++ Corpus.Keywords
  private def freshWord(minSyl: Int, maxSyl: Int): String = {
    var w = word(minSyl, maxSyl)
    while (used(w)) w = word(minSyl, maxSyl)
    used += w
    w
  }

  private def cdf(n: Int, exponent: Double, offset: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + offset, exponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }
  private def zipf(cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  val head: Array[String] = Array.fill(HeadWords)(freshWord(1, 2))
  private val headCdf = cdf(head.length, HeadExponent, 1.0)
  val vocab: Array[String] = Array.fill(nFilesHint * 6)(freshWord(2, 4))
  private val zipfCdf = cdf(vocab.length, VocabExponent, VocabOffset)
  final case class Repo(name: String, lang: Int, local: Array[String])
  val repos: Vector[Repo] = Vector.tabulate(math.max(4, nFilesHint / 40)) { _ =>
    Repo(s"github.com/${freshWord(2, 2)}/${freshWord(2, 3)}-${freshWord(1, 2)}",
      rng.nextInt(Corpus.Langs.size), Array.fill(60)(freshWord(2, 3)))
  }
  private val repoCdf = cdf(repos.size, 0.9, 1.0)
  def randomRepo(): Int = zipf(repoCdf)

  private val keys = mutable.HashSet.empty[(String, String)]

  private def commit(): String =
    f"${rng.nextLong()}%016x${rng.nextLong()}%016x${rng.nextInt()}%08x"

  private def simpleId(r: Repo): String = {
    val u = rng.nextDouble()
    if (u < FreshShare) freshWord(2, 4)
    else if (u < FreshShare + LocalShare) r.local(rng.nextInt(r.local.length))
    else if (u < FreshShare + LocalShare + HeadShare) head(zipf(headCdf))
    else vocab(zipf(zipfCdf))
  }

  /** An identifier; `CompoundShare` of them join two words in camelCase,
    * which the engine's tokenizer splits again.
    */
  private def newId(r: Repo): String =
    if (rng.nextDouble() >= CompoundShare) simpleId(r)
    else { val b = simpleId(r); simpleId(r) + b.head.toUpper + b.tail }

  /** Identifiers of the file being written; `ReuseShare` of the draws
    * repeat one of them, as code keeps naming what is in scope.
    */
  private val scope = mutable.ArrayBuffer.empty[String]
  private def id(r: Repo): String =
    if (scope.nonEmpty && rng.nextDouble() < ReuseShare)
      scope(rng.nextInt(scope.size))
    else { val x = newId(r); scope += x; x }

  private def pick(weights: Array[Double]): Int = {
    var u = rng.nextDouble() * weights.sum
    var i = 0
    while (i < weights.length - 1 && u >= weights(i)) { u -= weights(i); i += 1 }
    i
  }

  /** Appends one statement; returns the number of lines it took. */
  private def line(r: Repo, sb: StringBuilder, indent0: String): Int = {
    def i = id(r)
    def w = if (rng.nextInt(2) == 0) head(zipf(headCdf)) else simpleId(r)
    val indent = if (rng.nextInt(3) == 0) indent0 + "    " else indent0
    pick(LineWeights) match {
      case 0 => sb ++= s"${indent}let $i = $i($i, $i);\n"; 1
      case 1 => sb ++= s"$indent$i.$i($i, $i);\n"; 1
      case 2 => sb ++= s"$indent// ${Seq.fill(5 + rng.nextInt(8))(w).mkString(" ")}\n"; 1
      case 3 => sb ++= s"${indent}if $i > $i {\n$indent    $i.$i($i);\n$indent}\n"; 3
      case 4 => sb ++= s"${indent}return $i($i);\n"; 1
      case 5 => sb ++= s"${indent}for $i in $i {\n$indent    $i.$i($i);\n$indent}\n"; 3
      case 6 => sb ++= s"${indent}while $i {\n$indent    $i = $i($i);\n$indent}\n"; 3
      case 7 => sb ++= s"${indent}let $i: $i = $i.$i($i).$i($i, $i);\n"; 1
      case _ => sb ++= s"$indent$i = $i + $i * $i;\n"; 1
    }
  }

  /** Content of one file of repo `r`: imports, then functions, with a
    * log-normal number of lines.
    */
  def content(repoIdx: Int): String = {
    val r = repos(repoIdx)
    val sb = new StringBuilder
    scope.clear()
    if (rng.nextDouble() < ImportShare)
      (0 to rng.nextInt(4)).foreach(_ => sb ++= s"import ${id(r)}.${id(r)};\n")
    val nLines = math.max(4, math.min(MaxLines, math.exp(
      math.log(MedianLines * LengthScale) + LinesSigma * rng.nextGaussian()).toInt))
    var (lines, statements) = (0, 0)
    while (lines < nLines) {
      if (statements % 12 == 0) {
        if (statements > 0) { sb ++= "}\n"; lines += 1 }
        sb ++= s"fn ${id(r)}(${id(r)}, ${id(r)}) {\n"
        lines += 1
      }
      lines += line(r, sb, "    ")
      statements += 1
    }
    sb ++= "}\n"
    sb.toString
  }

  /** A new file at a fresh (repo, path) key. */
  def newFile(repoIdx: Int): FileRow = {
    val r = repos(repoIdx)
    val lang = if (rng.nextInt(5) == 0) rng.nextInt(Corpus.Langs.size) else r.lang
    val (langName, ext) = Corpus.Langs(lang)
    var path = ""
    while ({
      path = s"src/${Corpus.Dirs(rng.nextInt(Corpus.Dirs.size))}/" +
        s"${vocab(zipf(zipfCdf))}_${r.local(rng.nextInt(r.local.length))}.$ext"
      !keys.add((r.name, path))
    }) ()
    FileRow(r.name, path, commit(), langName, content(repoIdx))
  }

  /** `content` with about `frac` of its lines regenerated (at least one),
    * in repo `repoIdx`'s style.
    */
  def edit(content: String, repoIdx: Int, frac: Double): String = {
    val lines = content.split("\n", -1)
    val pick = math.max(1, (lines.length * frac).toInt)
    val idx = Array.fill(pick)(rng.nextInt(math.max(1, lines.length - 1))).toSet
    val r = repos(repoIdx)
    scope.clear()
    lines.indices.map { i =>
      if (idx(i)) { val sb = new StringBuilder; line(r, sb, "    "); sb.toString.stripSuffix("\n") }
      else lines(i)
    }.mkString("\n")
  }

  /** A copy of `src` in another repo, same path (a vendored or forked
    * file); `exact` copies keep the content byte for byte.
    */
  def forkOf(src: FileRow, exact: Boolean): FileRow = {
    var repoIdx = randomRepo()
    while (repos(repoIdx).name == src.repo) repoIdx = (repoIdx + 1) % repos.size
    val repo = repos(repoIdx).name
    val path = if (keys.add((repo, src.path))) src.path else {
      var p = ""
      while ({ p = s"vendor/${freshWord(2, 2)}/${src.path}"; !keys.add((repo, p)) }) ()
      p
    }
    FileRow(repo, path, commit(), src.lang,
      if (exact) src.content else edit(src.content, repoIdx, 0.05))
  }

  /** `nFiles` rows, `copyShare` of which are fork copies of the others, in
    * families of one source and one to three copies; 40% of families are
    * exact copies.
    */
  def corpus(nFiles: Int, copyShare: Double): Corpus = {
    val nCopies = (nFiles * copyShare).toInt
    val base = Vector.fill(nFiles - nCopies)(newFile(randomRepo()))
    val rows = base.toBuffer
    val families = Vector.newBuilder[Family]
    val sources = mutable.HashSet.empty[Int]
    var made = 0
    while (made < nCopies) {
      var s = rng.nextInt(base.size)
      while (sources(s)) s = rng.nextInt(base.size)
      sources += s
      val exact = rng.nextInt(5) < 2
      val n = math.min(1 + rng.nextInt(3), nCopies - made)
      val members = (0 until n).map { _ =>
        rows += forkOf(base(s), exact)
        rows.size - 1
      }
      families += Family(s +: members.toVector, exact)
      made += n
    }
    Corpus(rows.toVector, families.result())
  }
}

object Gen {
  /** Lines per file: log-normal with the median and spread measured on
    * real files (NOTES.md), the median scaled down so that the search
    * corpus fits the benchmark's time budget.
    */
  val MedianLines = 126.0
  val LinesSigma = 1.08
  val LengthScale = 0.25
  val MaxLines = 500
  val ReuseShare = 0.3
  /** Identifier draws: share of fresh words, repo-local words and common
    * head words; the rest come from the Zipf global vocabulary.
    */
  val FreshShare = 0.07
  val LocalShare = 0.25
  val HeadShare = 0.2
  val HeadWords = 150
  val HeadExponent = 0.6
  val VocabExponent = 1.05
  val VocabOffset = 20.0
  val CompoundShare = 0.18
  val ImportShare = 0.8
  /** Weights of the line templates, in `line`'s order. */
  val LineWeights: Array[Double] = Array(20, 20, 14, 6, 1.5, 4, 2, 14, 8)
}
