package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.corpus.CorpusGen
import graft.engine.{FuzzyPath, QueryExecutor, Searcher}
import graft.index.IndexBuilder
import graft.util.LocalSpark

/** The plan-dump tool: `.explain("formatted")` output in two forms.
  *
  *   sbt "runMain graft.tools.PlanDump md"
  *     rewrites PLANS.md: the formatted plans of the engine's key query
  *     shapes over freshly built indexes (sf0.001, plus a small synthetic
  *     corpus for the short fuzzy-path, short repo and snippet-page
  *     shapes). Sections of the existing PLANS.md whose heading the tool
  *     does not generate are kept, in order, after the generated ones.
  *
  *   sbt "runMain graft.tools.PlanDump <tag> <suffix> [query,query,…]"
  *     writes plans/<tag>/<query>_<suffix>.txt for declared SparkEntry
  *     queries (every one whose DataFrame can be constructed when no list
  *     is given) — the optimization-round evidence files. Data dir from
  *     SPARK_GRAFT_SF_DIR (default sf0.01 — plan shapes are
  *     scale-independent).
  *
  * Master local[SPARK_GRAFT_CPUS] (graft.util.LocalSpark).
  */
object PlanDump {
  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session("graft-plan-dump")
    try args.toList match {
      case "md" :: Nil => plansMd(spark)
      case _ =>
        val tag = if (args.length > 0) args(0) else "r06"
        val suffix = if (args.length > 1) args(1) else "before"
        val only =
          if (args.length > 2) Some(args(2).split(",").toSet) else None
        queryPlans(spark, tag, suffix, only)
    } finally spark.stop()
  }

  private def queryPlans(spark: SparkSession, tag: String, suffix: String,
                         only: Option[Set[String]]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(Paths.get(s"plans/$tag"))
    val qs = graft.SparkEntry.queries
    only.getOrElse(qs.keySet).toSeq.sorted.foreach { name =>
      qs.get(name) match {
        case None => println(s"SKIP unknown query $name")
        case Some(f) =>
          try {
            val out = s"plans/$tag/${name}_$suffix.txt"
            Files.writeString(Paths.get(out), explain(f(spark, sfDir)))
            println(s"WROTE $out")
          } catch {
            case e: Throwable =>
              println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
    }
  }

  private def plansMd(spark: SparkSession): Unit = {
    import spark.implicits._

    val root = graft.Bench.freshDir("/tmp/graft-plans-idx")
    new IndexBuilder(spark, root, bucketSize = 1024)
      .build(graft.SparkEntry.corpusFromDocuments(spark, "/root/testdata/sf0.001"))
    val s = new Searcher(spark, root)
    // short paths and repo names ("f1", "or") exist in the synthetic corpus
    val synthRoot = graft.Bench.freshDir("/tmp/graft-plans-synth")
    new IndexBuilder(spark, synthRoot, bucketSize = 64, numPartitions = 3)
      .build(CorpusGen.synth(spark, 6, 15, seed = 3L))
    val synth = new Searcher(spark, synthRoot)
    // localDfMax = 0: the Spark plan, not the driver-local path's
    // LocalTableScan
    val sparkExec = new QueryExecutor(s, localDfMax = 0L)
    val synthExec = new QueryExecutor(synth, localDfMax = 0L)

    def fmt(title: String, df: DataFrame, note: String): (String, String) =
      title -> s"""## $title
         |
         |$note
         |
         |```
         |${explain(df)}
         |```
         |""".stripMargin

    val sections = Seq(
      fmt("Term lookup (postings scan)",
        s.postings.filter($"term".isin("merge", "join")).toDF(),
        "The In(term) predicate reaches the parquet scan (PushedFilters) — " +
        "row groups of other terms never leave disk (postings are written " +
        "sorted by term, so min/max stats prune)."),
      fmt("Conjunctive BM25 top-k (exhaustive path)",
        s.searchLiteral("merge join", 10, useWand = false).toDF(),
        "Candidate postings decode → per-doc ordered f32 sum → " +
        "TakeOrderedAndProject (per-partition heaps + driver merge, " +
        "no global sort)."),
      fmt("Hit materialization (stored-field fetch)",
        s.materialize(s.searchLiteral("merge join", 10)),
        "The ≤k hit rows broadcast to join the docs table — the " +
        "`searcher.doc(addr)` row fetch as a BroadcastHashJoin."),
      fmt("Metadata query (no content column)",
        s.docs.select("docId", "repo", "lang").filter($"lang" === "en"),
        "ReadSchema excludes the content column entirely; the lang " +
        "predicate is pushed down."),
      fmt("Metadata-only query language branch (zero shuffles)",
        new QueryExecutor(s).execute("repo:src1 lang:en", 10).toDF(),
        "A no-target single branch compiles to pushed-down filter + " +
        "TakeOrdered — no Exchange anywhere (round-1 VERDICT fix; " +
        "PlanSpec asserts it)."),
      fmt("Repo-name search (RepoReader analog)",
        sparkExec.executeRepo("repo:rc1", 10),
        "Runs entirely on the O(#repos) repoIndex sub-index: its trigram " +
        "postings scan (In-pushdown) + conjunctive BM25, substring verify " +
        "on the stored name, TakeOrderedAndProject. This is the Spark " +
        "plan; a plain-literal repo search under the df gate is answered " +
        "in the driver (a LocalTableScan)."),
      fmt("Short (1–2-char) fuzzy-path query (v9 short grams)",
        FuzzyPath.candidates(synth, "f1"),
        "`FuzzyPath.candidates(searcher, \"f1\")` — a per-keystroke " +
        "autocomplete query. With the 1–3-gram path windows indexed it is " +
        "ONE posting lookup, pushed to the parquet scan, followed by the " +
        "capped gram-count ranking; the docs side joins only for the " +
        "tombstone filter + (path, repo) fetch. PlanSpec asserts the " +
        "pushed term filter and the absence of any path-column substring " +
        "filter."),
      fmt("Short repo-name query",
        synthExec.executeRepo("repo:or", 10),
        "`repo:or` — the same short-gram shape against the repo-name " +
        "sub-index (`EqualTo(term,g:or)`)."),
      fmt("Snippet page (top-k with snippets)",
        synthExec.executeWithSnippets("parse", 10),
        "`executeWithSnippets(\"parse\", 10)` over the synthetic index, " +
        "on the Spark path — the top-k hits joined to their stored " +
        "content for the snippet rows. A query this small is answered in " +
        "the driver by default (a LocalTableScan)."))

    val generated = sections.map(_._1).toSet
    val out: Path = Paths.get("PLANS.md")
    val kept =
      if (!Files.exists(out)) Seq.empty[String]
      else Files.readString(out).split("\n(?=## )").toSeq.drop(1)
        .filterNot(sec => generated(sec.linesIterator.next().drop(3).trim))
    val md = "# PLANS — physical plans of the key query shapes\n\n" +
      "Generated by `runMain graft.tools.PlanDump md` over a fresh sf0.001 " +
      "index (and a small synthetic one for the short-query and snippet " +
      "shapes); rerun it to regenerate every generated section. The " +
      "other sections are written by hand.\n\n" +
      (sections.map(_._2) ++ kept.map(_.stripSuffix("\n") + "\n"))
        .mkString("\n")
    Files.writeString(out, md)
    println(s"wrote PLANS.md (${md.length} chars)")
  }
}
