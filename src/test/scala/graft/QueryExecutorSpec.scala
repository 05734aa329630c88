package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.engine.{FuzzyPath, QueryExecutor, Searcher, Snippets}
import graft.index.IndexBuilder
import graft.oracle.OracleEngine
import graft.tokenize.SymbolExtractor

/** Rank identity for the full query LANGUAGE (FIXTURES.md §3 composed
  * queries) — engine QueryExecutor vs oracle executeQuery — plus snippet,
  * symbol and fuzzy-path behavior.
  */
class QueryExecutorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val corpus = CorpusGen.synth(spark, 10, 18, seed = 7L).cache()
  lazy val oracle = new OracleEngine(
    corpus.select("repo", "path", "commit", "lang", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSeq)
  lazy val searcher: Searcher = {
    val root = TestSpark.tempDir("qexec")
    new IndexBuilder(spark, root, bucketSize = 64, numPartitions = 3)
      .build(corpus)
    new Searcher(spark, root)
  }
  lazy val exec = new QueryExecutor(searcher)

  // FIXTURES §3 composed queries adapted to the synthetic corpus's own
  // repos/langs (org0..org9 / repo0.. / rust,go,python...)
  val querySet = Seq(
    "parse",
    "content:parse",
    "repo:repo1 lang:rust parse",
    "(repo:repo1 or repo:repo2) (lang:rust or lang:go) index",
    "org:org3 return",
    "case:sensitive Index",
    "case:ignore index",
    "symbol:read",
    "path:mod1 if",
    "path:mod1",            // scored path field alone (×10 boost)
    "path:mod2 or path:mod3 index", // scored path across DNF branches
    "path:f1 lang:go",      // scored path + metadata filter, no target
    "path:/mod[0-9]/ index", // regex path stays an unscored filter
    "repo:repo4",
    "lang:python",
    "import or return",
    "/par.e/",
    "global_regex:true index.*query",
    "org:doesnotexist parse",
    "if return", // multi-word → fused phrase regex (parser.rs:104-112)
    "lang:rust parse index")

  for (q <- querySet; k <- Seq(10, 50)) {
    test(s"query language rank identity: '$q' k=$k") {
      val got = exec.execute(q, k).collect()
        .map(h => (h.docId, h.score)).toSeq.sortBy { case (d, s) => (-s, d) }
      val want = oracle.executeQuery(q, k)
      assert(got == want, s"\nengine: ${got.take(8)}\noracle: ${want.take(8)}")
    }
  }

  test("symbol extractor finds definition names") {
    val names = SymbolExtractor.symbolNames(
      "fn parseToken(x) { }\nclass HttpServer extends Base\nlet counter = 1")
    assert(names == Seq("parseToken", "HttpServer", "counter"))
    assert(SymbolExtractor.symbolTerms("fn parseToken()") ==
      Seq("parse", "token"))
  }

  test("per-language symbol grammars return definitions only (D5 precision)") {
    // snippets shaped after the reference's per-language scope-graph test
    // corpora (intelligence/language/<lang>/mod.rs)
    val go =
      """package main
        |import "net/http"
        |func (s *Server) Handle(w http.ResponseWriter) {}
        |func main() { result := compute() }
        |type Config struct { Port int }
        |var count int = 0
        |const MaxSize = 10""".stripMargin
    assert(SymbolExtractor.symbolNames(go, "go") ==
      Seq("Handle", "main", "Config", "count", "MaxSize"))
    val rust =
      """pub fn parse(input: &str) -> Token {}
        |struct Token { kind: Kind }
        |impl Token { fn new(&mut self) -> Self {} }
        |pub trait Reader {}
        |fn run() { let mut total = 0; }""".stripMargin
    // `impl` is not a definition head in the rust table; `let mut x`
    // defines x, and `&mut self` defines nothing
    assert(SymbolExtractor.symbolNames(rust, "rust") ==
      Seq("parse", "Token", "new", "Reader", "run", "total"))
    val java =
      """public class HttpServer {
        |  private static final int MAX = 10;
        |  public void handle() {}
        |}
        |interface Handler {}""".stripMargin
    // modifier chains resolve to the definition keyword: no more
    // "public class X" → symbol "class"; keyword-less METHOD definitions
    // are detected by the signature scanner (round-4 VERDICT #3)
    assert(SymbolExtractor.symbolNames(java, "java") ==
      Seq("HttpServer", "handle", "Handler"))
    val python =
      """def parse_token(x):
        |    return class_of(x)
        |class HttpServer(Base):
        |    def handle(self): pass
        |result = parse_token(1)""".stripMargin
    assert(SymbolExtractor.symbolNames(python, "python") ==
      Seq("parse_token", "HttpServer", "handle"))
    val ts =
      """export interface Config {}
        |export default function main() {}
        |const handler = () => {}
        |let counter: number = 0
        |const enum Flags {}""".stripMargin
    // keyword-in-identifier-position restarts: `const enum Flags` → Flags
    assert(SymbolExtractor.symbolNames(ts, "typescript") ==
      Seq("Config", "main", "handler", "counter", "Flags"))
    // unknown lang falls back to the generic union table
    assert(SymbolExtractor.symbolNames("fn alpha()", "en") == Seq("alpha"))
  }

  test("keyword-less method definitions: Java/C/C++ signature scanner is " +
       "definitions-only (round-4 VERDICT #3 precision corpus)") {
    // shapes after the reference's per-language scope-graph tests
    // (intelligence/language/java/mod.rs, c/mod.rs, cpp/mod.rs)
    val java =
      """public class Cache {
        |  private final Map<String, Integer> entries = new HashMap<>();
        |  public int size() { return entries.size(); }
        |  protected static List<String> keysOf(Map<String, Integer> m) throws IOException {
        |    return new ArrayList<>(m.keySet());
        |  }
        |  public Cache(int capacity) { this.capacity = capacity; }
        |  void run() {
        |    int x = compute(1);
        |    log(x);
        |    if (x > 0) { emit(x); }
        |    for (int i = 0; i < max(x, 2); i++) { tick(); }
        |    while (hasNext()) { step(); }
        |    try { parse(); } catch (IOException e) { fail(e); }
        |    synchronized (this) { flush(); }
        |    items.forEach(v -> { sink(v); });
        |    Runnable r = new Runnable() { };
        |  }
        |}""".stripMargin
    // class + methods + constructor; NO call, control block, lambda or
    // anonymous-class instantiation leaks in
    assert(SymbolExtractor.symbolNames(java, "java") ==
      Seq("Cache", "size", "keysOf", "Cache", "run"))
    val c =
      """static int parse_header(const char *buf, size_t len) {
        |  if (len < 4) { return -1; }
        |  return decode(buf, len);
        |}
        |struct packet { int seq; };
        |void (*handler)(int) = sig_handler;
        |int main(void) { return dispatch(handler); }""".stripMargin
    assert(SymbolExtractor.symbolNames(c, "c") ==
      Seq("parse_header", "packet", "main"))
    val cpp =
      """namespace net {
        |class Socket {
        | public:
        |  explicit Socket(int fd) : fd_(fd) {}
        |  ssize_t send(const std::vector<uint8_t>& data) noexcept { return 0; }
        |};
        |}
        |Socket::~Socket() { close(fd_); }
        |bool Socket::connect(const Addr& addr) {
        |  return do_connect(addr) == 0;
        |}
        |template <typename T>
        |T max_of(T a, T b) { return a > b ? a : b; }""".stripMargin
    // namespace + class + ctor (with init list) + methods (incl. the
    // qualified out-of-class definition); destructors are a documented
    // miss; calls (close, do_connect) never leak in
    assert(SymbolExtractor.symbolNames(cpp, "cpp") ==
      Seq("net", "Socket", "Socket", "send", "connect", "max_of"))
    // prototypes are declarations, not definitions
    assert(SymbolExtractor.symbolNames(
      "int add(int a, int b);\nint add(int a, int b) { return a + b; }",
      "c") == Seq("add"))
    // round-5 review shapes: control-head macros/specifiers are not
    // definitions; '-' is a trailer char ONLY as the '->' arrow, so a
    // subtraction before a brace-init does not turn the call into one
    assert(SymbolExtractor.symbolNames(
      "void f() { if constexpr (sizeof(int) == 4) { g(); } }",
      "cpp") == Seq("f"))
    assert(SymbolExtractor.symbolNames(
      "auto scale(int x) -> int { return x * 2; }", "cpp") == Seq("scale"))
    assert(SymbolExtractor.symbolNames(
      "void h() { Buf<capacity() - 1> b {}; int a[f(1) - 1] {}; }",
      "cpp") == Seq("h"))
  }

  test("snippets: match expansion, merge, highlights (snippet.rs semantics)") {
    val content = "line one\nline two match here\nline three\nline four\nmatch again\nlast line\n"
    val lineEnds = {
      val b = scala.collection.mutable.ArrayBuilder.make[Int]
      content.zipWithIndex.foreach { case (c, i) => if (c == '\n') b += i }
      b.result()
    }
    val snips = Snippets.forDoc(content, lineEnds, "match", context = 1)
    assert(snips.size == 2)
    assert(snips.head.lineStart == 0 && snips.head.lineEnd == 2)
    assert(snips.head.data.contains("line two match here"))
    val hl = snips.head.highlights.head
    assert(snips.head.data.substring(hl._1, hl._2) == "match")
    assert(snips(1).lineStart == 3 && snips(1).lineEnd == 5)
    // adjacent/overlapping windows merge
    val merged = Snippets.forDoc(content, lineEnds, "line", context = 1)
    assert(merged.size == 1)
    assert(merged.head.highlights.size >= 5)
  }

  test("symbol-mode snippets intersect highlights with symbol ranges (snippet.rs:144-205)") {
    def lineEnds(s: String): Array[Int] = {
      val b = Array.newBuilder[Int]
      s.indices.foreach(i => if (s.charAt(i) == '\n') b += i)
      if (s.isEmpty || s.last != '\n') b += s.length
      b.result()
    }
    // the reference's own doc example: only the `n` inside the defined
    // symbol `cool_beans` highlights, not the ones in `const`/`beans()`
    val c1 = "const cool_beans = beans();"
    assert(SymbolExtractor.symbolNames(c1) == Seq("cool_beans"))
    val s1 = Snippets.forDocSymbols(c1, lineEnds(c1), "n")
    assert(s1.size == 1)
    assert(s1.head.highlights == Seq((14, 15))) // the n of cool_bea[n]s
    // plain (non-symbol) mode still highlights every match
    assert(Snippets.forDoc(c1, lineEnds(c1), "n")
      .head.highlights.size == 3)
    // two symbols, pattern matching only one: the other match (inside
    // `beta` but not matched) and non-symbol text stay unhighlighted
    val c2 = "fn alpha() { beta() }\nfn beta() {}"
    assert(SymbolExtractor.symbolNames(c2) == Seq("alpha", "beta"))
    val s2 = Snippets.forDocSymbols(c2, lineEnds(c2), "beta")
    assert(s2.size == 1 && s2.head.highlights.size == 1)
    assert(s2.head.lineStart == 0) // the line-1 definition, ±1 context
    // match exists but only outside any symbol range → zero snippets
    assert(Snippets.forDocSymbols(c2, lineEnds(c2), "\\{\\}").isEmpty)
  }

  test("snippet highlight on short strings") {
    assert(Snippets.highlight("src/parser/mod.rs", "parse") == Seq((4, 9)))
    assert(Snippets.highlight("AbcAbc", "abc") == Seq((0, 3), (3, 6)))
  }

  test("fuzzy path search returns subsequence-matching paths ranked") {
    val res = FuzzyPath.search(searcher, "mod1", 10)
    assert(res.nonEmpty)
    assert(res.forall { case (_, p, _, _) =>
      FuzzyPath.score(p, "mod1").isDefined
    })
    // scores are non-increasing with docId tiebreak
    val scores = res.map(_._4)
    assert(scores == scores.sorted(Ordering[Int].reverse))
    // exact-substring basename beats scattered subsequence
    val a = FuzzyPath.score("src/mod1/file.rs", "mod1").get
    val b = FuzzyPath.score("src/m/o/d/1/x.rs", "mod1").get
    assert(a > b)
  }

  test("executeWithSnippets: executor-side page snippets match the Snipper spec") {
    def lineEnds(s: String): Array[Int] = {
      val b = Array.newBuilder[Int]
      s.indices.foreach(i => if (s.charAt(i) == '\n') b += i)
      if (s.isEmpty || s.last != '\n') b += s.length
      b.result()
    }
    val k = 10
    val page = exec.executeWithSnippets("parse", k).collect()
    assert(page.nonEmpty && page.length <= k)
    // same hits, same order as the plain top-k
    val hits = exec.execute("parse", k).collect()
    assert(page.map(r => (r.getLong(0), r.getFloat(1))).toSeq ==
      hits.map(h => (h.docId, h.score)).toSeq
        .sortBy { case (d, s) => (-s, d) })
    // per-row snippet counts equal the driver-side Snipper on the same doc
    page.foreach { r =>
      val d = oracle.docs((r.getLong(0) - 1).toInt)
      val snips = Snippets.forDoc(d.content, lineEnds(d.content), "\\Qparse\\E")
      assert(r.getInt(5) == snips.size, s"doc ${r.getLong(0)} n_snippets")
      assert(r.getInt(6) == snips.map(_.highlights.size).sum)
      assert(r.getString(7) == snips.headOption.map(_.data).getOrElse(""))
    }
    // symbol mode routes through forDocSymbols
    val sp = exec.executeWithSnippets("symbol:read", k).collect()
    sp.foreach { r =>
      val d = oracle.docs((r.getLong(0) - 1).toInt)
      // symbol ranges derive from the doc's OWN language grammar, the
      // same table the "s:" index terms were extracted with
      val snips = Snippets.forDocSymbols(d.content, lineEnds(d.content),
        "\\Qread\\E", lang = d.lang)
      assert(r.getInt(5) == snips.size, s"doc ${r.getLong(0)} (symbol mode)")
    }
    // untargeted queries page without snippets
    val meta = exec.executeWithSnippets("repo:repo1 lang:rust", k).collect()
    assert(meta.forall(r => r.getInt(5) == 0 && r.getString(7) == ""))
  }

  test("metadata-only query lists filtered docs with score 0") {
    val got = exec.execute("repo:repo1 lang:rust", 1000).collect()
    assert(got.forall(_.score == 0f))
    val wantIds = oracle.docs.filter(d =>
      d.repo.toLowerCase.contains("repo1") && d.lang == "rust").map(_.docId).toSet
    assert(got.map(_.docId).toSet == wantIds)
  }

  test("path: is a scored priority field — hits rank by 10×path-BM25") {
    val got = exec.execute("path:mod1", 100).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.score > 0f), "path hits must carry the boosted score")
    // same doc set as the old substring-filter semantics (verify step)
    val wantIds = oracle.docs.filter(d =>
      d.indexed && d.path.toLowerCase.contains("mod1")).map(_.docId).toSet
    assert(got.map(_.docId).toSet == wantIds)
  }

  test("mixed path+content: branch score = content + 10×path (f32 order)") {
    val both = exec.execute("path:mod1 if", 1000).collect()
      .map(h => h.docId -> h.score).toMap
    val contentOnly = exec.execute("if", 10000).collect()
      .map(h => h.docId -> h.score).toMap
    val pathOnly = exec.execute("path:mod1", 10000).collect()
      .map(h => h.docId -> h.score).toMap
    assert(both.nonEmpty)
    both.foreach { case (id, s) =>
      assert(contentOnly.contains(id) && pathOnly.contains(id))
      assert(s == contentOnly(id) + pathOnly(id), s"doc $id")
    }
  }

  test("branch: filters on the schema-optional branch column (rank identity)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val withBranch = corpus.withColumn("branch",
      when(col("path").contains("mod1"), lit("origin/main,dev"))
        .otherwise(lit("origin/main")))
    val root = TestSpark.tempDir("qexec-branch")
    new IndexBuilder(spark, root, bucketSize = 64, numPartitions = 3)
      .build(withBranch)
    val ex = new QueryExecutor(new Searcher(spark, root))
    val brMap = withBranch.select("repo", "path", "branch").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val orc = new OracleEngine(
      corpus.select("repo", "path", "commit", "lang", "content").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4))).toSeq, brMap)
    for (q <- Seq("branch:dev if", "branch:origin parse",
        "branch:nonexistent if", "branch:dev", "branch:dev or lang:go if")) {
      val got = ex.execute(q, 50).collect()
        .map(h => (h.docId, h.score)).toSeq.sortBy { case (d, s) => (-s, d) }
      val want = orc.executeQuery(q, 50)
      assert(got == want, s"query '$q'\nengine: ${got.take(8)}\noracle: ${want.take(8)}")
    }
    assert(ex.execute("branch:dev if", 50).count() > 0)
    // a branchless corpus indexes branch="": non-empty branch: → nothing
    assert(exec.execute("branch:dev if", 50).count() == 0)
  }

  test("short path literal is scored via the v9 short-gram postings") {
    // format v9 indexes all 1–3-gram path windows (NgramTokenizer(1,3)
    // parity), so `path:f1` scores through the "p:f1" posting instead of
    // degrading to an unscored column-scan filter — same doc set as the
    // substring filter (the post-verify keeps it exact), now ranked
    val got = exec.execute("path:f1", 10000).collect()
    assert(got.nonEmpty, "short path literal must hit the short-gram posting")
    assert(got.forall(_.score > 0f), "short path hits carry the boosted score")
    val wantIds = oracle.docs.filter(
      _.path.toLowerCase.contains("f1")).map(_.docId).toSet
    assert(got.map(_.docId).toSet == wantIds)
    val want = oracle.executeQuery("path:f1", 10000)
    assert(got.map(h => (h.docId, h.score)).toSeq
      .sortBy { case (d, s) => (-s, d) } == want)
    // 1-char: still index-backed, still exact
    val one = exec.execute("path:9", 200).collect()
    val oneWant = oracle.executeQuery("path:9", 200)
    assert(one.map(h => (h.docId, h.score)).toSeq
      .sortBy { case (d, s) => (-s, d) } == oneWant)
  }

  test("reader dispatch matrix (reference query_matches, reader.rs + execute.rs:373-387)") {
    import graft.engine.ReaderKind._
    val cases = Seq(
      "parse" -> Some(Content),
      "symbol:read" -> Some(Content),
      "repo:repo1 parse" -> Some(Content),
      "repo:repo1" -> Some(Repo),
      "repo:repo1 lang:rust" -> Some(Repo), // Repo checked before File
      "repo:/r.p/ " -> Some(Repo),
      "lang:rust" -> Some(File),
      "path:mod1" -> Some(File),
      "repo:repo1 path:mod1" -> Some(File), // path unsets RepoReader
      "open:true repo:repo1" -> Some(Open),
      "open:true repo:repo1 path:mod1" -> Some(Open),
      "open:true repo:/r.1/" -> None, // open rejects regex repo
      "branch:dev" -> None, // no reader accepts: "mangled query"
      "repo:repo1 or parse" -> Some(Repo)) // first branch wins (FIXME in execute.rs)
    for ((q, want) <- cases)
      assert(exec.dispatch(q) == want, s"query '$q'")
  }

  test("repo-name search rank identity (RepoReader, execute.rs:641-715)") {
    for (q <- Seq(
        "repo:repo1", // single scored literal
        "repo:org", // trigram shared by every name
        "repo:github.com/org3", // multi-gram literal
        "repo:/repo[0-3]/", // regex branch (two-phase on the sub-index)
        "repo:repo1 or repo:repo2", // branch union sum
        "repo:repo1 lang:rust", // lang present but ignored by RepoReader
        "repo:zz", // <3 chars: short-gram posting absent + verify → empty
        "repo:o", // <3 chars: scored via the "g:o" 1-gram posting (v9)
        "case:sensitive repo:REPO1", // case-sensitive verify → empty
        "org:org1 repo:repo", // org-qualified: org segment filter (v9)
        "org:org1 repo:repo1 or repo:repo2", // org on one branch only
        "org:/org[12]/ repo:repo", // regex org literal
        "org:doesnotexist repo:repo", // org filter kills every candidate
        "repo:doesnotexist")) {
      val got = exec.executeRepo(q, 50).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getFloat(2))).toSeq
        .sortBy { case (id, _, s) => (-s, id) }
      val want = oracle.executeRepoQuery(q, 50)
      assert(got == want, s"query '$q'\nengine: ${got.take(8)}\noracle: ${want.take(8)}")
    }
    assert(exec.executeRepo("repo:repo1", 50).count() == 1)
    assert(exec.executeRepo("repo:org", 50).count() == 10)
    assert(exec.executeRepo("repo:o", 50).count() == 10)
    assert(exec.executeRepo("repo:zz", 50).count() == 0)
    // org: narrows to the owner segment: only github.com/org1/repo1
    assert(exec.executeRepo("org:org1 repo:repo", 50).collect()
      .map(_.getString(1)).toSeq == Seq("github.com/org1/repo1"))
    assert(exec.executeRepo("org:doesnotexist repo:repo", 50).count() == 0)
  }

  test("repo results carry highlight ranges on the name (HighlightedString)") {
    def highlighted(q: String, k: Int) =
      exec.executeRepoHighlightedDF(q, k).collect().toSeq.map(r =>
        (r.getLong(0), r.getString(1), r.getFloat(2),
          r.getSeq[org.apache.spark.sql.Row](3)
            .map(h => (h.getInt(0), h.getInt(1)))))
    val hs = highlighted("repo:repo1", 10)
    assert(hs.size == 1)
    val (_, name, _, hls) = hs.head
    assert(name == "github.com/org1/repo1")
    // every highlighted range is exactly the literal
    assert(hls.nonEmpty && hls.forall { case (s, e) =>
      name.substring(s, e).equalsIgnoreCase("repo1") })
    // regex branch: ranges are the regex matches
    val hr = highlighted("repo:/org[0-9]/", 50)
    assert(hr.size == 10 && hr.forall { case (_, n, _, h) =>
      h.nonEmpty && h.forall { case (s, e) =>
        n.substring(s, e).matches("(?i)org[0-9]") } })
  }

  test("executePage: one-pass metadata equals the separate faces (C7)") {
    val q = "repo:repo1 parse"
    val pm = exec.executePage(q, 5)
    val wantTop = exec.execute(q, 5).collect().toSeq
    assert(pm.topk == wantTop)
    val all = exec.execute(q, 100000).toDF()
    assert(pm.total == all.count())
    // histograms come back top-N ordered: count desc, value asc
    def topOrder(s: Seq[(String, Long)]) = s.sortBy { case (v, c) => (-c, v) }
    val wantLangs = topOrder(searcher.langStats(all).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq)
    assert(pm.langStats == wantLangs)
    val wantRepos = topOrder(searcher.repoStats(all).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq)
    assert(pm.repoStats == wantRepos)
    // statsTopN truncates the VALUE LIST (top by count), never the counts
    val pm1 = exec.executePage(q, 5, statsTopN = 1)
    assert(pm1.langStats == wantLangs.take(1))
    assert(pm1.repoStats == wantRepos.take(1))
    assert(pm1.total == pm.total && pm1.topk == pm.topk)
  }

  test("executePage: a failing top-k action still unpersists the candidate " +
       "pass after every harvest action finished") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a negative k makes the top-k action throw while both histogram
    // actions run over the cached frame
    intercept[Exception](exec.executePage("parse", -1))
    assert(sc.getPersistentRDDs.keySet == before,
      s"leaked: ${sc.getPersistentRDDs.keySet -- before}")
  }

  test("executeAny file hits carry path highlight ranges (execute.rs:603-607)") {
    val f = exec.executeAny("path:mod1 if", 50).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      val path = r.getString(3)
      val hls = r.getSeq[org.apache.spark.sql.Row](5)
        .map(h => (h.getInt(0), h.getInt(1)))
      assert(hls.nonEmpty, s"path '$path' must highlight the path literal")
      hls.foreach { case (s, e) =>
        assert(path.substring(s, e).equalsIgnoreCase("mod1"),
          s"range ($s,$e) of '$path'")
      }
    }
    // a query with no path label highlights nothing on file hits
    val bare = exec.executeAny("parse", 5).collect()
    assert(bare.forall(_.getSeq[org.apache.spark.sql.Row](5).isEmpty))
    // repo rows keep their name highlights through executeAny
    val r = exec.executeAny("repo:repo1", 5).collect()
    assert(r.forall(_.getSeq[org.apache.spark.sql.Row](5).nonEmpty))
  }

  test("executeAny routes to the winning reader (query_with analog)") {
    val f = exec.executeAny("parse", 5).collect()
    assert(f.nonEmpty && f.forall(_.getString(0) == "file"))
    val r = exec.executeAny("repo:repo1", 5).collect()
    assert(r.map(r0 => (r0.getString(0), r0.getString(2))).toSeq ==
      Seq(("repo", "github.com/org1/repo1")))
    val o = exec.executeAny("open:true repo:repo1 path:", 100).collect()
    assert(o.nonEmpty && o.forall(x =>
      Set("dir", "file-entry")(x.getString(0))))
    intercept[IllegalArgumentException](exec.executeAny("branch:dev", 5))
    // mixed OR where only a NON-head branch is open-routed: executeOpen
    // must select the open branch, not parse(input).head (round-2 ADVICE —
    // the reference's OpenReader runs over all queries, query/execute.rs)
    val mixed = exec
      .executeOpen("lang:rust parse or open:true repo:repo1 path:src/")
      .collect()
    assert(mixed.nonEmpty && mixed.forall(_.getString(0).contains("repo1")))
  }

  test("executeWithSnippets: case-sensitive and OR-branch hits snippet " +
       "under their own patterns (round-3 review)") {
    // case-sensitive: hits are verified against the RAW literal, so the
    // snippet pattern must be that literal too — the lowercased token
    // alternation matched case-sensitively produced n_snippets=0
    val cs = exec.executeWithSnippets("case:sensitive parse", 20).collect()
    assert(cs.nonEmpty)
    assert(cs.forall(_.getInt(5) > 0),
      cs.map(r => (r.getLong(0), r.getInt(5))).mkString(","))
    // a doc hit only via the second OR branch still gets snippets
    val or2 = exec.executeWithSnippets("zzzznotfound or parse", 20).collect()
    assert(or2.nonEmpty && or2.forall(_.getInt(5) > 0),
      or2.map(r => (r.getLong(0), r.getInt(5))).mkString(","))
  }

  test("open:/listDir: immediate children of a path prefix (D6)") {
    val root = exec.executeOpen("open:true path:").collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(root == Set(("src/", true))) // all paths live under src/
    val sub = exec.executeOpen("open:true repo:repo1 path:src/")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(sub.nonEmpty)
    assert(sub.forall { case (repo, e, d) =>
      repo.contains("repo1") && e.startsWith("src/mod") && d })
    // file level: entries are full paths, is_dir=false
    val dir = sub.head._2
    val files = exec.executeOpen(s"open:true repo:repo1 path:$dir")
      .collect().map(r => (r.getString(1), r.getBoolean(2)))
    assert(files.nonEmpty)
    assert(files.forall { case (e, d) => e.startsWith(dir) && !d })
    // parity with the docs table
    val want = oracle.docs.filter(d => d.repo.toLowerCase.contains("repo1") &&
      d.path.startsWith(dir) && !d.path.drop(dir.length).contains("/"))
      .map(_.path).toSet
    assert(files.map(_._1).toSet == want)
  }
}
