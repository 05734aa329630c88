package graft.engine

import java.util.concurrent.{Callable, ExecutionException, ExecutorService,
  Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation,
  LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.index.PostingRun

/** Driver-local reads of an index's postings and docs tables — the read
  * layer of the small-query path (QueryExecutor). Rows come through
  * Spark's own parquet reader called in the driver, so no Spark job runs.
  *
  * The files are those of the parquet relation under `postings` / `docs`
  * (the one holding the columns read — MultiSearcher's docs frame also
  * scans its tombstones), as the relation listed them. Each read passes
  * an `In` filter on the key column (`term`, `docId`) to the reader, so
  * parquet skips row groups and pages whose min/max (or dictionary)
  * cannot hold a wanted key — IndexBuilder writes small pages
  * (IndexBuilder.PageOptions), so a few keys decode a few pages; the rows
  * it does return are filtered on the raw key before deserializing.
  *
  * A call reads its files in parallel, as one fold per file on a shared
  * daemon pool of one thread per driver core (a one-file table is read
  * inline): each fold returns what the call wants of its file — the
  * wanted posting runs, the wanted docs rows, or the regex verify's best
  * k of them — and the calling thread merges the results in file order.
  * A fold holds no more rows than a sequential scan of all the files
  * would. A fold that throws stops the others; the call returns once
  * every reader is closed and rethrows the first failure in file order.
  * Nothing read is cached: every call re-reads what it needs.
  */
private[engine] class LocalIndex(spark: SparkSession,
                                       postings: Dataset[_],
                                       docs: Dataset[_]) {

  /** The parquet files and data schema of the relation under `ds` whose
    * schema holds every column of `cols`.
    */
  private final class Table(ds: Dataset[_], cols: Seq[String]) {
    private lazy val relation: HadoopFsRelation =
      ds.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
        .collectFirst { case r: HadoopFsRelation
            if cols.forall(r.dataSchema.fieldNames.contains) => r }
        .getOrElse(throw new IllegalArgumentException(
        s"no parquet relation with columns ${cols.mkString(", ")}"))
    lazy val schema: StructType = relation.dataSchema
    private lazy val files: Seq[FileStatus] = relation.location
      .listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)

    /** `perFile` of the rows of `required` columns that the reader returns
      * under `filter`, once per file, in file order. One reader per call:
      * the filter is baked into it, and the parquet format writes the
      * requested schema into the Hadoop conf it is given, so each reader
      * also gets its own conf.
      */
    def fold[A](required: StructType, filter: sources.Filter)
               (perFile: Iterator[InternalRow] => A): Seq[A] = {
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, schema, new StructType(), required, Seq(filter),
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      val failed = new AtomicBoolean(false)
      def one(st: FileStatus): A = {
        val it = read(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty[String],
          st.getModificationTime, st.getLen))
        try perFile(it.takeWhile(_ => !failed.get))
        finally it match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
      }
      if (files.size <= 1) return files.map(one)
      val tasks = files.map(st => LocalIndex.pool.submit(new Callable[A] {
        def call(): A = {
          // a fold that starts after another failed opens no reader
          if (failed.get) return null.asInstanceOf[A]
          SparkSession.setActiveSession(spark)
          try one(st)
          catch { case e: Throwable => failed.set(true); throw e }
          finally SparkSession.clearActiveSession()
        }
      }))
      var error: Throwable = null
      // get() waits for every fold, so no reader is open once this returns
      val out = tasks.map { t =>
        try t.get()
        catch {
          case e: ExecutionException =>
            if (error == null) error = e.getCause
            null.asInstanceOf[A]
        }
      }
      if (error != null) throw error
      out
    }
  }

  private val postingTable = new Table(postings, Seq("term", "blocks"))
  private lazy val postingEncoder = ExpressionEncoder[PostingRun]()
    .resolveAndBind(DataTypeUtils.toAttributes(postingTable.schema))

  /** Every posting run of `terms`, in file order. */
  def postingRuns(terms: Iterable[String]): Array[PostingRun] = {
    val keys = terms.iterator.map(UTF8String.fromString).toSet
    if (keys.isEmpty) return Array.empty
    val termIdx = postingTable.schema.fieldIndex("term")
    postingTable.fold(postingTable.schema,
        sources.In("term", terms.iterator.distinct.toArray[Any])) { rows =>
      // a deserializer holds mutable state: one per fold
      val decode = postingEncoder.createDeserializer()
      rows.collect { case row if keys.contains(row.getUTF8String(termIdx)) =>
        decode(row.copy())
      }.toArray
    }.flatten.toArray
  }

  private val MetaCols = Seq("docId", "repo", "path", "lang")
  private val PageCols = MetaCols ++ Seq("content", "lineEnds")
  private val docTable = new Table(docs, PageCols)

  /** `perFile` of the docs rows of `ids` each file holds, once per file,
    * in file order. A row is a PageRow with score 0: docId, repo, path,
    * lang, and with `content` also content and lineEnds (else null).
    */
  def foldDocs[A](ids: collection.Set[Long], content: Boolean)
                 (perFile: Iterator[PageRow] => A): Seq[A] = {
    if (ids.isEmpty) return Nil
    def str(row: InternalRow, i: Int): String =
      if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    val required = StructType((if (content) PageCols else MetaCols)
      .map(docTable.schema(_)))
    docTable.fold(required, sources.In("docId", ids.toArray[Any])) { rows =>
      perFile(rows.filter(row => ids.contains(row.getLong(0))).map(row =>
        PageRow(row.getLong(0), 0f, str(row, 1), str(row, 2), str(row, 3),
          if (content) str(row, 4) else null,
          if (content && !row.isNullAt(5)) row.getArray(5).toIntArray()
          else null)))
    }
  }

  /** The docs rows of `ids` (see foldDocs), by docId. */
  def docRows(ids: collection.Set[Long], content: Boolean): Map[Long, PageRow] =
    foldDocs(ids, content)(_.toArray).iterator.flatten.map(r => r.docId -> r)
      .toMap
}

private[engine] object LocalIndex {
  /** The threads of every LocalIndex's per-file folds: one per driver
    * core, daemons, so an idle pool never keeps the JVM alive.
    */
  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger()
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors(),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-local-read-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }
}
