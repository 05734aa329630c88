package graft.engine

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException,
  ExecutorService, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.index.PostingRun

/** Driver-local reads of an index's postings and docs tables — the read
  * layer of the small-query path (QueryExecutor). Rows come through
  * parquet-hadoop's file reader and Spark's own parquet row converter
  * (ParquetReadSupport), called in the driver, so no Spark job runs.
  *
  * The files are those of the parquet relation under `postings` / `docs`
  * (the one holding the columns read — MultiSearcher's docs frame also
  * scans its tombstones), as the relation listed them. A Searcher's files
  * are immutable for its lifetime, so each table is opened once, on its
  * first read: per file, the input file of its listed status and its
  * footer, read once; files whose footer counts zero rows are dropped and
  * never opened again. Each required schema (postings; docs metadata;
  * docs page) gets one Hadoop conf, derived on its first read from one
  * copy of the session's. Pages and rows are never kept: every call
  * re-reads what it needs.
  *
  * Each read passes an `in` filter on the key column (`term`, `docId`)
  * to the reader, so parquet skips row groups and pages whose statistics,
  * dictionary or column index cannot hold a wanted key — IndexBuilder
  * writes small pages (IndexBuilder.PageOptions), so a few keys decode a
  * few pages; the rows it does return are filtered on the raw key before
  * deserializing.
  *
  * A call reads its files in parallel, as one fold per file on a shared
  * daemon pool of one thread per driver core (a one-file table is read
  * inline): each fold returns what the call wants of its file — the
  * wanted posting runs, the wanted docs rows, or the regex verify's best
  * k of them — and the calling thread merges the results in file order.
  * A fold holds no more rows than a sequential scan of all the files
  * would. A fold that throws stops the others; the call returns once
  * every reader is closed and rethrows the first failure in file order.
  */
private[engine] class LocalIndex(spark: SparkSession,
                                       postings: Dataset[_],
                                       docs: Dataset[_]) {
  import LocalIndex._

  /** The session's Hadoop conf, copied once: the base of every conf. */
  private lazy val hadoopConf: Configuration =
    spark.sessionState.newHadoopConf()

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
    /** The files holding rows, each opened once. */
    private lazy val files: Seq[OpenFile] = relation.location
      .listFiles(Nil, Nil).flatMap(_.files)
      .map(f => new OpenFile(f.fileStatus, hadoopConf)).filter(_.rowCount > 0)
    private val confs = new ConcurrentHashMap[StructType, Configuration]()

    /** `perFile` of the rows of `required` columns in the pages that may
      * hold `key`, once per file, in file order.
      */
    def fold[A](required: StructType, key: FilterPredicate)
               (perFile: Iterator[InternalRow] => A): Seq[A] = {
      val conf = confs.computeIfAbsent(required,
        (r: StructType) => readConf(hadoopConf, r, spark))
      val filter = FilterCompat.get(key)
      val failed = new AtomicBoolean(false)
      def one(f: OpenFile): A =
        f.read(conf, filter)(rows => perFile(rows.takeWhile(_ => !failed.get)))
      if (files.size <= 1) return files.map(one)
      val tasks = files.map(f => pool.submit(new Callable[A] {
        def call(): A = {
          // a fold that starts after another failed opens no reader
          if (failed.get) return null.asInstanceOf[A]
          // Spark's row converter reads the active session's SQLConf
          SparkSession.setActiveSession(spark)
          try one(f)
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
    postingTable.fold(postingTable.schema, FilterApi.in(
        FilterApi.binaryColumn("term"),
        terms.iterator.map(Binary.fromString).toSet.asJava)) { rows =>
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
    docTable.fold(required, FilterApi.in(FilterApi.longColumn("docId"),
        ids.iterator.map(java.lang.Long.valueOf).toSet.asJava)) { rows =>
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

  /** A parquet file of an index table, opened once: the input file of its
    * listed status, and its footer, read here.
    */
  private final class OpenFile(status: FileStatus, base: Configuration) {
    private val file = HadoopInputFile.fromStatus(status, base)
    private val footer: ParquetMetadata = {
      val in = file.newStream()
      try ParquetFileReader.readFooter(file,
        HadoopReadOptions.builder(base, status.getPath).build(), in)
      finally in.close()
    }
    val rowCount: Long = footer.getBlocks.asScala.map(_.getRowCount).sum

    /** `perFile` of the rows of the columns `conf` requests (readConf)
      * in the pages that may hold `key`, from a reader open for the call.
      */
    def read[A](conf: Configuration, key: FilterCompat.Filter)
               (perFile: Iterator[InternalRow] => A): A = {
      // skipping is on whatever the session's conf says
      val options = HadoopReadOptions.builder(conf, status.getPath)
        .withRecordFilter(key).useStatsFilter(true)
        .useDictionaryFilter(true).useColumnIndexFilter(true).build()
      val in = file.newStream()
      val reader =
        try ParquetFileReader.open(file, footer, options, in)
        catch { case e: Throwable => in.close(); throw e }
      try perFile(rows(reader, conf))
      finally reader.close()
    }
  }

  /** `base` set up for Spark's parquet row converter to read `required`:
    * the settings Spark's parquet reader gives its own conf.
    */
  private def readConf(base: Configuration, required: StructType,
                       spark: SparkSession): Configuration = {
    val conf = new Configuration(base)
    val sql = spark.sessionState.conf
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    for (e <- Seq(SQLConf.CASE_SENSITIVE, SQLConf.NESTED_SCHEMA_PRUNING_ENABLED,
                  SQLConf.PARQUET_BINARY_AS_STRING,
                  SQLConf.PARQUET_INT96_AS_TIMESTAMP,
                  SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
                  SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
                  SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION))
      conf.setBoolean(e.key, sql.getConf(e))
    conf
  }

  /** The rows of the pages `reader` keeps, as Spark's parquet row
    * converter materializes them: one mutable row, reused. Rows are not
    * filtered one by one here: parquet's record-level `in` compares a
    * key with every wanted key in turn, and the callers' raw-key filter
    * does the same with one hash lookup.
    */
  private def rows(reader: ParquetFileReader,
                   conf: Configuration): Iterator[InternalRow] = {
    val meta = reader.getFooter.getFileMetaData
    val support = new ParquetReadSupport()
    val context = support.init(new InitContext(conf, meta.getKeyValueMetaData
      .asScala.map { case (k, v) => k -> java.util.Set.of(v) }.asJava,
      meta.getSchema))
    reader.setRequestedSchema(context.getRequestedSchema)
    val materializer = support.prepareForRead(conf, meta.getKeyValueMetaData,
      meta.getSchema, context)
    val columns = new ColumnIOFactory(meta.getCreatedBy)
      .getColumnIO(context.getRequestedSchema, meta.getSchema, true)
    new Iterator[InternalRow] {
      private var records: org.apache.parquet.io.RecordReader[InternalRow] = _
      private var left = 0L // records of the current row group not yet read
      def hasNext: Boolean = {
        while (left == 0) {
          val pages = reader.readNextFilteredRowGroup()
          if (pages == null) return false
          records = columns.getRecordReader(pages, materializer,
            FilterCompat.NOOP)
          left = pages.getRowCount
        }
        true
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        left -= 1
        records.read()
      }
    }
  }
}
