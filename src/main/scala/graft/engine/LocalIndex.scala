package graft.engine

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException,
  ExecutorService, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData,
  ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.{ColumnIndex, OffsetIndex}
import org.apache.parquet.internal.filter2.columnindex.ColumnIndexStore
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{Block, PostingRun}

/** Driver-local reads of an index's postings and docs tables — the read
  * layer of the small-query path (QueryExecutor). Rows come through
  * parquet-hadoop's file reader and Spark's own parquet row converter
  * (ParquetReadSupport), called in the driver, so no Spark job runs.
  *
  * The files are those of the parquet relation under `postings` / `docs`
  * (the one holding the columns read — MultiSearcher's docs frame also
  * scans its tombstones), as the relation listed them. A Searcher's files
  * are immutable for its lifetime, so each table is opened once, on its
  * first read, and only metadata is kept: per file, the input file of its
  * listed status and its footer, read once (files whose footer counts
  * zero rows are dropped and never opened again), and its row groups'
  * page indexes — each column's column index and offset index, read on
  * the first read that asks for it; each required schema (postings; docs
  * metadata; docs page) gets one Hadoop conf, derived on its first read
  * from one copy of the session's. Pages and rows are never kept: every
  * call re-reads what it needs.
  *
  * Each read passes the reader a balanced OR of one `eq` per wanted key
  * on the key column (`term`, `docId`), so parquet skips the row groups
  * and pages whose statistics, dictionary or column index cannot hold a
  * wanted key. Not `in`: parquet's column-index filter widens an `in` to
  * the range [min key, max key] and decodes every page between, while
  * each `eq` keeps only the pages of its key. IndexBuilder.PageOptions
  * writes pages of a few rows, so a few keys decode a few pages; the rows
  * a page holds beside a wanted one are dropped on the raw key before
  * they are built into results.
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

  /** A posting run built straight from a row of the postings schema. */
  private lazy val postingRun: InternalRow => PostingRun = {
    val schema = postingTable.schema
    val Seq(term, bucket, df, cf, maxTfNorm, blocks) =
      Seq("term", "bucket", "df", "cf", "maxTfNorm", "blocks")
        .map(schema.fieldIndex)
    val block = schema(blocks).dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType]
    val Seq(first, last, maxTf, bMaxTfNorm, minNormId, n, bytes) =
      Seq("firstDocId", "lastDocId", "maxTf", "maxTfNorm", "minNormId", "n",
        "bytes").map(block.fieldIndex)
    row => {
      val bs = row.getArray(blocks)
      PostingRun(row.getUTF8String(term).toString, row.getInt(bucket),
        row.getLong(df), row.getLong(cf), row.getFloat(maxTfNorm),
        ArraySeq.unsafeWrapArray(Array.tabulate(bs.numElements()) { i =>
          val b = bs.getStruct(i, block.size)
          Block(b.getLong(first), b.getLong(last), b.getInt(maxTf),
            b.getFloat(bMaxTfNorm), b.getInt(minNormId), b.getInt(n),
            b.getBinary(bytes))
        }))
    }
  }

  /** Every posting run of `terms`, in file order. */
  def postingRuns(terms: Iterable[String]): Array[PostingRun] = {
    val distinct = terms.toSeq.distinct
    if (distinct.isEmpty) return Array.empty
    val keys = distinct.map(UTF8String.fromString).toSet
    val termIdx = postingTable.schema.fieldIndex("term")
    val key = anyOf(distinct.map(t =>
      FilterApi.eq(FilterApi.binaryColumn("term"), Binary.fromString(t))))
    postingTable.fold(postingTable.schema, key) { rows =>
      rows.collect { case row if keys.contains(row.getUTF8String(termIdx)) =>
        postingRun(row)
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
    val key = anyOf(ids.toSeq.map(id =>
      FilterApi.eq(FilterApi.longColumn("docId"), java.lang.Long.valueOf(id))))
    docTable.fold(required, key) { rows =>
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

  /** A balanced OR of `keys` (at least one): a tree of depth log2 of their
    * number, which parquet's filters walk recursively.
    */
  private def anyOf(keys: Seq[FilterPredicate]): FilterPredicate =
    if (keys.size == 1) keys.head
    else {
      val (l, r) = keys.splitAt(keys.size / 2)
      FilterApi.or(anyOf(l), anyOf(r))
    }

  /** A parquet file of an index table, opened once: the input file of its
    * listed status, its footer, read here, and its row groups' page
    * indexes, each read on first use.
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
    /** By each row group's starting position. */
    private val pageIndexes: Map[Long, PageIndexes] = footer.getBlocks.asScala
      .map(b => b.getStartingPos -> new PageIndexes(b)).toMap

    /** `perFile` of the rows of the columns `conf` requests (readConf)
      * in the pages that may hold `key`, from a reader open for the call.
      */
    def read[A](conf: Configuration, key: FilterCompat.Filter)
               (perFile: Iterator[InternalRow] => A): A = {
      // skipping is on whatever the session's conf says. Vectored reads
      // are off: a read of a few keys is many small page ranges, and a
      // vectored read of them cost more than a seek and read per range
      // (100 docIds with content over the 5000 docs of an sf0.1 index,
      // warm: 6.5 ms vectored, 3.0 ms not)
      val options = HadoopReadOptions.builder(conf, status.getPath)
        .withRecordFilter(key).useStatsFilter(true)
        .useDictionaryFilter(true).useColumnIndexFilter(true)
        .withUseHadoopVectoredIo(false).build()
      val in = file.newStream()
      val reader =
        try new ParquetFileReader(file, footer, options, in) {
          // `i` counts the row groups the statistics and dictionary
          // filters left
          override def getColumnIndexStore(i: Int): ColumnIndexStore =
            pageIndexes(getRowGroups.get(i).getStartingPos).store(this)
        }
        catch { case e: Throwable => in.close(); throw e }
      try perFile(rows(reader, conf))
      finally reader.close()
    }
  }

  /** The page indexes of a row group's columns, each read once, by the
    * first reader that asks for it, and kept.
    */
  private final class PageIndexes(block: BlockMetaData) {
    private val chunks: Map[ColumnPath, ColumnChunkMetaData] =
      block.getColumns.asScala.map(c => c.getPath -> c).toMap
    private val columnIndexes =
      new ConcurrentHashMap[ColumnPath, Option[ColumnIndex]]()
    private val offsetIndexes = new ConcurrentHashMap[ColumnPath, OffsetIndex]()

    /** The indexes, reading those not yet kept through `reader`. */
    def store(reader: ParquetFileReader): ColumnIndexStore =
      new ColumnIndexStore {
        def getColumnIndex(c: ColumnPath): ColumnIndex =
          chunks.get(c).flatMap(chunk => columnIndexes.computeIfAbsent(c,
            _ => Option(reader.readColumnIndex(chunk)))).orNull
        // a file written without page indexes: the filter keeps every
        // row, as it does over parquet's own store
        def getOffsetIndex(c: ColumnPath): OffsetIndex = {
          val chunk = chunks.get(c)
            .filter(_.getOffsetIndexReference != null)
            .getOrElse(throw new ColumnIndexStore.MissingOffsetIndexException(c))
          offsetIndexes.computeIfAbsent(c, _ => reader.readOffsetIndex(chunk))
        }
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
    * filtered one by one here: parquet's record-level filter walks the
    * OR of `eq` for every row, and the callers' raw-key filter does the
    * same with one hash lookup.
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
