package graft.engine

import scala.collection.mutable

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
  * cannot hold a wanted key; the rows it does return are filtered on the
  * raw key before deserializing. Nothing read is cached: every call
  * re-reads what it needs.
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
    private lazy val files = relation.location.listFiles(Nil, Nil)
      .flatMap(_.files).map(_.fileStatus)

    /** Calls `f` with each row of `required` columns that the reader
      * returns under `filter`. A reader per call: the filter is baked into
      * it, and the parquet format writes the requested schema into the
      * Hadoop conf it is given, so each reader also gets its own conf.
      */
    def scan(required: StructType, filter: sources.Filter)
            (f: InternalRow => Unit): Unit = {
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, schema, new StructType(), required, Seq(filter),
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      files.foreach { st =>
        val it = read(PartitionedFile(InternalRow.empty,
          SparkPath.fromPath(st.getPath), 0L, st.getLen, Array.empty[String],
          st.getModificationTime, st.getLen))
        try it.foreach(f)
        finally it match {
          case c: java.io.Closeable => c.close()
          case _ =>
        }
      }
    }
  }

  private val postingTable = new Table(postings, Seq("term", "blocks"))
  private lazy val postingEncoder = ExpressionEncoder[PostingRun]()
    .resolveAndBind(DataTypeUtils.toAttributes(postingTable.schema))

  /** Every posting run of `terms`. */
  def postingRuns(terms: Iterable[String]): Array[PostingRun] = {
    val keys = terms.iterator.map(UTF8String.fromString).toSet
    if (keys.isEmpty) return Array.empty
    val termIdx = postingTable.schema.fieldIndex("term")
    // a deserializer holds mutable state: one per call, for concurrent
    // callers
    val decode = postingEncoder.createDeserializer()
    val out = mutable.ArrayBuffer.empty[PostingRun]
    postingTable.scan(postingTable.schema,
        sources.In("term", terms.iterator.distinct.toArray[Any])) { row =>
      if (keys.contains(row.getUTF8String(termIdx)))
        out += decode(row.copy())
    }
    out.toArray
  }

  private val MetaCols = Seq("docId", "repo", "path", "lang")
  private val PageCols = MetaCols ++ Seq("content", "lineEnds")
  private val docTable = new Table(docs, PageCols)

  /** Calls `f` with the docs row of each of `ids`, as a PageRow with score
    * 0: docId, repo, path, lang, and with `content` also content and
    * lineEnds (else null).
    */
  def scanDocs(ids: collection.Set[Long], content: Boolean)
              (f: PageRow => Unit): Unit = {
    if (ids.isEmpty) return
    def str(row: InternalRow, i: Int): String =
      if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    val required = StructType((if (content) PageCols else MetaCols)
      .map(docTable.schema(_)))
    docTable.scan(required, sources.In("docId", ids.toArray[Any])) { row =>
      val id = row.getLong(0)
      if (ids.contains(id))
        f(PageRow(id, 0f, str(row, 1), str(row, 2), str(row, 3),
          if (content) str(row, 4) else null,
          if (content && !row.isNullAt(5)) row.getArray(5).toIntArray()
          else null))
    }
  }

  /** The docs rows of `ids` (see scanDocs), by docId. */
  def docRows(ids: collection.Set[Long], content: Boolean): Map[Long, PageRow] = {
    val out = Map.newBuilder[Long, PageRow]
    scanDocs(ids, content)(r => out += r.docId -> r)
    out.result()
  }
}
