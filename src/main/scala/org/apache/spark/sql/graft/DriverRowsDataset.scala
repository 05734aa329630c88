package org.apache.spark.sql.graft

import scala.collection.{immutable, mutable}

import org.apache.spark.sql.{Dataset, Encoder, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.QueryExecution

/** A Dataset over the LocalRelation of rows built in the driver, whose
  * collect() returns a copy of those rows: it runs no optimizer, planner,
  * SQL execution or deserializer. Every other action and transformation
  * (count, head, select, as, toDF, queryExecution) plans over the
  * LocalRelation like any Dataset, so the executed plan is the same
  * LocalTableScan that `createDataFrame` gives. It lives under
  * org.apache.spark.sql because classic.Dataset's constructor is
  * private[sql].
  */
final class DriverRowsDataset[T] private (qe: QueryExecution,
                                          encoder: Encoder[T],
                                          rows: Array[T])
    extends classic.Dataset[T](qe, encoder) {
  override def collect(): Array[T] = rows.clone()
}

object DriverRowsDataset {
  /** The Dataset of `rows` under `encoder`: Rows (fields as createDataFrame
    * takes them, nested structs as Rows or Products) for a Row encoder, else
    * the encoder's Product class. For a Row encoder collect() returns what
    * Spark's collect of the relation returns: each row, nested structs
    * included, carries its struct's schema, and each field its external
    * class.
    */
  def apply[T](spark: SparkSession, rows: Seq[T],
               encoder: Encoder[T]): Dataset[T] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      val schema = encoder.schema
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      val relation = LocalRelation(DataTypeUtils.toAttributes(schema),
        rows.map(toCatalyst(_).asInstanceOf[InternalRow]))
      val collected: Array[T] =
        if (encoder.clsTag.runtimeClass != classOf[Row])
          rows.toArray(encoder.clsTag)
        else {
          val toScala = CatalystTypeConverters.createToScalaConverter(schema)
          relation.data.map(r => asCollected(toScala(r)).asInstanceOf[T])
            .toArray(encoder.clsTag)
        }
      val qe = session.sessionState.executePlan(relation)
      qe.assertAnalyzed()
      new DriverRowsDataset(qe, encoder, collected)
    }
  }

  /** A converted external value as Spark's collect builds it: the
    * converters wrap an array in an immutable ArraySeq, the row
    * deserializer in a mutable one.
    */
  private def asCollected(v: Any): Any = v match {
    case r: GenericRowWithSchema =>
      new GenericRowWithSchema(r.toSeq.map(asCollected).toArray, r.schema)
    case a: immutable.ArraySeq[_] =>
      mutable.ArraySeq.make(a.iterator.map(asCollected).toArray[Any])
    case x => x
  }
}
