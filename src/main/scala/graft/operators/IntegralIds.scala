package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Integral id columns as longs, for the RDD loops of [[PageRank]] and
  * [[ConnectedComponents]]: ids are cast to long on the way in and back
  * to the input column's type on the way out. */
private[operators] object IntegralIds {

  /** `cols` of `df` cast to long; any non-integral id type is rejected. */
  def longs(df: DataFrame, op: String, cols: String*): RDD[InternalRow] = {
    cols.foreach { c =>
      df.schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType => ()
        case t => throw new IllegalArgumentException(
          s"$op needs integral ids; column $c is ${t.simpleString}")
      }
    }
    df.select(cols.map(c => col(c).cast(LongType)): _*).queryExecution.toRdd
  }

  /** A long id back in the integral type `t`. */
  def toId(t: DataType): Long => Any = t match {
    case LongType => identity
    case IntegerType => _.toInt
    case ShortType => _.toShort
    case ByteType => _.toByte
  }
}
