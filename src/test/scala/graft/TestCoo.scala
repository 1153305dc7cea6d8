package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.matrix.CooMatrix

/** Local COO builders and readers for tests (reference parity, small
  * fixtures). */
object TestCoo {
  /** Build from a local dense row-major matrix: cell (i, j) holds m(i)(j),
    * keys as longs. */
  def fromDense(spark: SparkSession, m: Seq[Seq[Double]]): CooMatrix = {
    import spark.implicits._
    val triples = for {
      (r, i) <- m.zipWithIndex
      (v, j) <- r.zipWithIndex
    } yield (i.toLong, j.toLong, v)
    CooMatrix(triples.toDF(CooMatrix.Row, CooMatrix.Col, CooMatrix.Value))
  }

  /** Marginal vector from local values (index = position). */
  def marginal(spark: SparkSession, v: Seq[Double]): DataFrame = {
    import spark.implicits._
    v.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF(CooMatrix.Idx, CooMatrix.Value)
  }

  /** The matrix's cells keyed by (row, col). */
  def toLocalMap(m: CooMatrix): Map[(Any, Any), Double] =
    m.df.collect().map(r => ((r.get(0), r.get(1)), r.getDouble(2))).toMap
}
