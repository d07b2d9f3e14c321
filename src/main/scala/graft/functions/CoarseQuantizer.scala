package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** The coarse quantizer of IVF search, held on the driver and shipped in
  * the closures of the narrow passes that use it: the cells in
  * ascending order, their centroids and the centroids'
  * `VectorOps.l2NormDouble` norms. One coarse quantizer both assigns the
  * database vectors and probes the queries (IVFADC, Jégou, Douze &
  * Schmid, TPAMI 2011); here it also runs the k-means assignment.
  * [[nearest]] is the one nearest-centroid rule of the library. */
final class CoarseQuantizer private (val cells: Array[Int],
    val cents: Array[Array[Double]]) extends Serializable {

  /** √ of the left fold of c·c from 0.0, per centroid. */
  val norms: Array[Double] =
    cents.map(c => math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x)))

  /** The `n` cells nearest to the non-null vector `v`, best first, with
    * their scores. A score is the [[DotFold]] of `v` and the centroid
    * divided by the product of their norms (`v`'s by [[DotFold]] too),
    * the operation sequence of the DuckDB oracle; scores rank descending
    * under Spark's double ordering (`SQLOrderingUtil.compareDoubles`:
    * NaN largest, -0.0 == 0.0) and ties go to the lower cell. */
  def nearest(v: Array[Float], n: Int): Array[(Int, Double)] = {
    val vn = math.sqrt(DotFold.floatFloat(v, 0, v, 0, v.length))
    val scored = Array.tabulate(cells.length) { c =>
      (cells(c), DotFold.floatDouble(v, 0, cents(c), 0,
        math.min(v.length, cents(c).length)) / (vn * norms(c)))
    }
    scored.sortWith { case ((c1, s1), (c2, s2)) =>
      val o = SQLOrderingUtil.compareDoubles(s2, s1)
      o < 0 || (o == 0 && c1 < c2)
    }.take(n)
  }

  /** The quantizer as a (cell, c) relation: the persisted `centroids`
    * table. */
  def table(spark: SparkSession): DataFrame = {
    import spark.implicits._
    cells.zip(cents).toSeq.toDF("cell", "c")
  }
}

object CoarseQuantizer {
  /** The quantizer of the given (cell, centroid) pairs, in any order. */
  def apply(cents: Array[(Int, Array[Double])]): CoarseQuantizer = {
    val sorted = cents.sortBy(_._1)
    new CoarseQuantizer(sorted.map(_._1), sorted.map(_._2))
  }

  /** The quantizer whose cells are the groups of `rows`, (cell, qv) by
    * exact-grid vector, each centroid the [[CentroidAggregator]] mean of
    * its group, collected. */
  def fit(rows: Dataset[(Int, Array[Long])]): CoarseQuantizer = {
    import rows.sparkSession.implicits._
    apply(rows.groupByKey(_._1).mapValues(_._2)
      .agg(CentroidAggregator.toColumn).collect())
  }

  /** The quantizer of a (cell, c) relation ([[CoarseQuantizer.table]]). */
  def of(table: DataFrame): CoarseQuantizer = {
    import table.sparkSession.implicits._
    apply(table.select("cell", "c").as[(Int, Array[Double])].collect())
  }
}
