package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CoarseQuantizer, VectorOps}
import graft.operators.{Dedup, Similarity}

/** The one nearest-centroid rule, [[CoarseQuantizer.nearest]], against
  * the DataFrame probe that q48, q290's delta and the k-means stage ran
  * before it and the top-2 window q324 ran: the same cells, the same
  * scores by their bits, ties to the lower cell. And the assignments
  * that use it are narrow: no Exchange. */
class CoarseQuantizerSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Every vector of `e` scored against every centroid of `q` as the
    * DataFrame plans did, kept inline as the reference: a broadcast join
    * on a constant key derived from a column, and the cosine of the
    * float vector and the double centroid over their norms. */
  private def referenceScored(e: DataFrame, q: CoarseQuantizer): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("nrm"))
      .withColumn("jk", col("vec_id") * 0)
      .join(broadcast(q.table(spark)
        .withColumn("cnorm", VectorOps.l2NormDouble(col("c")))
        .withColumn("jk", col("cell").cast("long") * 0)), Seq("jk"))
      .withColumn("score",
        VectorOps.dotFloatDouble(col("embedding"), col("c")) /
          (col("nrm") * col("cnorm")))

  /** The reference argmax: `max_by` of the cell over (score, -cell), and
    * the winning score. */
  private def referenceNearest(e: DataFrame,
      q: CoarseQuantizer): Map[Long, Seq[(Int, Long)]] =
    referenceScored(e, q)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"),
        struct(col("score"), (-col("cell")).as("nc"))).as("cell"),
        max(col("score")).as("s"))
      .collect()
      .map(r => r.getLong(0) -> Seq((r.getInt(1), bits(r.getDouble(2)))))
      .toMap

  /** The reference top-2: a row_number window over (score desc, cell
    * asc) per vector. */
  private def referenceTop2(e: DataFrame,
      q: CoarseQuantizer): Map[Long, Seq[(Int, Long)]] = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("cell").asc)
    referenceScored(e, q)
      .select(col("vec_id"), col("cell"), col("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .collect().groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(3))
          .map(r => (r.getInt(1), bits(r.getDouble(2)))).toSeq
      }
  }

  /** `q.nearest(v, n)` of every vector of `e`, run in its tasks. */
  private def nearest(e: DataFrame, q: CoarseQuantizer,
      n: Int): Map[Long, Seq[(Int, Long)]] = {
    val session = spark
    import session.implicits._
    e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) => id -> q.nearest(v, n).toSeq }
      .collect()
      .map { case (id, cs) => id -> cs.map { case (c, s) => (c, bits(s)) } }
      .toMap
  }

  /** The sf embeddings plus a copy of the highest label's rows under a
    * new label below every other, with new ids: the two labels'
    * centroids are identical, so each vector nearest to one is tied
    * with the other, and the lower (new) label must win. */
  private def duplicatedCentroidFixture(): (String, Int, Int) = {
    val dir = tempDir("quantizer_tie").toString
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val r = e.agg(max("label"), min("label"), max("vec_id")).head()
    val (hi, lo) = (r.getInt(0), r.getInt(1) - 1)
    e.unionByName(e.filter(col("label") === hi)
        .withColumn("vec_id", col("vec_id") + r.getLong(2) + 1)
        .withColumn("label", lit(lo)))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    (dir, hi, lo)
  }

  test("nearest equals the DataFrame probe and the top-2 window bit for " +
      "bit, over label and k-means centroids, on a duplicated-centroid " +
      "tie, at 1 and 4 partitions") {
    val (tieDir, hi, lo) = duplicatedCentroidFixture()
    Seq(sf, tieDir).foreach { dir =>
      val quantizers = Seq(
        "label" -> Similarity.ivfpqTrainRelations(spark, dir)._1,
        "k-means" -> Dedup.kmeansEC(spark, dir)._2)
      quantizers.foreach { case (what, q) =>
        assert(q.cells.length > 1, s"$what of $dir")
        Seq(1, 4).foreach { parts =>
          val e = spark.read.parquet(s"$dir/embeddings.parquet")
            .repartition(parts)
          val at = s"$what centroids of $dir at $parts partitions"
          val one = nearest(e, q, 1)
          assert(one.nonEmpty, at)
          assert(one === referenceNearest(e, q), at)
          assert(nearest(e, q, 2) === referenceTop2(e, q), at)
        }
      }
    }
    val q = Similarity.ivfpqTrainRelations(spark, tieDir)._1
    val e = spark.read.parquet(s"$tieDir/embeddings.parquet")
    val top2 = nearest(e, q, 2).values.toSeq
    assert(top2.exists(_.head._1 == lo), s"label $lo is nobody's nearest")
    assert(!top2.exists(_.head._1 == hi),
      s"tied centroids of labels $lo and $hi went to $hi")
    // where the two tie for first, both are the top-2, scores equal
    top2.filter(_.head._1 == lo).foreach { t =>
      assert(t.map(_._1) === Seq(lo, hi) && t(0)._2 === t(1)._2)
    }
  }

  test("the k-means assignment and q290's codes are one narrow pass: no " +
      "Exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    val (e, q) = Dedup.kmeansEC(spark, sf)
    val (_, _, codes) = Similarity.ivfpqAppendRelations(spark, sf)
    Seq("k-means assignment" -> Dedup.kmeansAssign(e, q),
        "q290 codes" -> codes).foreach { case (what, df) =>
      // the helper looks inside adaptive plans and their query stages
      val plan = df.queryExecution.executedPlan
      val exchanges = new AdaptiveSparkPlanHelper {}.collect(plan) {
        case x: Exchange => x
      }
      assert(exchanges.isEmpty, s"the $what plan exchanges:\n$plan")
      assert(df.count() > 0, what)
    }
  }
}
