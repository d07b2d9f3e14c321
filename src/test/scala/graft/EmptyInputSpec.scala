package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Empty-input robustness: a production pipeline regularly feeds an
  * operator an empty batch (fresh partition, all-filtered slice). Every
  * dedup/similarity/prep operator must return an EMPTY result — not
  * throw, not hang in an iteration loop. Exercised against a staged sf
  * dir whose documents/embeddings tables have the real schemas and zero
  * rows. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty").toString
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[Row], docsSchema)
      .write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[Row], embSchema)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("dedup family returns empty on an empty corpus") {
    import graft.operators.Dedup
    assert(Dedup.exact(spark, emptyDir).count() === 0)
    assert(Dedup.ngramJaccard(spark, emptyDir).count() === 0)
    assert(Dedup.minhash(spark, emptyDir).count() === 0)
    assert(Dedup.simhash(spark, emptyDir).count() === 0)
    assert(Dedup.incrementalDedup(spark, emptyDir).count() === 0)
    assert(Dedup.dupClusters(spark, emptyDir).count() === 0)
  }

  test("embedding family returns empty on an empty vector table") {
    import graft.operators.{Dedup, Similarity}
    assert(Dedup.embeddingCosine(spark, emptyDir).count() === 0)
    assert(Similarity.annBruteForce(spark, emptyDir).count() === 0)
    assert(Similarity.annLsh(spark, emptyDir).count() === 0)
    assert(Similarity.embeddingQuantize(spark, emptyDir).count() === 0)
    // pcaPower's greatest(max|·|, 1) guards divide ride through empty
    // relations; the 4 fixed rounds never loop on convergence
    assert(Similarity.pcaPower(spark, emptyDir).count() === 0)
    // semanticDedup: k falls to the floor 16, seeds/cells/pairs all
    // empty, the left-join readout is empty — no throw, no loop
    assert(Dedup.semanticDedup(spark, emptyDir).count() === 0)
  }

  test("text prep returns empty on an empty corpus") {
    import graft.operators.TextAnalysis
    assert(TextAnalysis.decontaminate(spark, emptyDir).count() === 0)
    assert(TextAnalysis.bm25(spark, emptyDir).count() === 0)
    assert(TextAnalysis.packSequences(spark, emptyDir).count() === 0)
    assert(TextAnalysis.topNgrams(spark, emptyDir).count() === 0)
  }

  test("round-7 operators return empty on an empty corpus") {
    import graft.operators.{Dedup, Layout, Multimodal}
    assert(Dedup.containmentJoin(spark, emptyDir).count() === 0)
    assert(Multimodal.mediaPerceptualHash(spark, emptyDir).count() === 0)
    assert(Layout.corpusShuffle(spark, emptyDir).count() === 0)
  }

  test("ntile quartiles handle 0-5 row order tables like real ntile") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for (n <- 0 to 5) {
      val dir = tempDir(s"graft_ntile_$n").toString
      val rows = (1 to n).map(i => (i.toLong, i * 10.0))
      rows.toDF("o_orderkey", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      val got = graft.operators.Analytics.ntileQuartiles(spark, dir)
        .collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      val w = Window.orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val want = rows.toDF("o_orderkey", "o_totalprice")
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
        .collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
      assert(got === want, s"n=$n")
    }
  }

  test("connected components converges immediately on an empty edge list") {
    import spark.implicits._
    val labels = graft.operators.Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(labels.count() === 0)
  }

  private lazy val emptyStarDir: String = {
    val dir = tempDir("graft_empty_star").toString
    val events = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val orders = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val lineitem = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    Seq("events" -> events, "orders" -> orders,
      "lineitem" -> lineitem).foreach { case (name, schema) =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .write.parquet(s"$dir/$name.parquet")
    }
    dir
  }

  test("round-9 operators are defined on empty feeds (no throw, no hang)") {
    import graft.operators.{Analytics, Graph, JoinsSetOps}
    // iterative peel: the n==0 initial-convergence guard matters here
    assert(Graph.kcore(spark, emptyStarDir).count() === 0)
    assert(Analytics.ewmaAnomaly(spark, emptyStarDir).count() === 0)
    assert(Analytics.copurchase(spark, emptyStarDir).count() === 0)
    assert(Analytics.rankTransform(spark, emptyStarDir).count() === 0)
    assert(JoinsSetOps.temporalJoin(spark, emptyStarDir).count() === 0)
    // global aggregates return their defined single row on empty input
    val ks = graft.operators.DataQuality.ksDrift(spark, emptyStarDir)
      .collect()
    assert(ks.length === 1 && ks(0).isNullAt(ks(0).fieldIndex("d_ppm")))
  }

  test("round-9 document operators return empty on an empty corpus") {
    import graft.operators.{Layout, Sampling, TextAnalysis}
    assert(TextAnalysis.docRepetition(spark, emptyDir).count() === 0)
    assert(TextAnalysis.featureHashing(spark, emptyDir).count() === 0)
    assert(Sampling.weightedSample(spark, emptyDir).count() === 0)
    assert(Layout.globalOrdinals(spark, emptyDir).count() === 0)
  }

  test("round-10 operators are defined on empty feeds") {
    import graft.operators.{Similarity, TextAnalysis}
    // PQ: empty codebooks + empty query set must flow through, not throw
    assert(Similarity.annPq(spark, emptyDir).count() === 0)
    // empty corpus → empty manifest → a 0-benchmark report
    assert(TextAnalysis.manifestDecontaminate(spark, emptyDir)
      .count() === 0)
  }

  test("round-13 corpus operators are defined on empty feeds") {
    import graft.operators.{Dedup, TextAnalysis}
    // per-item operators: strictly empty output
    assert(Dedup.substringDedup(spark, emptyDir).count() === 0)
    assert(Dedup.silhouette(spark, emptyDir).count() === 0)
    assert(Dedup.daviesBouldin(spark, emptyDir).count() === 0)
    assert(TextAnalysis.distinctN(spark, emptyDir).count() === 0)
    assert(TextAnalysis.mooreLewis(spark, emptyDir).count() === 0)
    assert(TextAnalysis.dsirWeights(spark, emptyDir).count() === 0)
    assert(TextAnalysis.heapsLaw(spark, emptyDir).count() <= 1)
    // census operators: one summary row, no throw, guarded readouts
    val vc = TextAnalysis.vocabCoverage(spark, emptyDir).collect()
    assert(vc.length <= 1)
    val jsd = TextAnalysis.jsDivergence(spark, emptyDir).collect()
    assert(jsd.length <= 1)
  }
}
