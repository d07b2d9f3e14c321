package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.SparkEntry
import graft.operators.{Dedup, Graph, Similarity, TextAnalysis}
import graft.sources.{Csv, PartitionedWrite, Tables}

/** How a step's output is checked against the DuckDB oracle.
  *  - [[Collected]]: the rows the step returned.
  *  - [[CsvDir]]: the headered CSV the step wrote to `path`.
  *  - [[Unchecked]]: no output of its own (a shared-stage build, whose
  *    result is checked through its consumers); only exceptions count. */
sealed trait Check
final case class Collected(oracle: String) extends Check
final case class CsvDir(path: String, oracle: String) extends Check
case object Unchecked extends Check

/** One call into a layer's public entry point. `run` returns the rows the
  * caller receives (empty for writes and stage builds). */
final case class Step(name: String, layer: String, check: Check,
    run: () => Array[Row])

/** A batch workload: the steps of one pass, in order. */
final case class Workload(name: String, steps: Seq[Step])

object Workloads {
  /** Shared-stage memos of the operator modules; cleared before every
    * pass so each pass builds every stage exactly once. */
  def clearMemos(): Unit = {
    Dedup.clearStageCaches()
    Graph.clearStageCaches()
    Similarity.clearPc1Cache()
    TextAnalysis.clearStageCaches()
  }

  private def catalogStep(spark: SparkSession, dir: String, layer: String,
      name: String): Step = {
    val fn = SparkEntry.queries(name)
    val oracle = SparkEntry.oracleSql.get(name)
      .getOrElse(sys.error(s"$name has no oracle SQL"))
    Step(name, layer, Collected(oracle), () => fn(spark, dir).collect())
  }

  val starQueries: Seq[String] = Seq("q01_star_fact", "q03_groupby_avg",
    "q08_join_composite", "q11_census_star")

  val starTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem")

  /** Star-schema ETL: load, reference-style star queries, the event feed
    * replayed through the streaming engine, then write the fact
    * partitioned by year, read it back, and write the chart CSV. */
  def starEtl(spark: SparkSession, dir: String, out: String): Workload = {
    val fact = s"$out/fact"
    val chart = s"$out/chart"
    val q03 = SparkEntry.queries("q03_groupby_avg")
    Workload("star_etl",
      Step("load", "sources", Unchecked, { () =>
        starTables.foreach(t => Tables.load(spark, dir, t))
        Array.empty[Row]
      }) +:
      (starQueries.map(catalogStep(spark, dir, "relational", _)) ++
      streamQueries.map(catalogStep(spark, dir, "streaming", _))) :+
      Step("write_fact", "sources", Unchecked, { () =>
        PartitionedWrite.writeByYear(Tables.load(spark, dir, "lineitem"),
          "l_shipdate", fact)
        Array.empty[Row]
      }) :+
      Step("read_fact", "sources", Collected(
        "SELECT CAST(year(l_shipdate) AS INT) AS p_year, " +
          "count(*) AS n_rows, sum(l_quantity) AS qty " +
          "FROM lineitem GROUP BY 1"), { () =>
        // integral quantities: the sum is exact in any order
        PartitionedWrite.read(spark, fact).groupBy("p_year")
          .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("qty"))
          .collect()
      }) :+
      Step("write_chart", "sources",
          CsvDir(chart, SparkEntry.oracleSql("q03_groupby_avg")), { () =>
        Csv.write(q03(spark, dir), chart, single = true)
        Array.empty[Row]
      }))
  }

  /** Event feed replayed with Trigger.AvailableNow through the streaming
    * catalog (stateful windowed aggregation). */
  val streamQueries: Seq[String] = Seq("q76_stream_tumbling")

  val dedupQueries: Seq[String] = Seq("q33_dedup_exact",
    "q35_dedup_minhash")
  val textQueries: Seq[String] = Seq("q41_text_quality")

  /** Near-duplicate corpus: the four shared stages as their own steps,
    * then their consumers, text analysis and batch similarity. */
  def corpusDedup(spark: SparkSession, dir: String): Workload = {
    def stage(name: String, build: () => Unit): Step =
      Step(s"stage_$name", "dedup", Unchecked,
        () => { build(); Array.empty[Row] })
    Workload("corpus_dedup", Seq(
      stage("shingles", () => Dedup.materializeShingles(spark, dir)),
      stage("sigs", () => Dedup.materializeSigs(spark, dir))) ++
      dedupQueries.map(catalogStep(spark, dir, "dedup", _)) ++
      textQueries.map(catalogStep(spark, dir, "text", _)))
  }

  /** One ANN request against the persisted IVF-PQ index. */
  def annRequest(spark: SparkSession, dir: String,
      index: String): Array[Row] =
    Similarity.annIvfPqServeFrom(spark, dir, index).collect()

  val annOracle: String = SparkEntry.oracleSql("q289_ann_serve")

  /** Kernel probes of `graft.functions` over a cached input, large enough
    * that the kernel rather than job launch dominates: rows processed per
    * second by one call (traced runs only). */
  def probes(spark: SparkSession, dir: String,
      hasDocs: Boolean): Seq[(String, Double)] = {
    import graft.functions.{MinHashAgg, TextOps, VectorOps}
    import org.apache.spark.sql.functions.{broadcast, explode, size}
    def rate(df: DataFrame, rows: Long): Double = {
      df.collect() // compile and warm once
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.collect()
        rows / ((System.nanoTime() - t0) / 1e9)
      }.sorted
      ts(1)
    }
    val emb = Tables.load(spark, dir, "embeddings").select("vec_id",
      "embedding").cache()
    val nEmb = emb.count()
    val probe = emb.filter(col("vec_id") < 100)
      .select(col("embedding").as("q"))
    val dot = "functions.dot_rows_per_s" -> rate(
      emb.crossJoin(broadcast(probe))
        .select(sum(VectorOps.dot(col("embedding"), col("q")))),
      nEmb * probe.count())
    val text = if (!hasDocs) Seq("functions.shingles_rows_per_s" -> 0.0,
        "functions.minhash_rows_per_s" -> 0.0)
      else {
        val copies = 40
        val docs = Tables.load(spark, dir, "documents")
          .crossJoin(spark.range(copies).toDF("copy"))
          .select((col("doc_id") * copies + col("copy")).as("doc_id"),
            col("text")).cache()
        val n = docs.count()
        val sh = docs.select(col("doc_id"),
          explode(TextOps.shingles3(col("text"))).as("s"))
        val out = Seq(
          "functions.shingles_rows_per_s" -> rate(
            docs.select(sum(size(TextOps.shingles3(col("text"))))), n),
          "functions.minhash_rows_per_s" -> rate(
            sh.select(col("doc_id"), TextOps.portableHash(col("s")).as("h"))
              .groupBy("doc_id")
              .agg(MinHashAgg.minhashSig(col("h"), 64).as("sig"))
              .select(count(lit(1))), n))
        docs.unpersist()
        out
      }
    emb.unpersist()
    dot +: text
  }
}
