package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  LongType, StructType}
import graft.Ckpt.CutOps
import graft.Q
import graft.functions.{CoarseQuantizer, DotFold, VectorOps}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two tiers (SURVEY.md §7.2 M3):
  *  - brute-force cosine top-k — the exact baseline; O(Q·N) dot products.
  *    Correct at any N if Q (the query set) is small; the candidate side
  *    streams, only per-query k-row heaps of state.
  *  - sign-bucket LSH — the scale path: vectors hash to a 2^b-bucket key in
  *    a narrow pass; search touches only same-bucket candidates, so the
  *    join is a bucket equi-join (shuffle keyed on bucket, ~N/2^b
  *    candidates per probe instead of N).
  */
object Similarity {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      VectorOps.l2Norm(col("embedding")).as("nrm"))

  /** Exact top-5 cosine neighbors for queries vec_id < 50.
    * Ranking key (cos desc, cand asc) is total → deterministic. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(t(spark, dir, "embeddings"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    q.join(c, col("q_id") =!= col("cand_id"))
      // + 0.0 canonicalizes IEEE signed zero (see Analytics.statsProfile):
      // a cosine in (-5e-7, 0) rounds to -0.0 in DuckDB but +0.0 via
      // Spark's BigDecimal Round, and the hash gate is representation-exact.
      .withColumn("cos", round(VectorOps.cosinePrenormed(
        VectorOps.dot(col("qe"), col("ce")), col("qn"), col("cn")), 6) +
        lit(0.0))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("cand_id"), col("cos"), col("rn"))
  }

  /** LSH-bucketed ANN: 8 sign bits → 256 buckets; top-3 within bucket for
    * every vector as query. The bucket join replaces the all-pairs scan. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(t(spark, dir, "embeddings"))
      .withColumn("bucket", VectorOps.signBucket(col("embedding"), 8))
    val q = e.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      col("nrm").as("qn"), col("bucket"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("cand_id"))
      // + 0.0 canonicalizes IEEE signed zero (see Analytics.statsProfile):
      // a cosine in (-5e-7, 0) rounds to -0.0 in DuckDB but +0.0 via
      // Spark's BigDecimal Round, and the hash gate is representation-exact.
      .withColumn("cos", round(VectorOps.cosinePrenormed(
        VectorOps.dot(col("qe"), col("ce")), col("qn"), col("cn")), 6) +
        lit(0.0))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("cand_id"), col("cos"), col("rn"))
  }

  /** IVF-style ANN: coarse quantization by per-label centroid (the
    * typed [[graft.functions.CentroidAggregator]] mean, collected into a
    * [[graft.functions.CoarseQuantizer]]), probe = the nearest centroid,
    * fine search only within that cell. The scale shape of FAISS-IVF:
    * the quantizer is tiny (on the driver), assignment is one narrow
    * pass, fine search touches ~N/cells candidates per query.
    *
    * Fully oracle-checked (was rows-only through r4): centroids are the
    * means of INTEGER-QUANTIZED vectors (`floor(1000·x + 0.5)` longs), so
    * per-dimension sums are exact and the centroid doubles bit-identical
    * in any engine — the same grid trick as q37's
    * [[graft.operators.Dedup.embeddingCells]]. Probe scores divide
    * bit-identical doubles, ties break on lowest cell
    * ([[graft.functions.CoarseQuantizer.nearest]]); the fine-search
    * cosine is the q38-proven widened-float form. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = quantized(t(spark, dir, "embeddings"))
    val quantizer = labelQuantizer(e)
    // probe: each query's nearest centroid; a null vector scores null
    // against every centroid, which Spark orders lowest, so it takes the
    // lowest cell
    val assigned = e.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        (if (v == null) quantizer.cells.headOption
        else quantizer.nearest(v, 1).headOption.map(_._1))
          .map(cell => (id, v, cell))
      }
      .toDF("q_id", "qe", "cell")
      .withColumn("qn", VectorOps.l2Norm(col("qe")))
    // fine search within the probed cell only
    val cands = e.select(col("vec_id").as("cand_id"),
      col("embedding").as("ce"),
      VectorOps.l2Norm(col("embedding")).as("cn"),
      col("label").as("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    assigned.join(cands, Seq("cell"))
      .filter(col("q_id") =!= col("cand_id"))
      // + 0.0 canonicalizes IEEE signed zero (see Analytics.statsProfile):
      // a cosine in (-5e-7, 0) rounds to -0.0 in DuckDB but +0.0 via
      // Spark's BigDecimal Round, and the hash gate is representation-exact.
      .withColumn("cos", round(VectorOps.cosinePrenormed(
        VectorOps.dot(col("qe"), col("ce")), col("qn"), col("cn")), 6) +
        lit(0.0))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("cand_id"), col("cos"), col("rn"))
  }

  /** Product-quantization ANN with exact rerank — the vector-COMPRESSION
    * scale path that completes the IVF story (q48): at 100 TB raw
    * float32 embeddings don't fit an index, so candidates are stored as
    * M=4 one-byte codes (one codeword id per 16-dim subspace) and the
    * search scans codes, not vectors. Codebooks are the q48 exact-grid
    * label centroids SLICED per subspace (the mean of a slice is the
    * slice of the mean — deterministic, cross-engine-exact "training");
    * assignment is argmin L2² to the sub-codebook, ties → lowest code.
    * Both are [[ivfpqTrainRelationsFrom]]'s, shared with q245. The ADC
    * pass scores every candidate by the cosine of the query against the
    * candidate's RECONSTRUCTED vector ([[Codebook.decode]]) —
    * compressed-domain math only — keeps the top-10, and an exact rerank
    * over just those 10 raw vectors emits the final top-3: the standard
    * coarse-search/rerank split of FAISS-style serving.
    *
    * This is the serving kernel [[ivfpqSearch]] probing EVERY cell: the
    * exhaustive-PQ tier, ADC over all N M-byte codes (Q·N), where
    * [[annIvfPq]] (q245) probes 2 cells and cuts the ADC to 2/cells of
    * N. The kernel's global ADC top-10 is exact, so it is the flat one.
    * Every double is a sequential fold over exact operands, so ADC
    * ranks — and therefore the candidate CUT — are bit-identical to the
    * oracle's. A query without a vector is skipped
    * ([[ivfpqQueries]]). */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val (quantizer, codebook, codes) = ivfpqTrainRelations(spark, dir)
    ivfpqSearch(spark, ivfpqBlocks(spark, dir, quantizer, codebook, codes,
      graft.Ckpt.scaleParts(spark, dir)), ivfpqQueries(spark, dir),
      nprobe = quantizer.cells.length)
  }

  /** IVF×PQ composed ANN — the production FAISS-style serving plan
    * (IndexIVFPQ): coarse quantizer probes the nprobe=2 nearest cells
    * per query, the ADC pass scores PQ-reconstructed candidates ONLY
    * within the probed cells (only their blocks are read — never the
    * flat Q×N scan q201 deliberately keeps), and an exact rerank over
    * the surviving Q·10 raw vectors emits the final top-3. This closes
    * the r10 verdict's №1: q48 (cell probe) and q201 (ADC+rerank) were
    * the two halves; this is the end-to-end composition.
    *
    * Structure sharing: the coarse quantizer IS q48's exact-grid label
    * centroid table and the codebooks/codes/reconstruction ARE q201's
    * (slice-of-the-mean sub-codebooks, argmin-L2² assignment,
    * subspace-ordered concat) — same exact-arithmetic guarantees, so ADC
    * ranks and the candidate CUT are bit-identical to the oracle's.
    *
    * Scale shape at 100 TB: code assignment is one narrow pass over N,
    * and the candidates are grouped once into per-cell blocks
    * ([[ivfpqBlocks]]; shuffle keyed on cell, skew-bounded by cell
    * occupancy). A request then probes Q×cells centroids on the driver
    * (Q bounded, cells ~√N) and runs one task per probed partition:
    * ADC over nprobe/cells of N and the exact rerank of each query's
    * local ADC top-10 ([[ivfpqSearch]]). Nothing is ever Q×N. This
    * transient index is built per call; q289 serves the same kernel
    * from a resident one. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val (quantizer, codebook, codes) = ivfpqTrainRelations(spark, dir)
    ivfpqSearch(spark, ivfpqBlocks(spark, dir, quantizer, codebook, codes,
      graft.Ckpt.scaleParts(spark, dir)), ivfpqQueries(spark, dir))
  }

  /** The embeddings with their exact-grid vectors `qv`: each element as
    * `floor(1000·x + 0.5)`, a long, so sums of them are exact. */
  private def quantized(e: DataFrame): DataFrame =
    e.withColumn("qv", transform(col("embedding"), x =>
      floor(lit(1000.0) * x.cast("double") + lit(0.5)).cast("long")))

  /** TRAIN half of the IVF-PQ index — everything [[ivfpqPersist]] needs
    * to write and a fresh JVM needs to serve: the coarse quantizer
    * (q48's exact-grid label centroids, on the driver),
    * the M=4 sub-codebooks (q201's slice-of-the-mean, on the driver),
    * and the PER-CANDIDATE index entry (cand_id, codes array ordered by
    * subspace, cell — the packed-code row a production FAISS index
    * stores per vector). Deterministic and cross-engine-exact
    * end-to-end, so serving from a persisted copy is bit-identical to
    * retraining (the q289 gate proves it against the
    * retrain-from-scratch oracle). */
  private[graft] def ivfpqTrainRelations(spark: SparkSession,
      dir: String): (CoarseQuantizer, Codebook, DataFrame) =
    ivfpqTrainRelationsFrom(spark, quantized(t(spark, dir, "embeddings")))

  /** Same, over an explicit (vec_id, label, embedding, qv) slice —
    * [[annIvfPqAppend]] freezes the quantizer on yesterday's slice. The
    * centroid aggregate runs once and is collected (cells·d doubles);
    * the codes are a narrow pass over the slice ([[pqCodes]]). */
  private def ivfpqTrainRelationsFrom(spark: SparkSession,
      e: DataFrame): (CoarseQuantizer, Codebook, DataFrame) = {
    val quantizer = labelQuantizer(e)
    val codebook = Codebook.sliced(quantizer)
    (quantizer, codebook, pqCodes(spark, e, codebook))
  }

  /** The coarse quantizer of a (label, qv) slice: the label's exact-grid
    * centroid is its cell's. */
  private def labelQuantizer(e: DataFrame): CoarseQuantizer = {
    import e.sparkSession.implicits._
    CoarseQuantizer.fit(e.select(col("label"), col("qv"))
      .as[(Int, Array[Long])])
  }

  /** The index entries (cand_id, codes, cell) of a (vec_id, label,
    * embedding, qv) slice: one narrow map that encodes each row against
    * `codebook` ([[Codebook.encode]]) and takes its label as the cell,
    * or, given a `frozen` quantizer, the nearest of its cells. A row
    * without a vector, or an empty codebook, yields no entry. */
  private def pqCodes(spark: SparkSession, e: DataFrame, codebook: Codebook,
      frozen: Option[CoarseQuantizer] = None): DataFrame = {
    import spark.implicits._
    e.select(col("vec_id"), col("qv"), col("label"), col("embedding"))
      .as[(Long, Array[Long], Int, Array[Float])]
      .flatMap { case (id, qv, label, v) =>
        if (qv == null || codebook.codes.isEmpty) None
        else Some(Row(id, codebook.encode(qv),
          frozen.fold(label)(_.nearest(v, 1).head._1)))
      }(Encoders.row(codesSchema))
  }

  /** The schema of the `codes` table, nullability included. */
  private val codesSchema = new StructType()
    .add("cand_id", LongType)
    .add("codes", ArrayType(IntegerType, containsNull = true),
      nullable = false)
    .add("cell", IntegerType)

  private val pqM = 4
  private val pqSub = 16

  /** `sqrt` of the left fold of x·x from 0.0: the value of
    * [[graft.functions.VectorOps.l2NormDouble]]. */
  private def norm(v: Array[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))

  /** The M=4 PQ sub-codebooks, held on the driver and shipped in the
    * closures of the narrow passes that use them. A code is a cell id;
    * `codes` ascend, and `words(m)(j)` is subspace m's codeword for
    * `codes(j)`. */
  private[graft] final class Codebook(val codes: Array[Int],
      val words: Array[Array[Array[Double]]]) extends Serializable {

    /** Per subspace m, the code whose codeword is nearest to slice m of
      * `qv`: Σ(x−y)² with x widened to double, folded left from 0.0, as
      * the oracle computes it; ties go to the lower code. */
    def encode(qv: Array[Long]): Array[Int] = Array.tabulate(pqM) { m =>
      val off = m * pqSub
      var best = 0
      var bestD = 0.0
      var j = 0
      while (j < codes.length) {
        val w = words(m)(j)
        val n = math.min(w.length, qv.length - off)
        var d = 0.0
        var i = 0
        while (i < n) {
          val x = qv(off + i).toDouble - w(i)
          d += x * x
          i += 1
        }
        if (j == 0 || d < bestD) { best = j; bestD = d }
        j += 1
      }
      codes(best)
    }

    /** The reconstructed vector of codes `cs`: their codewords
      * concatenated in subspace order. */
    def decode(cs: Array[Int]): Array[Double] = {
      val ws = Array.tabulate(pqM)(m =>
        words(m)(java.util.Arrays.binarySearch(codes, cs(m))))
      val out = new Array[Double](ws.map(_.length).sum)
      var off = 0
      ws.foreach { w =>
        System.arraycopy(w, 0, out, off, w.length)
        off += w.length
      }
      out
    }

    /** The persisted `codebook` table: one (m, code, cw) row per
      * codeword. */
    def table(spark: SparkSession): DataFrame = {
      import spark.implicits._
      (for (m <- 0 until pqM; j <- codes.indices)
        yield (m, codes(j), words(m)(j))).toDF("m", "code", "cw")
    }
  }

  private[graft] object Codebook {
    /** Trained from the coarse quantizer's centroids, by ascending cell:
      * codeword (m, cell) is slice m of the cell's centroid. */
    def sliced(q: CoarseQuantizer): Codebook =
      new Codebook(q.cells, Array.tabulate(pqM)(m =>
        q.cents.map(_.slice(m * pqSub, (m + 1) * pqSub))))

    /** Collected from a `codebook` table ([[Codebook.table]]). */
    def of(table: DataFrame): Codebook = {
      val cw = table.select(col("m"), col("code"), col("cw")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      val codes = cw.keys.map(_._2).toArray.distinct.sorted
      new Codebook(codes, Array.tabulate(pqM)(m => codes.map(c => cw((m, c)))))
    }
  }

  /** An IVF-PQ index in serving form: the coarse quantizer on the
    * driver and the candidates as one [[CellBlock]] per cell,
    * hash-partitioned by cell with `parts`. */
  private[graft] final case class IvfpqBlocks(quantizer: CoarseQuantizer,
      blocks: RDD[(Int, CellBlock)], parts: HashPartitioner)

  /** One IVF cell's candidates as flat primitive arrays, rows by
    * ascending cand_id: row i's reconstructed vector is
    * `rvec[i·rd, (i+1)·rd)` with norm `rn2(i)`, its raw embedding
    * `emb[i·ed, (i+1)·ed)` with norm `cn(i)`. */
  private[graft] final class CellBlock(val ids: Array[Long], val rd: Int,
      val rvec: Array[Double], val rn2: Array[Double], val ed: Int,
      val emb: Array[Float], val cn: Array[Double]) extends Serializable

  private object CellBlock {
    /** One partition's (cell, cand_id) → (codes, embedding) rows, in
      * key order, streamed into one block per cell: `rvec` is
      * `codebook`'s reconstruction of the codes, `rn2` its [[norm]], and
      * `cn` the raw vector's norm by [[DotFold]], the fold of
      * `VectorOps.l2Norm`. */
    def stream(codebook: Codebook)(rows: Iterator[((Int, Long),
        (Array[Int], Array[Float]))]): Iterator[(Int, CellBlock)] = {
      val in = rows.buffered
      new Iterator[(Int, CellBlock)] {
        def hasNext: Boolean = in.hasNext
        def next(): (Int, CellBlock) = {
          val cell = in.head._1._1
          val ids = Array.newBuilder[Long]
          val rvec = Array.newBuilder[Double]
          val rn2 = Array.newBuilder[Double]
          val emb = Array.newBuilder[Float]
          val cn = Array.newBuilder[Double]
          var (rd, ed) = (-1, -1)
          while (in.hasNext && in.head._1._1 == cell) {
            val ((_, id), (cs, v)) = in.next()
            val r = codebook.decode(cs)
            if (rd < 0) { rd = r.length; ed = v.length }
            require(r.length == rd && v.length == ed,
              s"cell $cell holds vectors of unequal length")
            ids += id
            rvec.addAll(r)
            rn2 += norm(r)
            emb.addAll(v)
            cn += math.sqrt(DotFold.floatFloat(v, 0, v, 0, ed))
          }
          cell -> new CellBlock(ids.result(), rd, rvec.result(),
            rn2.result(), ed, emb.result(), cn.result())
        }
      }
    }
  }

  /** Places a (cell, cand_id) key in the partition `byCell` gives its
    * cell: the placement [[ivfpqSearch]] targets. */
  private final class CellPartitioner(byCell: HashPartitioner)
      extends org.apache.spark.Partitioner {
    def numPartitions: Int = byCell.numPartitions
    def getPartition(key: Any): Int =
      byCell.getPartition(key.asInstanceOf[(Int, Long)]._1)
  }

  /** Serving form of the index relations (from memory for q201, q245
    * and q290, from the persisted copy for q289): packs the candidates,
    * joined to their raw vectors, into per-cell blocks without holding
    * rows: each row goes to its cell's partition, the partition is
    * sorted by (cell, cand_id), and it streams into its blocks
    * ([[CellBlock.stream]]). The block RDD is lazy and not
    * cached. */
  private[graft] def ivfpqBlocks(spark: SparkSession, dir: String,
      quantizer: CoarseQuantizer, codebook: Codebook, codes: DataFrame,
      parts: Int): IvfpqBlocks = {
    import spark.implicits._
    val byCell = new HashPartitioner(parts)
    val blocks = codes
      .join(t(spark, dir, "embeddings").select(col("vec_id").as("cand_id"),
        col("embedding")), Seq("cand_id"))
      .select(col("cell"), col("cand_id"), col("codes"), col("embedding"))
      .as[(Int, Long, Array[Int], Array[Float])].rdd
      .map { case (cell, id, c, v) => ((cell, id), (c, v)) }
      .repartitionAndSortWithinPartitions(new CellPartitioner(byCell))
      .mapPartitions(CellBlock.stream(codebook))
    IvfpqBlocks(quantizer, blocks, byCell)
  }

  /** A query of one request with its probed cells. */
  private final case class Probe(qId: Long, vec: Array[Float],
      norm: Double, cells: Array[Int])

  /** A candidate surviving its partition's ADC top-10 for query `q`
    * (an index into the request's probes), with its exact cosine. */
  private final case class Hit(q: Int, cand: Long, adc: Double,
      cos: Double)

  private val adcDepth = 10

  /** Ranking of the serving plan: score descending under Spark's double
    * ordering (NaN largest, -0.0 == 0.0), ties on the lower id. */
  private def rank(s1: Double, id1: Long, s2: Double, id2: Long): Int = {
    val c = SQLOrderingUtil.compareDoubles(s2, s1)
    if (c != 0) c else java.lang.Long.compare(id1, id2)
  }

  /** `round(x, 6) + 0.0`, evaluated by Spark's own `Round` expression;
    * the `+ 0.0` canonicalizes IEEE signed zero (see
    * Analytics.statsProfile). */
  private def round6(x: Double): Double =
    Round(Literal(x), Literal(6)).eval().asInstanceOf[Double] + 0.0

  private val annSchema = new StructType()
    .add("q_id", LongType, nullable = false)
    .add("cand_id", LongType, nullable = false)
    .add("cos", DoubleType)
    .add("rn", IntegerType, nullable = false)

  /** The Q query vectors of a request: the non-null embeddings with
    * vec_id < 20, collected to the driver. */
  private[graft] def ivfpqQueries(spark: SparkSession,
      dir: String): Array[(Long, Array[Float])] =
    t(spark, dir, "embeddings").filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** SERVE half over caller-supplied queries: coarse probe →
    * cell-confined ADC → exact rerank, as one Spark job that runs
    * [[adcRerank]] over only the partitions holding a probed cell. The
    * probe (the quantizer's `nprobe` nearest cells per query,
    * [[graft.functions.CoarseQuantizer.nearest]]) and the merge run on
    * the driver:
    * the global ADC top-10 of a query is drawn from the partitions'
    * top-10s, which is exact because each member of it is also in its
    * own partition's top-10; those 10 are cut to the top-k by exact
    * rounded cosine. Every ranking and double is the oracle's
    * ([[rank]], [[round6]], [[graft.functions.DotFold]]). The result is
    * a local relation of (q_id, cand_id, cos, rn) rows, computed by the
    * time this returns. */
  private[graft] def ivfpqSearch(spark: SparkSession, idx: IvfpqBlocks,
      queries: Array[(Long, Array[Float])], k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    val probes = queries.map { case (qId, v) =>
      Probe(qId, v, math.sqrt(DotFold.floatFloat(v, 0, v, 0, v.length)),
        idx.quantizer.nearest(v, nprobe).map(_._1))
    }
    val parts = probes.flatMap(_.cells).map(idx.parts.getPartition)
      .distinct.sorted.toSeq
    val hits =
      if (parts.isEmpty) Array.empty[Hit]
      else spark.sparkContext.runJob(idx.blocks, new AdcRerankTask(probes),
        parts).flatten
    val rows = hits.groupBy(_.q).toSeq.sortBy(_._1).flatMap { case (q, hs) =>
      hs.sortWith((a, b) => rank(a.adc, a.cand, b.adc, b.cand) < 0)
        .take(adcDepth)
        .sortWith((a, b) => rank(a.cos, a.cand, b.cos, b.cand) < 0)
        .take(k).zipWithIndex
        .map { case (h, i) => Row(probes(q).qId, h.cand, h.cos, i + 1) }
    }
    spark.createDataFrame(rows.asJava, annSchema)
  }

  /** A request's task: [[adcRerank]] of one partition. A named class
    * rather than a lambda because `SparkContext.runJob` cleans the
    * closures it is given: for a lambda that means reading and parsing
    * the class file of its enclosing class (all of `Similarity$`, and
    * `SparkContext` for the wrapper of the `Iterator => U` overload) on
    * every request, in the caller's thread, at a cost that falls as the
    * JIT warms up. An instance of a named class is passed through. */
  private final class AdcRerankTask(probes: Array[Probe])
      extends ((TaskContext, Iterator[(Int, CellBlock)]) => Array[Hit])
      with Serializable {
    def apply(ctx: TaskContext,
        blocks: Iterator[(Int, CellBlock)]): Array[Hit] =
      adcRerank(probes, blocks)
  }

  /** One partition's share of a request: ADC of every probing query
    * against each of its probed cells' candidates (itself excluded),
    * kept as a bounded top-10 per query, then the exact rounded cosine
    * of those survivors against their raw vectors. */
  private def adcRerank(probes: Array[Probe],
      blocks: Iterator[(Int, CellBlock)]): Array[Hit] = {
    // heap head = the worst of a query's current top-10
    final case class Cand(adc: Double, b: CellBlock, i: Int)
    val tops = probes.map(_ => new java.util.PriorityQueue[Cand](
      adcDepth + 1, (x: Cand, y: Cand) =>
        rank(y.adc, y.b.ids(y.i), x.adc, x.b.ids(x.i))))
    blocks.foreach { case (cell, b) =>
      probes.indices.filter(probes(_).cells.contains(cell)).foreach { q =>
        val p = probes(q)
        val top = tops(q)
        val n = math.min(p.vec.length, b.rd)
        var i = 0
        while (i < b.ids.length) {
          if (b.ids(i) != p.qId) {
            val adc = DotFold.floatDouble(p.vec, 0, b.rvec, i * b.rd, n) /
              (p.norm * b.rn2(i))
            if (top.size < adcDepth ||
                rank(adc, b.ids(i), top.peek.adc, top.peek.b.ids(top.peek.i))
                  < 0) {
              top.add(Cand(adc, b, i))
              if (top.size > adcDepth) top.poll()
            }
          }
          i += 1
        }
      }
    }
    tops.indices.flatMap { q =>
      val p = probes(q)
      tops(q).asScala.map { c =>
        val b = c.b
        val dot = DotFold.floatFloat(p.vec, 0, b.emb, c.i * b.ed,
          math.min(p.vec.length, b.ed))
        Hit(q, b.ids(c.i), c.adc, round6(dot / (p.norm * b.cn(c.i))))
      }
    }.toArray
  }

  /** Persist the trained IVF-PQ index — centroids, sub-codebooks, and
    * the packed per-candidate code rows, each computed once: the two
    * small tables from the driver's quantizer, one file each, and the
    * codes by one narrow pass — plus the SOURCE fingerprint
    * that guards staleness (q209's discipline: per-file size + mtime,
    * so data regenerated in place under the same path retrains instead
    * of silently serving a stale index). At 100 TB this is the step
    * that runs ONCE per corpus version; every serving session after it
    * reads ~(cells·d + M·cells·sub) doubles of quantizer plus one
    * M-byte code row per candidate, and each candidate's raw vector
    * once for the resident rerank blocks. */
  def ivfpqPersist(spark: SparkSession, dir: String,
      indexDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val (quantizer, codebook, codes) = ivfpqTrainRelations(spark, dir)
    quantizer.table(spark).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids")
    codebook.table(spark).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/codebook")
    codes.write.mode("overwrite").parquet(s"$indexDir/codes")
    Files.write(Paths.get(indexDir, "_fingerprint"),
      ivfpqFingerprint(dir).getBytes("UTF-8"))
  }

  /** Fingerprint of the source the index derives from (embeddings
    * parquet: per-file path, size, mtime — md5'd). */
  private[graft] def ivfpqFingerprint(dir: String): String =
    Tables.fileStamp(java.nio.file.Paths.get(dir).toAbsolutePath.normalize
      .resolve("embeddings.parquet"))

  /** Canonical per-source index location under the session warehouse
    * (md5 of the absolute source path — never a collidable hashCode). */
  private[graft] def ivfpqIndexDir(spark: SparkSession,
      dir: String): String = {
    import java.nio.file.Paths
    val abs = Paths.get(dir).toAbsolutePath.normalize.toString
    val tag = Tables.md5Hex(abs).take(12)
    Paths.get(java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      .resolve(s"graft_ivfpq_$tag").toString
  }

  /** Train-once guard: (re)trains iff the persisted fingerprint is
    * missing or disagrees with the current source files. Returns true
    * iff a training ran (the spec asserts serve-after-stage does NOT
    * retrain, and that a corrupted fingerprint DOES). */
  def ensureIvfpqIndex(spark: SparkSession, dir: String,
      indexDir: String): Boolean = Similarity.synchronized {
    import java.nio.file.{Files, Paths}
    val marker = Paths.get(indexDir, "_fingerprint")
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") ==
        ivfpqFingerprint(dir) &&
      Seq("centroids", "codebook", "codes").forall(s =>
        Files.exists(Paths.get(indexDir, s, "_SUCCESS")))
    if (!fresh) { ivfpqPersist(spark, dir, indexDir); true } else false
  }

  /** q289: IVF-PQ ANN served from the PERSISTED index — identical
    * output to q245 (and gated against the same retrain-from-scratch
    * oracle, which is the serve == retrain proof), but the quantizer,
    * codebooks and codes come from warehouse tables written by
    * [[ivfpqPersist]] — possibly by a DIFFERENT JVM (the production
    * split: one indexing job, many serving sessions; `IndexServeSpec`
    * forks a real second JVM to prove it). Training runs only when the
    * source fingerprint says the persisted copy is missing or stale. */
  def annIvfPqServe(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfpqIndexDir(spark, dir)
    ensureIvfpqIndex(spark, dir, idx)
    annIvfPqServeFrom(spark, dir, idx)
  }

  /** Serve strictly FROM a persisted index — no training fallback; a
    * missing index is the caller's bug and fails loudly. A request runs
    * only probe → ADC → rerank ([[ivfpqSearch]], one Spark job) against
    * the resident copy of the index and its query vectors, which it
    * leases for its duration (see [[residentIvfpq]]). */
  def annIvfPqServeFrom(spark: SparkSession, dir: String,
      indexDir: String): DataFrame =
    withIvfpqLease(spark, dir, indexDir)(r =>
      ivfpqSearch(spark, r.index, r.queries))

  /** A persisted index held in memory for serving: the coarse quantizer
    * and the Q query vectors ([[ivfpqQueries]]) on the driver and the
    * per-cell blocks, N·d doubles of reconstruction plus N·d floats of
    * raw vectors, as a lineage cut (a lost block fails the request instead
    * of recomputing from files rewritten since). */
  private[graft] final case class ResidentIvfpq(index: IvfpqBlocks,
      queries: Array[(Long, Array[Float])])

  /** Resident indexes, one per (session, source dir, absolute index
    * dir). The stamp is the index directory's file stamp plus the source
    * fingerprint, as the raw and query vectors are resident too: a
    * re-persist — by [[ensureIvfpqIndex]] in this JVM or by any other
    * process — or a rewrite of the source embeddings makes the next
    * request load a new copy. Requests lease the copy they serve from,
    * and a copy's blocks are unpersisted once it is superseded and its
    * last request has ended. */
  private[graft] val residentIvfpq =
    graft.SessionMemo[(String, String), ResidentIvfpq]("resident_ivfpq",
      { case (dir, indexDir) =>
        Tables.fileStamp(java.nio.file.Paths.get(indexDir)) +
          ivfpqFingerprint(dir) })(
      { case (spark, (dir, indexDir)) =>
        val idx = ivfpqBlocks(spark, dir,
          CoarseQuantizer.of(spark.read.parquet(s"$indexDir/centroids")),
          Codebook.of(spark.read.parquet(s"$indexDir/codebook")),
          spark.read.parquet(s"$indexDir/codes"),
          graft.Ckpt.scaleParts(spark, indexDir))
        ResidentIvfpq(idx.copy(blocks = graft.Ckpt.cutRdd(spark, idx.blocks)),
          ivfpqQueries(spark, dir))
      },
      _.index.blocks.unpersist(blocking = false))

  /** Runs `f` on a lease of the resident copy of the index persisted at
    * `indexDir` from `dir`'s embeddings. */
  private[graft] def withIvfpqLease[T](spark: SparkSession, dir: String,
      indexDir: String)(f: ResidentIvfpq => T): T =
    residentIvfpq.lease(spark, (dir,
      java.nio.file.Paths.get(indexDir).toAbsolutePath.normalize.toString))(f)

  /** Bench hook: make the resident index of `dir`'s canonical index
    * location ready OUTSIDE any query's timing, as a stage build does. */
  private[graft] def materializeIvfpqIndex(spark: SparkSession,
      dir: String): Unit = {
    val idx = ivfpqIndexDir(spark, dir)
    ensureIvfpqIndex(spark, dir, idx)
    withIvfpqLease(spark, dir, idx)(_ => ())
  }

  /** q290: INCREMENTAL index append — the production FAISS `add()` path
    * that completes the q289 persistence story: the quantizer
    * (centroids + sub-codebooks) is trained ONCE on yesterday's slice
    * (the first 4/5 of the id space, both engines derive the cut from
    * count(*)) and FROZEN; today's vectors are ingested by ASSIGNMENT
    * only — coarse cell = nearest frozen centroid (q48's probe rule:
    * bit-identical doubles, ties → lowest cell), codes = argmin L2² to
    * the frozen sub-codebooks — and their code rows are unioned onto
    * the base index. NO retrain, NO shuffle of the base index: the
    * appended batch is one narrow pass against the frozen quantizer
    * shipped from the driver, which is why ingest cost at 100 TB scales
    * with the DELTA, not the corpus. Serving (probe → cell-confined
    * ADC → exact rerank) runs over the combined code table, unchanged. The oracle
    * recomputes the whole freeze-then-assign protocol from scratch, so
    * the gate proves the incremental path equals the protocol — the
    * same serve==retrain argument as q289, one step further. */
  def annIvfPqAppend(spark: SparkSession, dir: String): DataFrame = {
    val (quantizer, codebook, codes) = ivfpqAppendRelations(spark, dir)
    ivfpqSearch(spark, ivfpqBlocks(spark, dir, quantizer, codebook, codes,
      graft.Ckpt.scaleParts(spark, dir)), ivfpqQueries(spark, dir))
  }

  /** q290's index relations: the quantizer and codebook trained on the
    * base slice, and the base codes unioned with the delta's, which one
    * narrow map encodes against the frozen codebook and assigns to the
    * nearest frozen cell ([[pqCodes]]). */
  private[graft] def ivfpqAppendRelations(spark: SparkSession,
      dir: String): (CoarseQuantizer, Codebook, DataFrame) = {
    val eAll = quantized(t(spark, dir, "embeddings"))
    val cut = 4 * eAll.count() / 5
    val (quantizer, codebook, baseCodes) =
      ivfpqTrainRelationsFrom(spark, eAll.filter(col("vec_id") < cut))
    val deltaCodes = pqCodes(spark, eAll.filter(col("vec_id") >= cut),
      codebook, Some(quantizer))
    (quantizer, codebook, baseCodes.unionByName(deltaCodes))
  }

  /** Int8 scalar quantization of the embedding column — the storage/ANN
    * compression step (4x smaller vectors, SIMD-friendly int8 dot
    * products in serving systems): per vector, scale = 127/max|v|,
    * q_i = round(v_i * scale), and the reconstruction error |v_i - q_i/scale|
    * summarizes quantization quality per label. Pure per-row array math —
    * narrow at any scale; the only shuffle is the final per-label stats.
    * All arithmetic is widened to double BEFORE any op, so the oracle's
    * IEEE-754 math is bit-identical. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .filter(col("amax") > 0)
      .withColumn("scale", lit(127.0) / col("amax"))
      .withColumn("qerr", transform(col("v"),
        x => abs(x - round(x * col("scale")) / col("scale"))))
      .withColumn("mean_err",
        aggregate(col("qerr"), lit(0.0), (acc, x) => acc + x) /
          size(col("qerr")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("amax")), 6).as("avg_amax"),
           round(avg(col("mean_err")), 6).as("avg_mean_err"),
           round(max(array_max(col("qerr"))), 6).as("max_err"))

  /** L2 normalization + per-vector component stats — the vector
    * preprocessing pass before cosine-metric ANN indexing or k-means
    * (normalize once, then every cosine is a plain dot product). Pure
    * per-row array math, narrow at any scale; all arithmetic widens
    * float→double BEFORE any op and the fold is sequential, so the
    * doubles are bit-identical cross-engine (q38's proven idiom). The
    * `+ 0.0` canonicalizes IEEE signed zero for the exact-repr hash
    * gate (see Analytics.statsProfile). */
  def vecNormalize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .filter(col("vec_id") < 100)
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("nrm", VectorOps.l2Norm(col("embedding")))
      .select(col("vec_id"),
        (round(col("nrm"), 6) + lit(0.0)).as("norm_r"),
        (round(element_at(col("v"), 1) / col("nrm"), 6) + lit(0.0))
          .as("first_r"),
        (round(aggregate(col("v"), lit(0.0), (a, x) => a + x) /
          size(col("v")), 6) + lit(0.0)).as("mean_r"),
        (round(array_min(col("v")) / col("nrm"), 6) + lit(0.0)).as("min_r"),
        (round(array_max(col("v")) / col("nrm"), 6) + lit(0.0)).as("max_r"))

  private def cosExpr(a: String, b: String): String =
    s"""list_aggregate(
       |      [CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)
       |       for i in range(1, len($a.embedding) + 1)], 'sum')
       |      / ($a.nrm * $b.nrm)""".stripMargin

  /** Semi-hard negative mining (Schroff, Kalenichenko & Philbin, CVPR
    * 2015 — FaceNet's triplet-selection rule, the step that decides
    * whether contrastive training converges): for each query vector,
    * the hardest useful negatives are NOT the globally nearest
    * different-label vectors (too hard — they collapse training) but
    * those inside the semi-hard band (cos_pos − m, cos_pos): farther
    * than the nearest same-label positive, yet within margin m = 0.2
    * of it. One scored relation (query × candidate cosine, the q38
    * widened-float form) feeds BOTH the per-query positive max and
    * the banded negative filter — materialized once; top-5 negatives
    * per query by (cos desc, cand asc). Q is a fixed panel here; at
    * corpus-scale Q the scored relation routes through the q245 IVF
    * probe instead of the flat join — the mining algebra (max-positive
    * then band filter) is unchanged. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select(col("vec_id"),
      col("embedding"), col("label"),
      VectorOps.l2Norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").as("ql"))
    val c = e.select(col("vec_id").as("cand_id"),
      col("embedding").as("ce"), col("nrm").as("cn"),
      col("label").as("cl"))
    val scored = q.join(c, col("q_id") =!= col("cand_id"))
      // + 0.0 canonicalizes IEEE signed zero (see Analytics.statsProfile)
      .withColumn("cos", round(VectorOps.cosinePrenormed(
        VectorOps.dot(col("qe"), col("ce")), col("qn"), col("cn")), 6) +
        lit(0.0))
      .select(col("q_id"), col("ql"), col("cand_id"), col("cl"),
        col("cos"))
      .cutLineage() // consumed by the positive max AND the band filter
    val posMax = scored.filter(col("ql") === col("cl"))
      .groupBy(col("q_id")).agg(max(col("cos")).as("pos_cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    scored.filter(col("ql") =!= col("cl"))
      .join(posMax, Seq("q_id"))
      .filter(col("cos") < col("pos_cos") &&
        col("cos") > col("pos_cos") - 0.2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("cand_id"), col("cos"), col("pos_cos"),
        col("rn"))
  }

  /** PCA first principal component by power iteration (Golub & Van Loan
    * §8.2) — the eigen-decomposition member the vector family lacked:
    * which single direction carries the most embedding variance, and how
    * much of the total it explains. The corpus contributes exactly ONE
    * pass: the dim² Gram relation G_jk = Σ x_j·x_k (a per-vec_id
    * self-join of the (vec, dim, x) triples — 64 rows per side per
    * vector, partial-agg'd to the bounded 64×64 output) plus the per-dim
    * sums; the centered covariance C = n·G − S·Sᵀ, the max-abs
    * normalization, and all four power-iteration mat-vec rounds run on
    * that BOUNDED 4096-row relation — free at any corpus size, the
    * 64-bucket-recipe discipline. Everything is exact integer: x on the
    * q48 1000-grid, C normalized to ±10⁴ via a positive-shifted floor
    * div (numerator kept positive so Spark `div` ≡ DuckDB `//`; the
    * q236 precedent), each iterate re-normalized to ±10⁴ by its own
    * max|u| (greatest(·,1)-guarded) — so the iteration is bit-identical
    * in any engine and order-independent under any partitioning. Sign
    * and convergence are pinned by v₀ = +10⁴·1: four rounds separate
    * PC1 decisively on this data, and the readout carries the Rayleigh
    * share λ₁/tr(C) — scale-free, so the normalization cancels. Long
    * bounds: |C·10⁴| ≤ ~1.3e16 at sf0.1 and |u| ≤ 64·10⁸ — headroom to
    * ~50× this SF, then C flips to decimal(38) (the q261 precedent). */
  /** The q272 PC1 core, factored for reuse by [[embeddingDrift]]:
    * quantized (vec, dim, x) triples, the normalized covariance
    * relation and the 4-round power iterate. Identical relations to
    * the inline q272 form (same cutLineage points). A shared stage
    * ([[graft.SessionMemo]]): two catalog consumers (q272, q309) would
    * otherwise each rebuild the corpus-scaled Gram stage, and which one
    * paid would depend on run order (the r11 q256 stage-accounting
    * lesson); Bench prices the build as `stage_pc1`. */
  private val pc1Core = graft.SessionMemo("stage_pc1",
    graft.SessionMemo.dirStamp)(pc1CoreBuild)

  /** Clears every memo, the resident IVF-PQ indexes included (the one
    * between-pass reset Bench and the benchmark call). */
  private[graft] def clearPc1Cache(): Unit = graft.SessionMemo.clearAll()

  private def pc1CoreBuild(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val S = 10000L
    val pts = t(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(transform(col("embedding"), x =>
        floor(lit(1000.0) * x.cast("double") + lit(0.5)).cast("long")))
        .as(Seq("j", "x")))
      .withColumn("j", col("j") + 1)
      .cutLineage() // feeds dim sums + downstream q309 consumers
    // r16: Gram as ONE typed aggregate over the quantized vector array
    // (guide §1.2 step 2 / the MinHashAgg discipline) — the previous
    // (vec_id)-keyed self-join + groupBy(j,k) materialized n·d² rows
    // (8.2M at sf0.1) through join machinery to multiply-add them; the
    // agg does the same integer sums in a d² buffer with map-side
    // partial aggregation. Bit-identical (integer sums commute;
    // GramAggSpec pins equality against the join form).
    val gramBuf = t(spark, dir, "embeddings")
      .select(transform(col("embedding"), x =>
        floor(lit(1000.0) * x.cast("double") + lit(0.5)).cast("long"))
        .as("xs"))
      .agg(graft.functions.GramAgg.gram(col("xs")).as("gb"))
    val gram = gramBuf
      .select(expr("CAST(round(sqrt(size(gb)), 0) AS INT)").as("d"),
        posexplode(col("gb")).as(Seq("idx", "g")))
      // CAST(... AS INT): `div` yields BIGINT; the join form's j/k were
      // INT (posexplode idx + 1) — keep the stage's schema identical
      .select((expr("CAST(idx div d AS INT)") + 1).as("j"),
        (expr("CAST(idx % d AS INT)") + 1).as("k"), col("g"))
    val dimSums = pts.groupBy(col("j")).agg(sum(col("x")).as("s"))
    val nRows = t(spark, dir, "embeddings").agg(count(lit(1)).as("n"))
    val cRaw = gram
      .join(broadcast(dimSums), Seq("j"))
      .join(broadcast(dimSums.select(col("j").as("k"), col("s").as("sk"))),
        Seq("k"))
      .crossJoin(broadcast(nRows))
      .select(col("j"), col("k"),
        (col("n") * col("g") - col("s") * col("sk")).as("c"))
    val maxC = cRaw.agg(greatest(max(abs(col("c"))), lit(1L)).as("mc"))
    val cn = cRaw.crossJoin(broadcast(maxC))
      .select(col("j"), col("k"),
        expr(s"(c * $S + mc * $S) div mc - $S").as("c"))
      .cutLineage() // probed by four mat-vec rounds + the trace readout
    def matVec(v: DataFrame): DataFrame = {
      val u = cn.join(broadcast(v.select(col("j").as("k"), col("v"))),
        Seq("k"))
        .groupBy(col("j")).agg(sum(col("c") * col("v")).as("u"))
      val mu = u.agg(greatest(max(abs(col("u"))), lit(1L)).as("mu"))
      u.crossJoin(broadcast(mu))
        .select(col("j"), expr(s"(u * $S + mu * $S) div mu - $S").as("v"))
    }
    val v0 = cn.select(col("j")).distinct().withColumn("v", lit(S))
    val v4 = (1 to 4).foldLeft(v0)((v, _) => matVec(v)).cutLineage()
    (pts, cn, v4)
  }

  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val (_, cn, v4) = pc1Core(spark, dir)
    // Rayleigh share on the normalized matrix: λ = (vᵀC'v)/(vᵀv); the
    // variance share divides by tr(C') — both exact-integer reductions
    // over bounded relations, one rounding at the very end
    val u5 = cn.join(broadcast(v4.select(col("j").as("k"), col("v"))),
      Seq("k")).groupBy(col("j")).agg(sum(col("c") * col("v")).as("u"))
    val ray = v4.join(u5, Seq("j"))
      .agg(sum(col("v") * col("u")).as("num"),
        sum(col("v") * col("v")).as("den"))
    val tr = cn.filter(col("j") === col("k"))
      .agg(sum(col("c")).as("trc"))
    v4.crossJoin(broadcast(ray)).crossJoin(broadcast(tr))
      .select(col("j"), col("v").as("loading"),
        // nullif: an empty/degenerate matrix has zero trace — the
        // variance share is undefined, NULL in both engines (r16 sweep)
        (round(col("num").cast("double") /
          nullif(col("den").cast("double") * col("trc").cast("double"),
            lit(0.0)), 6)
          + lit(0.0)).as("ev_share_r"))
  }

  /** Embedding-distribution drift monitor on the PC1 projection
    * (the q258 PSI recipe pointed at the EMBEDDING space — the monitor
    * an LLM pipeline runs between corpus snapshots, where raw-space
    * drift is invisible to scalar profilers; projecting on the first
    * principal component concentrates the variance into ONE auditable
    * axis, cf. Rabanser et al., NeurIPS 2019 on dimensionality-reduced
    * drift detection). Reference = even vec_ids, current = odd (the
    * deterministic split this iid table supports — production would
    * key on snapshot id); scores are EXACT integer dot products of the
    * quantized vectors with the q272 integer loadings (|Σ x·v| ≤
    * 64·500·10⁴ — order-free), binned into 10 integer equal-width
    * slices; per-bin signed PSI contribution with the q258 NULL
    * convention for one-sided-empty bins. Corpus work: the shared PC1
    * core + one projection join + one 10-key partial agg. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val (pts, _, v4) = pc1Core(spark, dir)
    val scores = pts
      .join(broadcast(v4.select(col("j"), col("v"))), Seq("j"))
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("v")).as("sc"))
      .withColumn("is_ref", col("vec_id") % 2 === 0)
    val bounds = scores.agg(min(col("sc")).as("mn"),
      max(col("sc")).as("mx"))
    val binned = scores.crossJoin(broadcast(bounds))
      .withColumn("bin", expr("(sc - mn) * 10 div (mx + 1 - mn)"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val totals = binned.agg(sum(col("n_ref")).as("tot_ref"),
      sum(col("n_cur")).as("tot_cur"))
    binned.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round((col("n_ref").cast("double") / col("tot_ref") -
            col("n_cur").cast("double") / col("tot_cur")) *
            log(col("n_ref").cast("double") * col("tot_cur") /
              (col("n_cur").cast("double") * col("tot_ref"))), 6)
            + lit(0.0))
          .as("psi_contrib_r"))
  }

  private def pcaRoundSql(i: Int): String = {
    val p = i - 1
    s"""u$i AS (
       |  SELECT cn.j, CAST(sum(cn.c * v$p.v) AS BIGINT) AS u
       |  FROM cn JOIN v$p ON cn.k = v$p.j GROUP BY 1),
       |m$i AS (SELECT greatest(max(abs(u)), 1) AS mu FROM u$i),
       |v$i AS (
       |  SELECT j, (u * 10000 + mu * 10000) // mu - 10000 AS v
       |  FROM u$i, m$i)""".stripMargin
  }

  /** Shared PC1 oracle prefix (pts → … → v4), spliced into the q272
    * and q309 oracles so both recompute the IDENTICAL power iterate. */
  private def pc1CteSql: String =
    s"""pts AS (
       |  SELECT vec_id, CAST(r.i AS BIGINT) AS j,
       |    CAST(floor(1000.0 *
       |        CAST(embedding[CAST(r.i AS INT)] AS DOUBLE) + 0.5)
       |      AS BIGINT) AS x
       |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
       |gram AS (
       |  SELECT a.j, b.j AS k, CAST(sum(a.x * b.x) AS BIGINT) AS g
       |  FROM pts a JOIN pts b USING (vec_id) GROUP BY 1, 2),
       |ds AS (SELECT j, CAST(sum(x) AS BIGINT) AS s FROM pts GROUP BY 1),
       |nr AS (SELECT count(*) AS n FROM embeddings),
       |craw AS (
       |  SELECT g.j, g.k, n * g.g - ds.s * dk.s AS c
       |  FROM gram g JOIN ds ON ds.j = g.j
       |    JOIN ds dk ON dk.j = g.k, nr),
       |mc AS (SELECT greatest(max(abs(c)), 1) AS mc FROM craw),
       |cn AS (
       |  SELECT j, k, (c * 10000 + mc * 10000) // mc - 10000 AS c
       |  FROM craw, mc),
       |v0 AS (SELECT DISTINCT j, 10000 AS v FROM cn),
       |${(1 to 4).map(pcaRoundSql).mkString(",\n")}""".stripMargin

  /** Retrain-from-scratch oracle CTE chain shared by q245 (in-memory
    * index), q289 (persisted index served by a possibly different JVM)
    * and q316 (recall audit of the persisted index): the gates hashing
    * ALL of them against the same scratch recompute is the proof that
    * serve == retrain. Ends at `ranked` (exact-cosine rerank of the
    * ADC top-10); callers pick their k. */
  private def ivfpqOracleCtes: String =
    s"""e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
         |    [CAST(floor(1000.0 * CAST(x AS DOUBLE) + 0.5) AS BIGINT)
         |     for x in embedding] AS qv
         |  FROM embeddings),
         |sums AS (
         |  SELECT label AS cell, u.pos AS pos, sum(u.qx) AS s,
         |    count(*) AS cnt
         |  FROM (SELECT label, unnest([{'pos': i, 'qx': qv[i]}
         |        for i in range(1, len(qv) + 1)]) AS u FROM e)
         |  GROUP BY 1, 2),
         |cents AS (
         |  SELECT cell, list(CAST(s AS DOUBLE) / cnt ORDER BY pos) AS c
         |  FROM sums GROUP BY 1),
         |cb AS (
         |  SELECT t.m, cell AS code, c[t.m * 16 + 1 : t.m * 16 + 16] AS cw
         |  FROM cents CROSS JOIN range(0, 4) t(m)),
         |sv AS (
         |  SELECT vec_id AS cand_id, t.m,
         |    qv[t.m * 16 + 1 : t.m * 16 + 16] AS sv
         |  FROM e CROSS JOIN range(0, 4) t(m)),
         |codes AS (
         |  SELECT cand_id, m, code FROM (
         |    SELECT s.cand_id, s.m, cb.code,
         |      row_number() OVER (PARTITION BY s.cand_id, s.m ORDER BY
         |        list_aggregate([
         |          (CAST(s.sv[i] AS DOUBLE) - cb.cw[i]) *
         |          (CAST(s.sv[i] AS DOUBLE) - cb.cw[i])
         |          for i in range(1, len(s.sv) + 1)], 'sum') ASC,
         |        cb.code ASC) AS rnc
         |    FROM sv s JOIN cb ON s.m = cb.m) WHERE rnc = 1),
         |recon AS (
         |  SELECT k.cand_id, flatten(list(cb.cw ORDER BY k.m)) AS rvec
         |  FROM codes k JOIN cb ON k.m = cb.m AND k.code = cb.code
         |  GROUP BY 1),
         |reconc AS (
         |  SELECT r.cand_id, r.rvec, c.label AS cell
         |  FROM recon r JOIN e c ON c.vec_id = r.cand_id),
         |probe AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT e.vec_id, cn.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        (list_aggregate([CAST(e.embedding[i] AS DOUBLE) * cn.c[i]
         |          for i in range(1, len(e.embedding) + 1)], 'sum')
         |         / (e.nrm * sqrt(list_aggregate([cn.c[i] * cn.c[i]
         |          for i in range(1, len(cn.c) + 1)], 'sum')))) DESC,
         |        cn.cell ASC) AS rp
         |    FROM e CROSS JOIN cents cn WHERE e.vec_id < 20) WHERE rp <= 2),
         |adc AS (
         |  SELECT q.vec_id AS q_id, r.cand_id,
         |    list_aggregate([CAST(q.embedding[i] AS DOUBLE) * r.rvec[i]
         |      for i in range(1, len(r.rvec) + 1)], 'sum')
         |    / (q.nrm * sqrt(list_aggregate([r.rvec[i] * r.rvec[i]
         |      for i in range(1, len(r.rvec) + 1)], 'sum'))) AS adc
         |  FROM e q JOIN probe p ON p.q_id = q.vec_id
         |    JOIN reconc r ON r.cell = p.cell AND r.cand_id <> q.vec_id),
         |top AS (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc DESC, cand_id ASC) AS rna FROM adc)
         |  WHERE rna <= 10),
         |scored AS (
         |  SELECT t.q_id, t.cand_id,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM top t
         |    JOIN e q ON q.vec_id = t.q_id
         |    JOIN e c ON c.vec_id = t.cand_id),
         |ranked AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cand_id ASC) AS INT) AS rn
         |  FROM scored)""".stripMargin

  private def ivfpqOracleSql: String =
    s"""WITH $ivfpqOracleCtes
       |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 3"""
      .stripMargin

  /** k-NN classifier evaluation on the embedding space (Cover & Hart
    * 1967; the label-agreement audit of Fix & Hodges 1951): a disjoint
    * 10% query slice (vec_id ≡ 0 mod 10) is classified by the majority
    * label of its 5 nearest corpus neighbors (exact cosine, the q38
    * rounding/tie conventions), and the confusion matrix plus overall
    * accuracy grade how well the embedding geometry encodes the stored
    * labels — the embedding-quality / label-noise screen a pipeline
    * runs before trusting either for semantic dedup (q288) or
    * supervised training. Vote argmax and the confusion rollup run on
    * BOUNDED relations (queries × ≤10 labels); the candidate join is
    * the exact brute-force audit at gate scale — at 100 TB the
    * candidate generator swaps for the persisted IVF-PQ probe (q289)
    * with the protocol unchanged, exactly like q245's serve half.
    * accuracy_ppm is one integral division, carried on every row. */
  def knnEval(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "embeddings")
    val e = raw.select(col("vec_id"), col("embedding"), col("label"),
      graft.functions.VectorOps.l2Norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("label").cast("long").as("y"))
    val c = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("nrm").as("cn"), col("label").cast("long").as("yl"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val votes = q.join(c, col("q_id") =!= col("cand_id"))
      // + 0.0 canonicalizes IEEE signed zero (q38 note)
      .withColumn("cos", round(VectorOps.cosinePrenormed(
        VectorOps.dot(col("qe"), col("ce")), col("qn"), col("cn")), 6) +
        lit(0.0))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("q_id"), col("y"), col("yl"))
      .agg(count(lit(1)).as("v"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(col("v").desc, col("yl").asc)
    val conf = votes // bounded: queries × ≤10 candidate labels
      .withColumn("prn", row_number().over(wv))
      .filter(col("prn") === 1)
      .groupBy(col("y").as("label_true"), col("yl").as("label_pred"))
      .agg(count(lit(1)).as("n"))
    val acc = conf.agg(
      sum(when(col("label_true") === col("label_pred"), col("n"))
        .otherwise(0L)).as("ok"),
      sum(col("n")).as("tot"))
    conf.crossJoin(broadcast(acc))
      .select(col("label_true"), col("label_pred"), col("n"),
        expr("ok * 1000000 div tot").as("accuracy_ppm"))
  }

  /** Recall@5 of the PERSISTED IVF-PQ index against the exact 5-NN
    * ground truth — the index-quality metric an ANN serving owner
    * monitors (FAISS's own benchmark protocol: recall@k of the
    * approximate search vs exhaustive search, Johnson, Douze & Jégou,
    * IEEE Big Data 2019 §5; also the acceptance gate before swapping
    * q296's brute-force candidate generator for the index at 100 TB —
    * this query IS that declared swap, wired and gated). For the
    * serve-path queries (vec_id < 20): ANN top-5 = q289's persisted
    * probe → cell-confined ADC top-10 → exact-cosine rerank, cut at 5;
    * truth top-5 = exact rounded-cosine over ALL candidates (the q38
    * tie conventions). recall@5 per query = |ANN∩truth| / 5, plus the
    * mean over queries, both as single integral divisions.
    *
    * Scale shape: the ANN side rides the probed-cell fraction
    * (nprobe/cells of the corpus per query, through the persisted
    * code rows — never raw vectors); the truth side is ONE linear
    * Q×N scoring pass (Q fixed at 20) — the audit is linear in the
    * corpus, run per index build, and is the only part that touches
    * every vector. The oracle recomputes BOTH protocols from scratch
    * (train → probe → ADC → rerank, and the exhaustive truth), so the
    * gate proves persisted-serve == retrain at the recall readout too. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val ann5 = annTop5(spark, dir)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorOps.l2Norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val exact = q.join(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"), col("nrm").as("cn")),
        col("q_id") =!= col("cand_id"))
      // + 0.0 canonicalizes IEEE signed zero (q38 note)
      .withColumn("cos", round(VectorOps.cosinePrenormed(
        VectorOps.dot(col("qe"), col("ce")), col("qn"), col("cn")), 6) +
        lit(0.0))
      .withColumn("rne", row_number().over(w))
      .filter(col("rne") <= 5)
      .select(col("q_id"), col("cand_id"), lit(1L).as("hit"))
    val hits = ann5.join(exact, Seq("q_id", "cand_id"), "left_outer")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    val tot = hits.agg(sum(col("n_hit")).as("th"),
      count(lit(1)).as("nq"))
    hits.crossJoin(broadcast(tot))
      .select(col("q_id"), col("n_hit"),
        expr("n_hit * 1000000 div 5").as("recall_ppm"),
        expr("th * 1000000 div (5 * nq)").as("mean_recall_ppm"))
  }

  /** The persisted index's top-5 serve (q_id, cand_id) — [[annRecall]]'s
    * ANN side, exposed for the spec's hit-count cross-check against its
    * driver-side truth recompute. */
  private[graft] def annTop5(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfpqIndexDir(spark, dir)
    ensureIvfpqIndex(spark, dir, idx)
    withIvfpqLease(spark, dir, idx)(r =>
      ivfpqSearch(spark, r.index, r.queries, k = 5))
      .select(col("q_id"), col("cand_id"))
  }

  private def annRecallSql: String =
    s"""WITH $ivfpqOracleCtes,
       |ann5 AS (SELECT q_id, cand_id FROM ranked WHERE rn <= 5),
       |truth AS (
       |  SELECT q_id, cand_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(${cosExpr("q", "c")}, 6) + 0.0 DESC,
       |        c.vec_id ASC) AS rne
       |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 20)
       |  WHERE rne <= 5),
       |hits AS (
       |  SELECT a.q_id,
       |    CAST(count(t.cand_id) AS BIGINT) AS n_hit
       |  FROM ann5 a LEFT JOIN truth t
       |    ON t.q_id = a.q_id AND t.cand_id = a.cand_id
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(n_hit) AS BIGINT) AS th,
       |    CAST(count(*) AS BIGINT) AS nq FROM hits)
       |SELECT q_id, n_hit, n_hit * 1000000 // 5 AS recall_ppm,
       |  th * 1000000 // (5 * nq) AS mean_recall_ppm
       |FROM hits, tot""".stripMargin

  /** Johnson–Lindenstrauss random projection 64 → 16 with the
    * database-friendly ±1 sign matrix (Achlioptas, JCSS 2003; the JL
    * lemma 1984) plus the distortion audit that justifies serving ANN
    * from the compressed vectors. Exactness discipline: vectors land on
    * the q48 1000-grid FIRST, and the sign matrix is ±1, so every
    * projected coordinate is an exact INTEGER sum — order-free under
    * any partitioning (a float projection would be partial-agg
    * order-dependent and could never hash-match). The sign matrix is
    * data-free portable hash (md5 parity over (j, d) — 1024 broadcast
    * rows derived identically in both engines); projection is ONE
    * explode → broadcast-join → partial-agg pass, linear in the corpus
    * with no shuffle wider than (vec, 16). The audit computes, for a
    * bounded 20×50 query–candidate grid, the squared-distance ratio
    * proj²/(16·orig²) whose expectation is 1 under JL — the check a
    * pipeline runs before swapping raw vectors for projected ones in
    * q38/q245. Identical-vector pairs (orig² = 0 — this table DOES
    * carry exact duplicates, q37/q288) yield NULL by the shared CASE
    * guard. */
  def rpJl(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val eq = t(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("d0", "x")))
      .select(col("vec_id"), (col("d0") + 1).as("d"),
        expr("CAST(floor(1000.0 * CAST(x AS DOUBLE) + 0.5) AS BIGINT)")
          .as("xq"))
    val signs = spark.range(0, 16).toDF("j")
      .crossJoin(spark.range(1, 65).toDF("d"))
      .select(col("j"), col("d"),
        when(TextOps.portableHash(concat(lit("jl:"),
          col("j").cast("string"), lit(":"), col("d").cast("string")))
          % 2 === 0, 1L).otherwise(-1L).as("s"))
    val proj = eq.join(broadcast(signs), Seq("d"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("s") * col("xq")).as("p"))
    val qd = eq.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("d"), col("xq").as("xa"))
    val cd = eq.filter(col("vec_id") >= 100 && col("vec_id") < 150)
      .select(col("vec_id").as("c_id"), col("d"), col("xq").as("xb"))
    val orig = qd.join(cd, Seq("d"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum((col("xa") - col("xb")) * (col("xa") - col("xb")))
        .as("orig_d2"))
    val qp = proj.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("j"), col("p").as("pa"))
    val cp = proj.filter(col("vec_id") >= 100 && col("vec_id") < 150)
      .select(col("vec_id").as("c_id"), col("j"), col("p").as("pb"))
    val pd = qp.join(cp, Seq("j"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum((col("pa") - col("pb")) * (col("pa") - col("pb")))
        .as("proj_d2"))
    orig.join(pd, Seq("q_id", "c_id"))
      .select(col("q_id"), col("c_id"), col("orig_d2"), col("proj_d2"),
        expr("CASE WHEN orig_d2 = 0 THEN NULL ELSE " +
          "round(CAST(proj_d2 AS DOUBLE) / (16.0 * orig_d2), 6) + 0.0" +
          " END").as("ratio_r"))
  }

  /** Lexical-vs-dense retrieval agreement audit (the diagnosis BEHIND
    * q265's RRF fusion — Cormack, Clarke & Buettcher, SIGIR 2009 fuse
    * BECAUSE the two retrievers surface different neighbors; this
    * measures HOW different, per query and in aggregate): for 20 query
    * ids, lexical top-5 = distinct-token Jaccard neighbors among
    * documents (token equi-join candidates, exact integer Jaccard ppm,
    * deterministic ties), dense top-5 = q38's rounded-cosine neighbors
    * among the id-aligned embeddings, and agreement = |L∩D| with its
    * Jaccard over the ACTUAL list sizes (|L| + |D| − |L∩D| in the
    * denominator — a query with fewer than 5 lexical neighbors gets a
    * short list, not a padded union). On THIS feed text and vectors
    * are drawn independently, so the honest expectation the gate pins
    * is near-zero agreement — exactly the regime where fusion helps
    * most. Scale shape: the lexical candidate join is (query tokens ×
    * posting lists), bounded by the 20-query slice; the dense side is
    * the q38 audit at gate scale (q289's probe at 100 TB); the
    * mean_overlap readout is one integral division carried per row. */
  def retrievalAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docTok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
      .cutLineage() // feeds sizes AND both sides of the candidate join
    val sizes = docTok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"))
    val qtok = docTok.filter(col("doc_id") < 20)
      .select(col("doc_id").as("q_id"), col("w"))
    val inter = qtok
      .join(docTok.select(col("doc_id").as("c_id"), col("w")), Seq("w"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(count(lit(1)).as("ov"))
    val wLex = Window.partitionBy(col("q_id"))
      .orderBy(col("jac_ppm").desc, col("c_id").asc)
    val lexTop = inter
      .join(sizes.select(col("doc_id").as("q_id"), col("sz").as("sq")),
        Seq("q_id"))
      .join(sizes.select(col("doc_id").as("c_id"), col("sz").as("sc")),
        Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        expr("ov * 1000000 div (sq + sc - ov)").as("jac_ppm"))
      .withColumn("rn", row_number().over(wLex))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"))
    val e = withNorm(t(spark, dir, "embeddings"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("c_id"),
      col("embedding").as("ce"), col("nrm").as("cn"))
    val wDen = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id").asc)
    val denTop = q.join(c, col("q_id") =!= col("c_id"))
      // + 0.0 canonicalizes IEEE signed zero (q38 note)
      .withColumn("cos", round(VectorOps.cosinePrenormed(
        VectorOps.dot(col("qe"), col("ce")), col("qn"), col("cn")), 6) +
        lit(0.0))
      .withColumn("rn", row_number().over(wDen))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("c_id"))
    val perQ = lexTop
      .join(denTop.withColumnRenamed("c_id", "d_id"),
        lexTop("q_id") === denTop("q_id") &&
          lexTop("c_id") === col("d_id"))
      .groupBy(lexTop("q_id").as("oq")).agg(count(lit(1)).as("n_common"))
    // Jaccard over the ACTUAL list sizes: the dense list is always 5
    // (corpus ≫ 5), but the lexical list can be SHORT — a query doc
    // with fewer than 5 token-overlapping neighbors has |L| < 5, and
    // a fixed 10-element union would understate its Jaccard (r12
    // advice). union = |L| + 5 − n_common; |L| = 0 forces
    // n_common = 0, so the denominator never hits 0.
    val lexN = lexTop.groupBy(col("q_id")).agg(count(lit(1)).as("l_n"))
    val out = q.select(col("q_id"))
      .join(perQ, col("q_id") === col("oq"), "left_outer")
      .join(lexN, Seq("q_id"), "left_outer")
      .na.fill(0L, Seq("n_common", "l_n"))
      .select(col("q_id"), col("n_common"),
        expr("n_common * 1000000 div (l_n + 5 - n_common)")
          .as("jaccard5_ppm"))
    val tot = out.agg(sum(col("n_common")).as("sum_common"),
      count(lit(1)).as("nq"))
    out.crossJoin(broadcast(tot))
      .select(col("q_id"), col("n_common"), col("jaccard5_ppm"),
        expr("sum_common * 1000000 div (5 * nq)")
          .as("mean_overlap_ppm"))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998):
    * from the top-20 cosine candidates for the query vector (vec 0),
    * greedily pick k = 5 maximizing λ·rel − (1−λ)·max_{s∈S} sim(·, s)
    * with λ = 0.7 — the serving-side step that stops a RAG retriever
    * returning five near-copies of the same passage. Exactness: rel and
    * the pairwise sims are quantized to integer ppm AT the scored row
    * (the shared q38 cosine), λ rides as the integer pair (7, 3) with
    * the score ×10, ties (score DESC, id ASC) — the whole greedy is
    * integer arithmetic both engines replay exactly (the oracle unrolls
    * the five selections as correlated-argmax CTEs). Shapes: the
    * corpus-scale work is the one N-scan query scoring + top-20
    * TakeOrderedAndProject; the candidate pairwise matrix is a BOUNDED
    * 20×19 relation, and the greedy runs on its collected integer form
    * — constant driver state, the BPE-argmax discipline (at 100 TB the
    * pool size is still a serving constant, never corpus-sized). */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val kSel = 5
    val e = withNorm(t(spark, dir, "embeddings"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    val cands = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("cand_id"), col("embedding"), col("nrm"),
        floor(VectorOps.cosinePrenormed(
          VectorOps.dot(col("qe"), col("embedding")),
          col("qn"), col("nrm")) * 1000000 + 0.5).cast("long")
          .as("rel_ppm"))
      .orderBy(col("rel_ppm").desc, col("cand_id").asc).limit(20)
      .cutLineage() // bounded 20 rows; feeds both pair sides + collect
    val sims = cands.as("a").join(cands.as("b"),
        col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.cand_id").as("a"), col("b.cand_id").as("b"),
        floor(VectorOps.cosinePrenormed(
          VectorOps.dot(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")) * 1000000 + 0.5).cast("long")
          .as("sim_ppm"))
    val rel = cands.select(col("cand_id"), col("rel_ppm")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val simM = sims.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)] // rk, id, rel_ppm, mmr
    val remaining = scala.collection.mutable.Set(rel.keys.toSeq: _*)
    // degrade to fewer rows when the candidate pool is short of kSel
    // (query vector absent / tiny embeddings table) — matching the
    // oracle's fewer-rows behavior instead of maxBy-on-empty crashing
    for (rk <- 1L to math.min(kSel.toLong, remaining.size.toLong)) {
      val best = remaining.toSeq.map { id =>
        val maxSim = picked.map(p => simM((id, p._2))).maxOption
          .getOrElse(0L)
        (7L * rel(id) - 3L * maxSim, id)
      }.maxBy { case (score, id) => (score, -id) }
      picked += ((rk, best._2, rel(best._2), best._1))
      remaining -= best._2
    }
    import spark.implicits._
    picked.toSeq.toDF("rk", "cand_id", "rel_ppm", "mmr_score")
  }

  private def mmrRerankSql: String = {
    val sels = (2 to 5).map { i =>
      s"""s$i AS (
         |  SELECT c.cand_id, c.rel_ppm,
         |    CAST(7 * c.rel_ppm - 3 * coalesce((
         |      SELECT max(m.sim_ppm) FROM sims m
         |      WHERE m.a = c.cand_id AND m.b IN
         |        (SELECT cand_id FROM sel${i - 1})), 0) AS BIGINT)
         |      AS mmr
         |  FROM cands c
         |  WHERE c.cand_id NOT IN (SELECT cand_id FROM sel${i - 1})
         |  ORDER BY mmr DESC, c.cand_id ASC LIMIT 1),
         |sel$i AS (SELECT cand_id FROM sel${i - 1}
         |          UNION ALL SELECT cand_id FROM s$i)""".stripMargin
    }
    val out = (1 to 5).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rk, cand_id, rel_ppm, mmr " +
        s"AS mmr_score FROM s$i").mkString("\nUNION ALL\n")
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
      |  FROM embeddings),
      |cands AS (
      |  SELECT c.vec_id AS cand_id, c.embedding, c.nrm,
      |    CAST(floor(${cosExpr("q", "c")} * 1000000 + 0.5) AS BIGINT)
      |      AS rel_ppm
      |  FROM e c, (SELECT * FROM e WHERE vec_id = 0) q
      |  WHERE c.vec_id <> 0
      |  ORDER BY rel_ppm DESC, cand_id ASC LIMIT 20),
      |sims AS MATERIALIZED (
      |  SELECT a.cand_id AS a, b.cand_id AS b,
      |    CAST(floor(list_aggregate(
      |      [CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i]
      |         AS DOUBLE) for i in range(1, len(a.embedding) + 1)],
      |      'sum') / (a.nrm * b.nrm) * 1000000 + 0.5) AS BIGINT)
      |      AS sim_ppm
      |  FROM cands a JOIN cands b ON a.cand_id <> b.cand_id),
      |s1 AS (
      |  SELECT cand_id, rel_ppm, CAST(7 * rel_ppm AS BIGINT) AS mmr
      |  FROM cands ORDER BY rel_ppm DESC, cand_id ASC LIMIT 1),
      |sel1 AS (SELECT cand_id FROM s1),
      |${sels.mkString(",\n")}
      |$out""".stripMargin
  }

  val catalog: Seq[Q] = Seq(
    Q("q354_mmr_rerank", mmrRerank _, mmrRerankSql),
    Q("q310_retrieval_agreement", retrievalAgreement _,
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, w
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |        FROM documents)),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM dt GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS q_id, b.doc_id AS c_id,
         |    CAST(count(*) AS BIGINT) AS ov
         |  FROM dt a JOIN dt b ON b.w = a.w AND b.doc_id <> a.doc_id
         |  WHERE a.doc_id < 20
         |  GROUP BY 1, 2),
         |lex AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT i.q_id, i.c_id,
         |      row_number() OVER (PARTITION BY i.q_id ORDER BY
         |        i.ov * 1000000 // (sq.sz + sc.sz - i.ov) DESC,
         |        i.c_id ASC) AS rn
         |    FROM inter i
         |      JOIN sizes sq ON sq.doc_id = i.q_id
         |      JOIN sizes sc ON sc.doc_id = i.c_id)
         |  WHERE rn <= 5),
         |e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
         |      AS nrm
         |  FROM embeddings),
         |den AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        round(${cosExpr("q", "c")}, 6) + 0.0 DESC,
         |        c.vec_id ASC) AS rn
         |    FROM e q JOIN e c ON q.vec_id <> c.vec_id
         |    WHERE q.vec_id < 20)
         |  WHERE rn <= 5),
         |perq AS (
         |  SELECT l.q_id, CAST(count(*) AS BIGINT) AS n_common
         |  FROM lex l JOIN den d
         |    ON d.q_id = l.q_id AND d.c_id = l.c_id
         |  GROUP BY 1),
         |lexn AS (
         |  SELECT q_id, CAST(count(*) AS BIGINT) AS l_n
         |  FROM lex GROUP BY 1),
         |outq AS (
         |  SELECT e.vec_id AS q_id,
         |    coalesce(p.n_common, 0) AS n_common,
         |    coalesce(ln.l_n, 0) AS l_n
         |  FROM e LEFT JOIN perq p ON p.q_id = e.vec_id
         |    LEFT JOIN lexn ln ON ln.q_id = e.vec_id
         |  WHERE e.vec_id < 20),
         |tot AS (
         |  SELECT CAST(sum(n_common) AS BIGINT) AS sum_common,
         |    count(*) AS nq FROM outq)
         |SELECT q_id, n_common,
         |  n_common * 1000000 // (l_n + 5 - n_common) AS jaccard5_ppm,
         |  sum_common * 1000000 // (5 * nq) AS mean_overlap_ppm
         |FROM outq, tot""".stripMargin),
    Q("q309_embedding_drift", embeddingDrift _,
      s"""WITH $pc1CteSql,
         |scores AS (
         |  SELECT pts.vec_id,
         |    CAST(sum(pts.x * v4.v) AS BIGINT) AS sc,
         |    min(pts.vec_id % 2 = 0) AS is_ref
         |  FROM pts JOIN v4 ON v4.j = pts.j
         |  GROUP BY 1),
         |b AS (SELECT min(sc) AS mn, max(sc) AS mx FROM scores),
         |binned AS (
         |  SELECT (sc - mn) * 10 // (mx + 1 - mn) AS bin,
         |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_ref,
         |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_cur
         |  FROM scores, b GROUP BY 1),
         |tt AS (
         |  SELECT CAST(sum(n_ref) AS BIGINT) AS tot_ref,
         |    CAST(sum(n_cur) AS BIGINT) AS tot_cur FROM binned)
         |SELECT bin, n_ref, n_cur,
         |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
         |    round((CAST(n_ref AS DOUBLE) / tot_ref -
         |      CAST(n_cur AS DOUBLE) / tot_cur) *
         |      ln(CAST(n_ref AS DOUBLE) * tot_cur /
         |        (CAST(n_cur AS DOUBLE) * tot_ref)), 6) + 0.0
         |  END AS psi_contrib_r
         |FROM binned, tt""".stripMargin),
    Q("q303_rp_jl", rpJl _,
      """WITH eq AS (
         |  SELECT vec_id, d.i AS d,
         |    CAST(floor(1000.0 * CAST(embedding[d.i] AS DOUBLE) + 0.5)
         |      AS BIGINT) AS xq
         |  FROM embeddings, range(1, 65) d(i)),
         |signs AS (
         |  SELECT j.a AS j, d.i AS d,
         |    CASE WHEN ('0x' || substr(md5('jl:' ||
         |      CAST(j.a AS VARCHAR) || ':' || CAST(d.i AS VARCHAR)),
         |      1, 8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM range(0, 16) j(a), range(1, 65) d(i)),
         |proj AS (
         |  SELECT vec_id, j, CAST(sum(s * xq) AS BIGINT) AS p
         |  FROM eq JOIN signs USING (d) GROUP BY 1, 2),
         |orig AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    CAST(sum((a.xq - b.xq) * (a.xq - b.xq)) AS BIGINT)
         |      AS orig_d2
         |  FROM eq a JOIN eq b ON a.d = b.d
         |  WHERE a.vec_id < 20 AND b.vec_id >= 100 AND b.vec_id < 150
         |  GROUP BY 1, 2),
         |pd AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS proj_d2
         |  FROM proj a JOIN proj b ON a.j = b.j
         |  WHERE a.vec_id < 20 AND b.vec_id >= 100 AND b.vec_id < 150
         |  GROUP BY 1, 2)
         |SELECT o.q_id, o.c_id, o.orig_d2, p.proj_d2,
         |  CASE WHEN o.orig_d2 = 0 THEN NULL ELSE
         |    round(CAST(p.proj_d2 AS DOUBLE) / (16.0 * o.orig_d2), 6)
         |    + 0.0 END AS ratio_r
         |FROM orig o JOIN pd p
         |  ON p.q_id = o.q_id AND p.c_id = o.c_id""".stripMargin),
    Q("q296_knn_eval", knnEval _,
      s"""WITH e AS (
         |  SELECT vec_id, embedding, label,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
         |      AS nrm
         |  FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id % 10 = 0),
         |c AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
         |scored AS (
         |  SELECT q.vec_id AS q_id, CAST(q.label AS BIGINT) AS y,
         |    CAST(c.label AS BIGINT) AS yl, c.vec_id AS cand_id,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM q JOIN c ON q.vec_id <> c.vec_id),
         |votes AS (
         |  SELECT q_id, y, yl, count(*) AS v FROM (
         |    SELECT q_id, y, yl,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, cand_id ASC) AS rn
         |    FROM scored) WHERE rn <= 5
         |  GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT y, yl FROM (
         |    SELECT y, yl, row_number() OVER (PARTITION BY q_id
         |      ORDER BY v DESC, yl ASC) AS prn
         |    FROM votes) WHERE prn = 1),
         |conf AS (
         |  SELECT y AS label_true, yl AS label_pred,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY 1, 2),
         |acc AS (
         |  SELECT CAST(sum(CASE WHEN label_true = label_pred THEN n
         |      ELSE 0 END) AS BIGINT) AS ok,
         |    CAST(sum(n) AS BIGINT) AS tot FROM conf)
         |SELECT label_true, label_pred, n, ok * 1000000 // tot
         |  AS accuracy_ppm
         |FROM conf, acc""".stripMargin),
    Q("q272_pca_power", pcaPower _,
      s"""WITH $pc1CteSql,
         |u5 AS (
         |  SELECT cn.j, CAST(sum(cn.c * v4.v) AS BIGINT) AS u
         |  FROM cn JOIN v4 ON cn.k = v4.j GROUP BY 1),
         |ray AS (
         |  SELECT CAST(sum(v4.v * u5.u) AS BIGINT) AS num,
         |    CAST(sum(v4.v * v4.v) AS BIGINT) AS den
         |  FROM v4 JOIN u5 USING (j)),
         |tr AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS trc FROM cn WHERE j = k)
         |SELECT v4.j, v4.v AS loading,
         |  round(CAST(num AS DOUBLE) /
         |    nullif(CAST(den AS DOUBLE) * CAST(trc AS DOUBLE), 0.0), 6)
         |    + 0.0
         |    AS ev_share_r
         |FROM v4, ray, tr""".stripMargin),
    Q("q268_hard_negatives", hardNegatives _,
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, q.label AS ql,
         |    c.vec_id AS cand_id, c.label AS cl,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 50),
         |pos AS (
         |  SELECT q_id, max(cos) AS pos_cos FROM scored
         |  WHERE ql = cl GROUP BY 1),
         |neg AS (
         |  SELECT s.q_id, s.cand_id, s.cos, p.pos_cos,
         |    CAST(row_number() OVER (PARTITION BY s.q_id
         |      ORDER BY s.cos DESC, s.cand_id ASC) AS INT) AS rn
         |  FROM scored s JOIN pos p ON s.q_id = p.q_id
         |  WHERE s.ql <> s.cl AND s.cos < p.pos_cos
         |    AND s.cos > p.pos_cos - 0.2)
         |SELECT q_id, cand_id, cos, pos_cos, rn FROM neg
         |WHERE rn <= 5""".stripMargin),
    Q("q122_vec_normalize", vecNormalize _,
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_aggregate(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        |  FROM embeddings WHERE vec_id < 100)
        |SELECT vec_id,
        |  round(nrm, 6) + 0.0 AS norm_r,
        |  round(v[1] / nrm, 6) + 0.0 AS first_r,
        |  round(list_aggregate(v, 'sum') / len(v), 6) + 0.0 AS mean_r,
        |  round(list_min(v) / nrm, 6) + 0.0 AS min_r,
        |  round(list_max(v) / nrm, 6) + 0.0 AS max_r
        |FROM e""".stripMargin),
    Q("q48_ann_ivf", annIvf _,
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
         |    [CAST(floor(1000.0 * CAST(x AS DOUBLE) + 0.5) AS BIGINT)
         |     for x in embedding] AS qv
         |  FROM embeddings),
         |sums AS (
         |  SELECT label AS cell, u.pos AS pos, sum(u.qx) AS s,
         |    count(*) AS cnt
         |  FROM (SELECT label, unnest([{'pos': i, 'qx': qv[i]}
         |        for i in range(1, len(qv) + 1)]) AS u FROM e)
         |  GROUP BY 1, 2),
         |cents AS (
         |  SELECT cell, list(CAST(s AS DOUBLE) / cnt ORDER BY pos) AS c
         |  FROM sums GROUP BY 1),
         |probe AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT e.vec_id, cn.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        (list_aggregate([CAST(e.embedding[i] AS DOUBLE) * cn.c[i]
         |          for i in range(1, len(e.embedding) + 1)], 'sum')
         |         / (e.nrm * sqrt(list_aggregate([cn.c[i] * cn.c[i]
         |          for i in range(1, len(cn.c) + 1)], 'sum')))) DESC,
         |        cn.cell ASC) AS rn
         |    FROM e CROSS JOIN cents cn WHERE e.vec_id < 50) WHERE rn = 1),
         |scored AS (
         |  SELECT p.q_id, c.vec_id AS cand_id,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM probe p
         |    JOIN e q ON q.vec_id = p.q_id
         |    JOIN e c ON c.label = p.cell AND c.vec_id <> p.q_id),
         |ranked AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cand_id ASC) AS INT) AS rn
         |  FROM scored)
         |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 3""".stripMargin),
    Q("q201_ann_pq", annPq _,
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
         |    [CAST(floor(1000.0 * CAST(x AS DOUBLE) + 0.5) AS BIGINT)
         |     for x in embedding] AS qv
         |  FROM embeddings),
         |sums AS (
         |  SELECT label AS cell, u.pos AS pos, sum(u.qx) AS s,
         |    count(*) AS cnt
         |  FROM (SELECT label, unnest([{'pos': i, 'qx': qv[i]}
         |        for i in range(1, len(qv) + 1)]) AS u FROM e)
         |  GROUP BY 1, 2),
         |cents AS (
         |  SELECT cell, list(CAST(s AS DOUBLE) / cnt ORDER BY pos) AS c
         |  FROM sums GROUP BY 1),
         |cb AS (
         |  SELECT t.m, cell AS code, c[t.m * 16 + 1 : t.m * 16 + 16] AS cw
         |  FROM cents CROSS JOIN range(0, 4) t(m)),
         |sv AS (
         |  SELECT vec_id AS cand_id, t.m,
         |    qv[t.m * 16 + 1 : t.m * 16 + 16] AS sv
         |  FROM e CROSS JOIN range(0, 4) t(m)),
         |codes AS (
         |  SELECT cand_id, m, code FROM (
         |    SELECT s.cand_id, s.m, cb.code,
         |      row_number() OVER (PARTITION BY s.cand_id, s.m ORDER BY
         |        list_aggregate([
         |          (CAST(s.sv[i] AS DOUBLE) - cb.cw[i]) *
         |          (CAST(s.sv[i] AS DOUBLE) - cb.cw[i])
         |          for i in range(1, len(s.sv) + 1)], 'sum') ASC,
         |        cb.code ASC) AS rnc
         |    FROM sv s JOIN cb ON s.m = cb.m) WHERE rnc = 1),
         |recon AS (
         |  SELECT k.cand_id, flatten(list(cb.cw ORDER BY k.m)) AS rvec
         |  FROM codes k JOIN cb ON k.m = cb.m AND k.code = cb.code
         |  GROUP BY 1),
         |adc AS (
         |  SELECT q.vec_id AS q_id, r.cand_id,
         |    list_aggregate([CAST(q.embedding[i] AS DOUBLE) * r.rvec[i]
         |      for i in range(1, len(r.rvec) + 1)], 'sum')
         |    / (q.nrm * sqrt(list_aggregate([r.rvec[i] * r.rvec[i]
         |      for i in range(1, len(r.rvec) + 1)], 'sum'))) AS adc
         |  FROM e q JOIN recon r ON r.cand_id <> q.vec_id
         |  WHERE q.vec_id < 20),
         |top AS (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc DESC, cand_id ASC) AS rna FROM adc)
         |  WHERE rna <= 10),
         |scored AS (
         |  SELECT t.q_id, t.cand_id,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM top t
         |    JOIN e q ON q.vec_id = t.q_id
         |    JOIN e c ON c.vec_id = t.cand_id),
         |ranked AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cand_id ASC) AS INT) AS rn
         |  FROM scored)
         |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 3""".stripMargin),
    Q("q245_ann_ivfpq", annIvfPq _, ivfpqOracleSql),
    Q("q289_ann_serve", annIvfPqServe _, ivfpqOracleSql),
    Q("q316_ann_recall", annRecall _, annRecallSql),
    Q("q290_ann_append", annIvfPqAppend _,
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
         |    [CAST(floor(1000.0 * CAST(x AS DOUBLE) + 0.5) AS BIGINT)
         |     for x in embedding] AS qv
         |  FROM embeddings),
         |cutoff AS (SELECT 4 * count(*) // 5 AS b FROM e),
         |base AS (SELECT e.* FROM e, cutoff WHERE vec_id < b),
         |delta AS (SELECT e.* FROM e, cutoff WHERE vec_id >= b),
         |sums AS (
         |  SELECT label AS cell, u.pos AS pos, sum(u.qx) AS s,
         |    count(*) AS cnt
         |  FROM (SELECT label, unnest([{'pos': i, 'qx': qv[i]}
         |        for i in range(1, len(qv) + 1)]) AS u FROM base)
         |  GROUP BY 1, 2),
         |cents AS (
         |  SELECT cell, list(CAST(s AS DOUBLE) / cnt ORDER BY pos) AS c
         |  FROM sums GROUP BY 1),
         |cb AS (
         |  SELECT t.m, cell AS code, c[t.m * 16 + 1 : t.m * 16 + 16] AS cw
         |  FROM cents CROSS JOIN range(0, 4) t(m)),
         |sv AS (
         |  SELECT vec_id AS cand_id, t.m,
         |    qv[t.m * 16 + 1 : t.m * 16 + 16] AS sv
         |  FROM e CROSS JOIN range(0, 4) t(m)),
         |codes AS (
         |  SELECT cand_id, m, code FROM (
         |    SELECT s.cand_id, s.m, cb.code,
         |      row_number() OVER (PARTITION BY s.cand_id, s.m ORDER BY
         |        list_aggregate([
         |          (CAST(s.sv[i] AS DOUBLE) - cb.cw[i]) *
         |          (CAST(s.sv[i] AS DOUBLE) - cb.cw[i])
         |          for i in range(1, len(s.sv) + 1)], 'sum') ASC,
         |        cb.code ASC) AS rnc
         |    FROM sv s JOIN cb ON s.m = cb.m) WHERE rnc = 1),
         |cells_b AS (SELECT vec_id AS cand_id, label AS cell FROM base),
         |cells_d AS (
         |  SELECT vec_id AS cand_id, cell FROM (
         |    SELECT d.vec_id, cn.cell,
         |      row_number() OVER (PARTITION BY d.vec_id ORDER BY
         |        (list_aggregate([CAST(d.embedding[i] AS DOUBLE) * cn.c[i]
         |          for i in range(1, len(d.embedding) + 1)], 'sum')
         |         / (d.nrm * sqrt(list_aggregate([cn.c[i] * cn.c[i]
         |          for i in range(1, len(cn.c) + 1)], 'sum')))) DESC,
         |        cn.cell ASC) AS rn
         |    FROM delta d CROSS JOIN cents cn) WHERE rn = 1),
         |cells_all AS (
         |  SELECT * FROM cells_b UNION ALL SELECT * FROM cells_d),
         |recon AS (
         |  SELECT k.cand_id, flatten(list(cb.cw ORDER BY k.m)) AS rvec
         |  FROM codes k JOIN cb ON k.m = cb.m AND k.code = cb.code
         |  GROUP BY 1),
         |reconc AS (
         |  SELECT r.cand_id, r.rvec, ca.cell
         |  FROM recon r JOIN cells_all ca ON ca.cand_id = r.cand_id),
         |probe AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT e.vec_id, cn.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        (list_aggregate([CAST(e.embedding[i] AS DOUBLE) * cn.c[i]
         |          for i in range(1, len(e.embedding) + 1)], 'sum')
         |         / (e.nrm * sqrt(list_aggregate([cn.c[i] * cn.c[i]
         |          for i in range(1, len(cn.c) + 1)], 'sum')))) DESC,
         |        cn.cell ASC) AS rp
         |    FROM e CROSS JOIN cents cn WHERE e.vec_id < 20) WHERE rp <= 2),
         |adc AS (
         |  SELECT q.vec_id AS q_id, r.cand_id,
         |    list_aggregate([CAST(q.embedding[i] AS DOUBLE) * r.rvec[i]
         |      for i in range(1, len(r.rvec) + 1)], 'sum')
         |    / (q.nrm * sqrt(list_aggregate([r.rvec[i] * r.rvec[i]
         |      for i in range(1, len(r.rvec) + 1)], 'sum'))) AS adc
         |  FROM e q JOIN probe p ON p.q_id = q.vec_id
         |    JOIN reconc r ON r.cell = p.cell AND r.cand_id <> q.vec_id),
         |top AS (
         |  SELECT q_id, cand_id FROM (
         |    SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc DESC, cand_id ASC) AS rna FROM adc)
         |  WHERE rna <= 10),
         |scored AS (
         |  SELECT t.q_id, t.cand_id,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM top t
         |    JOIN e q ON q.vec_id = t.q_id
         |    JOIN e c ON c.vec_id = t.cand_id),
         |ranked AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cand_id ASC) AS INT) AS rn
         |  FROM scored)
         |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 3"""
        .stripMargin),
    Q("q89_embedding_quantize", embeddingQuantize _,
      """WITH v AS (
        |  SELECT label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT label, v,
        |    list_max(list_transform(v, x -> abs(x))) AS amax
        |  FROM v),
        |e AS (
        |  SELECT label, amax,
        |    list_transform(v,
        |      x -> abs(x - round(x * (127.0 / amax)) / (127.0 / amax)))
        |      AS qerr
        |  FROM m WHERE amax > 0),
        |d AS (
        |  SELECT label, amax,
        |    list_aggregate(qerr, 'sum') / len(qerr) AS mean_err,
        |    list_max(qerr) AS max_err
        |  FROM e)
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(amax), 6) AS avg_amax,
        |  round(avg(mean_err), 6) AS avg_mean_err,
        |  round(max(max_err), 6) AS max_err
        |FROM d GROUP BY 1""".stripMargin),
    Q("q38_ann_bruteforce", annBruteForce _,
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM e q JOIN e c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 50),
         |ranked AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cand_id ASC) AS INT) AS rn
         |  FROM scored)
         |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 5""".stripMargin),
    Q("q39_ann_lsh", annLsh _,
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm,
         |    (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
         |     CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |    round(${cosExpr("q", "c")}, 6) + 0.0 AS cos
         |  FROM e q JOIN e c
         |    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT q_id, cand_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, cand_id ASC) AS INT) AS rn
         |  FROM scored)
         |SELECT q_id, cand_id, cos, rn FROM ranked WHERE rn <= 3""".stripMargin)
  )
}
