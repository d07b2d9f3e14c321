package graft

import org.apache.spark.sql.DataFrame

/** Lineage cuts for plan-reused intermediates — every operator that
  * materializes a frame consumed more than once (CC labels, hashed
  * shingles, candidate keys, …) cuts lineage through here, never by
  * calling `localCheckpoint` directly.
  *
  * Why the indirection: `localCheckpoint` stores the cut's blocks on
  * executors. On `local[n]` that is free and exactly right; on a
  * 1000-executor cluster a single executor loss destroys a block of the
  * checkpointed RDD, and because the lineage was truncated there is
  * nothing to recompute from — the job dies. The 100-TB deployment must
  * therefore cut lineage into RELIABLE storage instead. One session flag
  * flips every site in the engine:
  *
  *   spark.graft.reliableCheckpoint=true   — use `Dataset.checkpoint`
  *     (blocks written to the checkpoint dir: HDFS/object store at scale,
  *     survives executor loss; set `spark.graft.checkpointDir`, falling
  *     back to java.io.tmpdir/graft_ckpt for local runs)
  *
  * Default (flag off) stays `localCheckpoint`: the right trade on
  * local[n] and in tests, where executor loss cannot happen and the
  * write-to-storage tax buys nothing. `CkptSpec` runs a checkpoint-heavy
  * operator both ways and asserts identical results.
  */
object Ckpt {

  /** Scale-adaptive width for claimed-layout cuts
    * ([[CutOps.cutPartitionedBy]]): the input directory's byte size over
    * AQE's advisory partition size, clamped to
    * [1, spark.sql.shuffle.partitions] — i.e. the width AQE's own
    * coalescing would pick for a shuffle of input scale (guide §2:
    * derive partitioning from input size, never a local-mode constant).
    * A claimed cut must pin its width EXPLICITLY (REPARTITION_BY_NUM is
    * what makes the claim physically exact — AQE cannot coalesce it), so
    * this reproduces the coalescing decision AQE would have made: at
    * sf0.1 (~17 MB inputs) that is 1 — exactly what AQE picks for these
    * shuffles; at 100 TB it saturates the configured shuffle width.
    * Read on every call, so a dir rewritten in place gets its new
    * width (a directory stat walk, metadata only). */
  def scaleParts(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
      else f.length()
    val bytes = sz(new java.io.File(dir))
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .getOrElse("64MB"))
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(cap.toLong,
      (bytes + advisory - 1) / advisory).toInt)
  }

  implicit class CutOps(private val df: DataFrame) extends AnyVal {

    /** Cut lineage AND carry the cut's hash layout (r17, guide §2.4 —
      * the in-memory analogue of a bucketed table): repartition(n, keys)
      * with an EXPLICIT n (REPARTITION_BY_NUM — AQE never coalesces it,
      * so the claimed layout is physically exact), checkpoint, then
      * re-wrap the RDD in a LogicalRDD declaring
      * HashPartitioning(keys, n). Downstream joins / aggregations /
      * windows keyed on `keys` reuse the layout instead of
      * re-exchanging; an iterative algorithm's static relation (edge
      * lists, candidate keys) shuffles ONCE for all rounds, and a
      * self-join of the cut frame is exchange-free on both sides. At
      * 100 TB this is the bucketed-join discipline; on local[n] it
      * removes one AQE stage job per avoided exchange. Results are
      * unchanged: the claim only informs EnsureRequirements, and it is
      * true by construction. */
    def cutPartitionedBy(n: Int, keys: String*): DataFrame =
      cutPartitionedLazy(eager = true, n, keys: _*)

    /** [[cutPartitionedBy]] with the materialization timing exposed —
      * `eager=false` defers to first use, like `cutLineage(false)`. */
    def cutPartitionedLazy(eager: Boolean, n: Int,
        keys: String*): DataFrame = {
      val cut = df.repartition(n,
        keys.map(org.apache.spark.sql.functions.col): _*).cutLineage(eager)
      org.apache.spark.sql.GraftBridge.claimHashPartitioning(cut, keys, n)
    }

    /** Materialize `df` and truncate its lineage; returns the cut frame.
      * `eager=false` defers materialization to first use (only wanted
      * when the caller may never evaluate the frame). */
    def cutLineage(eager: Boolean = true): DataFrame =
      if (reliable(df.sparkSession)) df.checkpoint(eager)
      else df.localCheckpoint(eager)
  }

  /** [[CutOps.cutLineage]] for an RDD held across jobs (eager): the
    * same flag picks reliable or local checkpointing, and the RDD stays
    * persisted, so `unpersist` releases it like a cut frame. Returns
    * `rdd` itself. */
  def cutRdd[T](spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
    if (reliable(spark)) { rdd.persist(); rdd.checkpoint() }
    else rdd.localCheckpoint()
    rdd.count()
    rdd
  }

  /** Whether cuts go to reliable storage; sets the checkpoint dir if so. */
  private def reliable(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val on = spark.conf.getOption("spark.graft.reliableCheckpoint")
      .contains("true")
    if (on && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        spark.conf.getOption("spark.graft.checkpointDir").getOrElse(
          sys.props("java.io.tmpdir") + "/graft_ckpt"))
    on
  }
}
