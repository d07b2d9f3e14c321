package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.GraftSchedulerBridge
import org.apache.spark.sql.{Row, SparkSession}

/** JVM side of the benchmark: runs one workload against inputs that
  * perfbench/run.py generated, and writes raw timings, the outputs to
  * check and (traced runs) per-layer numbers as JSON for run.py.
  *
  * Args: workload dataDir runDir seconds trace(0|1) cores resultFile
  */
object Main {
  /** Result of one execution of a step or request. */
  final case class Exec(name: String, layer: String, seconds: Double,
      ok: Boolean, rows: Long, fingerprint: (Long, Long))

  final case class Pass(traced: Boolean, wall: Double, cpuS: Double,
      execs: Seq[Exec], counters: Option[Counters], gcMs: Long,
      stream: Option[Seq[Long]], cachedMbPeak: Double, loadJobs: Long)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** Order-independent fingerprint of a result: (rows, sum of row hashes). */
  def fingerprint(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong,
      rows.foldLeft(0L)((acc, r) => acc + MurmurHash3.stringHash(r.toString)))

  /** Untimed passes before measuring: the first runs cold, the others let
    * the JIT compile the planner and executor paths every pass repeats
    * (pass times measured level off from about the third pass on). */
  val warmupPasses = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, runDir, secondsArg, traceArg, coresArg,
      resultFile) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      // Spark's default of 100 compiled classes is smaller than one pass
      // of a workload needs: classes are evicted and recompiled every
      // pass, and whether that happens varies from JVM to JVM (measured:
      // same-seed runs split into a fast mode and one ~35% slower with
      // ~40% more CPU). Caller-side static setting, like local[n].
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    graft.EngineDefaults(spark)
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val tracer = new Tracer
    val engine = new EngineCounter
    val streams = new StreamCounter
    val sc = spark.sparkContext
    def listen(on: Boolean): Unit = if (on) {
      sc.addSparkListener(engine)
      spark.listenerManager.register(engine)
      spark.streams.addListener(streams)
    } else {
      sc.removeSparkListener(engine)
      spark.listenerManager.unregister(engine)
      spark.streams.removeListener(streams)
    }
    def cachedMb: Double =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    val out = new ArrayBuffer[(String, Any)]
    out += "workload" -> workload
    out += "cores" -> cores
    out += "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576
    out += "session_s" -> sessionS

    // one execution of `body`, with its span; exceptions become a failed
    // execution, never a missing sample
    def exec(name: String, layer: String, parent: Long, op: Long)(
        body: => Array[Row]): (Exec, Array[Row]) = {
      val t0 = System.nanoTime()
      val r = try Right(tracer.span(parent, op, name, layer)(_ => body))
        catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      r match {
        case Right(rows) =>
          (Exec(name, layer, dt, ok = true, rows.length, fingerprint(rows)),
            rows)
        case Left(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          (Exec(name, layer, dt, ok = false, 0, (0L, 0L)), Array.empty[Row])
      }
    }

    // reference output per step: the first successful execution is
    // written for the oracle check; later ones must match its fingerprint
    val reference = scala.collection.mutable.LinkedHashMap
      .empty[String, (Exec, Array[Row], org.apache.spark.sql.types.StructType)]
    val mismatches = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    def keep(e: Exec, rows: Array[Row]): Unit = if (e.ok) {
      reference.get(e.name) match {
        case None => reference(e.name) = (e, rows,
          if (rows.nonEmpty) rows.head.schema else null)
        case Some((ref, _, _)) =>
          if (ref.fingerprint != e.fingerprint) mismatches(e.name) += 1
      }
    }

    var opId = 0L
    val passes = new ArrayBuffer[Pass]
    var windowS = 0.0
    var checks: Seq[(String, Check)] = Nil
    val tSetup = System.nanoTime()

    def runPasses(passOnce: Boolean => Pass): Unit = {
      // warm-up: part of set-up, neither timed nor traced
      (1 to warmupPasses).foreach(_ => passOnce(false))
      out += "warmup_s" -> (System.nanoTime() - tSetup) / 1e9
      out += "ready_ms" -> System.currentTimeMillis()
      val w0 = System.nanoTime()
      var i = 0
      while (i < 2 || (System.nanoTime() - w0) / 1e9 < seconds) {
        // traced runs alternate traced and untraced passes, so the
        // difference between them is the tracing overhead
        val t = traced && i % 2 == 0
        if (t) { listen(true); tracer.on = true }
        val p = passOnce(t)
        if (t) { listen(false); tracer.on = false }
        passes += p
        i += 1
      }
      windowS = (System.nanoTime() - w0) / 1e9
    }

    workload match {
      case "ann_serve" =>
        val index = s"$runDir/index"
        val tb = System.nanoTime()
        graft.operators.Similarity.ivfpqPersist(spark, dir, index)
        out += "serve_build_s" -> (System.nanoTime() - tb) / 1e9
        checks = Seq("ann_request" -> Collected(Workloads.annOracle))
        val perClient = 2
        val pool = Executors.newFixedThreadPool(cores)
        def round(t: Boolean): Pass = {
          System.gc()
          opId += 1
          val roundOp = opId
          val c0 = if (t) Some(engine.snapshot) else None
          val g0 = gcMs
          val cpu0 = cpuNs
          val w0 = System.nanoTime()
          val execs = tracer.span(0, roundOp, "round", "bench") { rid =>
            val fs = (0 until cores).map { _ =>
              pool.submit(new Callable[Seq[(Exec, Array[Row])]] {
                def call(): Seq[(Exec, Array[Row])] =
                  (0 until perClient).map { _ =>
                    exec("ann_request", "serve", rid, roundOp)(
                      Workloads.annRequest(spark, dir, index))
                  }
              })
            }
            fs.flatMap(_.get())
          }
          val wall = (System.nanoTime() - w0) / 1e9
          val cpuS = (cpuNs - cpu0) / 1e9
          if (t) GraftSchedulerBridge.waitListenerBus(sc)
          execs.foreach { case (e, rows) => keep(e, rows) }
          Pass(t, wall, cpuS, execs.map(_._1), c0.map(engine.snapshot - _),
            gcMs - g0, None, 0.0, 0L)
        }
        try runPasses(round) finally pool.shutdown()

      case _ =>
        val wl = workload match {
          case "star_etl" => Workloads.starEtl(spark, dir, s"$runDir/out")
          case "corpus_dedup" => Workloads.corpusDedup(spark, dir)
          case other => sys.error(s"unknown workload $other")
        }
        checks = wl.steps.map(s => s.name -> s.check)
        def pass(t: Boolean): Pass = {
          Workloads.clearMemos()
          System.gc()
          opId += 1
          val passOp = opId
          val c0 = if (t) Some(engine.snapshot) else None
          val s0 = if (t) Some(streams.snapshot) else None
          val g0 = gcMs
          var cachedPeak = 0.0
          var loadJobs = 0L
          val cpu0 = cpuNs
          val w0 = System.nanoTime()
          val results = tracer.span(0, passOp, "pass", "bench") { pid =>
            wl.steps.map { s =>
              val j0 = if (t && s.name == "load") engine.snapshot.jobs else 0L
              val r = exec(s.name, s.layer, pid, passOp)(s.run())
              if (t) {
                if (s.name == "load") {
                  GraftSchedulerBridge.waitListenerBus(sc)
                  loadJobs = engine.snapshot.jobs - j0
                }
                cachedPeak = math.max(cachedPeak, cachedMb)
              }
              r
            }
          }
          val wall = (System.nanoTime() - w0) / 1e9
          val cpuS = (cpuNs - cpu0) / 1e9
          if (t) GraftSchedulerBridge.waitListenerBus(sc)
          results.foreach { case (e, rows) => keep(e, rows) }
          Pass(t, wall, cpuS, results.map(_._1), c0.map(engine.snapshot - _),
            gcMs - g0,
            s0.map(s => streams.snapshot.zip(s).map(x => x._1 - x._2)),
            cachedPeak, loadJobs)
        }
        runPasses(pass)
    }

    // ---- outside every timed region: outputs for the oracle check ----
    val checkDir = s"$runDir/check"
    val checkOut = checks.map { case (name, c) =>
      val execs = passes.flatMap(_.execs.filter(_.name == name))
      val base = Map("step" -> name, "executions" -> execs.size,
        "failed" -> (execs.count(!_.ok) + mismatches(name)))
      c match {
        // a step that never succeeded has no output to check: every
        // execution already counts as failed
        case Collected(oracle) =>
          reference.get(name).map { case (_, rows, schema) =>
            val path = s"$checkDir/$name"
            if (rows.nonEmpty)
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(path)
            base ++ Map("kind" -> "parquet", "path" -> path,
              "rows" -> rows.length, "oracle" -> oracle)
          }.getOrElse(base)
        case CsvDir(path, oracle) =>
          base ++ Map("kind" -> "csv", "path" -> path, "oracle" -> oracle)
        case Unchecked => base
      }
    }

    if (traced) {
      val probes = workload match {
        case "corpus_dedup" => Workloads.probes(spark, dir, hasDocs = true)
        case "ann_serve" => Workloads.probes(spark, dir, hasDocs = false)
        case _ => Seq("functions.dot_rows_per_s" -> 0.0,
          "functions.shingles_rows_per_s" -> 0.0,
          "functions.minhash_rows_per_s" -> 0.0)
      }
      out += "probes" -> probes.toMap
      val self = tracer.selfSeconds
      out += "spans" -> tracer.all.sortBy(_.startNs).map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs, "self_s" -> self(s.id))
      }
    }
    spark.stop()

    out += "window_s" -> windowS
    out += "peak_rss_mb" -> Files.readAllLines(Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
    out += "checks" -> checkOut
    out += "passes" -> passes.map { p =>
      Map("traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpuS,
        "gc_s" -> p.gcMs / 1e3,
        "cached_mb_peak" -> p.cachedMbPeak, "load_jobs" -> p.loadJobs,
        "execs" -> p.execs.map(e => Map("name" -> e.name,
          "layer" -> e.layer, "s" -> e.seconds, "ok" -> e.ok,
          "rows" -> e.rows)),
        "counters" -> p.counters.map { c =>
          Map("jobs" -> c.jobs, "tasks" -> c.tasks, "run_ms" -> c.runMs,
            "sched_delay_ms" -> c.schedDelayMs,
            "shuffle_write_b" -> c.shuffleWriteB,
            "fetch_wait_ms" -> c.fetchWaitMs, "spill_b" -> c.spillB,
            "bytes_read" -> c.bytesRead, "rows_read" -> c.rowsRead,
            "bytes_written" -> c.bytesWritten, "plan_ms" -> c.planNs / 1e6,
            "actions" -> c.actions)
        }.orNull,
        "stream" -> p.stream.map(s => Seq("batches", "planning_ms",
          "exec_ms", "commit_ms", "trigger_ms", "state_commit_ms",
          "state_rows").zip(s).toMap).orNull)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(resultFile),
      mapper.writeValueAsString(out.toMap))
  }
}
