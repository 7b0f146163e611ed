package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one benchmark workload against the graft engine through its public
  * entry points only: `graft.engine.Sessions.local`, then
  * `graft.SparkEntry.queries(name)(spark, dataDir)` and `.count()`, the
  * action `graft.Bench` times.
  *
  * One driver thread issues the queries (a closed loop with one client).
  * Before each query, cached Datasets and persisted RDDs are dropped, as in
  * `graft.Bench`, and the committed-store root is emptied. The run has two
  * phases:
  *
  *  - set-up, timed from process start to the first timed pass: one
  *    SparkSession, a cold pass that writes every result to `--dump` for
  *    the digest check, then warm-up passes of `.count()`;
  *  - timed passes, until `--seconds` of pass time (at least two when
  *    traced). With `--trace 1` every query runs twice per pass, untraced
  *    and traced in alternating order, so the tracing overhead is measured
  *    in pairs in the same process. Listeners are attached only for the
  *    traced executions.
  *
  * Query order is a fresh shuffle per pass from `--seed`. Every count,
  * error and counter goes to the JSON file `--out`; checking and summary
  * statistics are left to the caller (`perfbench/run.py`).
  *
  * `--oracle-out FILE` instead writes the DuckDB oracle SQL of the queries
  * and exits; `perfbench/oracle.py` turns it into expected results. */
object Harness {

  private final case class Conf(a: Map[String, String]) {
    def apply(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    def queries: Seq[String] = apply("queries").split(",").toSeq.filter(_.nonEmpty)
  }

  /** Warm-up passes after the cold pass, in the same session. */
  private val WarmupPasses = 3

  private def secs(ns: Long): Double = ns / 1e9

  def main(args: Array[String]): Unit = {
    val c = Conf(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)
    val status =
      try { if (c.a.contains("oracle-out")) dumpOracle(c) else run(c); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(status)
  }

  private def dumpOracle(c: Conf): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val out = Json.obj(c.queries.map(q =>
      q -> Json.str(sql.getOrElse(q, sys.error(s"no oracle SQL for $q")))))
    Files.writeString(Paths.get(c("oracle-out")), out)
  }

  private def run(c: Conf): Unit = {
    val t0Process = ManagementFactory.getRuntimeMXBean.getStartTime
    HeapPeak.install()
    val queries = c.queries.map(q => q -> graft.SparkEntry.queries.getOrElse(q,
      sys.error(s"$q is not a registered query")))
    val data = c("data")
    val cores = c("cores")
    val storeRoot = Paths.get(graft.ops.Indexes.indexRoot)
    val trace = c("trace") == "1"
    val rnd = new Random(c("seed").toLong)
    val errors = mutable.ArrayBuffer.empty[String]

    // Before every execution: drop cached Datasets and persisted RDDs, and
    // empty the committed-store root, so a query that needs a store builds
    // it inside its own execution.
    def reset(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      deleteTree(storeRoot)
    }
    def attempt[T](what: String)(f: => T): Option[T] =
      try Some(f)
      catch { case e: Exception =>
        errors += s"$what: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        None
      }

    // ---- set-up: session, cold pass, warm-up passes ---------------------
    val s0 = System.nanoTime()
    val spark = graft.engine.Sessions.local(cores, "perfbench")
    val sessionS = secs(System.nanoTime() - s0)
    val sc = spark.sparkContext
    val setupQueries = mutable.ArrayBuffer.empty[String]
    for (round <- 0 to WarmupPasses) {
      rnd.shuffle(queries).foreach { case (name, fn) =>
        reset(spark)
        val q0 = System.nanoTime()
        val n =
          if (round == 0)
            attempt(s"setup $name")(fn(spark, data).coalesce(1).write.mode("overwrite")
              .parquet(s"${c("dump")}/$name")).map(_ => "null")
          else attempt(s"setup $name")(fn(spark, data).count().toString)
        n.foreach(v => setupQueries += Json.obj(Seq("round" -> round.toString,
          "name" -> Json.str(name), "s" -> Json.num(secs(System.nanoTime() - q0)),
          "count" -> v)))
      }
    }

    // Let the JIT finish what set-up queued (as graft.Bench does): stop once
    // compile time holds still for two 250 ms polls, or after 3 s.
    locally {
      var (last, quiet, waited) = (Counters.jitMs(), 0, 0)
      while (quiet < 2 && waited < 3000) {
        Thread.sleep(250); waited += 250
        val now = Counters.jitMs()
        quiet = if (now - last < 25) quiet + 1 else 0
        last = now
      }
    }
    val setupS = (System.currentTimeMillis() - t0Process) / 1e3

    // ---- timed passes -------------------------------------------------
    /** One execution: build the DataFrame, then `.count()`. Returns its
      * JSON row and its wall time. Listeners, when given, see only it. */
    def execute(p: Int, name: String, fn: (SparkSession, String) => DataFrame,
                tracer: Option[Tracer], stageTasks: mutable.ArrayBuffer[Int]): (String, Double) = {
      reset(spark)
      org.apache.spark.PerfbenchBus.drain(sc)
      tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
      val q0 = if (tracer.isDefined) Counters.snap() else null
      val m0 = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val t0 = System.nanoTime()
      val built = attempt(s"pass $p $name")(fn(spark, data))
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "exec")
      val n = built.flatMap(df => attempt(s"pass $p $name")(df.count()))
      val t2 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.PhaseKey, null)
      org.apache.spark.PerfbenchBus.drain(sc)
      val base = Seq("name" -> Json.str(name), "traced" -> tracer.isDefined.toString,
        "build_s" -> Json.num(secs(t1 - t0)), "exec_s" -> Json.num(secs(t2 - t1)),
        "count" -> n.fold("null")(_.toString))
      val extra = tracer.toSeq.flatMap { t =>
        val d = q0.to(Counters.snap())
        sc.removeSparkListener(t); spark.listenerManager.unregister(t)
        val tr = t.take()
        stageTasks ++= tr.stageTasks
        val busy = Tracer.busyMs(tr.jobs, m0, m1)
        Seq(
          "build_jobs" -> tr.jobs.count(_._3 == "build").toString,
          "jobs" -> tr.jobs.size.toString,
          "stages" -> tr.stageTasks.size.toString,
          "tasks" -> tr.stageTasks.sum.toString,
          "driver_gap_s" -> Json.num(math.max(0L, m1 - m0 - busy) / 1e3),
          "task_run_s" -> Json.num(tr.taskRunMs / 1e3),
          "task_cpu_s" -> Json.num(tr.taskCpuNs / 1e9),
          "shuffle_write_mb" -> Json.num(tr.shuffleWriteBytes / 1048576.0),
          "shuffle_read_mb" -> Json.num(tr.shuffleReadBytes / 1048576.0),
          "spill_mb" -> Json.num(tr.spillBytes / 1048576.0),
          "peak_exec_mem_mb" -> Json.num(tr.peakExecMemBytes / 1048576.0),
          "input_rows" -> tr.inputRows.toString,
          "output_mb" -> Json.num(tr.outputBytes / 1048576.0),
          "store_mb" -> Json.num(Counters.dirBytes(storeRoot) / 1048576.0),
          "plan_s" -> Json.num(tr.planMs / 1e3),
          "plan_nodes" -> tr.planNodes.toString) ++ snapFields(d)
      }
      (Json.obj(base ++ extra), secs(t2 - t0))
    }

    val passes = mutable.ArrayBuffer.empty[String]
    // `--seconds` of measured pass time; the collections between passes
    // do not count against it.
    val budget = c("seconds").toDouble
    var measured = 0.0
    var p = 0
    var pairs = 0
    // A traced run makes at least two passes, so even a short workload
    // gives a few untraced/traced pairs.
    while (p < (if (trace) 2 else 1) || measured < budget) {
      val rows = mutable.ArrayBuffer.empty[String]
      var wall, tracedWall = 0.0
      val stageTasks = mutable.ArrayBuffer.empty[Int]
      HeapPeak.reset()
      val pass0 = Counters.snap()
      val e0 = System.nanoTime()
      rnd.shuffle(queries).foreach { case (name, fn) =>
        // A traced run executes each query twice, untraced and traced, and
        // alternates which goes first, so warm-up drift within a pass
        // cancels out of the untraced/traced pairs.
        val sides =
          if (!trace) Seq(false) else if (pairs % 2 == 0) Seq(false, true) else Seq(true, false)
        pairs += 1
        sides.foreach { traced =>
          val (row, s) = execute(p, name, fn, if (traced) Some(new Tracer) else None, stageTasks)
          rows += row
          if (traced) tracedWall += s else wall += s
        }
      }
      val elapsed = secs(System.nanoTime() - e0)
      measured += elapsed
      val d = pass0.to(Counters.snap())
      val gcPeakMb = HeapPeak.peakMb
      // Live heap at the end of the pass: what the pass left reachable, not
      // when a GC happened to run. The second collection frees what Spark's
      // ContextCleaner released after the first one cleared its weak refs.
      reset(spark)
      System.gc(); Thread.sleep(200); System.gc()
      val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val traceFields =
        if (!trace) Nil
        else Seq("traced_wall_s" -> Json.num(tracedWall),
          "tasks_per_stage_p50" -> Json.num(median(stageTasks.map(_.toDouble).toSeq)))
      passes += Json.obj(Seq("wall_s" -> Json.num(wall),
        "elapsed_s" -> Json.num(elapsed), "heap_gc_peak_mb" -> Json.num(gcPeakMb),
        "heap_live_mb" -> Json.num(liveMb),
        "queries" -> rows.mkString("[", ",", "]")) ++ snapFields(d) ++ traceFields)
      p += 1
    }
    spark.stop()

    val out = Json.obj(Seq(
      "workload" -> Json.str(c("workload")), "seed" -> c("seed"), "cores" -> cores,
      "trace" -> trace.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
      "setup_s" -> Json.num(setupS),
      "session_start_s" -> Json.num(sessionS),
      "setup_queries" -> setupQueries.mkString("[", ",", "]"),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "passes" -> passes.mkString("[", ",", "]")))
    Files.writeString(Paths.get(c("out")), out)
  }

  private def snapFields(d: Snap): Seq[(String, String)] = Seq(
    "gc_s" -> Json.num(d.gcMs / 1e3), "jit_s" -> Json.num(d.jitMs / 1e3),
    "codegen_compiles" -> d.codegen.toString,
    "steal_s" -> Json.num(if (d.stealMs < 0) -1.0 else d.stealMs / 1e3),
    "runq_s" -> Json.num(if (d.runqMs < 0) -1.0 else d.runqMs / 1e3))

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Just enough JSON writing for the harness output: values arrive already
  * rendered, so `obj` and arrays only join them. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
