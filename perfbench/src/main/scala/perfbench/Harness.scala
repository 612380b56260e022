package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftSession, SparkEntry}

/** One benchmark run of one workload in one JVM, driven by `run.py`.
  *
  * Set-up: the session, a warm pass that writes every core query's
  * result for the correctness check, and [[SettlePasses]] passes to the
  * noop sink, all in the core's fixed order. Then a closed loop with one
  * client: seeded-order passes over the core, each execution timed from
  * the `SparkEntry.queries` call to the last row at the noop sink, with
  * nothing run between executions. Passes start until `--seconds` have
  * elapsed, and at least [[MinPasses]] of them, and each runs to its
  * end; then the live heap is read. With
  * `--trace 1`, passes alternate bare, traced, traced, bare, ... so
  * traced and untraced throughput come from the same process and the
  * warm-up left in the window weighs on both alike; the kernels are
  * timed afterwards.
  * Raw timings go to `<work>/harness.json`; `run.py` turns them into
  * metrics.
  */
object Harness {
  final case class Exec(exec: Int, pass: Int, query: String, traced: Boolean,
                        ok: Boolean, buildS: Double, writeS: Double, startMs: Long,
                        endMs: Long, buildEndMs: Long, error: String)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Untimed passes after the warm pass. With one, the first timed pass
    * still runs up to about 40 % slower than the fourth while the JIT
    * catches up; each query's latency is a median over at least
    * [[MinPasses]] timed passes, so the early passes move it little, and
    * a second settle pass would cost the window's time. */
  val SettlePasses = 1

  /** Timed passes a run makes at least. Pass times still fall over the
    * first timed passes, so a query's median depends on how many passes
    * the window holds: measured on a 4-core host, stream-replay runs that
    * fitted a fifth pass into the window read 10 % faster than those
    * with four, and a slow host fits fewer passes and exaggerates its
    * own slowdown. With `--seconds` shorter than four passes take, every
    * run times the same four. A traced run makes twice as many, bare,
    * traced, traced, bare twice over: with one such cycle the slow first
    * pass alone made the bare passes read about 15 % slower than the
    * traced ones. */
  val MinPasses = 4

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Old-generation occupancy after a full collection, once Spark's
    * listeners have caught up and its cleaner has dropped what the
    * collections found unreachable: collections 100 ms apart until two
    * readings agree within 1 MB, at most five. Read once, after the
    * timed window, whose executions pay for the collections the JVM
    * chooses itself. Returns (MB, collections run). */
  private def liveHeapMb(sc: org.apache.spark.SparkContext): (Double, Int) = {
    def collect(): Double = {
      org.apache.spark.PerfbenchBus.drain(sc)
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
    }
    var prev = collect()
    var cur = prev
    var rounds = 1
    while (rounds == 1 || (rounds < 5 && math.abs(cur - prev) >= 1.0)) {
      Thread.sleep(100)
      prev = cur
      cur = collect()
      rounds += 1
    }
    (cur, rounds)
  }

  private def codegen: (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  def main(args: Array[String]): Unit = {
    val workload = Workloads.byName(arg(args, "workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val work = Paths.get(arg(args, "work"))
    val cores = arg(args, "cores").toInt
    val t0Ms = arg(args, "t0-ms").toLong

    val queries = SparkEntry.queries
    val families = Workloads.checkPartition(queries.keySet)

    val master = s"local[$cores]"
    val spark = GraftSession.builder(master, cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.pinCodegenCache(spark)
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = new Tracer(spark)
    val execs = mutable.ArrayBuffer[Exec]()
    var nextExec = 0

    def execute(q: String, pass: Int, traced: Boolean)(sink: DataFrame => Unit): Exec = {
      nextExec += 1
      val id = nextExec
      if (traced) tracer.mark(id, "build")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var buildEndMs = startMs
      val err = try {
        val df = queries(q)(spark, data)
        t1 = System.nanoTime()
        buildEndMs = System.currentTimeMillis()
        if (traced) tracer.mark(id, "write")
        sink(df)
        null
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $q (pass $pass) failed: $e")
          s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      val t2 = System.nanoTime()
      if (traced) tracer.mark(id, "end")
      if (t1 == t0) t1 = t2
      Exec(id, pass, q, traced, err == null, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        startMs, System.currentTimeMillis(), buildEndMs, err)
    }

    // warm pass at the run's own scale: fills codegen caches and the
    // engine's per-session memos, and keeps each result for the check;
    // the settle passes let the JIT catch up before timing starts
    val (cg0, cgMs0) = codegen
    val warmStartMs = System.currentTimeMillis()
    val results = work.resolve("results")
    val warm = workload.core.map { q =>
      execute(q, 0, traced = false)(
        _.write.mode("overwrite").parquet(results.resolve(q).toString))
    } ++ (1 to SettlePasses).flatMap { _ =>
      workload.core.map { q =>
        execute(q, 0, traced = false)(_.write.format("noop").mode("overwrite").save())
      }
    }
    val (cg1, cgMs1) = codegen

    // timed window
    val windowStartMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var pass = 0
    val minPasses = if (trace) 2 * MinPasses else MinPasses
    while (System.nanoTime() < deadline || pass < minPasses) {
      pass += 1
      val traced = trace && pass % 4 >= 2
      if (traced) tracer.attach()
      var gc = 0L
      Workloads.order(workload.core, seed, pass).foreach { q =>
        val gc0 = gcMs
        execs += execute(q, pass, traced)(_.write.format("noop").mode("overwrite").save())
        gc += gcMs - gc0
      }
      if (traced) tracer.detach()
      passes += Map("pass" -> pass, "traced" -> traced, "gc_ms" -> gc)
    }
    val windowEndMs = System.currentTimeMillis()
    val (cg2, cgMs2) = codegen
    val (liveHeap, heapCollections) = liveHeapMb(spark.sparkContext)

    val kernels =
      if (!trace) Nil
      else Kernels.run(spark, data, reps = 5).map { case (k, ns, rows) =>
        Map("kernel" -> k, "ns_per_row" -> ns, "rows" -> rows)
      }

    val rt = ManagementFactory.getRuntimeMXBean
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "master" -> master,
      "jvm_pid" -> ProcessHandle.current().pid(),
      "jvm_flags" -> rt.getInputArguments.asScala.toSeq,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java_version" -> sys.props("java.version"),
      "spark_version" -> spark.version,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
      "sysprops" -> sys.props.toMap.filter(_._1.startsWith("graft.stream.")),
      "families" -> families,
      "core" -> workload.core,
      "oracle_sql" -> SparkEntry.oracleSql.filter(kv => workload.core.contains(kv._1)),
      "audit_floors" -> SparkEntry.auditFloors.filter(kv => workload.core.contains(kv._1))
        .map { case (k, (c, v, atLeast)) =>
          k -> Map("column" -> c, "bound" -> v, "at_least" -> atLeast) },
      "setup" -> Map(
        "t0_ms" -> t0Ms, "session_ready_ms" -> sessionReadyMs,
        "warm_start_ms" -> warmStartMs, "window_start_ms" -> windowStartMs,
        "codegen_compiles" -> (cg1 - cg0), "codegen_compile_ms" -> (cgMs1 - cgMs0)),
      "window" -> Map(
        "end_ms" -> windowEndMs,
        "codegen_compiles" -> (cg2 - cg1), "codegen_compile_ms" -> (cgMs2 - cgMs1)),
      "warm" -> warm.map(execJson),
      "execs" -> execs.map(execJson),
      "passes" -> passes,
      "live_heap" -> Map("mb" -> liveHeap, "collections" -> heapCollections),
      "kernels" -> kernels)
    if (trace) {
      out("exec_stats") = tracer.execs.values.map(statsJson).toSeq
      out("batches") = tracer.batches.map { b =>
        Map("start_ms" -> b.startMs, "durations" -> b.durations,
          "state_commit_ms" -> b.stateCommitMs, "state_rows" -> b.stateRows,
          "state_mem_bytes" -> b.stateMemBytes)
      }
      writeSpans(work.resolve("spans.jsonl"), execs.filter(_.traced).toSeq, tracer)
    }
    spark.stop()
    Files.writeString(work.resolve("harness.json"), json.writeValueAsString(out))
  }

  private def execJson(e: Exec): Map[String, Any] = Map(
    "exec" -> e.exec, "pass" -> e.pass, "query" -> e.query, "traced" -> e.traced,
    "ok" -> e.ok, "build_s" -> e.buildS, "write_s" -> e.writeS,
    "wall_s" -> (e.buildS + e.writeS), "start_ms" -> e.startMs,
    "build_end_ms" -> e.buildEndMs, "end_ms" -> e.endMs, "error" -> Option(e.error))

  private def statsJson(s: ExecStats): Map[String, Any] = Map(
    "exec" -> s.exec, "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
    "empty_tasks" -> s.emptyTasks,
    "run_time_ms" -> s.runTimeMs, "task_overhead_ms" -> s.taskOverheadMs,
    "scan_bytes" -> s.scanBytes, "scan_rows" -> s.scanRows, "scan_time_ms" -> s.scanTimeMs,
    "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
    "shuffle_records" -> s.shuffleRecords, "shuffle_write_ms" -> s.shuffleWriteNs / 1e6,
    "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spillBytes,
    "sink_bytes" -> s.sinkBytes, "sink_records" -> s.sinkRecords, "sink_files" -> s.sinkFiles,
    "analysis_ms" -> s.analysisMs, "optimizer_ms" -> s.optimizerMs,
    "physical_ms" -> s.physicalMs,
    "sql_exec_ms" -> (if (s.sqlEndMs >= s.sqlStartMs && s.sqlStartMs >= 0) s.sqlEndMs - s.sqlStartMs else -1L),
    "write_jobs_ms" -> unionMs(s.jobIntervals.filter(_._1 >= s.writeStartMs).toSeq))

  /** Total time covered by a set of possibly overlapping intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, end = 0L
    iv.sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) total += b - s
      end = math.max(end, b)
    }
    total
  }

  /** query -> build / write spans from the harness, job -> stage spans
    * from the listener, and stream batches, one JSON object a line. */
  private def writeSpans(path: Path, execs: Seq[Exec], tracer: Tracer): Unit = {
    val lines = mutable.ArrayBuffer[String]()
    def span(id: String, parent: String, name: String, s: Long, e: Long,
             attrs: Map[String, Any]): Unit =
      lines += json.writeValueAsString(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> s, "end_ms" -> e, "attrs" -> attrs))
    execs.foreach { e =>
      span(s"query-${e.exec}", null, "query", e.startMs, e.endMs,
        Map("query" -> e.query, "pass" -> e.pass, "ok" -> e.ok))
      span(s"build-${e.exec}", s"query-${e.exec}", "build", e.startMs, e.buildEndMs, Map.empty)
      span(s"exec-${e.exec}", s"query-${e.exec}", "plan+exec", e.buildEndMs, e.endMs, Map.empty)
    }
    // a job started during build belongs to the build span
    val buildOf = execs.map(e => e.exec -> e).toMap
    tracer.spans.foreach { s =>
      val parent = if (s.name != "job") s.parent else {
        val ex = buildOf(s.parent.stripPrefix("exec-").toInt)
        if (s.startMs < ex.buildEndMs) s"build-${ex.exec}" else s.parent
      }
      span(s.id, parent, s.name, s.startMs, s.endMs, s.attrs)
    }
    tracer.batches.zipWithIndex.foreach { case (b, i) =>
      val owner = execs.find(e => b.startMs >= e.startMs && b.startMs <= e.endMs)
      span(s"batch-$i", owner.map(e => s"build-${e.exec}").orNull, "stream-batch",
        b.startMs, b.startMs + b.durations.getOrElse("triggerExecution", 0L), b.durations)
    }
    Files.write(path, lines.asJava)
  }
}
