package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs the named workloads in one JVM and one
  * `local[cores]` session and writes one JSON record per workload to
  * `--out`. See bench/README.md for the metrics.
  *
  * Usage: Main --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <n> --out <file> [--smoke] [--commit <id>]
  */
object Main {
  val Workloads = Seq("reads_quickstart", "corpus_dedup", "interactive_serve")
  val Reps = 3

  /** Ops whose jobs and shuffle bytes are reported per invocation. */
  val OpNames = Seq("align", "rype", "woltka", "copy_bam", "minhash", "winnow",
    "line_dedup", "dup_spans", "bm25_serve", "sql")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap ++ (if (args.contains("--smoke")) Map("smoke" -> "1") else Map.empty)
    val names = opts("workload") match {
      case "all" => Workloads
      case w if Workloads.contains(w) => Seq(w)
      case w => sys.error(s"unknown workload $w; expected one of ${Workloads.mkString(", ")} or all")
    }
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val smoke = opts.contains("smoke")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(cores, hive = names.contains("interactive_serve"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val box = ListMap(
      "nproc" -> cores, "master" -> s"local[$cores]",
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "commit" -> opts.getOrElse("commit", "unknown"))

    val records = try names.map { n =>
      val w: Workload = n match {
        case "reads_quickstart" => new ReadsQuickstart(seed, smoke)
        case "corpus_dedup" => new CorpusDedup(seed, smoke)
        case _ => new InteractiveServe(seed, smoke)
      }
      run(spark, w, cores, seed, seconds, trace, smoke, sessionS) ++ ListMap("box" -> box)
    } finally spark.stop()

    val pw = new PrintWriter(new File(opts("out")), "UTF-8")
    try pw.write(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(records))
    finally pw.close()
  }

  /** The session the workloads run in: `local[cores]` with the shuffle
    * settings of graft.Bench. With `hive` (needed by interactive_serve's
    * bucketed tables) it also gets the layout settings of
    * [[graft.BucketedTables.configure]]: hive catalog, warehouse and
    * Derby metastore under the working directory. */
  def session(cores: Int, hive: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
    val spark = (if (hive) graft.BucketedTables.configure(b) else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.FramelessWindowStrategy.install(spark)
    spark
  }

  private def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def e2e(iters: Seq[IterRec]): (Double, Double) =
    (iters.map(_.units).sum / (iters.map(_.wallMs).sum / 1000), Stats.median(iters.map(_.wallMs)))

  def run(spark: SparkSession, w: Workload, cores: Int, seed: Long, seconds: Double,
      trace: Boolean, smoke: Boolean, sessionS: Double): ListMap[String, Any] = {
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val h = new Harness(spark, cores, new File("work", w.name), tracer)
    // set-up: Reps repetitions, each into fresh files and tables (with
    // tracing, the middle one is traced and compared with the last),
    // then one warm-up pass
    val repS = (0 until Reps).map { rep =>
      h.tracing = trace && rep == 1
      val t0 = h.nowMs()
      w.setup(h, rep)
      val s = (h.nowMs() - t0) / 1000
      h.tracing = false
      if (rep < Reps - 1) w.discard(h, rep)
      s
    }
    val w0 = h.nowMs()
    w.warmup(h)
    val warmupS = (h.nowMs() - w0) / 1000
    val setupS = sessionS + Stats.median(repS) + warmupS
    // measurement: closed loop until the clock runs out; with tracing,
    // iterations alternate between untraced and traced
    val t0 = h.nowMs()
    val hardStopMs = t0 + math.max(seconds * 3, 90) * 1000
    var i = 0
    while ((h.nowMs() - t0 < seconds * 1000 || i < w.minIterations) && h.nowMs() < hardStopMs) {
      w.iteration(h, i, trace && i % 2 == 1)
      i += 1
    }
    tracer.foreach(_.drain())
    val untraced = h.iters.filterNot(_.traced).toSeq
    val traced = h.iters.filter(_.traced).toSeq
    val c0 = h.nowMs()
    w.check(h)
    val checkS = (h.nowMs() - c0) / 1000
    val (workPerS, p50) = e2e(untraced)
    val endToEnd = ListMap("setup_s" -> (setupS, "s"), "work_per_s" -> (workPerS, "1/s"),
      "op_p50_ms" -> (p50, "ms"))
    val peakMb = peakHeapMb()
    // the reads ops get their layer metrics from a fixed-sample probe in
    // every traced run of a workload that does not run them itself
    val (probeIters, probeLayers) =
      if (!trace || w.isInstanceOf[ReadsQuickstart]) (Nil, Map.empty[String, Double])
      else ReadsProbe.run(h, smoke)
    val perLayer =
      if (!trace) ListMap.empty[String, (Double, String)]
      else {
        val (tWork, tP50) = e2e(traced)
        val layers = Layers.compute(h, traced, cores) ++ w.probes(h, traced) ++
          probeLayers.filterNot(_._2.isNaN) ++ SourceProbe.run(h) ++
          Map("jvm.peak_heap_mb" -> peakMb,
            "trace.overhead_setup_s" -> (repS(1) - repS(2)),
            "trace.overhead_work_per_s" -> (tWork - workPerS),
            "trace.overhead_op_p50_ms" -> (tP50 - p50))
        // a layer the workload does not exercise reads 0; run.py fills in
        // kernel.* from KernelProbes in a JVM of its own
        ListMap.from(Layers.Names.map { case (n, u) =>
          n -> (layers.get(n).filterNot(_.isNaN).getOrElse(0.0), u)
        })
      }
    def render(m: ListMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    tracer.foreach(spark.sparkContext.removeSparkListener)
    val named = Seq(("setup_s", setupS, "s")) ++ w.named(h, untraced) ++
      Seq(("fail_frac", h.failed.toDouble / math.max(1L, h.attempted), "ratio"))
    ListMap(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "unit" -> w.unit, "attempted" -> h.attempted, "failed" -> h.failed,
      "failures" -> h.failures.take(50),
      "end_to_end" -> render(endToEnd), "per_layer" -> render(perLayer),
      "named" -> named.map { case (n, v, u) => ListMap("name" -> n, "value" -> v, "unit" -> u) },
      "setup" -> ListMap("session_s" -> sessionS, "reps_s" -> repS, "warmup_s" -> warmupS),
      "check_s" -> checkS,
      "iterations" -> ListMap("untraced" -> untraced.size, "traced" -> traced.size,
        "wall_ms" -> h.iters.map(i => ListMap("kind" -> i.kind, "ms" -> i.wallMs, "traced" -> i.traced))),
      "fingerprints" -> (if (trace) Layers.fingerprints(h, traced ++ probeIters) else Map.empty),
      "spans" -> (if (trace) Layers.spans(h) else Nil)
    ) ++ w.record
  }
}

/** Per-layer metrics from the traced iterations' op spans and the
  * tracer's per-op counters. Counts and bytes are per timed iteration. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "driver.plan_ms" -> "ms", "driver.only_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.wait_s" -> "s", "scheduler.failed_tasks" -> "count") ++
    Main.OpNames.map(o => s"scheduler.jobs_per_op.$o" -> "count") ++ Seq(
    "executor.task_s" -> "s", "executor.cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.core_util" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "io.input_mb" -> "MB") ++
    Main.OpNames.map(o => s"shuffle.write_mb_per_op.$o" -> "MB") ++ Seq(
    "sources.fastx_read_s" -> "s", "sources.fastx_mb_per_s" -> "MB/s",
    "kernel.align_reads_per_s" -> "reads/s", "kernel.rype_reads_per_s" -> "reads/s",
    "kernel.bam_encode_mb_per_s" -> "MB/s", "kernel.minhash_docs_per_s" -> "docs/s",
    "ops.align_s" -> "s", "ops.rype_s" -> "s", "ops.woltka_s" -> "s", "ops.copy_bam_s" -> "s",
    "ops.minhash_s" -> "s", "ops.winnow_s" -> "s", "ops.line_dedup_s" -> "s",
    "ops.dup_spans_s" -> "s", "ops.bm25_serve_ms" -> "ms", "ops.bm25_build_s" -> "s",
    "ops.aligned_frac" -> "ratio", "ops.bm25_input_mb_per_query" -> "MB",
    "ops.lsh_recall" -> "ratio",
    "plans.window_ms" -> "ms", "bucketed.sql_ms" -> "ms", "bucketed.build_s" -> "s",
    "jvm.peak_heap_mb" -> "MB",
    "trace.overhead_setup_s" -> "s", "trace.overhead_work_per_s" -> "1/s",
    "trace.overhead_op_p50_ms" -> "ms")

  private def tracedOps(h: Harness, traced: Seq[IterRec]): Seq[(OpSpan, OpCounters)] = {
    val ids = traced.map(_.id).toSet
    h.spans.toSeq.filter(s => ids(s.parent))
      .map(s => s -> h.tracer.flatMap(_.counted(s.id)).getOrElse(new OpCounters))
  }

  def compute(h: Harness, traced: Seq[IterRec], cores: Int): Map[String, Double] = {
    val ops = tracedOps(h, traced)
    val n = math.max(1, traced.size).toDouble
    def per(f: OpCounters => Double) = ops.map(o => f(o._2)).sum / n
    val wallS = traced.map(_.wallMs).sum / 1000
    val driverOnlyMs = ops.map { case (s, c) =>
      val inside = c.jobSpans.map { case (_, js, je) =>
        (math.max(js.toDouble, s.startMs).toLong, math.min(je.toDouble, s.endMs).toLong)
      }.filter(x => x._2 > x._1).toSeq
      s.endMs - s.startMs - Trace.unionMs(inside)
    }.sum
    Map(
      "driver.plan_ms" -> Stats.median(ops.filter(_._2.jobs > 0)
        .map { case (s, c) => c.firstJobStartMs - s.startMs }),
      "driver.only_s" -> driverOnlyMs / 1000 / n,
      "scheduler.jobs" -> per(_.jobs), "scheduler.stages" -> per(_.stages),
      "scheduler.tasks" -> per(_.tasks), "scheduler.wait_s" -> per(_.waitMs / 1000.0),
      "scheduler.failed_tasks" -> ops.map(_._2.failedTasks).sum.toDouble,
      "executor.task_s" -> per(_.taskMs / 1000.0), "executor.cpu_s" -> per(_.cpuNs / 1e9),
      "executor.gc_s" -> per(_.gcMs / 1000.0),
      "executor.core_util" -> ops.map(_._2.taskMs).sum / 1000.0 / math.max(1e-9, wallS * cores),
      "shuffle.write_mb" -> per(_.shuffleWrite / 1e6), "shuffle.read_mb" -> per(_.shuffleRead / 1e6),
      "shuffle.spill_mb" -> per(_.spill / 1e6), "io.input_mb" -> per(_.input / 1e6)
    ) ++ perOp(h, traced)
  }

  /** Jobs, shuffle bytes and median wall per op name; NaN for an op that
    * the iterations do not run. */
  def perOp(h: Harness, traced: Seq[IterRec]): Map[String, Double] = {
    val byName = tracedOps(h, traced).groupBy(_._1.name)
    def avg(name: String, f: OpCounters => Double) =
      byName.get(name).map(xs => xs.map(x => f(x._2)).sum / xs.size).getOrElse(Double.NaN)
    (Main.OpNames.flatMap { o =>
      Seq(s"scheduler.jobs_per_op.$o" -> avg(o, _.jobs),
        s"shuffle.write_mb_per_op.$o" -> avg(o, _.shuffleWrite / 1e6))
    } ++ Seq("align", "rype", "woltka", "copy_bam", "minhash", "winnow", "line_dedup", "dup_spans")
      .map(o => s"ops.${o}_s" -> byName.get(o).map(xs => Stats.median(xs.map(_._1.wallS))).getOrElse(Double.NaN)) ++
      Map("ops.bm25_serve_ms" -> byName.get("bm25_serve")
        .map(xs => Stats.median(xs.map(_._1.wallS * 1000))).getOrElse(Double.NaN))).toMap
  }

  /** Structural fingerprint per op kind: jobs, stages, tasks and shuffle
    * bytes per invocation, and whether every invocation agreed. */
  def fingerprints(h: Harness, traced: Seq[IterRec]): Map[String, Any] =
    ListMap.from(tracedOps(h, traced).groupBy(_._1.kind).toSeq.sortBy(_._1).map { case (kind, xs) =>
      val prints = xs.map { case (_, c) => (c.jobs, c.stages, c.tasks, c.shuffleWrite) }
      val (j, s, t, b) = prints.head
      kind -> ListMap("invocations" -> xs.size, "jobs" -> j, "stages" -> s, "tasks" -> t,
        "shuffle_write_bytes" -> b, "stable" -> (prints.distinct.size == 1))
    })

  /** All spans of the run: ops (parent = iteration or 0 for set-up and
    * checks) and the jobs attributed to traced ops (parent = op). */
  def spans(h: Harness): Seq[Any] =
    h.iters.map(i => ListMap("id" -> i.id, "name" -> s"iteration:${i.kind}", "parent" -> 0L,
      "start_ms" -> i.startMs, "end_ms" -> i.endMs)).toSeq ++
      h.spans.map(s => ListMap("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "traced" -> s.traced)) ++
      h.tracer.toSeq.flatMap(_.jobSpans).map { case (op, job, s, e) =>
        ListMap("id" -> s"job$job", "name" -> "job", "parent" -> op, "start_ms" -> s, "end_ms" -> e)
      }
}
