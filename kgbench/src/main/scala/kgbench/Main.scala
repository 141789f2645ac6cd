package kgbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Workloads.median

/** Benchmark entry point (run through kgbench/run.py, which builds the
  * classpath):
  *
  *   kgbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * One run: set the workload up three times (session start, input
  * generation) and keep the median; warm the last session up with untimed
  * reps; time reps of the job for `--seconds` (at least three); check the
  * output against truth; print a summary line and, last, the result line.
  * `cold_setup_s` (summary line; `jvm.cold_setup_s` in a traced run) is
  * what the cold JVM paid before its first timed rep, less the two repeat
  * set-ups: the first set-up plus the warm-up. It is one sample per run, so
  * it is reported but not bounded.
  * With `--trace 1` traced and untraced reps alternate and the result
  * carries the per-layer numbers instead of the end-to-end ones. */
object Main {
  val SetUps = 3
  val MinReps = 3
  /** Traced reps (each beside an untraced one) in a `--trace 1` run. */
  val TracedReps = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(kv.getOrElse("out", ".bench_build/kgbench")).toAbsolutePath)
  }

  def session(cores: Int, out: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    val (summary, result, ok) = run(a)
    println(Json.obj(summary))
    println(Json.obj(result))
    Console.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def run(a: Args): (Seq[(String, Any)], Seq[(String, Any)], Boolean) = {
    val cores = Runtime.getRuntime.availableProcessors
    val runId = s"${a.workload}-seed${a.seed}-${ProcessHandle.current().pid()}"
    val w = Workloads(a.workload, cores, a.out.resolve("work").resolve(runId))
    var spark: SparkSession = null
    var tracer: Tracer = null
    val warmTimes = mutable.ArrayBuffer[Double]()

    // set-up, three times: a fresh session and fresh inputs
    val setups = (1 to SetUps).map { _ =>
      if (spark != null) { w.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(cores, a.out)
      tracer = new Tracer(spark, runId, enabled = false)
      w.setup(spark, a.seed)
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: untimed reps in the session the reps will run in
    (1 to w.warmPasses).foreach { _ =>
      val p0 = System.nanoTime()
      w.rep(tracer)
      warmTimes += (System.nanoTime() - p0) / 1e9
    }
    tracer.jobs.clear()

    val notes = mutable.ArrayBuffer[String]()
    var failed = 0L
    var attempted = 0L
    val heap = new HeapWatch
    val taskStats = new TaskStats
    val reps = mutable.ArrayBuffer[Rep]()
    val traced = mutable.ArrayBuffer[TracedRep]()
    def oneRep(t: Tracer): Option[Rep] = {
      attempted += w.opsPerRep
      try Some(w.rep(t))
      catch {
        case e: Exception =>
          System.err.println(s"kgbench: ${a.workload} rep failed: $e")
          failed += w.opsPerRep
          None
      }
    }
    def timedLoop(seconds: Double)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < MinReps || (System.nanoTime() - t0) / 1e9 < seconds) { body; n += 1 }
    }

    heap.on = true
    if (!a.trace) timedLoop(a.seconds)(oneRep(tracer).foreach(reps += _))
    else {
      // untraced and traced reps alternate, so both see the same warm-up
      // drift; the difference of their medians is the tracing overhead
      val tt = new Tracer(spark, runId, enabled = true)
      val sc = spark.sparkContext
      val t0 = System.nanoTime()
      var n = 0
      while (n < TracedReps || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        n += 1
        oneRep(tracer).foreach(reps += _)
        val gc0 = Jvm.gcMs
        val cg0 = Jvm.codegen._1
        sc.addSparkListener(taskStats)
        try oneRep(tt).foreach { r =>
          org.apache.spark.kgbench.BusAccess.drain(sc)
          val (compiles, meanMs) = Jvm.codegen
          traced += TracedRep(r, taskStats.drainTasks(), Jvm.gcMs - gc0, compiles - cg0,
            (compiles - cg0) * meanMs)
        } finally {
          sc.removeSparkListener(taskStats)
          taskStats.drainTasks()
        }
      }
      notes ++= tracer.problems
      tracer.close()
      tracer = tt
    }
    heap.on = false

    // the output of the last rep (or of one more pass) against truth
    val c0 = System.nanoTime()
    val checker = new Tracer(spark, runId, enabled = false)
    attempted += w.opsPerRep
    failed += (try w.check(checker, notes) catch {
      case e: Exception => notes += s"check failed: $e"; w.opsPerRep
    })
    val checkS = (System.nanoTime() - c0) / 1e9
    checker.close()
    notes ++= (tracer.problems ++ checker.problems).distinct

    val walls = reps.map(_.wall).toSeq
    val wall = median(walls)
    val build = median(reps.map(_.build).toSeq)
    val query = median(reps.map(_.query).toSeq)
    val coldSetup = setups.head + warmTimes.sum
    val e2e = Seq(
      "setup_s" -> (median(setups), "s"),
      "wall_s" -> (wall, "s"),
      "docs_per_s" -> (w.units / wall, "1/s"))

    val metrics: Seq[(String, Any)] =
      if (!a.trace) e2e.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) }
      else {
        val tracedReps = traced.map(_.rep).toSeq
        val layer = mutable.LinkedHashMap[String, Double]()
        PerLayer.Names.foreach(n => layer(n) = 0.0)
        layer ++= sparkLayer(traced.toSeq, cores)
        layer("spark.plan_nodes") = tracer.jobs.map(_.planNodes.toDouble).sum / tracedReps.size.max(1)
        layer ++= w.layers(tracer, tracedReps)
        layer("trace.overhead_s") = median(tracedReps.map(_.wall)) - wall
        layer("trace.spans") = tracer.spans.size.toDouble
        layer("spark.heap_peak_mib") = heap.peakMiB
        layer("jvm.cold_setup_s") = coldSetup
        tracer.writeSpans(a.out.resolve("trace").resolve(s"$runId.jsonl"))
        val unknown = layer.keys.filterNot(PerLayer.Names.toSet)
        require(unknown.isEmpty, s"per-layer metrics missing from the declared list: $unknown")
        layer.toSeq.map { case (k, v) => k -> Seq("value" -> v, "unit" -> PerLayer.unit(k)) }
      }

    w.close()
    spark.stop()
    val ok = failed == 0 && notes.isEmpty
    val summary = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> cores,
      "master" -> s"local[$cores]", "reps" -> reps.size, "traced_reps" -> traced.size,
      "setup_runs_s" -> setups.map(x => f"$x%.2f").mkString(","),
      "warm_pass_s" -> warmTimes.map(x => f"$x%.2f").mkString(","),
      "wall_s_all" -> walls.map(x => f"$x%.3f").mkString(","),
      "wall_s_max" -> (if (walls.isEmpty) 0.0 else walls.max),
      "build_s" -> build, "query_s" -> query, "check_s" -> checkS,
      "heap_peak_mib" -> heap.peakMiB, "cold_setup_s" -> coldSetup,
      "error_rate" -> failed.toDouble / attempted.max(1),
      "timed_jobs" -> tracer.jobs.map(_.name).distinct.mkString(","),
      "notes" -> notes.mkString("; ")) ++ e2e.map { case (k, (v, u)) => s"$k [$u]" -> v }
    val result = Seq("correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics)
    (summary, result, ok)
  }

  /** A traced rep with the scheduler's tasks, the JVM's GC time (ms) and the
    * Janino compilations it saw: their count, and their time estimated as
    * count × the mean of Spark's sampled compile times (ms). */
  final case class TracedRep(rep: Rep, tasks: Vector[Task], gcMs: Long, compiles: Long,
      compileMs: Double)

  /** Scheduler-side numbers of the traced reps, median over reps. */
  private def sparkLayer(reps: Seq[TracedRep], cores: Int): Map[String, Double] = {
    def med(f: TracedRep => Double) = median(reps.map(f))
    def taskMs(ts: Vector[Task]) = ts.map(_.ms.toDouble)
    def skew(ts: Vector[Task]): Double = {
      // the heaviest stage of the rep: its slowest task over its median task
      val stages = ts.groupBy(_.stage).values.filter(_.size > 1)
      if (stages.isEmpty) 1.0
      else {
        val heavy = stages.maxBy(_.map(_.runMs).sum)
        heavy.map(_.ms).max.toDouble / math.max(1.0, median(taskMs(heavy)))
      }
    }
    Map(
      "spark.tasks" -> med(_.tasks.size.toDouble),
      "spark.task_ms.p50" -> med(r => median(taskMs(r.tasks))),
      "spark.task_ms.max" -> med(r => if (r.tasks.isEmpty) 0.0 else r.tasks.map(_.ms).max.toDouble),
      "spark.task_skew" -> med(r => skew(r.tasks)),
      "spark.gc_ms" -> med(_.gcMs.toDouble),
      "spark.gc_share" -> med(r => r.gcMs / (1e3 * r.rep.wall)),
      "spark.parallel_eff" -> med(r => r.tasks.map(_.runMs).sum / (1e3 * r.rep.wall * cores)),
      "spark.shuffle_write_bytes" -> med(_.tasks.map(_.shuffleWrite).sum.toDouble),
      "spark.shuffle_read_bytes" -> med(_.tasks.map(_.shuffleRead).sum.toDouble),
      "spark.spill_bytes" -> med(_.tasks.map(_.spill).sum.toDouble),
      "spark.codegen.compile_count" -> med(_.compiles.toDouble),
      "spark.codegen.compile_ms" -> med(_.compileMs))
  }
}

/** The per-layer metrics every traced run reports, with units. A workload
  * reports 0 for a layer it does not run. */
object PerLayer {
  private val kernel = Seq(
    "text.HtmlSegmenter.segment.us_per_doc", "text.HtmlSegmenter.segment.kib_per_doc",
    "text.HtmlSegmenter.segment.segments_per_doc",
    "kg.DocKernel.buildDocs.us_per_doc", "kg.DocKernel.buildDocs.kib_per_doc",
    "kg.DocKernel.buildDocs.ctx_tokens_per_doc",
    "kg.DocKernel.annotate.us_per_doc", "kg.DocKernel.annotate.kib_per_doc",
    "kg.GraphBuilder.build.us_per_doc", "kg.GraphBuilder.build.kib_per_doc",
    "kg.GraphBuilder.build.triples_per_doc",
    "kg.DocKernel.process.doc_ms.p50", "kg.DocKernel.process.doc_ms.p99",
    "kg.DocKernel.process.doc_ms.max", "kg.kernel.docs_per_s_1t")
  private val spark = Seq("spark.tasks", "spark.task_ms.p50", "spark.task_ms.max",
    "spark.task_skew", "spark.gc_ms", "spark.gc_share", "spark.parallel_eff",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.plan_nodes", "spark.codegen.compile_count", "spark.codegen.compile_ms",
    "spark.heap_peak_mib")
  private val stages = Seq("segments", "triples_raw", "triples", "closure")
    .flatMap(s => Seq(s"kg.StageStore.$s.wall_ms", s"kg.StageStore.$s.rows")) :+
    "kg.StageStore.bytes_written"
  private val pipeline = Seq("dedupPages", "segments", "triples", "relabelPurposes")
    .map(f => s"kg.KgPipeline.$f.ms") ++ Seq("kg.KgApi.closureRows.ms",
    "kg.KgPipeline.runCheckpointed.build_s", "kg.KgApi.queries.query_s")
  private val queries = Seq("kg.KgApi.whoCollectFromClosure",
    "kg.KgApi.validateCollectionFromClosure", "kg.KgApi.validateSharingFromClosure",
    "kg.KgApi.partyTuples", "kg.KgApi.contradictions", "kg.KgApi.edgePurposes",
    "kg.FlowConsistency.classify").flatMap(q => Seq(s"$q.ms", s"$q.rows", s"$q.plan_nodes"))
  private val alias = Seq("kg.AliasResolution.rounds", "kg.AliasResolution.first_active_vertices",
    "kg.AliasResolution.cc_ms", "kg.AliasResolution.sort_ms")
  private val trace = Seq("trace.overhead_s", "trace.spans")

  val Names: Seq[String] =
    kernel ++ spark ++ stages ++ pipeline ++ queries ++ alias ++ trace :+ "jvm.cold_setup_s"

  def unit(name: String): String = name.split('.').last match {
    case "us_per_doc" => "us"
    case "kib_per_doc" => "KiB"
    case "ms" | "wall_ms" | "p50" | "p99" | "max" | "gc_ms" | "compile_ms" | "cc_ms" | "sort_ms" => "ms"
    case "build_s" | "query_s" | "overhead_s" | "cold_setup_s" => "s"
    case "docs_per_s_1t" => "1/s"
    case "heap_peak_mib" => "MiB"
    case "gc_share" | "parallel_eff" | "task_skew" => "ratio"
    case b if b.endsWith("bytes") || b == "bytes_written" => "bytes"
    case _ => "count"
  }
}
