package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work-dir <dir> --state-dir <dir> --launch-ms <epoch ms>
  * }}}
  *
  * Closed loop, one client: one pass at a time, each pass's operations one
  * after another. Set-up is the JVM and Spark session start, input
  * generation, one warm-up pass in the cold JVM, whose output gets the
  * full checks, and the workload's extra warm-up passes. Then warm passes
  * run until the measured window is used up. Untraced (`--trace 0`) it prints the end-to-end metrics; traced
  * (`--trace 1`) it spends the first half of the window untraced and the
  * second half traced, with a span around every layer call and the Spark
  * listener on, then runs every workload's layers once, each materialised,
  * and prints the per-layer metrics plus the tracing overhead. The last
  * stdout line is the result JSON.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: Path, stateDir: Path, launchMs: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work-dir")), Paths.get(m("state-dir")), m("launch-ms").toLong)
  }

  /** End-to-end metrics, in BENCHMARK.json order: name → unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "rows_per_s" -> "1/s", "cpu_s" -> "s",
    "peak_rss_mb" -> "MB", "output_mb" -> "MB", "setup_s" -> "s")

  /** Per-layer metrics: name → unit. Every traced run measures all of them:
    * the `spark.*` counters and the overhead on its own workload's traced
    * passes, the rest on every workload's layers, each at that workload's
    * input size. */
  val perLayer: Seq[(String, String)] = Seq(
    "extract.scan_s" -> "s", "extract.scan_mb_per_s" -> "MB/s", "extract.extract_s" -> "s",
    "extract.canon_us_per_mol" -> "us", "extract.canon_distinct_ratio" -> "ratio",
    "extract.reactions" -> "count", "extract.rows_out" -> "count",
    "extract.unresolved_ratio" -> "ratio",
    "operators.load_s" -> "s", "operators.clean_s" -> "s", "operators.split_s" -> "s",
    "operators.dedup_removed_ratio" -> "ratio", "operators.rare_removed_ratio" -> "ratio",
    "operators.leak_moved" -> "count", "operators.fp_s" -> "s",
    "operators.npy_write_s" -> "s", "operators.npy_mb_per_s" -> "MB/s",
    "queries.relational_s" -> "s", "queries.dedup_s" -> "s", "queries.similarity_s" -> "s",
    "queries.graph_s" -> "s", "queries.streaming_s" -> "s", "queries.failed" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.plan_s" -> "s", "spark.driver_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.task_busy_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.core_util" -> "ratio", "spark.max_task_skew" -> "ratio",
    "spark.task_failures" -> "count", "jvm.jit_cpu_s" -> "s", "trace.overhead_pct" -> "%")

  private final case class PassRecord(ops: Seq[Op], cpuS: Double, jitS: Double, outBytes: Long,
      counters: Map[String, Double]) {
    def wallS: Double = ops.filter(_.ok).map(_.seconds).sum
    def anyOk: Boolean = ops.exists(_.ok)
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv)
        if (a.workload == "train") train(a) else run(a)
      }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def say(s: String): Unit = println(s"[perfbench] $s")

  private def run(a: Args): Int = {
    val mainMs = System.currentTimeMillis()
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = Harness.loadAvg
    say(s"workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace} " +
      s"nproc=$cores loadavg_start=$loadStart")

    val (spark, sessionS) = timed(graft.GraftSession.local(cores))
    say(f"session ready in $sessionS%.3f s")
    val w = Workloads(a.workload, spark, a.seed)

    val genS = timed(w.generate(a.workDir.resolve("inputs")))._2
    w.inputs.foreach { case (k, v) => say(s"input $k=$v") }

    val failures = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    val reference = scala.collection.mutable.Map[String, String]()
    val noTrace = new Tracer(false, "")
    val tracer = new Tracer(true, s"${a.workload}-${a.seed}-${a.launchMs}")
    val counters = new SparkCounters
    var passNo = 0

    def onePass(t: Tracer, full: Boolean, warm: Boolean = false): PassRecord = {
      Harness.settle(spark)
      passNo += 1
      val dir = a.workDir.resolve(s"pass-$passNo")
      Files.createDirectories(dir)
      val ctx = new PassCtx(dir, t)
      if (t.on) counters.reset(spark.sparkContext)
      val winStart = System.currentTimeMillis()
      val cpu0 = Harness.processCpuSeconds
      val jit0 = Harness.jitCpuSeconds
      val gc0 = Harness.gcSeconds
      w.pass(ctx)
      // the program's CPU: the JIT compiler's share is JVM warm-up, whose
      // size depends on how far compilation had got, and is kept apart
      val jitS = Harness.jitCpuSeconds - jit0
      val cpuS = Harness.processCpuSeconds - cpu0 - jitS
      val gcS = Harness.gcSeconds - gc0
      val winEnd = System.currentTimeMillis()
      val sparkC =
        if (!t.on) Map.empty[String, Double]
        else {
          val c = counters.snapshot(spark.sparkContext, ctx.opStartsMs.toSeq, winStart, winEnd)
          val wall = ctx.ops.filter(_.ok).map(_.seconds).sum
          c.map { case (k, v) => s"spark.$k" -> v } ++ Map("spark.gc_s" -> gcS, "jvm.jit_cpu_s" -> jitS,
            "spark.core_util" -> c.getOrElse("task_busy_s", 0.0) / (wall * cores))
        }
      // output checks, outside the timed section
      val checks = try w.check(ctx, full) catch {
        case e: Throwable => ctx.ops.map(o => OpCheck(o.name, Seq(Harness.describe(e)), ""))
      }
      val byOp = checks.map(c => c.op -> c).toMap
      val ops = ctx.ops.map { o =>
        val c = byOp.get(o.name)
        val digestFail = c.flatMap { c =>
          reference.get(o.name).filter(_ != c.digest).map(r => s"digest ${c.digest} != warm-up pass $r")
        }
        val errs = o.error.toSeq ++ c.toSeq.flatMap(_.failures) ++ digestFail
        if (full) c.foreach(c => reference(o.name) = c.digest)
        if (errs.isEmpty) o else o.copy(error = Some(errs.mkString("; ")))
      }.toSeq
      say(s"pass $passNo ${if (full || warm) "warm-up" else if (t.on) "traced" else "timed"} " +
        ops.map(o => f"${o.name}=${o.seconds}%.3f${if (o.ok) "" else "(failed)"}").mkString(" ") +
        f" cpu=$cpuS%.2f jit_cpu=$jitS%.2f")
      val outBytes = Harness.outputBytes(dir)
      Harness.deleteTree(dir)
      ops.foreach { o =>
        attempted += 1
        o.error.foreach { e => failed += 1; failures += s"${o.name}: $e" }
      }
      PassRecord(ops, cpuS, jitS, outBytes, sparkC)
    }

    // Set-up ends with a warm-up pass in the cold JVM, whose output gets the
    // full checks and whose digests must match earlier runs of the seed,
    // and the workload's extra warm passes.
    val warmUp = onePass(noTrace, full = true)
    checkAcrossRuns(a, reference.toMap).foreach { f => failed += 1; attempted += 1; failures += f }
    val warmUps = warmUp +: Seq.fill(w.extraWarmUps)(onePass(noTrace, full = false, warm = true))
    val warmUpS = warmUps.map(_.ops.map(_.seconds).sum).sum
    val bootS = (mainMs - a.launchMs) / 1e3
    val setupS = bootS + sessionS + genS + warmUpS
    say(f"setup jvm_boot_s=$bootS%.3f session_s=$sessionS%.3f generate_s=$genS%.3f " +
      f"warm_up_s=$warmUpS%.3f")

    // The measured window: untraced passes, then (traced) traced passes and
    // a closing untraced pass, so JIT warm-up still under way does not read
    // as (negative) tracing overhead.
    val windowStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - windowStart) / 1e9
    val untracedBudget = if (a.trace) a.seconds / 2 else a.seconds
    val untraced = ArrayBuffer[PassRecord]()
    while (untraced.isEmpty || elapsed < untracedBudget) untraced += onePass(noTrace, full = false)
    val traced = ArrayBuffer[PassRecord]()
    if (a.trace) {
      spark.sparkContext.addSparkListener(counters)
      try while (traced.isEmpty || elapsed < a.seconds) traced += onePass(tracer, full = false)
      finally spark.sparkContext.removeSparkListener(counters)
      untraced += onePass(noTrace, full = false)
    }

    val okPasses = untraced.filter(_.anyOk)
    val wallS = Harness.median(okPasses.map(_.wallS))
    val e2e = Map(
      "wall_s" -> wallS,
      "rows_per_s" -> w.inputRows / wallS,
      "cpu_s" -> Harness.median(untraced.map(_.cpuS)),
      "peak_rss_mb" -> Harness.peakRssMb,
      "output_mb" -> Harness.median(untraced.map(_.outBytes / 1e6)),
      "setup_s" -> setupS)
    val n = okPasses.size
    endToEnd.foreach { case (k, u) =>
      val samples = if (k == "setup_s") "n=1" else s"n=$n passes"
      say(s"metric $k ${Json.num(e2e(k))} $u $samples")
    }
    val opTimes = untraced.flatMap(_.ops.filter(_.ok).map(_.seconds))
    if (untraced.exists(_.ops.size > 1))
      say(s"metric op_tail_s ${Json.num(Harness.tail(opTimes))} s n=${opTimes.size} ops")
    say(s"metric error_rate ${Json.num(failed.toDouble / math.max(1, attempted))} ratio " +
      s"failed=$failed attempted=$attempted")

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) endToEnd.map { case (k, u) => (k, u, e2e(k)) }
      else {
        // every workload's layers once, each on that workload's inputs
        val ld = a.workDir.resolve("layers")
        val fromLayers = Workloads.names.map { name =>
          val (m, fails) =
            try {
              val o = if (name == w.name) w else Workloads(name, spark, a.seed)
              if (o ne w) o.generate(ld.resolve(name).resolve("inputs"))
              Harness.settle(spark)
              o.layers(ld.resolve(name).resolve("out"), tracer)
            } catch { case e: Throwable => (Map.empty[String, Double], Seq(Harness.describe(e))) }
          attempted += 1
          if (fails.nonEmpty) { failed += 1; failures += s"layers of $name: ${fails.mkString("; ")}" }
          m
        }.foldLeft(Map.empty[String, Double])(_ ++ _)
        Harness.deleteTree(ld)
        val tracedWall = Harness.median(traced.filter(_.anyOk).map(_.wallS))
        val baseWall = Harness.median(untraced.filter(_.anyOk).map(_.wallS))
        val layer = perLayer.map { case (k, u) =>
          // a layer whose run failed has no value; the run is then failed too
          val v =
            if (k == "trace.overhead_pct") (tracedWall / baseWall - 1) * 100
            else if (k.startsWith("spark.") || k.startsWith("jvm.")) Harness.median(traced.flatMap(_.counters.get(k)))
            else fromLayers.getOrElse(k, Double.NaN)
          (k, u, v)
        }
        tracer.selfByName.toSeq.sortBy(_._1).foreach { case (k, v) =>
          say(f"self_s $k $v%.4f (${tracer.named(k).size} spans)")
        }
        layer.foreach { case (k, u, v) =>
          val samples = if (k.startsWith("spark.") || k.startsWith("jvm.") || k.startsWith("trace.")) s"n=${traced.size} passes" else "n=1"
          say(s"layer $k ${Json.num(v)} $u $samples")
        }
        tracer.writeJsonl(a.stateDir.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
        say(s"spans ${tracer.spans.size} written to traces/${a.workload}-seed${a.seed}.jsonl")
        layer
      }

    val loadEnd = Harness.loadAvg
    // this run's own threads count toward the load average: flag only a
    // machine busier than one full load per core beyond it
    val loaded = Seq(loadStart, loadEnd).exists(_.split(" ").head.toDouble > 2 * cores)
    say(s"loadavg_end=$loadEnd loaded=$loaded class_archive=${Harness.classArchiveInUse}")
    failures.take(20).foreach(f => say(s"FAILED $f"))
    spark.stop()

    // the full record of the run, failed operations with their exceptions
    val passJson = (warmUps ++ untraced ++ traced).map { p =>
      p.ops.map { o =>
        s"""{"op": ${Json.str(o.name)}, "family": ${Json.str(o.family)}, "seconds": ${Json.num(o.seconds)}""" +
          o.error.map(e => s""", "error": ${Json.str(e)}""").getOrElse("") + "}"
      }.mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    val report = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "nproc" -> cores.toString, "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(loadEnd), "loaded" -> loaded.toString,
      "class_archive" -> Harness.classArchiveInUse.toString,
      "jvm_boot_s" -> Json.num(bootS), "session_s" -> Json.num(sessionS), "generate_s" -> Json.num(genS),
      "warm_up_s" -> Json.num(warmUpS),
      "inputs" -> w.inputs.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v.toString)}" }.mkString("{", ", ", "}"),
      "passes" -> passJson,
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> metrics.map { case (k, _, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}"))
    val reportFile = a.stateDir.resolve("reports").resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json")
    Files.createDirectories(reportFile.getParent)
    Files.write(reportFile, report.map { case (k, v) => s"${Json.str(k)}: $v" }
      .mkString("{", ",\n ", "}\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    say(s"report written to reports/${reportFile.getFileName}")

    val correct = failed == 0
    val body = metrics.map { case (k, u, v) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  /** One small pass of every workload, unchecked: loads the classes a run
    * needs, so the JVM can archive them for later runs' start-up. */
  private def train(a: Args): Int = {
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors())
    Workloads.names.foreach { name =>
      val w = Workloads(name, spark, a.seed, scale = 0.05)
      val d = a.workDir.resolve(name)
      w.generate(d.resolve("inputs"))
      val ctx = new PassCtx(d.resolve("pass"), new Tracer(false, ""))
      w.pass(ctx)
      ctx.ops.filterNot(_.ok).foreach(o => say(s"train ${o.name}: ${o.error.get}"))
    }
    spark.stop()
    0
  }

  /** The first pass's digests must match those of every earlier run of this
    * workload and seed in the same checkout. */
  private def checkAcrossRuns(a: Args, digests: Map[String, String]): Seq[String] = {
    val f = a.stateDir.resolve("digests").resolve(s"${a.workload}-seed${a.seed}.txt")
    val now = digests.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString("\n")
    if (Files.exists(f)) {
      val before = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      if (before == now) Nil else Seq(s"output digests differ from an earlier run of seed ${a.seed}")
    } else {
      Files.createDirectories(f.getParent)
      Files.write(f, now.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Nil
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
