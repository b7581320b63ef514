package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One timed operation of a pass: a failed one keeps its message and is
  * left out of every timing. */
final case class Op(name: String, family: String, seconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** The result of checking one operation's output after the timed section. */
final case class OpCheck(op: String, failures: Seq[String], digest: String)

/** What a workload's pass runs its operations through: times each one,
  * catches its failure, and opens a span per operation and per layer call
  * when tracing. */
final class PassCtx(val dir: Path, val tracer: Tracer) {
  val ops = ArrayBuffer[Op]()
  val opStartsMs = ArrayBuffer[Long]()

  def op(name: String, family: String)(body: => Unit): Unit = {
    opStartsMs += System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err =
      try { tracer.span(s"op.$name")(body); None }
      catch { case e: Throwable => Some(Harness.describe(e)) }
    ops += Op(name, family, (System.nanoTime() - t0) / 1e9, err)
  }

  def span[T](layer: String)(body: => T): T = tracer.span(layer)(body)

  def path(name: String): String = dir.resolve(name).toString
}

/** A benchmark workload: makes its inputs from the seed, runs timed passes
  * over them through the program's public entry points, and checks what
  * each pass wrote. */
trait Workload {
  def name: String
  /** Input rows one pass processes, for `rows_per_s`. */
  def inputRows: Long
  /** Warm passes set-up runs after the cold one, so the timed passes start
    * past the JIT's steep warm-up. */
  def extraWarmUps: Int = 0
  /** Write the seeded inputs under `dir`. */
  def generate(dir: Path): Unit
  /** The timed operations of one pass, writing under `ctx.dir`. */
  def pass(ctx: PassCtx): Unit
  /** Output checks for the pass just run; `full` adds the expensive
    * structural checks (run on the warm-up pass). */
  def check(ctx: PassCtx, full: Boolean): Seq[OpCheck]
  /** Traced-only layer breakdown: re-runs the layers one at a time, each
    * materialised, so each span holds one layer's own work. Returns the
    * per-layer metrics and any planted-count mismatches. */
  def layers(dir: Path, tracer: Tracer): (Map[String, Double], Seq[String])
  /** Planted counts and knobs, printed with the run. */
  def inputs: Seq[(String, Any)]
}

object Harness {

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(300)}"
  }

  /** Order-independent content digest of a table: row count plus the sum of
    * a 64-bit hash of every row. */
  def digest(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  /** Bytes of Parquet and `.npy` files under `dir`. */
  def outputBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        n.endsWith(".parquet") || n.endsWith(".npy")
      }).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest latency that still has ten samples beyond it; NaN when
    * there are fewer than eleven samples. */
  def tail(xs: Iterable[Double]): Double =
    if (xs.size < 11) Double.NaN else xs.toSeq.sorted.apply(xs.size - 11)

  def processCpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds this JVM's JIT compiler threads have used so far, from the
    * kernel's per-thread run time. The benchmark JVM runs with a fixed set
    * of compiler threads, so none of this time leaves with an exited thread. */
  def jitCpuSeconds: Double = {
    def read(f: java.io.File): String =
      try new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8).trim
      catch { case _: java.io.IOException => "" }
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      val comm = read(new java.io.File(t, "comm"))
      if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
      else read(new java.io.File(t, "schedstat")).split(" ").head.toLongOption.getOrElse(0L)
    }.sum / 1e9
  }

  /** Garbage-collection time of this JVM so far: in local mode the
    * scheduler and the tasks share one JVM. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Whether this JVM started from the benchmark's class-data archive. */
  def classArchiveInUse: Boolean = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .exists(_.startsWith("-XX:SharedArchiveFile="))
  }

  def loadAvg: String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
  }

  /** Empty the structural-chemistry memo caches, so each extract pass starts
    * from the cold caches a fresh executor would have. */
  def resetChemistryMemo(): Unit = {
    val cls = Class.forName("graft.extract.StructuralChemistry$")
    val module = cls.getField("MODULE$").get(null)
    cls.getDeclaredFields
      .filter(f => classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
      .foreach { f =>
        f.setAccessible(true)
        f.get(module) match {
          case m: java.util.Map[_, _] => m.clear()
          case _ =>
        }
      }
  }

  /** Between passes, outside any timed section. */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    resetChemistryMemo()
    System.gc()
  }
}
