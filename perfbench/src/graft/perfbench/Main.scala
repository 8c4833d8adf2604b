package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Raw observations of one run. The Python front end turns them into
  * metrics (medians, tail percentile, error rate). */
final class Recorder(spark: SparkSession) {
  /** Per operation kind: (wall seconds, Java-thread CPU seconds,
    * process CPU seconds, error). */
  val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double, String)]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  var spans: Map[String, Map[String, Double]] = Map.empty

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds so far of each live Java thread. */
  private def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Runs `work` and records it as one operation of `kind`: its wall
    * time, the CPU time of the Java threads (the driver, Spark's
    * executor and service threads, `graft.Par`'s pool; not the JIT
    * compiler or the collector, and not a thread that starts and ends
    * within the operation) and the process CPU time. It fails when
    * `work` or `check` throws or `check` returns failures. */
  def op[T](kind: String)(work: => T)(check: T => Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    val th0 = threadCpu()
    val r = try Right(work) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val th1 = threadCpu()
    val proc = (os.getProcessCpuTime - c0) / 1e9
    val cpu = th1.map { case (t, ns) => ns - th0.getOrElse(t, 0L) }.sum / 1e9
    def describe(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"
    val errs = r match {
      case Left(e) => Seq(describe(e))
      case Right(v) => try check(v) catch { case e: Throwable => Seq(describe(e)) }
    }
    errs.foreach(e => System.err.println(s"[perfbench] $kind failed: ${e.take(2000)}"))
    ops.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((secs, cpu, proc, errs.mkString("; ")))
    Heap.sample(spark)
  }

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    obj(Seq(
      "ops" -> obj(ops.map { case (k, xs) =>
        k -> xs.map { case (s, c, p, e) =>
          obj(Seq("s" -> num(s), "cpu_s" -> num(c), "proc_cpu_s" -> num(p), "error" -> str(e)))
        }
          .mkString("[", ", ", "]")
      }),
      "values" -> obj(values.map { case (k, v) => k -> num(v) }),
      "heap_gc_peak_mib" -> num(Heap.gcPeakMiB),
      "heap_sampled_peak_mib" -> num(Heap.sampledPeakMiB),
      "spans" -> obj(spans.map { case (k, m) => k -> obj(m.map { case (a, b) => a -> num(b) }) })))
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, rec: Recorder,
    seed: Long, seconds: Double)

trait Workload {
  /** One set-up repetition into `dir`, returning its failed checks; the
    * run uses the last one. */
  def setup(c: Ctx, dir: String): Seq[String]
  /** The measured run. */
  def run(c: Ctx, dir: String): Unit
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <file> --work <dir>`.
  * Writes the run's raw observations as JSON to `--out`. */
object Main {

  val workloads: Map[String, Workload] = Map(
    "medallion_season" -> MedallionWorkload,
    "vector_lifecycle" -> VectorWorkload,
    "medallion_selfcheck" -> MedallionSelfCheck)

  /** Set-up is repeated, each time into a fresh directory, and
    * `setup_s` is the median, so the first, cold repetition does not
    * set the figure. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    def opt(flag: String): String =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
        .getOrElse(sys.error(s"missing $flag"))
    val name = opt("--workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = opt("--work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traced = opt("--trace") == "1")
    val rec = new Recorder(spark)
    val c = Ctx(spark, trace, rec, opt("--seed").toLong, opt("--seconds").toDouble)
    Heap.watch()
    try {
      (1 to SetupReps).foreach { i =>
        val dir = s"$work/setup$i"
        rec.op("setup")(wl.setup(c, dir))(errs => errs)
        if (i < SetupReps) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
      wl.run(c, s"$work/setup$SetupReps")
      rec.spans = trace.summary()
      trace.close()
      val out = new java.io.PrintWriter(opt("--out"), "UTF-8")
      try out.println(rec.json) finally out.close()
    } finally spark.stop()
  }
}
