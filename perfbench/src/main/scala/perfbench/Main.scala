package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line entry of the benchmark JVM.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --data <dir> --golden <file> --out <file>
  * }}}
  *
  * Runs one workload as a closed loop with one runner for `--seconds`,
  * checks the program's outputs against the workload's own expectation,
  * and prints the result object as the last line of standard output.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Path, golden: Path, out: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("data")),
      Paths.get(need("golden")), Paths.get(need("out")))
  }

  /** Closed-loop operations per run at the least, whatever `--seconds`
    * says, so every run reports a median over the same number of samples. */
  val minOps = 3

  val workloads: Map[String, Workload] = Seq[Workload](
    new EtlWorkload,
    new QueryMixWorkload).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; " +
        s"known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(a.trace, java.util.UUID.randomUUID().toString)
    trace.attach(spark)
    val ctx = new Ctx(spark, a, trace, sessionStart)
    val res =
      try w.run(ctx)
      finally spark.stop()
    val out = Report.render(w, ctx, res)
    Files.writeString(a.out, out.fileJson + "\n")
    res.info.foreach { case (k, (v, unit)) => println(f"$k%-34s $v%.6f $unit") }
    if (a.trace) {
      println("self seconds per layer:")
      trace.selfSeconds.toSeq.sortBy(-_._2).foreach { case (k, v) => println(f"  $k%-20s $v%.4f") }
    }
    res.problems.take(20).foreach(p => println(s"CHECK FAILED: $p"))
    println(out.resultLine)
    System.out.flush()
    if (res.problems.nonEmpty) sys.exit(1)
  }
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val trace: Trace,
    val sessionStartS: Double) {
  private val mem = ManagementFactory.getMemoryMXBean
  private var heapPeak = 0.0

  /** Post-GC live heap, sampled between operations (never inside a timed
    * window); the run reports the largest sample. */
  def sampleHeap(): Unit = {
    System.gc()
    heapPeak = math.max(heapPeak, mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
  }
  def heapPeakMb: Double = heapPeak

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gcInWindows = 0L

  /** Time one operation of the closed loop; GC time inside it is summed. */
  def timed[T](body: => T): (T, Double) = {
    val g0 = gcMs
    val t0 = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t0) / 1e9
    gcInWindows += gcMs - g0
    (r, s)
  }
  def gcSeconds: Double = gcInWindows / 1e3

  def deadlineReached(startNs: Long): Boolean =
    (System.nanoTime() - startNs) / 1e9 >= args.seconds
}

/** Set-up time: the JVM warm-up runs once per JVM; the data set-up (fresh
  * directories, DW seeding) runs three times and its median counts. */
final case class Setup(warmUpS: Double, dataS: Seq[Double])

/** What a workload measured. `callTimes` maps each kind of timed call that
  * `call_geomean_s` covers to its samples; `ops` are the closed-loop
  * operation times (cycles or passes); `info` holds the workload's own
  * end-to-end figures and `perLayer` the traced per-layer metrics. */
final case class Result(
    setup: Setup,
    ops: Seq[Double],
    callTimes: Map[String, Seq[Double]],
    attempted: Int,
    failed: Int,
    problems: Seq[String],
    info: Seq[(String, (Double, String))],
    perLayer: Seq[(String, (Double, String))])

trait Workload {
  def name: String
  def run(ctx: Ctx): Result
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Bytes of the regular files under `p` (0 when absent). */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  /** Parquet data files under `p`. */
  def parquetFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet"))
      finally w.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
}

object Report {
  final case class Out(resultLine: String, fileJson: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def metricsJson(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  /** The end-to-end metrics every workload reports. */
  def endToEnd(ctx: Ctx, r: Result): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (ctx.sessionStartS + r.setup.warmUpS + Stats.median(r.setup.dataS) -> "s"),
    "cycle_s_p50" -> (Stats.median(r.ops) -> "s"),
    "call_geomean_s" -> (Stats.geomean(r.callTimes.values.map(Stats.median).toSeq) -> "s"),
    "live_heap_mb" -> (ctx.heapPeakMb -> "MB"))

  def render(w: Workload, ctx: Ctx, r: Result): Out = {
    val e2e = endToEnd(ctx, r)
    val shown = if (ctx.args.trace) r.perLayer else e2e
    val correct = r.problems.isEmpty
    val line = s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": ${metricsJson(shown)}}"""
    val spans = ctx.trace.allSpans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "run": "${s.run}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    val self = ctx.trace.selfSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val calls = r.callTimes.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": [${v.map(num).mkString(", ")}]""" }.mkString("{", ", ", "}")
    val file =
      s"""{"workload": "${w.name}", "seed": ${ctx.args.seed}, "trace": ${ctx.args.trace}, """ +
        s""""correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
        s""""end_to_end": ${metricsJson(e2e)}, "info": ${metricsJson(r.info)}, """ +
        s""""per_layer": ${metricsJson(if (ctx.args.trace) r.perLayer else Nil)}, """ +
        s""""session_start_s": ${num(ctx.sessionStartS)}, "warm_up_s": ${num(r.setup.warmUpS)}, """ +
        s""""data_setup_s_samples": [${r.setup.dataS.map(num).mkString(", ")}], """ +
        s""""op_s_samples": [${r.ops.map(num).mkString(", ")}], "call_s_samples": $calls, """ +
        s""""self_s": $self, "spans": [${spans.mkString(", ")}], """ +
        s""""problems": [${r.problems.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(", ")}]}"""
    Out(line, file)
  }
}
