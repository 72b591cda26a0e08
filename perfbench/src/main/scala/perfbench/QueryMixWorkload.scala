package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.Util

/** Read-only passes over a fixed list of the program's queries, in sorted
  * order, each forced to full-row evaluation (the hash-and-count action of
  * the program's own bench) and checked against a golden (hash, count). The
  * closed loop's operation is one query. The session cache registry is
  * released between passes, so every pass pays its cache builds. The data
  * set is fixed; the seed does not apply. */
final class QueryMixWorkload extends Workload {
  import Layers._

  def name: String = "query_mix"

  /** Queries from each group the program serves: the reference surface
    * (sharing Dedup/Merge/Parsers with the pipeline), relational and the
    * native as-of join, a shared-signature cache family, and plans with
    * native expressions. */
  val queryNames: Seq[String] = Seq(
    "conditional_merge", "dedup_latest", "parse_decimals_localized",
    "q1_agg", "asof_join_native",
    "minhash_estimate_audit",
    "knn_brute_cosine", "dedup_canonical").sorted

  private def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
  }

  /** Full-row evaluation: xor of the per-row hash of every hashable column,
    * and the row count. */
  def hashAndCount(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.filterNot(f => hasMap(f.dataType))
      .map(f => s"`${f.name.replace("`", "``")}`")
    val r = df.selectExpr(s"bit_xor(xxhash64(${cols.mkString(", ")})) AS h", "count(*) AS n").head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  private def readGolden(path: java.nio.file.Path): Map[String, (Long, Long)] =
    if (!Files.exists(path)) Map.empty
    else {
      val entry = "\"([a-z0-9_]+)\"\\s*:\\s*\\[\\s*(-?\\d+)\\s*,\\s*(\\d+)\\s*\\]".r
      entry.findAllMatchIn(Files.readString(path))
        .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
    }

  /** JVM warm-up, the one the program's bench uses: aggregate, window and
    * join on generated rows. */
  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(200000).selectExpr("sum(id)").collect()
    val o = spark.range(2000).selectExpr("id AS k", "id % 7 AS g", "cast(id AS double) AS v")
    o.withColumn("rn", row_number().over(Window.partitionBy("g").orderBy("k")))
      .join(o.select("k"), "k").groupBy("g").agg(sum("v")).collect()
  }

  /** Data set-up: the schema read of every table. */
  private def prepare(spark: SparkSession, dir: String): Unit =
    Seq("customer", "documents", "embeddings", "events", "lineitem", "nation",
      "orders", "part", "region", "supplier")
      .foreach(t => Util.t(spark, dir, t).schema)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tr = ctx.trace
    val dir = ctx.args.data.toString
    val golden = readGolden(ctx.args.golden)
    val problems = mutable.ArrayBuffer.empty[String]
    val warmS = ctx.timed(tr.tag(Trace.Setup)(warmUp(spark)))._2
    val dataSetupS = (0 until 3).map(_ => ctx.timed(tr.tag(Trace.Setup)(prepare(spark, dir)))._2)
    ctx.sampleHeap()
    tr.reset()

    val fns = SparkEntry.queries
    val missing = queryNames.filterNot(fns.contains)
    require(missing.isEmpty, s"queries not in the program: ${missing.mkString(", ")}")
    val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val ops = mutable.ArrayBuffer.empty[Double]
    var attempted = 0; var failed = 0
    val start = System.nanoTime()
    var pass = 0
    while (!ctx.deadlineReached(start) || pass < Main.minOps) {
      pass += 1
      queryNames.foreach { q =>
        attempted += 1
        tr.clearTaskIntervals()
        var execFrom = 0L; var execTo = 0L
        val (res, s) = ctx.timed(tr.span(Queries) {
          try {
            val t0 = System.nanoTime()
            val df = fns(q)(spark, dir)
            val t1 = System.nanoTime()
            execFrom = System.currentTimeMillis()
            val hc = hashAndCount(df)
            execTo = System.currentTimeMillis()
            if (tr.on) {
              tr.add(Queries, "construct_s", (t1 - t0) / 1e9)
              tr.add(Queries, "exec_s", (System.nanoTime() - t1) / 1e9)
            }
            Right(hc)
          } catch { case e: Exception => Left(e.toString) }
        })
        ops += s
        calls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        res match {
          case Left(err) => failed += 1; problems += s"pass $pass: $q failed: $err"
          case Right(hc) =>
            observed(q) = hc
            golden.get(q) match {
              case Some(g) if g == hc =>
              case g => problems += s"pass $pass: $q gave (hash, count) $hc, golden $g"
            }
        }
        if (tr.on) {
          tr.add(Queries, "idle_s",
            math.max(0L, (execTo - execFrom) - tr.coveredMs(execFrom, execTo)) / 1e3)
          val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          tr.max(Queries, "cache_peak_bytes", cached.toDouble)
        }
      }
      // sampled while the pass's caches are still resident: unpersist is
      // asynchronous, so a sample after the release would race the cleanup
      ctx.sampleHeap()
      tr.tag(Trace.Check)(Util.releaseCaches(spark))
    }
    sys.env.get("PERFBENCH_WRITE_GOLDEN").foreach { path =>
      Files.writeString(java.nio.file.Paths.get(path), observed.toSeq.sortBy(_._1)
        .map { case (k, (h, n)) => s"""  "$k": [$h, $n]""" }.mkString("{\n", ",\n", "\n}\n"))
    }
    val medians = calls.values.map(v => Stats.median(v.toSeq)).toSeq
    val info = Seq(
      "query_total_s" -> (medians.sum -> "s"),
      "query_geomean_s" -> (Stats.geomean(medians) -> "s"),
      "error_rate" -> (failed.toDouble / attempted -> "ratio"),
      "passes" -> (pass.toDouble -> "count"))
    // per-layer counts are per pass
    val perLayer = if (tr.on) Layers.collect(ctx, pass, ops.sum) else Nil
    Result(Setup(warmS, dataSetupS), ops.toSeq, calls.map { case (k, v) => k -> v.toSeq }.toMap,
      attempted, failed, problems.toSeq, info, perLayer)
  }
}
