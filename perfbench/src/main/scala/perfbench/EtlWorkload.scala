package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Pipeline, Schemas}
import graft.ingest.SftpStager
import graft.streaming.StreamingPipeline

object EtlWorkload {
  // Sizes of one cycle and of the seeded DW. Many small report files into a
  // seeded month-partitioned DW: stage load leads, upsert follows.
  // Re-exports favour the newest two months, a modelled recency skew, not
  // observed traffic.
  val FilesPerCycle = 6
  val RowsPerFile = 60
  val ReexportShare = 0.2
  val RecentShare = 0.7
  val QuarantineEvery = 20
  val SeedKeys = 3000
  val SeedMonths = 24

  /** Rows of the typed model as Spark rows of the DW schema. */
  def modelFrame(spark: SparkSession, model: Model): DataFrame = {
    val rows = model.rows.values().asScala.toSeq.map { r =>
      Row.fromSeq(r.toSeq.map {
        case d: LocalDate => java.sql.Date.valueOf(d)
        case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
        case v => v
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), Schemas.fatSchema)
  }

  /** Row count and two order-free hashes over every column. */
  def fingerprint(df: DataFrame): (Long, Long, java.math.BigDecimal) = {
    val cols = df.columns.map(c => s"`$c`").mkString(", ")
    val r = df.selectExpr(s"xxhash64($cols) AS h")
      .selectExpr("count(*)", "bit_xor(h)", "sum(cast(h AS decimal(38,0)))").head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) java.math.BigDecimal.ZERO else r.getDecimal(2))
  }

  /** Compare the DW with the model; describe up to three differing rows. */
  def compareDw(spark: SparkSession, dw: DataFrame, model: Model): Seq[String] = {
    val exp = modelFrame(spark, model).select(Schemas.fatSchema.fieldNames.map(col).toIndexedSeq: _*)
    val got = dw.select(Schemas.fatSchema.fieldNames.map(col).toIndexedSeq: _*)
    if (fingerprint(exp) == fingerprint(got)) Nil
    else {
      val missing = exp.exceptAll(got).limit(3).collect().map(r => s"expected, not in DW: $r")
      val extra = got.exceptAll(exp).limit(3).collect().map(r => s"in DW, not expected: $r")
      s"DW differs from the model (${got.count()} rows vs ${exp.count()} expected)" +:
        (missing ++ extra).toSeq
    }
  }

  def names(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }

  def month(d: LocalDate): String = f"${d.getYear}%04d-${d.getMonthValue}%02d"
}

/** One batch pipeline under test: its directories and the stage calls.
  * A cycle is stage → load → upsert → archive, the reference's cron order.
  * The reference's cycle has no staging compaction, so neither has this. */
final class PipelineRun(spark: SparkSession, root: Path) {
  val remote: Path = root.resolve("remote")
  val landing: Path = root.resolve("landing")
  val lidos: Path = root.resolve("lidos")
  val erros: Path = root.resolve("erros")
  val staging: Path = root.resolve("staging")
  val dw: Path = root.resolve("dw")
  val hist: Path = root.resolve("hist")
  val streamLanding: Path = root.resolve("stream_landing")
  val streamDw: Path = root.resolve("stream_dw")
  Seq(remote, landing, streamLanding).foreach(Files.createDirectories(_))
  val pipeline = new Pipeline(spark, staging.toString, dw.toString, hist.toString)
  val store = new SftpStager.LocalStore(root)

  def ingest(): SftpStager.Report = SftpStager.stage(store, "remote", landing)
  def load(): Seq[pipeline.LoadResult] = pipeline.loadStageReport(landing, lidos, erros)
  def upsert(): Unit = pipeline.upsertDw()
  def archive(): graft.etl.Archive.Audit = pipeline.archive()

  /** The streaming twin: run the file-stream sink over `streamLanding`
    * (AvailableNow) until it has caught up. */
  def streamCatchUp(): Unit = {
    val q = StreamingPipeline.pedidosStream(spark, streamLanding.toString,
      streamDw.toString, root.resolve("stream_checkpoint").toString)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }
}

/** The batch pipeline, cycle by cycle, with the streaming twin and three DW
  * reads after every cycle. */
final class EtlWorkload extends Workload {
  import EtlWorkload._
  import Layers._

  def name: String = "etl_small_files"

  private final case class Prepared(run: PipelineRun, gen: Generator, model: Model)

  /** A fresh pipeline directory and a DW seeded with `keys` keys over
    * `SeedMonths` months, written through the program's DW writer. */
  private def seeded(ctx: Ctx, dir: String, seed: Long, keys: Int): Prepared = {
    val model = new Model
    val gen = new Generator(seed, model)
    val run = new PipelineRun(ctx.spark, ctx.args.work.resolve(dir))
    val end = gen.now.toLocalDate.withDayOfMonth(1)
    (0 until keys).foreach { i =>
      val first = end.minusMonths(SeedMonths - 1 - (i % SeedMonths))
      val r = gen.newRecord(gen.newKey(), first.plusDays(gen.nextInt(first.lengthOfMonth())))
      r(Gen.idx("arquivo_origem")) = "seed.csv"
      model.applyBatch(Seq(r))
    }
    Pipeline.writeDw(modelFrame(ctx.spark, model), run.dw.toString)
    Prepared(run, gen, model)
  }

  /** JVM warm-up: one full-size cycle into a (smaller) seeded DW, its
    * streaming twin and a month read, on a throw-away pipeline, so timed
    * cycles pay neither class loading nor first compilation of these plans. */
  private def warmUp(ctx: Ctx): Unit = {
    val Prepared(warm, gen, _) = seeded(ctx, s"$name-warm", ctx.args.seed + 1000, SeedKeys / 10)
    gen.advanceCycle()
    val recs = gen.cycleRecords(FilesPerCycle * RowsPerFile, 0.0, () => null,
      () => gen.now.toLocalDate)
    recs.grouped(RowsPerFile).zipWithIndex.foreach { case (chunk, i) =>
      gen.writeReport(warm.remote, s"warm_$i.csv", chunk)
    }
    warm.ingest(); warm.load(); warm.upsert(); warm.archive()
    warm.pipeline.readDwMonth(month(gen.now.toLocalDate)).count()
    gen.writeStagingCsv(warm.streamLanding, "warm.csv", recs)
    warm.streamCatchUp()
    Stats.deleteTree(warm.remote.getParent)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val tr = ctx.trace
    val problems = mutable.ArrayBuffer.empty[String]

    // ---- set-up: warm-up once, data set-up three times (the last is used)
    val warmS = ctx.timed(tr.tag(Trace.Setup)(warmUp(ctx)))._2
    val dataSetupS = mutable.ArrayBuffer.empty[Double]
    var prep: Prepared = null
    (0 until 3).foreach { rep =>
      if (prep != null) Stats.deleteTree(prep.run.remote.getParent)
      val (p, s) = ctx.timed(tr.tag(Trace.Setup)(seeded(ctx, s"$name-$rep", ctx.args.seed, SeedKeys)))
      prep = p; dataSetupS += s
    }
    val Prepared(run, gen, model) = prep
    // the streaming twin's DW starts empty and sees exactly the cycles' rows
    val streamModel = new Model
    ctx.sampleHeap()
    tr.reset()

    val pending = ctx.args.work.resolve("pending")
    var fileNo = 0
    val expectLoaded = mutable.LinkedHashSet.empty[String]
    val expectQuarantined = mutable.LinkedHashSet.empty[String]
    var loadedDataRows = 0L
    var committedRows = 0L
    var inputBytes = 0L
    var writtenBytes = 0L
    val ops = mutable.ArrayBuffer.empty[Double]
    val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def call[T](label: String, layer: String)(body: => T): T = {
      val (r, s) = ctx.timed(tr.span(layer)(body))
      calls.getOrElseUpdate(label, mutable.ArrayBuffer.empty) += s
      r
    }
    val cycleCalls = Seq("stage_load", "upsert", "archive")
    var attempted = 0; var failed = 0
    val start = System.nanoTime()
    var cycle = 0
    while (!ctx.deadlineReached(start) || cycle < Main.minOps) {
      cycle += 1
      gen.advanceCycle()
      val today = gen.now.toLocalDate
      val curMonth = today.withDayOfMonth(1)

      // ---- generate this cycle's drop (untimed)
      Files.createDirectories(pending)
      val recent = Seq(curMonth, curMonth.minusMonths(1)).map(month)
        .flatMap(m => model.keysByMonth.getOrElse(m, mutable.ArrayBuffer.empty[String])).toIndexedSeq
      val anyKey = gen.anyStoredKey(model.keys)
      val pool: () => String = () =>
        if (recent.nonEmpty && gen.nextDouble() < RecentShare) recent(gen.nextInt(recent.size))
        else anyKey()
      val nfeDay: () => LocalDate = () => today.minusDays(gen.nextInt(30))
      val recs = gen.cycleRecords(FilesPerCycle * RowsPerFile, ReexportShare, pool, nfeDay)
      val intents = recs.grouped(RowsPerFile).toSeq.flatMap { chunk =>
        val out = mutable.ArrayBuffer.empty[Gen.FileIntent]
        fileNo += 1
        if (fileNo % QuarantineEvery == 7) {
          out += gen.writeBadFile(pending, f"pedidos_${fileNo}%05d_bad.csv")
          fileNo += 1
        }
        out += gen.writeReport(pending, f"pedidos_${fileNo}%05d.csv", chunk)
        out
      }
      val cycleBytes = intents.map(_.bytes).sum
      inputBytes += cycleBytes

      // ---- the timed cycle: files land, then the four stages
      attempted += 1
      val stagingBefore = Stats.treeBytes(run.staging)
      val stagingFilesBefore = if (tr.on) Stats.parquetFiles(run.staging) else 0
      val (_, landS) = ctx.timed {
        intents.foreach(i => Files.move(pending.resolve(i.name), run.remote.resolve(i.name),
          StandardCopyOption.ATOMIC_MOVE))
      }
      // the file-copy ingest is timed but left out of call_geomean_s: its
      // few milliseconds are noise next to the Spark-backed calls
      val (rep, ingestS) = ctx.timed(tr.span(Ingest)(run.ingest()))
      val loads = call("stage_load", StageLoad)(run.load())
      val stagingAfter = Stats.treeBytes(run.staging)
      if (tr.on) tr.add(StageLoad, "files_written", Stats.parquetFiles(run.staging) - stagingFilesBefore)
      call("upsert", Upsert)(run.upsert())
      val dwBytes = Stats.treeBytes(run.dw)
      val histBefore = Stats.treeBytes(run.hist)
      val audit = call("archive", Archive)(run.archive())
      val cycleS = landS + ingestS + cycleCalls.map(calls(_).last).sum
      ops += cycleS
      writtenBytes += (stagingAfter - stagingBefore) + dwBytes + (Stats.treeBytes(run.hist) - histBefore)

      // ---- outcome checks and the model (untimed)
      var cycleFailed = false
      if (rep.failed.nonEmpty || rep.downloaded.size != intents.size) {
        problems += s"cycle $cycle: stager downloaded ${rep.downloaded.size} of ${intents.size}, failed ${rep.failed}"
        cycleFailed = true
      }
      if (loads.exists(_.status == "lock_busy") || audit.lockBusy) {
        problems += s"cycle $cycle: a stage found the run lock busy"
        cycleFailed = true
      }
      val byName = loads.map(l => l.file -> l).toMap
      intents.foreach { i =>
        val want = if (i.quarantine) "quarantined" else "loaded"
        val got = byName.get(i.name)
        if (!got.exists(_.status == want))
          problems += s"cycle $cycle: ${i.name} expected $want, got ${got.map(g => g.status + " " + g.reason)}"
        else if (!i.quarantine && got.get.rows != i.dataRows)
          problems += s"cycle $cycle: ${i.name} loaded ${got.get.rows} rows, expected ${i.dataRows}"
        if (i.quarantine) expectQuarantined += i.name else expectLoaded += i.name
      }
      val loadedRecs = intents.filterNot(_.quarantine).flatMap(_.records)
      loadedDataRows += intents.filterNot(_.quarantine).map(_.dataRows).sum
      committedRows += loadedRecs.size
      if (audit.moved != intents.filterNot(_.quarantine).map(_.dataRows).sum)
        problems += s"cycle $cycle: archive moved ${audit.moved} rows"
      val changed = model.applyBatch(loadedRecs)
      streamModel.applyBatch(loadedRecs)
      if (tr.on) {
        tr.add(Ingest, "files", rep.downloaded.size)
        tr.add(Ingest, "skipped", rep.skipped.size)
        tr.add(Ingest, "listed", rep.downloaded.size + rep.skipped.size + rep.failed.size)
        tr.add(StageLoad, "quarantined", loads.count(_.status == "quarantined"))
        tr.add(Upsert, "partitions_written", EtlWorkload.names(run.dw).count(_.startsWith("nfe_month=")))
        tr.add(Upsert, "partitions_changed", changed.size)
        tr.add(Archive, "rows", audit.moved.toDouble)
      }
      if (cycleFailed) failed += 1

      // ---- the same rows through the streaming twin, into its own DW
      attempted += 1
      val staged = gen.writeStagingCsv(pending, f"stream_$cycle%05d.csv", loadedRecs)
      try call("stream", Streaming) {
        Files.move(pending.resolve(staged.name), run.streamLanding.resolve(staged.name),
          StandardCopyOption.ATOMIC_MOVE)
        run.streamCatchUp()
      } catch { case e: Exception =>
        failed += 1; problems += s"cycle $cycle: streaming catch-up failed: $e"
      }

      // ---- DW reads beside the writes
      val old = curMonth.minusMonths(SeedMonths / 2)
      Seq(curMonth, old).foreach { m =>
        attempted += 1
        val label = if (m == curMonth) "read_month_current" else "read_month_old"
        val n = call(label, DwRead) {
          run.pipeline.readDwMonth(month(m))
            .selectExpr(s"bit_xor(xxhash64(${Schemas.fatSchema.fieldNames.map(c => s"`$c`").mkString(", ")}))", "count(*)")
            .head().getLong(1)
        }
        val want = model.rows.values().asScala.count(r => inMonth(r, m))
        if (n != want) { failed += 1; problems += s"cycle $cycle: $label returned $n rows, expected $want" }
      }
      attempted += 1
      val agg = call("read_aggregate", DwRead) {
        run.pipeline.readDw().groupBy("uf")
          .agg(count(lit(1)).as("n"), sum("valor_nfe").as("v")).collect()
          .map(r => Option(r.getString(0)) -> (r.getLong(1), Option(r.getDecimal(2))))
          .toMap
      }
      val want = model.rows.values().asScala.groupBy(r => Option(r(Gen.idx("uf")).asInstanceOf[String]))
        .map { case (k, rs) =>
          val vs = rs.flatMap(r => Option(r(Gen.idx("valor_nfe")).asInstanceOf[java.math.BigDecimal]))
          k -> (rs.size.toLong, if (vs.isEmpty) None else Some(vs.reduce(_ add _)))
        }
      val same = agg.keySet == want.keySet && agg.forall { case (k, (n, v)) =>
        val (wn, wv) = want(k)
        n == wn && v.map(_.stripTrailingZeros) == wv.map(_.stripTrailingZeros)
      }
      if (!same) { failed += 1; problems += s"cycle $cycle: DW aggregate differs from the model" }
      ctx.sampleHeap()
    }

    // ---- final state checks (untimed)
    tr.tag(Trace.Check) {
      problems ++= compareDw(spark, run.pipeline.readDw(), model)
      problems ++= compareDw(spark, Pipeline.readDw(spark, run.streamDw.toString), streamModel)
        .map("streaming twin: " + _)
      if (tr.on && tr.get(Streaming, "batches") != cycle)
        problems += s"${tr.get(Streaming, "batches")} micro-batches for $cycle cycles"
      val lid = names(run.lidos); val err = names(run.erros)
      if (lid != expectLoaded.toSet)
        problems += s"lidos/ holds ${lid.size} files, expected ${expectLoaded.size}"
      if (err != expectQuarantined.toSet)
        problems += s"erros/ holds ${err.size} files, expected ${expectQuarantined.size}"
      val staged = run.pipeline.readStaging().count()
      if (staged != 0) problems += s"staging holds $staged rows after archive"
      val histRows = spark.read.parquet(run.hist.toString).count()
      if (histRows != loadedDataRows) problems += s"hist holds $histRows rows, expected $loadedDataRows"
    }

    val wall = ops.sum + calls.filterNot(c => cycleCalls.contains(c._1)).values.flatten.sum
    val stored = Stats.treeBytes(run.dw) + Stats.treeBytes(run.hist) + Stats.treeBytes(run.staging)
    val info = Seq(
      "rows_per_s" -> (committedRows / ops.sum -> "rows/s"),
      "cycle_s_p50" -> (Stats.median(ops.toSeq) -> "s"),
      "bytes_written_per_input_byte" -> (writtenBytes.toDouble / inputBytes -> "ratio"),
      "bytes_stored_per_input_byte" -> (stored.toDouble / inputBytes -> "ratio"),
      "error_rate" -> (failed.toDouble / attempted -> "ratio"),
      "cycles" -> (cycle.toDouble -> "count"),
      "dw_read_s_p50" -> (Stats.median(
        calls.filter(_._1.startsWith("read_")).values.flatten.toSeq) -> "s"))
    val perLayer = if (tr.on) Layers.collect(ctx, cycle, wall) else Nil
    Stats.deleteTree(run.remote.getParent)
    Result(Setup(warmS, dataSetupS.toSeq), ops.toSeq, calls.map { case (k, v) => k -> v.toSeq }.toMap,
      attempted, failed, problems.toSeq, info, perLayer)
  }

  private def inMonth(r: Gen.Rec, m: LocalDate): Boolean = {
    val d = r(Gen.idx("data_nfe")).asInstanceOf[LocalDate]
    d != null && d.getYear == m.getYear && d.getMonthValue == m.getMonthValue
  }
}
