package graft.etl

import java.nio.file.{Files, Path}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end orchestration of the four pipeline stages — the cron-driven
  * sequence of the reference (README.md:107-110: ingest :00 → staging :05 →
  * DW upsert :10 → archive :15, every 2 h) as composable methods over
  * parquet-backed staging/dw/hist tables.
  *
  * Storage layout: plain parquet directories (the engine owns storage — no
  * JDBC hop). DW write-back uses write-new-then-swap for atomicity (vanilla
  * parquet has no transactions); the staging-mutating stages (loadStage,
  * archive) serialize on an OS file lock ([[RunLock]]) the way the
  * reference serializes on its Postgres advisory lock.
  */
class Pipeline(spark: SparkSession, stagingPath: String, dwPath: String,
    histPath: String, lockWaitMs: Long = 10000) {

  /** One advisory lock per pipeline, keyed like the reference's
    * `hashtext('move_staging_to_archive')` to the shared resource: both
    * loadStage (appends to staging) and archive (drains staging) serialize
    * on the same sibling `.runlock` file of the staging directory. */
  private val runLockFile = java.nio.file.Paths.get(stagingPath + ".runlock")

  /** One file's load outcome — the quarantine decision made queryable
    * (the reference only logs it; 02_load_stage_pedidos.py:212-233). */
  case class LoadResult(file: String, status: String, reason: String, rows: Long)

  /** Stage 2 (02_load_stage_pedidos.py processar :200-233), batched: every
    * new file's head is probed (dialect + header gate, no Spark job), the
    * passing files are read with one scan per (dialect, header) group,
    * one aggregate counts the rows per file, one append writes them all, and
    * then each file is routed to lidos/ (ok) or erros/ (empty/bad header/
    * zero rows/probe failure). Returns (loaded, quarantined); a
    * lock-busy no-op counts in NEITHER (it is not a file outcome — check
    * [[loadStageReport]] for the `lock_busy` row when (0, 0) needs
    * disambiguating). */
  def loadStage(novos: Path, lidos: Path, erros: Path): (Int, Int) = {
    val report = loadStageReport(novos, lidos, erros)
    (report.count(_.status == "loaded"), report.count(_.status == "quarantined"))
  }

  /** Like [[loadStage]] but returns the per-file audit trail. Runs under
    * the staging run lock: a concurrent runner gets a single `lock_busy`
    * row back (no files touched) instead of double-appending.
    *
    * Failure model: a file whose probe fails is quarantined with a
    * `failure: …` reason. A failure inside the shared Spark jobs (count or
    * append) belongs to no one file: it throws with nothing appended and no
    * file routed, so the next run retries the whole batch.
    * A crash between the append and the routing leaves the whole batch
    * appended but unrouted, so the next run appends it again (the crash
    * window that crash-consistent table generations are to close). */
  def loadStageReport(novos: Path, lidos: Path, erros: Path): Seq[LoadResult] =
    RunLock.tryWithLock(runLockFile, lockWaitMs) {
      loadStageReportUnlocked(novos, lidos, erros)
    }.getOrElse(Seq(LoadResult("<run>", "lock_busy",
      "another runner holds the staging run lock", 0)))

  private def loadStageReportUnlocked(
      novos: Path, lidos: Path, erros: Path): Seq[LoadResult] = {
    val probes = StageLoad.listarCsvNovos(novos, lidos, erros)
      .map(file => file -> Try(StageLoad.probe(file)))
    val batch = StageLoad.loadFiles(spark, probes.collect {
      case (file, Success(p)) if StageLoad.headerValido(p.header) => file -> p
    })
    val rows = batch.fold(Map.empty[String, Long])(
      _.groupBy("arquivo_origem").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    if (rows.nonEmpty) batch.get.write.mode("append").parquet(stagingPath)
    probes.map { case (file, probe) =>
      val name = file.getFileName.toString
      val result = probe match {
        case Failure(e) => LoadResult(name, "quarantined", s"failure: ${e.getMessage}", 0)
        case Success(p) if !StageLoad.headerValido(p.header) =>
          LoadResult(name, "quarantined", "empty or unrecognized header", 0)
        case _ => rows.get(name).fold(LoadResult(name, "quarantined", "zero rows", 0))(
          n => LoadResult(name, "loaded", "", n))
      }
      StageLoad.safeCopy(file, if (result.status == "loaded") lidos else erros)
      result
    }
  }

  /** Stage 3 (03_upsert_dw_pedidos.py run_upsert): staging → typed
    * projection → latest-per-key dedup → conditional merge into DW →
    * atomic write-back. One Catalyst plan up to the write.
    *
    * The DW is written PARTITIONED by `nfe_month` (yyyy-MM of `data_nfe`) —
    * the engine's analog of the reference's date index on fat_pedidos
    * (sql/ddl_fat_pedidos): at 100 TB the dominant read pattern is "this
    * month's orders", and a month-partitioned layout turns that into a
    * pruned directory scan (PartitionFilters in the physical plan) instead
    * of a full-table read. Month, not day, keeps partition count bounded
    * (~120 for a decade) and each partition large enough for healthy file
    * sizes. Rows with NULL data_nfe land in the Hive default partition and
    * survive the round-trip. */
  def upsertDw(): Unit =
    Pipeline.mergeIntoDw(spark, Typed.project(readStaging()), dwPath)

  /** Staging snapshot; empty DataFrame before the first successful load
    * (nothing staged ≠ a failure). */
  def readStaging(): DataFrame =
    if (Files.exists(java.nio.file.Paths.get(stagingPath)))
      spark.read.schema(Schemas.stagingSchema).parquet(stagingPath)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.stagingSchema)

  /** Stage 4 (04_archive_pedidos.py): staging snapshot → hist with audit
    * columns; truncate staging. Runs under the staging run lock, mirroring
    * the reference's advisory lock (04_archive_pedidos.py:74-82): a
    * concurrent archive no-ops with a clean `lockBusy` audit instead of
    * double-moving rows. */
  def archive(): Archive.Audit =
    RunLock.tryWithLock(runLockFile, lockWaitMs) {
      Archive.run(spark, stagingPath, histPath)
    }.getOrElse(Archive.Audit(0, "", lockBusy = true))

  /** Logical fat-table view: fatSchema columns only (the derived partition
    * column is storage layout, not data — dropped on read so merge inputs
    * keep the canonical 40-column shape). */
  def readDw(): DataFrame = Pipeline.readDw(spark, dwPath)

  /** Month-pruned DW read — the partition-aware fast path: the filter on
    * the partition column prunes at planning/AQE time, so only that
    * month's directories are listed and scanned.
    *
    * A legacy UNPARTITIONED directory (parquet files at the top level, no
    * `nfe_month=` subdirectories) has no partition column to filter on —
    * the parquet reader null-fills it, so the naive equality filter would
    * silently return an empty frame with the layout (not the data) as the
    * cause. Detect that layout and fall back to the equivalent data_nfe
    * filter (correct answer, full scan) with a loud warning. */
  def readDwMonth(month: String): DataFrame = {
    val raw = Pipeline.readDwRaw(spark, dwPath)
    if (Pipeline.isLegacyUnpartitionedDw(dwPath)) {
      System.err.println(s"[graft] DW at $dwPath has a legacy unpartitioned " +
        s"layout (no ${Pipeline.dwPartitionCol}= directories): month filter " +
        "falls back to data_nfe — correct rows, but a full scan with no " +
        "partition pruning. Rewrite the DW via upsertDw to repartition.")
      raw.drop(Pipeline.dwPartitionCol)
        .filter(date_format(col("data_nfe"), "yyyy-MM") === month)
    } else
      raw.filter(col(Pipeline.dwPartitionCol) === month)
        .drop(Pipeline.dwPartitionCol)
  }
}

object Pipeline {
  /** Derived partition column of the DW fat table (yyyy-MM of data_nfe). */
  val dwPartitionCol = "nfe_month"

  private val dwReadSchema = org.apache.spark.sql.types.StructType(
    Schemas.fatSchema.fields :+
      org.apache.spark.sql.types.StructField(
        dwPartitionCol, org.apache.spark.sql.types.StringType))

  /** Partitioned DW write: derive the month partition and swap it in
    * atomically. Shared by the batch upsert and the streaming twin so a DW
    * directory is interchangeable between them. */
  def writeDw(df: DataFrame, path: String): Unit =
    atomicOverwrite(
      df.withColumn(dwPartitionCol, date_format(col("data_nfe"), "yyyy-MM")),
      path, partitionCols = Seq(dwPartitionCol))

  /** Latest-per-key dedup of `typed` (typed staging rows), conditional
    * merge into the DW at `path`, partitioned write-back — the one upsert
    * shared by [[Pipeline.upsertDw]] and the streaming twin's micro-batches.
    * The merge reads the DW it replaces with no materialization: [[writeDw]]
    * writes a fresh `.tmp_` generation and swaps it in only after the write
    * has finished, so the input is never overwritten while it is read. */
  def mergeIntoDw(spark: SparkSession, typed: DataFrame, path: String): Unit =
    writeDw(Merge.mergePedidos(readDw(spark, path), Dedup.latestPedido(typed)), path)

  /** True when `path` holds data files at the top level with no
    * `nfe_month=` partition directories — the pre-partitioning layout.
    * An absent or empty directory is NOT legacy (either read path returns
    * the same empty frame there). */
  def isLegacyUnpartitionedDw(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    if (!Files.exists(p)) false
    else {
      val stream = Files.list(p)
      try {
        val children = stream.iterator()
        var hasPartDirs = false
        var hasDataFiles = false
        while (children.hasNext) {
          val c = children.next()
          val name = c.getFileName.toString
          if (Files.isDirectory(c) && name.startsWith(dwPartitionCol + "="))
            hasPartDirs = true
          else if (name.endsWith(".parquet")) hasDataFiles = true
        }
        hasDataFiles && !hasPartDirs
      } finally stream.close()
    }
  }

  /** DW read WITH the partition column (for month-pruned scans). Reads an
    * unpartitioned legacy directory too: a missing column is null-filled
    * by the parquet reader, never an error. */
  def readDwRaw(spark: SparkSession, path: String): DataFrame =
    if (Files.exists(java.nio.file.Paths.get(path)))
      spark.read.schema(dwReadSchema).parquet(path)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dwReadSchema)

  /** Canonical fat-table read: fatSchema shape, partition column dropped. */
  def readDw(spark: SparkSession, path: String): DataFrame =
    readDwRaw(spark, path).drop(dwPartitionCol)

  /** Write to a fresh directory then swap it into place — the parquet
    * analog of the reference's single-transaction statement. Generation
    * names are nanoTime-suffixed so a crash mid-swap never collides with a
    * leftover .tmp/.old from an earlier run. */
  def atomicOverwrite(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val tmp = path + ".tmp_" + System.nanoTime()
    val writer = df.write.mode("overwrite")
    val partitioned =
      if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer
    partitioned.parquet(tmp)
    swapInto(tmp, path)
  }

  /** The swap half of the write-new-then-swap protocol, shared by
    * [[atomicOverwrite]] and [[ZOrderWriter.compact]] (ONE copy of the
    * move/trash/cleanup sequence): displace the current generation to a
    * nanoTime-named trash dir, move the new generation into place,
    * best-effort delete the trash. Readers see the old or the new
    * generation — never a mix — modulo the directory-rename window, same
    * as the reference's transaction boundary. */
  def swapInto(tmpDir: String, path: String): Unit = {
    val target = java.nio.file.Paths.get(path)
    val trash = java.nio.file.Paths.get(path + ".old_" + System.nanoTime())
    if (Files.exists(target)) Files.move(target, trash)
    Files.move(java.nio.file.Paths.get(tmpDir), target)
    if (Files.exists(trash)) {
      // best-effort cleanup of the displaced generation
      Files.walk(trash).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
    }
  }
}
