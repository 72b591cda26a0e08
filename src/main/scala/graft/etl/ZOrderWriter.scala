package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PRODUCTION write path for the layout `zorder_pack` proves out
  * (graft.queries.DiagOps): the oracle query measures that a Morton-
  * interleaved layout bounds BOTH pruning dimensions per file; this
  * writer actually lays data out that way and gives readers the
  * min/max-manifest pruning the measurement promises.
  *
  *  - [[write]]: `repartitionByRange` on the 16-bit Morton key (a range
  *    exchange — NO single-partition window; the ntile in the query
  *    exists only for oracle determinism) + `sortWithinPartitions`, one
  *    file per range partition, then a per-file min/max manifest of both
  *    dimensions written under `_graft_manifest` (the underscore prefix
  *    keeps every parquet reader from picking it up as data).
  *  - [[prunedFiles]]/[[readPruned]]: select only the files whose
  *    manifest envelope intersects the probe range — the reader-side
  *    analog of parquet row-group stats / Delta file skipping, at file
  *    granularity the engine controls.
  *
  * Dimension contract: `d1`/`d2` are integer expressions over the
  * frame's columns, ideally 0..255 (the Morton interleave reads 8 bits;
  * out-of-range values are pmod-folded for ORDERING only — locality
  * degrades, correctness doesn't, because the manifest records true
  * min/max of the RAW values). NULL dims sort to bucket 0 but keep
  * their rows: a NULL never satisfies a range probe, so pruning stays
  * sound and nothing is dropped — a production writer must not lose
  * rows the way the measurement query may filter them.
  *
  * At 100 TB: one range exchange over the write (AQE-sized), manifest
  * cost is one min/max aggregate per file, and a two-dimensional probe
  * reads O(√files) instead of O(files) — the measured zorder_pack
  * asymmetry, now load-bearing. ZOrderWriterSpec asserts the pruned
  * read touches ≤ the manifest-predicted file count on BOTH probe
  * dimensions and strictly fewer files than a linear layout on the
  * non-sort dimension; SCALECHECK carries the 10× row. */
object ZOrderWriter {

  /** Layouts: Morton-interleaved (prunes both dims) vs time-linear
    * (sorts by d2 then d1 — the ingest-order baseline). */
  sealed trait Layout
  case object ZOrder extends Layout
  case object Linear extends Layout

  private val manifestDir = "_graft_manifest"

  /** 128 MiB — the classic healthy-parquet-file size (one HDFS block /
    * one comfortable scan task); the default target of [[compact]]. */
  val defaultTargetBytes: Long = 128L * 1024 * 1024

  /** The parquet data files under `path`, skipping the Spark hidden-path
    * convention: a _- or .-prefixed COMPONENT anywhere under the root (the
    * `_graft_manifest` directory among them) is metadata, not data. */
  private[graft] def dataFiles(path: Path): Seq[Path] = {
    if (!Files.exists(path)) return Nil
    val s = Files.walk(path)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet") &&
      path.relativize(p).iterator().asScala.forall { c =>
        val cn = c.toString
        !cn.startsWith("_") && !cn.startsWith(".")
      }).toSeq
    finally s.close()
  }

  /** 16-bit Morton interleave of two 8-bit lanes (the zorder_pack
    * expression — one copy): d1 bits land at odd positions, d2 at even. */
  def mortonKey(d1: Column, d2: Column): Column = {
    val a = pmod(coalesce(d1.cast("int"), lit(0)), lit(256))
    val b = pmod(coalesce(d2.cast("int"), lit(0)), lit(256))
    (0 until 8).map(i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i)): Column)
      .reduce(_ + _)
  }

  /** Write `df` to `path` in `numFiles` layout-ordered files and build
    * the per-file min/max manifest over both dimensions. */
  def write(df: DataFrame, path: String, d1: Column, d2: Column,
      numFiles: Int, layout: Layout = ZOrder): Unit = {
    val spark = df.sparkSession
    val keyed = df.withColumn("__zd1", d1.cast("int"))
      .withColumn("__zd2", d2.cast("int"))
    val ordered = layout match {
      case ZOrder =>
        val z = keyed.withColumn("__z", mortonKey(col("__zd1"), col("__zd2")))
        z.repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
      case Linear =>
        keyed.repartitionByRange(numFiles,
            coalesce(col("__zd2"), lit(0)), coalesce(col("__zd1"), lit(0)))
          .sortWithinPartitions(col("__zd2"), col("__zd1"))
    }
    ordered.drop("__z", "__zd1", "__zd2")
      .write.mode("overwrite").parquet(path)
    // manifest: true min/max of the RAW dimension values per written file
    // (NULLs ignored by min/max — sound, a NULL never matches a range).
    // Files are recorded by BASENAME, not absolute path: the directory is
    // the unit every maintenance operation moves (atomic swap, compact),
    // so a relocatable manifest survives them all
    spark.read.parquet(path)
      .select(element_at(split(input_file_name(), "/"), -1).as("file"),
        d1.cast("int").as("d1"), d2.cast("int").as("d2"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"),
        min("d1").as("min_d1"), max("d1").as("max_d1"),
        min("d2").as("min_d2"), max("d2").as("max_d2"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/$manifestDir")
  }

  /** The manifest relation (file, n_rows, min/max per dim). */
  def manifest(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/$manifestDir")

  /** Full paths of the files whose envelope intersects the probe ranges
    * (None = no constraint on that dimension). A file whose dimension is
    * all-NULL has a NULL envelope and cannot match a range probe on it.
    * Basenames from the manifest resolve against the CURRENT directory,
    * so pruning keeps working after swaps/compaction. */
  def prunedFiles(spark: SparkSession, path: String,
      d1Range: Option[(Int, Int)], d2Range: Option[(Int, Int)]): Seq[String] = {
    val m = manifest(spark, path)
    val hit = Seq(
      d1Range.map { case (lo, hi) =>
        col("max_d1") >= lo && col("min_d1") <= hi },
      d2Range.map { case (lo, hi) =>
        col("max_d2") >= lo && col("min_d2") <= hi })
      .flatten.reduceOption(_ && _).getOrElse(lit(true))
    m.filter(hit).select("file").collect()
      .map(r => s"$path/${r.getString(0)}").toSeq
  }

  /** Layout-preserving compaction of a [[write]]-produced directory:
    * re-sorts on the same dimensions into ⌈bytes/targetBytes⌉ files and
    * regenerates the manifest, swapped in atomically — small-files
    * maintenance for z-ordered tables, where a plain row-shuffling rewrite
    * would destroy the min/max envelopes pruning depends on. No-ops when
    * the directory already has ≤ that many files. Returns (filesBefore,
    * filesAfter). */
  def compact(spark: SparkSession, path: String, d1: Column, d2: Column,
      targetBytes: Long = defaultTargetBytes,
      layout: Layout = ZOrder): (Int, Int) = {
    val p = Paths.get(path)
    val files = dataFiles(p)
    if (files.isEmpty) return (0, 0)
    val bytes = files.map(Files.size).sum
    val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (files.size <= want) return (files.size, files.size)
    // the rewrite (and its manifest pass) lands entirely in tmp BEFORE the
    // swap, so the source directory is intact for the whole read — no
    // defensive materialization needed (the atomicOverwrite premise)
    val tmp = path + ".compact_" + System.nanoTime()
    write(spark.read.parquet(path), tmp, d1, d2, want, layout)
    Pipeline.swapInto(tmp, path)
    (files.size, dataFiles(p).size)
  }

  /** Read only the probe-relevant files. Callers still apply their exact
    * predicate — file pruning is a superset guarantee, same as row-group
    * stats. Empty selection reads as an empty frame of the full schema. */
  def readPruned(spark: SparkSession, path: String,
      d1Range: Option[(Int, Int)], d2Range: Option[(Int, Int)]): DataFrame = {
    val files = prunedFiles(spark, path, d1Range, d2Range)
    if (files.isEmpty)
      spark.read.parquet(path).limit(0)
    else spark.read.parquet(files: _*)
  }
}
