package graft.etl

import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Robust CSV → staging load: dialect sniffing, header validation, header
  * mapping, fixed-order projection, lineage column.
  *
  * Re-expression of /root/reference/python/02_load_stage_pedidos.py:
  *  - encoding trial over [cp1252, latin-1, utf-8-sig, utf-8] (:128-139)
  *  - separator by frequency over the first 201 lines (:115-124)
  *  - header trim + BOM strip (:145,172)
  *  - accept iff ≥10 headers are known (:163-167)
  *  - rename via DE_PARA, fill missing canonical cols with "", project to
  *    the fixed column order (:169-177)
  *  - per-row lineage column arquivo_origem = basename (:184)
  *
  * Division of labor (SURVEY §2 O-4): dialect detection and the header
  * gate are a probe of each file's head, outside Spark — Spark's CSV reader
  * takes encoding/sep as fixed options and does not sniff — while parsing
  * and projection run distributed, in one multi-path scan per (dialect,
  * header) group of files rather than one scan per file.
  */
object StageLoad {

  case class Dialect(encoding: String, sep: String)

  val candidateSeps = Seq(",", ";", "|", "\t")
  /** Strict-decode trial order. The reference lists [cp1252, latin-1,
    * utf-8-sig, utf-8] (:128) but opens with errors="replace", so its trial
    * can never fail and cp1252 always wins — mojibake for UTF-8 input. We
    * instead try UTF-8 first under STRICT decoding: UTF-8 is self-validating
    * (accented cp1252 bytes are invalid UTF-8 sequences), so each real
    * encoding lands on itself — a deliberate robustness improvement. */
  val candidateEncodings = Seq("UTF-8", "windows-1252", "ISO-8859-1")
  /** Lines inspected by the separator-frequency probe (ref :120-121). */
  val sniffWindow = 201

  /** Pick the separator with the highest total occurrence count in the first
    * `sniffWindow` lines (ref :115-124; ties resolve in candidate order,
    * matching Python's max-over-dict-iteration-order). */
  def detectSep(lines: Seq[String]): String = {
    val counts = candidateSeps.map(s => s -> lines.iterator.map(_.count(_ == s.head)).sum)
    counts.maxBy(_._2)._1
  }

  /** Decode strictly, failing on malformed bytes — the trial-order semantics
    * of the reference's encoding loop (:128-139). UTF-8-sig is folded into
    * UTF-8 + BOM strip (the header normalizer drops the BOM either way). */
  private def tryDecode(bytes: Array[Byte], charset: String): Option[String] = Try {
    val dec = Charset.forName(charset).newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
  }.toOption

  /** What a read of one file's head tells, with no Spark job: the
    * sniffed dialect and the header cells — the first non-blank line (the
    * line Spark's CSV reader drops as the header) split with the sniffed
    * separator; empty when the file has no such line. */
  case class Probe(dialect: Dialect, header: Seq[String])

  /** Probe of one file's head: dialect sniff and header. */
  def probe(path: Path): Probe = {
    val head = {
      val in = Files.newInputStream(path)
      val raw = try in.readNBytes(1 << 20) finally in.close() // 1 MiB ≫ 201 lines
      // A truncated read can split a multi-byte UTF-8 sequence at the
      // boundary, which would fail the strict UTF-8 trial and silently
      // mojibake a valid UTF-8 file via the cp1252 fallback — drop any
      // dangling partial sequence (≤ 3 continuation bytes) before judging.
      if (raw.length < (1 << 20)) raw
      else {
        var end = raw.length
        while (end > raw.length - 4 && (raw(end - 1) & 0xc0) == 0x80) end -= 1
        if (end > 0 && (raw(end - 1) & 0x80) != 0) end -= 1 // the lead byte
        java.util.Arrays.copyOf(raw, end)
      }
    }
    val (enc, text) = candidateEncodings.iterator
      .flatMap(e => tryDecode(head, e).map(e -> _))
      .nextOption()
      .getOrElse("ISO-8859-1" -> new String(head, "ISO-8859-1")) // never fails
    val dialect = Dialect(enc, detectSep(text.linesIterator.take(sniffWindow).toSeq))
    val header = text.linesIterator.find(_.trim.nonEmpty).toSeq
      .flatMap(splitCsvLine(_, dialect.sep.head))
    Probe(dialect, header)
  }

  /** Normalize one header cell: trim + BOM strip (ref :145). */
  def normHeader(h: String): String = h.trim.replace("﻿", "")

  /** File-accept gate: ≥ minValidHeaders known headers (ref :163-167). */
  def headerValido(columns: Seq[String]): Boolean =
    columns.count(c => Schemas.dePara.contains(normHeader(c))) >= Schemas.minValidHeaders

  /** Spark 4 restricts CSV charsets to this native set unless
    * `spark.sql.legacy.javaCharsets` is on (SPARK-46841). The sniffer's
    * candidate list includes windows-1252 — the reference's PRIMARY
    * encoding for these reports — so the reader below enables the conf on
    * demand; without it every cp1252 file throws at analysis. */
  private val nativeCsvCharsets = Set(
    "iso-8859-1", "us-ascii", "utf-16", "utf-16be", "utf-16le", "utf-32", "utf-8")
  private def ensureCharsetReadable(spark: SparkSession, encoding: String): Unit =
    if (!nativeCsvCharsets(encoding.toLowerCase(java.util.Locale.ROOT)))
      spark.conf.set("spark.sql.legacy.javaCharsets", "true")

  /** Read the files that share one probe (dialect and header) with ONE
    * multi-path scan over an all-string schema with one field per header
    * cell: Spark drops each file's first non-blank line (the header
    * [[probe]] already parsed) and skips blank lines. PERMISSIVE mode: a short
    * row is null-padded and a row longer than the header loses its overflow
    * cells. Spark's univocity parser handles quotes/escapes like the
    * reference's csv.reader (quotechar '"', doublequote, escapechar '\\';
    * ref :133-136). Then blank-filter → map → lineage from the file each
    * row came from. */
  private def readGroup(spark: SparkSession, files: Seq[Path], probe: Probe): DataFrame = {
    ensureCharsetReadable(spark, probe.dialect.encoding)
    // the fields are named by the header's own cells where Spark accepts
    // them (non-empty, distinct ignoring case), so its header-conformance
    // check does not warn for every file; positional names otherwise
    val h = probe.header
    val fields =
      if (h.forall(c => c.nonEmpty && !c.contains('`')) &&
          h.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size == h.size) h
      else h.indices.map(i => s"_c$i")
    val raw = spark.read
      .schema(StructType(fields.map(StructField(_, StringType))))
      .option("header", true)
      .option("sep", probe.dialect.sep)
      .option("encoding", probe.dialect.encoding)
      .option("quote", "\"")
      .option("escape", "\\")
      .option("mode", "PERMISSIVE")
      // a path string is a glob pattern: escape its metacharacters so a
      // file named like `a[1].csv` reads as itself
      .csv(files.map(_.toString.replaceAll("""([\\{}\[\]*?])""", """\\$1""")): _*)
    // _metadata.file_name is the URI-encoded basename (a space reads back
    // as %20, a % as %25); '+' is literal in a URI path, so it is escaped
    // before url_decode, which would otherwise read it as a space
    val origem = url_decode(regexp_replace(col("_metadata.file_name"), "\\+", "%2B"))
    dropBlankRows(raw).select(
      mapeadas(raw.columns.toSeq, probe.header) :+ origem.as("arquivo_origem"): _*)
  }

  /** Minimal CSV field splitter with the reference dialect: quotechar '"',
    * doublequote escaping, backslash escape (ref :133-136). */
  def splitCsvLine(line: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (ch == '\\' && i + 1 < line.length) { cur += line.charAt(i + 1); i += 2 }
      else if (inQ) {
        if (ch == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 2 }
          else { inQ = false; i += 1 }
        } else { cur += ch; i += 1 }
      } else if (ch == '"') { inQ = true; i += 1 }
      else if (ch == sep) { out += cur.result(); cur.clear(); i += 1 }
      else { cur += ch; i += 1 }
    }
    out += cur.result()
    out.result()
  }

  /** Rename via DE_PARA, fill missing canonical columns with "", project to
    * the fixed 40-column order (lineage excluded; ref :169-177). A file
    * carrying two accepted spelling variants of the same header (DE_PARA
    * maps three spellings to data_prev_entrega_original), or one header
    * twice, keeps the FIRST occurrence — the reference's pandas path would
    * produce a duplicate label and fail the COPY, quarantining a loadable
    * file. */
  def aplicarMapeamento(df: DataFrame): DataFrame =
    df.select(mapeadas(df.columns.toSeq, df.columns.toSeq): _*)

  /** The mapped staging columns over `columns`, whose i-th entry carries
    * the file's i-th `header` cell. */
  private def mapeadas(columns: Seq[String], header: Seq[String]): Seq[Column] = {
    val first = header.zipWithIndex.reverse.flatMap { case (h, i) =>
      Schemas.dePara.get(normHeader(h)).map(_ -> columns(i))
    }.toMap // reversed, so the first occurrence of a canonical name wins
    Schemas.colunasDestino.filterNot(_ == "arquivo_origem").map(c =>
      first.get(c).fold(lit("").as(c))(src => col(s"`$src`").as(c)))
  }

  /** Blank-row filter (ref :141): drop rows where every cell is whitespace
    * (PERMISSIVE-read rows may carry nulls instead of ""). */
  def dropBlankRows(df: DataFrame): DataFrame =
    df.filter(
      df.columns.map(c => trim(coalesce(col(s"`$c`"), lit(""))) =!= "").reduce(_ || _))

  /** Batch load: the files that passed the header gate, read with one scan
    * per (dialect, header) group and unioned into one staging-shaped frame
    * with per-row lineage; None when there are no files. */
  def loadFiles(spark: SparkSession, files: Seq[(Path, Probe)]): Option[DataFrame] =
    files.groupBy(_._2).toSeq.sortBy(_._2.head._1.toString)
      .map { case (p, group) => readGroup(spark, group.map(_._1), p) }
      .reduceOption(_ unionByName _)

  /** Single-file load: probe → gate → [[loadFiles]]. Returns None when the
    * file fails the header gate (caller quarantines, ref :212-216). */
  def loadFile(spark: SparkSession, file: Path): Option[DataFrame] = {
    val p = probe(file)
    if (!headerValido(p.header)) None else loadFiles(spark, Seq(file -> p))
  }

  /** File-queue discovery (ref :107-113): candidates in `novos` whose
    * lowercased basename is not already in `lidos` ∪ `erros`. Driver-side —
    * it is an anti-join over directory listings of a few hundred names. */
  def listarCsvNovos(novos: Path, lidos: Path, erros: Path): Seq[Path] = {
    def names(dir: Path): Set[String] =
      if (!Files.isDirectory(dir)) Set.empty
      else Files.list(dir).iterator.asScala
        .filter(p => p.getFileName.toString.toLowerCase.endsWith(".csv"))
        .map(_.getFileName.toString.toLowerCase).toSet
    val done = names(lidos) ++ names(erros)
    if (!Files.isDirectory(novos)) Seq.empty
    else Files.list(novos).iterator.asScala
      .filter(p => p.getFileName.toString.toLowerCase.endsWith(".csv"))
      .filterNot(p => done(p.getFileName.toString.toLowerCase))
      .toSeq.sortBy(_.getFileName.toString)
  }

  /** Quarantine-safe copy (ref :96-105): suffix `__dup_<ts>` on collision. */
  def safeCopy(src: Path, dstDir: Path): Path = {
    Files.createDirectories(dstDir)
    val base = src.getFileName.toString
    val dst0 = dstDir.resolve(base)
    val dst =
      if (!Files.exists(dst0)) dst0
      else {
        val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
          .format(java.time.LocalDateTime.now)
        val (name, ext) = base.lastIndexOf('.') match {
          case -1 => (base, "")
          case i => (base.substring(0, i), base.substring(i))
        }
        dstDir.resolve(s"${name}__dup_$ts$ext")
      }
    Files.copy(src, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    dst
  }
}
