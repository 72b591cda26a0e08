package graft.etl

import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** One `loadStageReport` call loads a whole landing directory as one batch:
  * every report dialect, header quirks and quarantine cases in one call,
  * lineage equal to the real file name, and a Spark job count that does
  * not grow with the number of files. */
class BatchLoadSpec extends SparkSpec {

  private val header10 = Seq("ID", "Pedido", "Chave NFe", "Valor Nfe", "Peso", "UF",
    "Data Nfe", "Data Última Ocr.", "Qtd. Volumes", "CD")

  private def row(id: Int, uf: String, cd: String): Seq[String] =
    Seq(id.toString, s"P$id", f"$id%044d", "10,5", "1,250", uf, "31/12/2024",
      "31/12/2024 10:00:00", "2", cd)

  private def write(dir: Path, name: String, lines: Seq[Seq[String]], sep: String,
      charset: String = "UTF-8", bom: Boolean = false, prefix: String = ""): Unit = {
    def cell(c: String) = if (c.contains(sep)) "\"" + c + "\"" else c
    val body = (prefix + lines.map(_.map(cell).mkString(sep)).mkString("", "\n", "\n"))
      .getBytes(Charset.forName(charset))
    Files.write(dir.resolve(name),
      if (bom) Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ body else body)
  }

  private def names(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  private case class Run(root: Path) {
    val novos: Path = Files.createDirectories(root.resolve("novos"))
    val lidos: Path = root.resolve("lidos")
    val erros: Path = root.resolve("erros")
    val pipeline = new Pipeline(spark, root.resolve("staging").toString,
      root.resolve("dw").toString, root.resolve("hist").toString)
    def load(): Seq[pipeline.LoadResult] = pipeline.loadStageReport(novos, lidos, erros)
  }

  test("one call loads every dialect, header quirk and quarantine case") {
    val run = Run(Files.createTempDirectory("batchload"))
    val cp1252 = "Pedidos São 01.CSV"
    val bomComma = "b%41.csv"
    val tabs = "tabs+[1] ç.csv"
    val zero = "vazio.csv"
    val bad = "ruim.csv"
    // cp1252 with ';', a blank line before the header, accented data cells
    write(run.novos, cp1252, header10 +: Seq(row(1, "SP", "São Paulo"), row(2, "RJ", "Niterói")),
      ";", "windows-1252", prefix = "\n")
    // UTF-8 with a BOM and ',', a header that repeats "UF" (first one kept)
    write(run.novos, bomComma,
      (header10 :+ "Tipo Entrega" :+ "UF") +: (1 to 3).map(i => row(10 + i, "MG", "CD") :+ "E" :+ "XX"),
      ",", bom = true)
    // tab-separated, a blank line between rows
    write(run.novos, tabs, Seq(header10, row(21, "PR", "C1"), Nil, row(22, "SC", "C2")), "\t")
    // a valid header and nothing but a separator-only line below it
    write(run.novos, zero, Seq(header10, Seq.fill(10)("")), ";")
    write(run.novos, bad, Seq(Seq("a", "b", "c"), Seq("1", "2", "3")), ";")

    val report = run.load().map(r => r.file -> (r.status, r.reason, r.rows)).toMap
    assert(report == Map(
      cp1252 -> ("loaded", "", 2L),
      bomComma -> ("loaded", "", 3L),
      tabs -> ("loaded", "", 2L),
      zero -> ("quarantined", "zero rows", 0L),
      bad -> ("quarantined", "empty or unrecognized header", 0L)))

    val staging = run.pipeline.readStaging()
    val perFile = staging.groupBy("arquivo_origem").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile == Map(cp1252 -> 2L, bomComma -> 3L, tabs -> 2L))
    val byId = staging.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId.keySet == Set("1", "2", "11", "12", "13", "21", "22"))
    assert(byId("1").getAs[String]("cd") == "São Paulo")
    assert(byId("2").getAs[String]("cd") == "Niterói")
    assert(byId("11").getAs[String]("uf") == "MG")
    assert(byId("11").getAs[String]("tipo_entrega") == "E")
    assert(byId("22").getAs[String]("uf") == "SC")

    assert(names(run.lidos) == Set(cp1252, bomComma, tabs))
    assert(names(run.erros) == Set(zero, bad))
  }

  test("the number of Spark jobs does not depend on the number of files") {
    val jobGroup = "batch-load-jobs"
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobs.add)
    }
    def jobsOf(files: Int): Int = {
      val run = Run(Files.createTempDirectory("batchjobs"))
      (0 until files).foreach { i =>
        val lines = Seq(header10, row(i, "SP", "CD"))
        i % 3 match {
          case 0 => write(run.novos, s"f$i.csv", lines, ";", "windows-1252")
          case 1 => write(run.novos, s"f$i.csv", lines, ",", bom = true)
          case _ => write(run.novos, s"f$i.csv", lines, "\t")
        }
      }
      val tag = s"$jobGroup-$files"
      spark.sparkContext.setJobGroup(tag, tag)
      val report = try run.load() finally spark.sparkContext.clearJobGroup()
      assert(report.map(_.status) == Seq.fill(files)("loaded"))
      // the listener bus is FIFO: once this job is seen, the load's are too
      spark.sparkContext.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.sparkContext.range(0, 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.contains(s"$tag-sentinel") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      jobs.asScala.count(_ == tag)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val two = jobsOf(2)
      val six = jobsOf(6)
      assert(two > 0 && two == six, s"2 files: $two jobs, 6 files: $six jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
