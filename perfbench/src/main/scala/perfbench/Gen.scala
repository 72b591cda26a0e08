package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of NFe order CSV drops, and the independent model of
  * the DW those drops must produce.
  *
  * Every row starts as a typed record (the values the DW should hold) and
  * is then rendered into one of the report dialects the loader accepts.
  * The model never calls the program's parsers: it keeps the typed values
  * the generator chose and applies the documented dedup and merge rules to
  * them in plain Scala.
  */
object Gen {

  /** How the typed value of a column is written into a CSV cell. */
  sealed trait Kind
  case object Str extends Kind      // NULLIF(TRIM(x), '')
  case object Date extends Kind     // multi-format date, sentinels → NULL
  case object TsLoose extends Kind  // loose ISO tolerated (fraction / zone ignored)
  case object TsStrict extends Kind // strict ISO only
  case object Insercao extends Kind // never NULL here: the fallback is now()
  case object Dec2 extends Kind     // numeric(15,2), BR and US renderings
  case object Dec3 extends Kind     // numeric(12,3)
  case object IntDigits extends Kind
  case object Digits extends Kind   // CNPJ / CPF, punctuation stripped
  case object Uf extends Kind
  case object Key extends Kind      // 44-digit access key
  case object Lineage extends Kind  // set by the loader from the file name

  /** The DW columns in table order, with their kind and display header. */
  val columns: IndexedSeq[(String, Kind, String)] = IndexedSeq(
    ("id", Str, "ID"),
    ("data_insercao", Insercao, "Data Inserção"),
    ("tipo_entrega", Str, "Tipo Entrega"),
    ("pedido", Str, "Pedido"),
    ("data_nfe", Date, "Data Nfe"),
    ("serie_nfe", Str, "Serie Nfe"),
    ("numero_nfe", Str, "Número Nfe"),
    ("valor_nfe", Dec2, "Valor Nfe"),
    ("qtd_volumes", IntDigits, "Qtd. Volumes"),
    ("peso", Dec3, "Peso"),
    ("remessa", Str, "Remessa"),
    ("nome_destinatario", Str, "Nome Destinatário"),
    ("endereco_completo", Str, "Endereço Completo"),
    ("cep", Str, "CEP"),
    ("cod_cd", IntDigits, "Cód. CD"),
    ("cd", Str, "CD"),
    ("cnpj_cpf_transportadora", Digits, "CNPJ/CPF Transportadora"),
    ("transportador", Str, "Transportador"),
    ("lead_time", Str, "Lead Time"),
    ("data_prev_entrega", Date, "Data Prev. Entrega"),
    ("status_prazo", Str, "Status Prazo"),
    ("id_ult_ocr", Str, "ID Últ. Ocr."),
    ("ultima_ocorrencia", Str, "Última Ocorrência"),
    ("chave_ult_ocr", Str, "Chave Últ. Ocr."),
    ("data_ultima_ocr", TsLoose, "Data Última Ocr."),
    ("agrupador", Str, "Agrupador"),
    ("endereco", Str, "Endereço"),
    ("numero", Str, "Numero"),
    ("bairro", Str, "Bairro"),
    ("cidades", Str, "Cidades"),
    ("uf", Uf, "UF"),
    ("etiquetas", Str, "Etiquetas"),
    ("chegada_transportadora", TsStrict, "Chegada na Transportadora"),
    ("cod_vendedor", Str, "Cod. Vendedor"),
    ("chave_nfe", Key, "Chave NFe"),
    ("qtd_itens", Str, "Qtd. Itens"),
    ("data_prev_entrega_original", Date, "Data Prev. Entrega Original"),
    ("cpf_destinatario", Digits, "CPF Destinatário"),
    ("grau_risco", Str, "Grau de Risco"),
    ("tipo_operacao", Str, "Tipo de Operação"),
    ("arquivo_origem", Lineage, ""))

  val names: IndexedSeq[String] = columns.map(_._1)
  val idx: Map[String, Int] = names.zipWithIndex.toMap
  val nCols: Int = columns.size
  val iKey = idx("chave_nfe")
  val iIns = idx("data_insercao")
  val iOcr = idx("data_ultima_ocr")

  /** The three accepted spellings of the original-forecast header. */
  val prevOriginalHeaders = IndexedSeq(
    "Data Prev. Entrega Original", "Data Prev. Entrega (Original)",
    "Data Prev. Entrega Original)")

  // Merge policies of the reference upsert, restated from its SET list.
  val newerEventCols: Set[String] = Set("data_ultima_ocr", "data_prev_entrega",
    "status_prazo", "id_ult_ocr", "ultima_ocorrencia", "chave_ult_ocr",
    "chegada_transportadora", "arquivo_origem")
  val keepOldCols: Set[String] = Set("data_nfe", "data_prev_entrega_original")

  type Rec = Array[Any]

  /** One CSV file as the generator meant it: what the loader should do with
    * it, and the typed records of its valid-key rows. */
  final case class FileIntent(name: String, quarantine: Boolean,
      dataRows: Int, records: Seq[Rec], bytes: Long)

  /** Separators and encodings of the report exports. */
  final case class Dialect(sep: Char, charset: String, bom: Boolean)
  val dialects = IndexedSeq(
    Dialect(';', "windows-1252", bom = false),
    Dialect(',', "UTF-8", bom = true),
    Dialect('\t', "UTF-8", bom = false),
    Dialect('|', "UTF-8", bom = false))

  val pools: Map[String, IndexedSeq[String]] = Map(
    "tipo_entrega" -> IndexedSeq("Normal", "Expressa", "Agendada", "Retira"),
    "nome_destinatario" -> IndexedSeq("José da Silva", "Ana Conceição",
      "João Araújo", "Mariana Gonçalves", "Luís Câmara", "Fábio Brandão",
      "Cláudia Simões", "Ângela Muñoz", "Otávio Peçanha", "Lúcia Ribeiro"),
    "endereco_completo" -> IndexedSeq("Rua São João 120 Centro",
      "Av. Paulista 1578 Bela Vista", "Rua das Acácias 45 Jardim América",
      "Travessa Ipê 9 Vila Nova", "Alameda Santos 800 Cerqueira César"),
    "cd" -> IndexedSeq("CD São Paulo", "CD Curitiba", "CD Recife", "CD Belém"),
    "transportador" -> IndexedSeq("Rápido Sul", "TransBrasília", "Jamef",
      "Expresso Araçatuba", "Correios"),
    "lead_time" -> IndexedSeq("1 dia", "2 dias", "3 dias", "5 dias", "D+7"),
    "status_prazo" -> IndexedSeq("No prazo", "Atrasado", "Antecipado", "Em análise"),
    "ultima_ocorrencia" -> IndexedSeq("Entregue", "Em trânsito",
      "Saiu para entrega", "Aguardando retirada", "Destinatário ausente",
      "Endereço não localizado", "Coletado"),
    "agrupador" -> IndexedSeq("Lote A", "Lote B", "Promoção", "Reposição"),
    "endereco" -> IndexedSeq("Rua São João", "Av. Paulista", "Rua das Acácias",
      "Travessa Ipê", "Alameda Santos"),
    "bairro" -> IndexedSeq("Centro", "Bela Vista", "Jardim América", "Vila Nova",
      "Cerqueira César", "Água Branca"),
    "cidades" -> IndexedSeq("São Paulo", "Curitiba", "Belém", "Recife",
      "Florianópolis", "Goiânia", "Maceió"),
    "etiquetas" -> IndexedSeq("frágil", "volumoso", "prioritário", "padrão"),
    "grau_risco" -> IndexedSeq("Baixo", "Médio", "Alto"),
    "tipo_operacao" -> IndexedSeq("Venda", "Devolução", "Transferência", "Bonificação"))
  val ufs = IndexedSeq("SP", "RJ", "MG", "PR", "SC", "RS", "BA", "PE", "PA", "GO")

  val fDmy = DateTimeFormatter.ofPattern("dd/MM/yyyy")
  val fDmyHms = DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm:ss")
  val fDmyDash = DateTimeFormatter.ofPattern("dd-MM-yyyy")
  val fIso = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  val fIsoHm = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
  val fIsoHms = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val fIsoTHms = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  val fIsoTHm = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm")
  val fCompact = DateTimeFormatter.ofPattern("yyyyMMdd")
  val dateSentinels = IndexedSeq("", "00/00/0000", "00/00/0000 00:00:00",
    "0000-00-00", "  ")

  /** Latest-per-key order of the dedup: newer event first (NULL last), then
    * newer insertion. True when `a` wins over `b`. */
  def wins(a: Rec, b: Rec): Boolean = {
    val ea = a(iOcr).asInstanceOf[LocalDateTime]
    val eb = b(iOcr).asInstanceOf[LocalDateTime]
    if (ea != null && eb == null) true
    else if (ea == null && eb != null) false
    else if (ea != null && ea != eb) ea.isAfter(eb)
    else a(iIns).asInstanceOf[LocalDateTime].isAfter(b(iIns).asInstanceOf[LocalDateTime])
  }

  /** The conditional merge of one deduped update into the stored row. */
  def merge(cur: Rec, upd: Rec): Rec = {
    val ec = cur(iOcr).asInstanceOf[LocalDateTime]
    val eu = upd(iOcr).asInstanceOf[LocalDateTime]
    val newer = ec != null && eu != null && eu.isAfter(ec)
    val out = new Array[Any](nCols)
    var i = 0
    while (i < nCols) {
      val n = names(i)
      out(i) =
        if (i == iKey) cur(i)
        else if (newerEventCols(n)) (if (newer) upd(i) else cur(i))
        else if (i == iIns) {
          val a = cur(i).asInstanceOf[LocalDateTime]
          val b = upd(i).asInstanceOf[LocalDateTime]
          if (a == null) b else if (b == null) a else if (b.isAfter(a)) b else a
        }
        else if (keepOldCols(n)) cur(i)
        else if (upd(i) != null) upd(i) else cur(i)
      i += 1
    }
    out
  }
}

/** The DW a run should end with, plus the bookkeeping the generator needs
  * to emit re-exports (keys by month, latest event per key). */
final class Model {
  import Gen._
  val rows = new java.util.HashMap[String, Rec]()
  /** Stored keys in insertion order, for uniform re-export picks. */
  val keys = mutable.ArrayBuffer.empty[String]
  val keysByMonth = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
  var lastMonths: Set[String] = Set.empty

  def month(r: Rec): String = {
    val d = r(idx("data_nfe")).asInstanceOf[LocalDate]
    if (d == null) null else f"${d.getYear}%04d-${d.getMonthValue}%02d"
  }

  /** Apply one batch (one cycle, or one micro-batch): dedup the batch per
    * key, then merge. Returns the months whose stored rows changed. */
  def applyBatch(batch: Iterable[Rec]): Set[String] = {
    val latest = mutable.HashMap.empty[String, Rec]
    batch.foreach { r =>
      val k = r(idx("chave_nfe")).asInstanceOf[String]
      latest.get(k) match {
        case Some(o) if !wins(r, o) =>
        case _ => latest(k) = r
      }
    }
    val changed = mutable.HashSet.empty[String]
    latest.foreach { case (k, upd) =>
      val cur = rows.get(k)
      val next = if (cur == null) upd else merge(cur, upd)
      if (cur == null || !java.util.Arrays.equals(next.asInstanceOf[Array[AnyRef]],
          cur.asInstanceOf[Array[AnyRef]])) {
        changed += String.valueOf(month(next))
      }
      if (cur == null) {
        keys += k
        val m = month(next)
        if (m != null) keysByMonth.getOrElseUpdate(m, mutable.ArrayBuffer.empty) += k
      }
      rows.put(k, next)
    }
    lastMonths = changed.toSet
    lastMonths
  }
}

/** Writes CSV drops for one workload. `now` is the simulated clock: each
  * cycle advances it by the reference's two-hour cron period. */
final class Generator(seed: Long, val model: Model) {
  import Gen._

  private val rnd = new Random(seed)
  private var keyCounter = 0L
  private var insClock: LocalDateTime = LocalDateTime.of(2024, 6, 1, 0, 0, 0)
    .plusDays(rnd.nextInt(60))
  def now: LocalDateTime = insClock

  def advanceCycle(): Unit = insClock = insClock.plusHours(2)

  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  private def chance(p: Double): Boolean = rnd.nextDouble() < p

  /** A fresh 44-digit key: state code, a unique counter and random tail. */
  def newKey(): String = {
    keyCounter += 1
    val tail = new StringBuilder
    while (tail.length < 28) tail.append(rnd.nextInt(10))
    f"35$keyCounter%014d" + tail.toString
  }

  private def nextInsercao(): LocalDateTime = {
    insClock = insClock.plusSeconds(1 + rnd.nextInt(3))
    insClock
  }

  private def dec(maxUnits: Int, scale: Int): JBigDecimal =
    JBigDecimal.valueOf(rnd.nextInt(maxUnits).toLong + 1, scale)

  private def digits(n: Int): String = {
    val sb = new StringBuilder
    while (sb.length < n) sb.append(rnd.nextInt(10))
    sb.toString
  }

  /** A new order: every column drawn afresh. `nfe` is its issue date. */
  def newRecord(key: String, nfe: LocalDate): Rec = {
    val r = new Array[Any](nCols)
    val ins = nextInsercao()
    def s(n: String): Unit = r(idx(n)) = pick(pools(n))
    r(idx("id")) = (100000 + keyCounter).toString
    r(idx("data_insercao")) = ins
    s("tipo_entrega")
    r(idx("pedido")) = "PV" + digits(7)
    r(idx("data_nfe")) = if (chance(0.01)) null else nfe
    r(idx("serie_nfe")) = (1 + rnd.nextInt(3)).toString
    r(idx("numero_nfe")) = digits(6)
    r(idx("valor_nfe")) = if (chance(0.02)) null else dec(500000000, 2)
    r(idx("qtd_volumes")) = Integer.valueOf(1 + rnd.nextInt(40))
    r(idx("peso")) = if (chance(0.02)) null else dec(9999999, 3)
    r(idx("remessa")) = "R" + digits(5)
    s("nome_destinatario"); s("endereco_completo")
    r(idx("cep")) = digits(5) + "-" + digits(3)
    r(idx("cod_cd")) = Integer.valueOf(100 + rnd.nextInt(20))
    s("cd")
    r(idx("cnpj_cpf_transportadora")) = digits(14)
    s("transportador"); s("lead_time")
    r(idx("data_prev_entrega")) =
      if (chance(0.05)) null else nfe.plusDays(1 + rnd.nextInt(15))
    fillEvent(r, ins.minusHours(1 + rnd.nextInt(48)))
    s("agrupador"); s("endereco")
    r(idx("numero")) = (1 + rnd.nextInt(3000)).toString
    s("bairro"); s("cidades")
    r(idx("uf")) = if (chance(0.03)) null else pick(ufs)
    s("etiquetas")
    r(idx("cod_vendedor")) = "V" + digits(4)
    r(idx("chave_nfe")) = key
    r(idx("qtd_itens")) = (1 + rnd.nextInt(30)).toString
    r(idx("data_prev_entrega_original")) =
      if (chance(0.05)) null else nfe.plusDays(1 + rnd.nextInt(10))
    r(idx("cpf_destinatario")) = digits(11)
    s("grau_risco"); s("tipo_operacao")
    r
  }

  /** Event-versioned columns for an event at `at` (NULL event 3% of rows). */
  private def fillEvent(r: Rec, at: LocalDateTime): Unit = {
    r(idx("data_ultima_ocr")) = if (chance(0.03)) null else at
    r(idx("status_prazo")) = pick(pools("status_prazo"))
    r(idx("id_ult_ocr")) = digits(8)
    r(idx("ultima_ocorrencia")) = pick(pools("ultima_ocorrencia"))
    r(idx("chave_ult_ocr")) = "OC" + digits(10)
    r(idx("chegada_transportadora")) =
      if (chance(0.1)) null else at.minusHours(rnd.nextInt(24)).withNano(0)
  }

  /** A re-export of `prev` (the stored row or an earlier row of this
    * cycle): newer or older event, some columns changed or blank, and
    * sometimes a different issue date, which the merge must ignore. */
  def reExport(prev: Rec, newer: Boolean): Rec = {
    val r = prev.clone()
    val ins = nextInsercao()
    r(idx("data_insercao")) = ins
    val base = Option(prev(idx("data_ultima_ocr")).asInstanceOf[LocalDateTime])
      .getOrElse(ins.minusDays(3))
    val step = 1L + rnd.nextInt(600)
    fillEvent(r, if (newer) base.plusMinutes(step) else base.minusMinutes(step))
    if (chance(0.3)) r(idx("valor_nfe")) = dec(500000000, 2)
    if (chance(0.2)) r(idx("peso")) = null
    if (chance(0.2)) r(idx("bairro")) = null
    if (chance(0.2)) r(idx("qtd_volumes")) = Integer.valueOf(1 + rnd.nextInt(40))
    if (chance(0.2)) r(idx("data_prev_entrega_original")) = null
    val nfe = prev(idx("data_nfe")).asInstanceOf[LocalDate]
    if (nfe != null && chance(0.15)) r(idx("data_nfe")) = nfe.plusDays(1 + rnd.nextInt(40))
    r
  }

  // ---------------------------------------------------------------- render

  private def pad(s: String): String =
    if (chance(0.1)) "  " + s + " " else s

  private def renderDate(d: LocalDate): String =
    if (d == null) pick(dateSentinels)
    else rnd.nextInt(7) match {
      case 0 => d.format(fDmy)
      case 1 => d.atTime(rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60)).format(fDmyHms)
      case 2 => d.format(fDmyDash)
      case 3 => d.format(fIso)
      case 4 => d.atTime(rnd.nextInt(24), rnd.nextInt(60)).format(fIsoHm)
      case 5 => d.atTime(rnd.nextInt(24), rnd.nextInt(60), 5).format(fIsoTHms)
      case _ => d.format(fCompact)
    }

  private def renderTs(t: LocalDateTime, strict: Boolean): String =
    if (t == null) pick(IndexedSeq("", "00/00/0000", "sem data"))
    else {
      val opts = mutable.ArrayBuffer[() => String](
        () => t.format(fDmyHms), () => t.format(fIsoHms), () => t.format(fIsoTHms))
      if (t.getSecond == 0) opts += (() => t.format(fIsoHm))
      if (t.getSecond == 0) opts += (() => t.format(fIsoTHm))
      if (t.toLocalTime == java.time.LocalTime.MIDNIGHT) opts += (() => t.format(fDmy))
      if (!strict) {
        opts += (() => t.format(fIsoTHms) + "." + digits(3))
        opts += (() => t.format(fIsoHms) + "Z")
        opts += (() => t.format(fIsoTHms) + ".5-03:00")
      }
      pick(opts.toIndexedSeq)()
    }

  private def renderInsercao(t: LocalDateTime): String = {
    val opts = mutable.ArrayBuffer[() => String](
      () => t.format(fDmyHms), () => t.format(fIsoHms), () => t.format(fIsoTHms))
    if (t.getSecond == 0) opts += (() => t.format(fIsoHm))
    if (t.toLocalTime == java.time.LocalTime.MIDNIGHT) {
      opts += (() => t.format(fDmy)); opts += (() => t.format(fIso))
    }
    pick(opts.toIndexedSeq)()
  }

  /** Locale renderings of a decimal: BR and US grouping, bare comma or
    * dot, and the integer forms, each unambiguous under the loader's rules. */
  private def renderDec(v: JBigDecimal, scale: Int): String =
    if (v == null) pick(IndexedSeq("", " "))
    else {
      val plain = v.setScale(scale).toPlainString // "1234.56"
      val (ip, fp) = plain.span(_ != '.')
      val frac = fp.drop(1).reverse.dropWhile(_ == '0').reverse
      val intPart = ip
      def group(sep: Char): String =
        intPart.reverse.grouped(3).mkString(sep.toString).reverse
      val big = intPart.length > 3
      val opts = mutable.ArrayBuffer[String]()
      if (frac.nonEmpty) {
        opts += intPart + "," + frac
        opts += intPart + "." + frac
        if (big) { opts += group('.') + "," + frac; opts += group(',') + "." + frac }
      } else {
        opts += intPart
        opts += intPart + "," + "0" * scale
        // "1.234" reads as 1.234 at scale 3 (bare-dot branch first)
        if (big && scale == 2) opts += group('.')
      }
      pick(opts.toIndexedSeq)
    }

  private def renderKey(k: String): String = rnd.nextInt(4) match {
    case 0 => k.grouped(4).mkString(" ")
    case 1 => k.grouped(4).mkString(".")
    case _ => k
  }

  private def renderDigits(d: String): String =
    if (d == null) pick(IndexedSeq("", "-", " "))
    else if (chance(0.5)) d
    else if (d.length == 14)
      s"${d.take(2)}.${d.slice(2, 5)}.${d.slice(5, 8)}/${d.slice(8, 12)}-${d.drop(12)}"
    else if (d.length == 11) s"${d.take(3)}.${d.slice(3, 6)}.${d.slice(6, 9)}-${d.drop(9)}"
    else d

  private def renderUf(u: String): String =
    if (u == null) pick(IndexedSeq("", "São Paulo", "X"))
    else rnd.nextInt(3) match {
      case 0 => u
      case 1 => u.toLowerCase
      case _ => s" ${u.head}.${u.tail}. "
    }

  /** One typed value as a cell. */
  def render(kind: Kind, v: Any): String = kind match {
    case Str => if (v == null) pick(IndexedSeq("", "   ")) else pad(v.toString)
    case Date => renderDate(v.asInstanceOf[LocalDate])
    case TsLoose => renderTs(v.asInstanceOf[LocalDateTime], strict = false)
    case TsStrict => renderTs(v.asInstanceOf[LocalDateTime], strict = true)
    case Insercao => renderInsercao(v.asInstanceOf[LocalDateTime])
    case Dec2 => renderDec(v.asInstanceOf[JBigDecimal], 2)
    case Dec3 => renderDec(v.asInstanceOf[JBigDecimal], 3)
    case IntDigits => if (v == null) "" else pick(IndexedSeq(v.toString, " " + v + " ", "0" + v))
    case Digits => renderDigits(v.asInstanceOf[String])
    case Uf => renderUf(v.asInstanceOf[String])
    case Key => renderKey(v.asInstanceOf[String])
    case Lineage => if (v == null) "" else v.toString
  }

  private def quoteIfNeeded(cell: String, sep: Char): String =
    if (cell.indexOf(sep) >= 0) "\"" + cell + "\"" else cell

  private def writeFile(path: Path, text: String, d: Dialect): Long = {
    val body = text.getBytes(Charset.forName(d.charset))
    val bytes = if (d.bom) Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ body else body
    Files.write(path, bytes)
    bytes.length.toLong
  }

  /** A report export: display headers in one dialect, with ragged rows,
    * blank lines and invalid keys mixed in. `recs` are the typed rows; the
    * returned intent lists those with a valid key (the ones the DW sees).
    * The lineage column is filled with the file name, as the loader does. */
  def writeReport(dir: Path, name: String, recs: Seq[Rec]): FileIntent = {
    val d = pick(dialects)
    val dataCols = columns.indices.filter(i => columns(i)._2 != Lineage)
    val prevIdx = idx("data_prev_entrega_original")
    val headers = dataCols.map(i =>
      if (i == prevIdx) pick(prevOriginalHeaders) else columns(i)._3)
    val sb = new StringBuilder
    sb.append(headers.mkString(d.sep.toString)).append('\n')
    val kept = mutable.ArrayBuffer.empty[Rec]
    var dataRows = 0
    // the last columns of the display order are the ones a short row loses
    val maxCut = 4
    recs.foreach { r0 =>
      if (chance(0.01)) sb.append('\n')
      if (chance(0.01)) sb.append(d.sep.toString * (dataCols.size - 1)).append('\n')
      val r = r0.clone()
      r(idx("arquivo_origem")) = name
      val invalidKey = chance(0.02)
      val cells = dataCols.map { i =>
        if (i == idx("chave_nfe") && invalidKey) {
          val k = r(i).asInstanceOf[String]
          if (chance(0.5)) k.dropRight(1) else k + "7"
        } else render(columns(i)._2, r(i))
      }
      val shape = rnd.nextInt(50)
      val line =
        if (shape == 0) { // too short: trailing columns missing → NULL
          val cut = 1 + rnd.nextInt(maxCut)
          dataCols.takeRight(cut).foreach(i => r(i) = null)
          cells.dropRight(cut)
        } else if (shape == 1) cells ++ Seq.fill(1 + rnd.nextInt(3))("extra")
        else cells
      sb.append(line.map(quoteIfNeeded(_, d.sep)).mkString(d.sep.toString)).append('\n')
      dataRows += 1
      if (!invalidKey) kept += r
    }
    val bytes = writeFile(dir.resolve(name), sb.toString, d)
    FileIntent(name, quarantine = false, dataRows, kept.toSeq, bytes)
  }

  /** A file the loader must quarantine: empty, or too few known headers. */
  def writeBadFile(dir: Path, name: String): FileIntent = {
    val text =
      if (chance(0.5)) ""
      else {
        val known = columns.take(8).map(_._3) ++ Seq("Coluna X", "Coluna Y", "Obs")
        known.mkString(";") + "\n" + known.map(_ => "1").mkString(";") + "\n"
      }
    val bytes = writeFile(dir.resolve(name), text, dialects.head)
    FileIntent(name, quarantine = true, 0, Nil, bytes)
  }

  /** A staging-shaped file for the streaming sink: the 41 canonical column
    * names, `;`, UTF-8, well-formed rows; the lineage column keeps the
    * report file a row came from, or else names this file. */
  def writeStagingCsv(dir: Path, name: String, recs: Seq[Rec]): FileIntent = {
    val sb = new StringBuilder
    sb.append(names.mkString(";")).append('\n')
    val kept = recs.map { r0 =>
      val r = r0.clone()
      if (r(idx("arquivo_origem")) == null) r(idx("arquivo_origem")) = name
      sb.append(columns.indices.map(i => render(columns(i)._2, r(i)))
        .mkString(";")).append('\n')
      r
    }
    val tmp = dir.resolve("." + name + ".tmp")
    val bytes = writeFile(tmp, sb.toString, Dialect(';', "UTF-8", bom = false))
    Files.move(tmp, dir.resolve(name))
    FileIntent(name, quarantine = false, recs.size, kept, bytes)
  }

  // ------------------------------------------------------------ row mixes

  /** Rows of one cycle: `n` rows, a share `reexport` re-exporting stored
    * keys (from `pool`, or any stored key) and a few repeating a key from
    * earlier in the same cycle. New keys get an issue date from `nfeDay`. */
  def cycleRecords(n: Int, reexport: Double, pool: () => String,
      nfeDay: () => LocalDate): Seq[Rec] = {
    val out = mutable.ArrayBuffer.empty[Rec]
    val thisCycle = mutable.ArrayBuffer.empty[Rec]
    (0 until n).foreach { _ =>
      val u = rnd.nextDouble()
      val r =
        if (u < 0.03 && thisCycle.nonEmpty) reExport(pick(thisCycle.toIndexedSeq), newer = chance(0.5))
        else if (u < reexport) {
          val k = pool()
          val cur = if (k == null) null else model.rows.get(k)
          if (cur == null) newRecord(newKey(), nfeDay())
          else reExport(cur, newer = chance(0.9))
        } else newRecord(newKey(), nfeDay())
      out += r
      thisCycle += r
    }
    out.toSeq
  }

  /** Any stored key, uniformly. */
  def anyStoredKey(keys: mutable.ArrayBuffer[String]): () => String =
    () => if (keys.isEmpty) null else keys(rnd.nextInt(keys.size))

  def nextInt(n: Int): Int = rnd.nextInt(n)
  def nextDouble(): Double = rnd.nextDouble()
}
