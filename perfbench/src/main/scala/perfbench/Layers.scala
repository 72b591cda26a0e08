package perfbench

/** The per-layer metrics of a traced run. Every workload reports the same
  * list (a layer a workload never calls reads 0). Counts and bytes are per
  * closed-loop operation (cycle or pass); times are shares, in percent, of
  * the timed windows (`.self_pct`) or of their layer (`.cpu_pct` of all
  * executor CPU, the query phases of the `queries` span time). */
object Layers {
  // span / job-tag name of each layer
  val Ingest = "ingest"
  val StageLoad = "etl.stage_load"
  val Upsert = "etl.upsert"
  val Archive = "etl.archive"
  val DwRead = "dw_read"
  val Streaming = "streaming"
  val Queries = "queries"

  def collect(ctx: Ctx, nOps: Int, timedWallS: Double): Seq[(String, (Double, String))] = {
    val t = ctx.trace
    val self = t.selfSeconds
    val ops = math.max(1, nOps).toDouble
    val cpuAll = t.get("spark", "cpu_s")
    def pct(a: Double, b: Double): Double = if (b > 0) 100.0 * a / b else 0.0
    def selfPct(layer: String) = pct(self.getOrElse(layer, 0.0), timedWallS)
    def perOp(layer: String, c: String) = t.get(layer, c) / ops
    def cpuPct(layer: String) = pct(t.get(layer, "cpu_s"), cpuAll)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val qSpan = self.getOrElse(Queries, 0.0)
    Seq(
      "ingest.self_pct" -> (selfPct(Ingest) -> "%"),
      "ingest.files" -> (perOp(Ingest, "files") -> "count"),
      "ingest.skipped" -> (perOp(Ingest, "skipped") -> "count"),
      "ingest.useful_ratio" -> (ratio(t.get(Ingest, "files"), t.get(Ingest, "listed")) -> "ratio"),
      "stage_load.self_pct" -> (selfPct(StageLoad) -> "%"),
      "stage_load.jobs" -> (perOp(StageLoad, "jobs") -> "count"),
      "stage_load.tasks" -> (perOp(StageLoad, "tasks") -> "count"),
      "stage_load.cpu_pct" -> (cpuPct(StageLoad) -> "%"),
      "stage_load.files_written" -> (perOp(StageLoad, "files_written") -> "count"),
      "stage_load.quarantined" -> (perOp(StageLoad, "quarantined") -> "count"),
      "upsert.self_pct" -> (selfPct(Upsert) -> "%"),
      "upsert.jobs" -> (perOp(Upsert, "jobs") -> "count"),
      "upsert.tasks" -> (perOp(Upsert, "tasks") -> "count"),
      "upsert.cpu_pct" -> (cpuPct(Upsert) -> "%"),
      "upsert.shuffle_bytes" -> (perOp(Upsert, "shuffle_bytes") -> "bytes"),
      "upsert.spill_bytes" -> (perOp(Upsert, "spill_bytes") -> "bytes"),
      "upsert.bytes_read" -> (perOp(Upsert, "bytes_read") -> "bytes"),
      "upsert.bytes_written" -> (perOp(Upsert, "bytes_written") -> "bytes"),
      "upsert.partitions_written" -> (perOp(Upsert, "partitions_written") -> "count"),
      "upsert.partitions_changed" -> (perOp(Upsert, "partitions_changed") -> "count"),
      "upsert.useful_ratio" -> (ratio(t.get(Upsert, "partitions_changed"),
        t.get(Upsert, "partitions_written")) -> "ratio"),
      "archive.self_pct" -> (selfPct(Archive) -> "%"),
      "archive.rows" -> (perOp(Archive, "rows") -> "count"),
      "archive.bytes_written" -> (perOp(Archive, "bytes_written") -> "bytes"),
      "dw_read.self_pct" -> (selfPct(DwRead) -> "%"),
      "dw_read.files_scanned" -> (perOp(DwRead, "files_scanned") -> "count"),
      "dw_read.bytes_scanned" -> (perOp(DwRead, "bytes_scanned") -> "bytes"),
      "stream.self_pct" -> (selfPct(Streaming) -> "%"),
      "stream.batches" -> (perOp(Streaming, "batches") -> "count"),
      "stream.add_batch_pct" -> (pct(t.get(Streaming, "add_batch_s"),
        self.getOrElse(Streaming, 0.0)) -> "%"),
      "stream.planning_pct" -> (pct(t.get(Streaming, "planning_s"),
        self.getOrElse(Streaming, 0.0)) -> "%"),
      "stream.input_rows" -> (perOp(Streaming, "input_rows") -> "count"),
      "queries.self_pct" -> (selfPct(Queries) -> "%"),
      "queries.construct_pct" -> (pct(t.get(Queries, "construct_s"), qSpan) -> "%"),
      "queries.plan_pct" -> (pct(t.get(Queries, "plan_s"), qSpan) -> "%"),
      "queries.exec_pct" -> (pct(t.get(Queries, "exec_s"), qSpan) -> "%"),
      "queries.idle_pct" -> (pct(t.get(Queries, "idle_s"), t.get(Queries, "exec_s")) -> "%"),
      "queries.jobs" -> (perOp(Queries, "jobs") -> "count"),
      "queries.tasks" -> (perOp(Queries, "tasks") -> "count"),
      "queries.cpu_pct" -> (cpuPct(Queries) -> "%"),
      "queries.shuffle_bytes" -> (perOp(Queries, "shuffle_bytes") -> "bytes"),
      "queries.spill_bytes" -> (perOp(Queries, "spill_bytes") -> "bytes"),
      "queries.plan_nodes" -> (perOp(Queries, "plan_nodes") -> "count"),
      "queries.native_expr_nodes" -> (perOp(Queries, "native_expr_nodes") -> "count"),
      "queries.cache_peak_bytes" -> (t.get(Queries, "cache_peak_bytes") -> "bytes"),
      "spark.jobs" -> (perOp("spark", "jobs") -> "count"),
      "spark.tasks" -> (perOp("spark", "tasks") -> "count"),
      "spark.cpu_s" -> (perOp("spark", "cpu_s") -> "s"),
      "spark.gc_s" -> (ctx.gcSeconds / ops -> "s"),
      "spark.session_start_s" -> (ctx.sessionStartS -> "s"))
  }
}
