package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Turns measured passes into the metrics BENCHMARK.json declares. */
final class Report(measured: Seq[Pass], setupS: Double) {
  import Report._

  private val untraced = measured.filterNot(_.traced)
  private val traced = measured.filter(_.traced)

  def endToEnd(): Seq[(String, Metric)] = {
    val ops = untraced.flatMap(_.samples.map(_.wallS)).sorted
    // the highest percentile with at least 10 samples beyond it (the
    // maximum when a run has fewer than 11)
    val tailIdx = if (ops.size > 10) ops.size - 11 else ops.size - 1
    val pct = 100.0 * (tailIdx + 1) / ops.size
    Seq(
      "setup_s" -> ((setupS, "s", "session, fixtures, artifact builds, checked pass, warm-up")),
      "pass_s" -> ((median(untraced.map(_.wallS)), "s", s"median of ${untraced.size} passes")),
      "op_p50_s" -> ((median(ops), "s", s"${ops.size} ops")),
      "op_tail_s" -> ((ops(tailIdx), "s", f"p$pct%.0f of ${ops.size} ops, ${ops.size - tailIdx - 1} beyond")),
      "peak_rss_mb" -> ((ProcCounters.peakRssMb(), "MiB", "VmHWM")))
  }

  /** Per-layer values of one traced pass (median over traced passes). */
  def layers(tracer: Tracer, setupLayers: Map[String, Double], artifactBytes: Long,
      functions: Seq[(String, Double)]): Seq[(String, Metric)] = {
    def perPass(f: Pass => Double): Double = median(traced.map(f))
    def sum(p: Pass, f: Sample => Double): Double = p.samples.map(f).sum
    def counters(s: Sample) = tracer.counters(s.group)
    def op(p: Pass, name: String, f: Sample => Double): Double =
      sum(p, s => if (s.op.name == name) f(s) else 0.0)
    val ingestOps = Set("parquet", "geoparquet", "jdbc_replace", "jdbc_append", "upload")
    val parquetOps = Set("parquet", "geoparquet", "upload")
    def ingest(p: Pass, f: Sample => Double, ops: Set[String] = ingestOps) =
      sum(p, s => if (ops(s.op.name)) f(s) else 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val overhead = median(traced.map(_.wallS)) - median(untraced.map(_.wallS))

    Seq(
      "driver.jobs" -> ((perPass(sum(_, counters(_).jobs)), "count", "")),
      "driver.stages" -> ((perPass(sum(_, counters(_).stages)), "count", "")),
      "driver.tasks" -> ((perPass(sum(_, counters(_).tasks)), "count", "")),
      "driver.job_s" -> ((perPass(sum(_, counters(_).jobSeconds)), "s", "union of job intervals per op")),
      "driver.gap_s" -> ((perPass(sum(_, s => s.wallS - counters(s).jobSeconds)), "s", "op wall minus job_s")),
      "driver.task_success_ratio" -> ((perPass(p =>
        ratio(sum(p, counters(_).tasksOk), sum(p, counters(_).tasks))), "ratio", "")),
      "operators.build_s" -> ((perPass(sum(_, _.meter.seconds("build"))), "s", "SparkEntry.queries calls")),
      "operators.exec_s" -> ((perPass(sum(_, _.meter.seconds("exec"))), "s", "noop writes")),
      "scan.bytes" -> ((perPass(sum(_, counters(_).scanBytes)), "B", "")),
      "scan.rows" -> ((perPass(sum(_, counters(_).scanRows)), "count", "")),
      "shuffle.write_bytes" -> ((perPass(sum(_, counters(_).shuffleWriteBytes)), "B", "")),
      "shuffle.read_bytes" -> ((perPass(sum(_, counters(_).shuffleReadBytes)), "B", "")),
      "shuffle.spill_bytes" -> ((perPass(sum(_, counters(_).spillBytes)), "B", "disk")),
      "memo.build_s" -> ((perPass(sum(_, _.memoBuildS)), "s", "Memo.buildNanos delta")),
      "index.build_s" -> ((setupLayers.getOrElse("index.build_s", 0.0), "s", "first calls of artifact queries, in set-up")),
      "index.artifact_bytes" -> ((artifactBytes.toDouble, "B", "index artifacts under java.io.tmpdir")),
      "ingest.probe_s" -> ((perPass(sum(_, _.meter.seconds("probe"))), "s", "explicit probe calls")),
      "ingest.probe_files" -> ((perPass(sum(_, _.meter.values.getOrElse("probe_files", 0.0))), "count", "source files footer-probed")),
      "ingest.parquet_s" -> ((perPass(op(_, "parquet", _.wallS)), "s", "")),
      "ingest.geoparquet_s" -> ((perPass(op(_, "geoparquet", _.wallS)), "s", "")),
      "ingest.jdbc_replace_s" -> ((perPass(op(_, "jdbc_replace", _.wallS)), "s", "")),
      "ingest.jdbc_append_s" -> ((perPass(op(_, "jdbc_append", _.wallS)), "s", "")),
      "ingest.upload_s" -> ((perPass(op(_, "upload", _.wallS)), "s", "")),
      "ingest.write_bytes" -> ((perPass(ingest(_, _.sinkBytes.toDouble, parquetOps)), "B", "parquet sink bytes on disk")),
      "ingest.write_amp" -> ((perPass(p => ratio(ingest(p, _.writeBytes.toDouble, parquetOps),
        ingest(p, _.sinkBytes.toDouble, parquetOps))), "ratio", "process wchar / sink bytes, parquet sinks")),
      "ingest.geoparquet_write_amp" -> ((perPass(p => ratio(op(p, "geoparquet", _.writeBytes.toDouble),
        op(p, "geoparquet", _.sinkBytes.toDouble))), "ratio", "")),
      "ingest.rows_per_s" -> ((perPass(p => ratio(ingest(p, _.meter.values.getOrElse("rows", 0.0)),
        ingest(p, _.wallS))), "1/s", "source rows / seconds in ingest calls")),
      "ingest.mb_per_s" -> ((perPass(p => ratio(ingest(p, _.meter.values.getOrElse("source_bytes", 0.0)) / 1e6,
        ingest(p, _.wallS))), "MB/s", "source parquet bytes / the same seconds")),
      "ingest.stored_bytes_ratio" -> ((perPass(p => ratio(ingest(p, _.sinkBytes.toDouble, parquetOps),
        ingest(p, _.meter.values.getOrElse("source_bytes", 0.0), parquetOps))), "ratio", "parquet sink bytes / source bytes")),
      "jvm.gc_s" -> ((perPass(sum(_, _.gcS)), "s", "")),
      "io.read_bytes" -> ((perPass(sum(_, _.readBytes.toDouble)), "B", "rchar")),
      "io.write_bytes" -> ((perPass(sum(_, _.writeBytes.toDouble)), "B", "wchar")),
      "trace.overhead_s" -> ((overhead, "s", "traced pass_s - untraced pass_s"))) ++
      functions.map { case (f, ns) => s"functions.${f}_ns_per_row" -> ((ns, "ns", "")) }
  }
}

object Report {
  type Metric = (Double, String, String)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Metric)]): String =
    metrics.map { case (k, (v, unit, _)) => s""""$k": {"value": ${num(v)}, "unit": "$unit"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}

/** Cost of each listed SQL function, by `selectExpr` over an sf0.1 table
  * replicated until one timing exceeds a second, written to `noop`. */
object Functions {
  private val TargetS = 1.0

  def nsPerRow(spark: SparkSession, sf: String): Seq[(String, Double)] = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "n_chars", "text", "split(text, ' ') AS tokens").cache()
    val embs = spark.read.parquet(s"$sf/embeddings.parquet").select("embedding").cache()
    val cases = Seq(
      ("simhash64", docs, "simhash64(tokens)"),
      ("minhash_signature", docs, "minhash_signature(tokens, 64)"),
      ("cosine_similarity", embs, "cosine_similarity(embedding, embedding)"),
      ("hyperplane_bands", embs, "hyperplane_bands(embedding, 8, 16)"),
      ("deflate_len", docs, "deflate_len(text)"),
      ("st_point", docs, "st_point(CAST(doc_id AS DOUBLE), CAST(n_chars AS DOUBLE))"))
    try cases.map { case (name, base, expr) =>
      val n = base.count()
      var copies = 1L
      var seconds = 0.0
      while (seconds < TargetS && copies < (1L << 40) / n) {
        if (seconds > 0) copies *= math.max(2L, math.ceil(1.2 * TargetS / seconds).toLong)
        val rows = base.selectExpr("*", s"explode(sequence(1, $copies)) AS copy").selectExpr(expr)
        val t0 = System.nanoTime()
        rows.write.format("noop").mode("overwrite").save()
        seconds = (System.nanoTime() - t0) / 1e9
      }
      name -> seconds * 1e9 / (n * copies)
    } finally { docs.unpersist(); embs.unpersist() }
  }
}

/** Writes the trace: spans of passes, ops and jobs, and per-op layers. */
object Trace {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def writeSpans(path: Path, passes: Seq[Pass], tracer: Tracer): Unit = {
    val spans = passes.flatMap { p =>
      val id = s"pass-${p.no}"
      Span(id, "pass", s"${p.phase} pass ${p.no}", p.startMs,
        p.startMs + (p.wallS * 1000).toLong, "") +:
        p.samples.map(s => Span(s.group, "op", s.op.name, s.startMs,
          s.startMs + (s.wallS * 1000).toLong, id))
    } ++ tracer.spans
    Files.writeString(path, spans.map { s =>
      s"""{"id": ${str(s.id)}, "kind": "${s.kind}", "name": ${str(s.name)}, "start_ms": ${s.start}, "end_ms": ${s.end}, "parent": ${str(s.parent)}}"""
    }.mkString("[\n", ",\n", "\n]\n"))
  }

  def writeLayers(path: Path, traced: Seq[Pass], tracer: Tracer): Unit = {
    val rows = for (p <- traced; s <- p.samples) yield {
      val c = tracer.counters(s.group)
      val fields = Seq(
        "pass" -> p.no.toString, "op" -> str(s.op.name), "wall_s" -> s.wallS.toString,
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
        "tasks_ok" -> c.tasksOk.toString, "job_s" -> c.jobSeconds.toString,
        "scan_bytes" -> c.scanBytes.toString, "scan_rows" -> c.scanRows.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
        "spill_bytes" -> c.spillBytes.toString, "memo_build_s" -> s.memoBuildS.toString,
        "gc_s" -> s.gcS.toString, "io_read_bytes" -> s.readBytes.toString,
        "io_write_bytes" -> s.writeBytes.toString, "sink_bytes" -> s.sinkBytes.toString) ++
        s.meter.nanos.map { case (k, v) => s"${k}_s" -> (v / 1e9).toString } ++
        s.meter.values.map { case (k, v) => k -> v.toString }
      fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    }
    Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
