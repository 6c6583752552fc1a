package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One op call inside a pass. */
final case class Sample(pass: Int, op: Op, group: String, startMs: Long,
    wallS: Double, meter: Meter, errors: Seq[String], memoBuildS: Double,
    gcS: Double, readBytes: Long, writeBytes: Long, sinkBytes: Long)

final case class Pass(no: Int, phase: String, traced: Boolean, startMs: Long,
    wallS: Double, samples: Seq[Sample])

/** Closed-loop, single-client benchmark of the engine on `local[cores]`,
  * cores = available processors capped at 4. A run sets up (session,
  * fixtures, index artifacts), makes one checked pass over the workload's
  * ops and the workload's warm-up passes, then measures whole passes for
  * `--seconds`. The last stdout line is the JSON result.
  *
  * Usage: perfbench.Main --workload <import|curation> --seed <n>
  *   --seconds <s> --trace <0|1> --root <checkout> --run-dir <private dir>
  *   perfbench.Main --record <verified dump dir> --root <checkout>
  */
object Main {
  private val MaxCores = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(args.getOrElse("root", ".")).toAbsolutePath.normalize
    val code =
      try {
        args.get("record") match {
          case Some(dump) => record(root, Paths.get(dump)); 0
          case None => run(args, root)
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def session(runDir: Option[Path]): SparkSession = {
    val cores = math.min(MaxCores, Runtime.getRuntime.availableProcessors)
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    runDir.foreach { d =>
      b.config("spark.local.dir", d.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", d.resolve("warehouse").toString)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.tune(spark)
  }

  /** Writes `perfbench/expected.json` from a result dump that
    * `tools/check.py` verified against the DuckDB oracle. */
  private def record(root: Path, dump: Path): Unit = {
    val spark = session(None)
    try {
      val all = Workload.curation.map { name =>
        val got = ResultCheck.of(spark.read.parquet(dump.resolve(name).toString))
        name -> (if (graft.SparkEntry.oracleSql.contains(name)) got else got.copy(hash = None))
      }
      ResultCheck.save(root.resolve("perfbench/expected.json"), all)
      all.foreach { case (n, e) => println(s"$n ${e.rows} ${e.hash.getOrElse("-")}") }
    } finally spark.stop()
  }

  private def run(args: Map[String, String], root: Path): Int = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val runDir = Paths.get(args("run-dir")).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    require(Workload.names.contains(workload), s"unknown workload '$workload'")

    val spark = session(Some(runDir))
    try {
      val runId = s"${workload}_${seed}_${ProcessHandle.current().pid()}"
      val ctx = new Ctx(spark, root, runDir, runId, seed,
        ResultCheck.load(root.resolve("perfbench/expected.json")))
      val wl = Workload(workload, ctx)
      val tracer = new Tracer(s"pb-$runId-")
      val runner = new Runner(ctx, wl, tracer)

      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val setupLayers = wl.setup()
      val fixturesS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - sessionS
      val passes = mutable.ArrayBuffer.empty[Pass]
      passes += runner.pass(0, "check", check = true, traced = false)
      for (_ <- 1 to wl.warmPasses)
        passes += runner.pass(passes.size, "warm", check = false, traced = false)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

      // measured: whole passes until `seconds` have elapsed; a traced run
      // alternates untraced and traced passes so it can report the overhead
      val t0 = System.nanoTime()
      def measuredCount = passes.count(p => p.phase == "measure")
      while ((System.nanoTime() - t0) / 1e9 < seconds || (traced && measuredCount < 2)) {
        val tracedPass = traced && measuredCount % 2 == 1
        passes += runner.pass(passes.size, "measure", check = false, traced = tracedPass)
      }
      val measured = passes.filter(_.phase == "measure").toSeq
      val errors = passes.flatMap(_.samples.flatMap(_.errors))
      val attempted = passes.map(_.samples.size).sum
      val failed = passes.map(_.samples.count(_.errors.nonEmpty)).sum

      val report = new Report(measured, setupS)
      val metrics =
        if (!traced) report.endToEnd()
        else {
          val f0 = System.nanoTime()
          val functions = Functions.nsPerRow(spark, ctx.sfDir("0.1"))
          println(f"# functions timed in ${(System.nanoTime() - f0) / 1e9}%.1fs")
          val layers = report.layers(tracer, setupLayers,
            Workload.artifactBytes(runDir.resolve("tmp")), functions)
          val outDir = Files.createDirectories(root.resolve(".bench_build/traces"))
          val base = outDir.resolve(s"$workload-seed$seed-${ProcessHandle.current().pid()}")
          Trace.writeSpans(Paths.get(s"$base.spans.json"), passes.toSeq, tracer)
          Trace.writeLayers(Paths.get(s"$base.layers.json"), measured.filter(_.traced), tracer)
          println(s"# spans: $base.spans.json")
          println(s"# per-op layers: $base.layers.json")
          layers
        }
      errors.foreach(e => println(s"# FAILED $e"))
      println(f"# failed_op_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted ops)")
      println(f"# set-up: session $sessionS%.2fs, fixtures and artifacts $fixturesS%.2fs, " +
        s"passes ${passes.map(p => f"${p.phase}:${p.wallS}%.2fs").mkString(" ")}")
      measured.flatMap(_.samples).groupBy(_.op.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        println(f"# op $n%-32s p50 ${Report.median(ss.map(_.wallS))}%.3fs over ${ss.size}")
      }
      metrics.foreach { case (k, (v, unit, note)) =>
        println(s"# $k $v $unit${if (note.isEmpty) "" else s" ($note)"}")
      }
      println(Report.json(errors.isEmpty, attempted, failed, metrics))
      0
    } finally spark.stop()
  }
}

/** Runs passes: the op order of each pass is shuffled from the seed. */
final class Runner(ctx: Ctx, wl: Workload, tracer: Tracer) {
  private val sc = ctx.spark.sparkContext

  def pass(no: Int, phase: String, check: Boolean, traced: Boolean): Pass = {
    if (traced) sc.addSparkListener(tracer)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    wl.beforePass()
    val order = wl.order(new scala.util.Random(ctx.seed * 1000003L + no).shuffle(wl.ops))
    val samples = order.map(op => call(no, op, check, traced))
    val wallS = (System.nanoTime() - t0) / 1e9
    if (traced) {
      tracer.drain()
      sc.removeSparkListener(tracer)
    }
    Pass(no, phase, traced, startMs, wallS, samples)
  }

  private def call(no: Int, op: Op, check: Boolean, traced: Boolean): Sample = {
    val group = s"pb-${ctx.runId}-$no-${op.name}"
    if (traced) sc.setJobGroup(group, op.name)
    val m = new Meter
    val memo0 = graft.Memo.buildNanos
    val gc0 = if (traced) ProcCounters.gcSeconds() else 0.0
    val (r0, w0) = if (traced) ProcCounters.io() else (0L, 0L)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val errors =
      try { if (check) op.checked(m) else { op.timed(m); Nil } }
      catch { case NonFatal(e) => Seq(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wallS = (System.nanoTime() - t0) / 1e9
    val memoS = (graft.Memo.buildNanos - memo0) / 1e9
    if (traced) sc.clearJobGroup()
    val (r1, w1) = if (traced) ProcCounters.io() else (0L, 0L)
    val gcS = if (traced) ProcCounters.gcSeconds() - gc0 else 0.0
    val sinkBytes = if (traced) op.sink.map(Workload.du).getOrElse(0L) else 0L
    Sample(no, op, group, startMs, wallS, m, errors, memoS, gcS, r1 - r0, w1 - w0, sinkBytes)
  }
}
