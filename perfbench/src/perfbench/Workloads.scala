package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.ingest.{Generator, ParquetIngest}
import graft.ingest.ParquetIngest.{JdbcSink, ParquetSink}

/** Shared state of one benchmark run. `runDir` is private to the run:
  * sinks, fixtures, the JVM temp dir and Spark's scratch space live there. */
final class Ctx(val spark: SparkSession, val root: Path, val runDir: Path,
    val runId: String, val seed: Long, val expected: Map[String, Expected]) {
  def sfDir(sf: String): String = root.resolve(s"perfbench/data/sf$sf").toString
  val out: Path = Files.createDirectories(runDir.resolve("out"))
}

/** Time and values one op call reports about itself. */
final class Meter {
  val nanos = mutable.LinkedHashMap.empty[String, Long]
  val values = mutable.LinkedHashMap.empty[String, Double]
  def time[T](part: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally nanos(part) = nanos.getOrElse(part, 0L) + System.nanoTime() - t0
  }
  def seconds(part: String): Double = nanos.getOrElse(part, 0L) / 1e9
}

/** One operation of a pass. `timed` is the measured call; `checked` makes
  * the same call and returns every way its output is wrong (empty = right).
  * `sink` names a parquet sink whose size on disk the trace records. */
final case class Op(name: String, sink: Option[Path] = None)(
    val timed: Meter => Unit, val checked: Meter => Seq[String])

abstract class Workload(val ctx: Ctx) {
  def ops: Seq[Op]
  /** Unchecked passes after the checked one before pass time is level. */
  def warmPasses: Int
  /** Fixtures and artifact builds; returns layer values measured here. */
  def setup(): Map[String, Double] = Map.empty
  def beforePass(): Unit = ()
  /** The op order of one pass, given the seeded shuffle. */
  def order(shuffled: Seq[Op]): Seq[Op] = shuffled
}

object Workload {
  /** Catalog queries of the `curation` workload: two dedup queries sharing
    * one memoized build (the near-duplicate clusters), plus PQ, IVF and BM25
    * probes over index artifacts. */
  val curation: Seq[String] = Seq(
    "q60_dedup_clusters", "q86_cluster_representatives", "q131_pq_index_probe",
    "q132_ivf_index_probe", "q134_bm25_index_probe")

  /** Curation queries that build an index artifact under java.io.tmpdir
    * on first use. */
  val artifactQueries: Set[String] =
    Set("q131_pq_index_probe", "q132_ivf_index_probe", "q134_bm25_index_probe")

  val names: Seq[String] = Seq("import", "curation")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "import" => new ImportWorkload(ctx)
    case "curation" => new CurationWorkload(ctx, curation)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Bytes of the engine's artifact directories (`graft_*`) under `tmp`. */
  def artifactBytes(tmp: Path): Long =
    if (!Files.isDirectory(tmp)) 0L
    else {
      val s = Files.list(tmp)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_")).map(du).sum
      finally s.close()
    }

  /** Bytes of every regular file under `p` (0 if absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Catalog queries at sf0.1, each built through `SparkEntry.queries` and
  * written to the `noop` sink. Memos are evicted at the start of every
  * pass, so each pass pays its shared builds once. */
final class CurationWorkload(ctx: Ctx, names: Seq[String]) extends Workload(ctx) {
  private val sf = ctx.sfDir("0.1")
  // the first unchecked pass still runs ~8% above the passes after it
  val warmPasses = 1

  val ops: Seq[Op] = names.map { name =>
    def build(m: Meter) = m.time("build")(graft.SparkEntry.queries(name)(ctx.spark, sf))
    Op(name)(
      m => m.time("exec")(build(m).write.format("noop").mode("overwrite").save()),
      m => ResultCheck.compare(name,
        m.time("exec")(ResultCheck.of(build(m))), ctx.expected.get(name)))
  }

  /** Builds each index artifact once, so passes only read them. */
  override def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    ops.filter(o => Workload.artifactQueries(o.name)).foreach(_.timed(new Meter))
    Map("index.build_s" -> (System.nanoTime() - t0) / 1e9)
  }

  override def beforePass(): Unit = graft.Memo.evict(ctx.spark)

  /** A session asks for clusters (q60) before their representatives (q86),
    * so q60 always pays the build the two share. Left to the shuffle, the
    * payer flipped with the seed and `op_tail_s` split into two modes ~20%
    * apart. */
  override def order(shuffled: Seq[Op]): Seq[Op] = {
    val clusters = shuffled.indexWhere(_.name == "q60_dedup_clusters")
    val representatives = shuffled.indexWhere(_.name == "q86_cluster_representatives")
    if (clusters < representatives) shuffled
    else shuffled.updated(clusters, shuffled(representatives))
      .updated(representatives, shuffled(clusters))
  }
}

/** The reference's own job: parquet and GeoParquet sources into parquet
  * and JDBC sinks under replace/append/fail semantics. */
final class ImportWorkload(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  // passes after the checked one are level (within run-to-run noise)
  val warmPasses = 0
  private val lineitem = ctx.sfDir("0.1") + "/lineitem.parquet"
  private val lineitemSmall = ctx.sfDir("0.01") + "/lineitem.parquet"
  private val uploadSource = ctx.sfDir("0.001") + "/lineitem.parquet"
  private val upload = Files.readAllBytes(java.nio.file.Paths.get(uploadSource))
  private val spatialSource = ctx.out.resolve("spatial_source").toString
  private val parquetSink = ctx.out.resolve("lineitem_parquet")
  private val spatialSink = ctx.out.resolve("spatial_parquet")
  private val uploadSink = ctx.out.resolve("upload_parquet")
  private val failTarget = ctx.out.resolve("fail_target")

  private val jdbcUrl = s"jdbc:derby:memory:perfbench_${ctx.runId};create=true"
  private val jdbcProps = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }
  private val jdbcSink = JdbcSink(jdbcUrl, "lineitem", jdbcProps)

  /** Rows in the fixed source files, counted from their footers. */
  private lazy val sourceRows: Map[String, Long] =
    Seq(lineitem, lineitemSmall, uploadSource)
      .map(p => p -> ParquetIngest.probe(spark, p).numRows).toMap

  override def setup(): Map[String, Double] = {
    Generator.writeFixture(spark, spatialSource, n = 2000000L, seed = ctx.seed)
    ParquetIngest.ingest(spark, uploadSource, ParquetSink(failTarget.toString), "replace")
    Map.empty
  }

  private def parquetRows(p: Path): Long = spark.read.parquet(p.toString).count()

  private def jdbcRows(): Long = {
    Class.forName(jdbcProps.getProperty("driver"))
    val c = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM lineitem")
      rs.next(); rs.getLong(1)
    } catch { case _: java.sql.SQLException => 0L } // no table yet
    finally c.close()
  }

  /** (parquet files, bytes) under each source, as the probe walks them. */
  private lazy val sourceSize: Map[String, (Int, Long)] =
    Seq(lineitem, lineitemSmall, uploadSource, spatialSource).map { p =>
      val s = Files.walk(java.nio.file.Paths.get(p))
      val files = try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
        finally s.close()
      p -> (files.size, files.map(Files.size).sum)
    }.toMap

  /** Records what one ingest call read: files probed, source bytes, rows. */
  private def ingested(m: Meter, source: String, rows: Long): Unit = {
    val (files, bytes) = sourceSize(source)
    m.values("probe_files") = files
    m.values("source_bytes") = bytes
    m.values("rows") = rows
  }

  private def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)

  private def rowsWritten(m: Meter, name: String, want: Long): Seq[String] = {
    val got = m.values("rows").toLong
    expect(got == want, s"$name: rowsWritten $got, probe counted $want")
  }

  val ops: Seq[Op] = {
    def parquet(m: Meter): Unit = {
      val probe = m.time("probe")(ParquetIngest.probe(spark, lineitem))
      ingested(m, lineitem, ParquetIngest.ingest(spark, lineitem,
        ParquetSink(parquetSink.toString), "replace", preProbed = Some(probe)).rowsWritten)
    }
    def geoparquet(m: Meter): Unit = ingested(m, spatialSource, ParquetIngest.ingest(
      spark, spatialSource, ParquetSink(spatialSink.toString), "replace").rowsWritten)
    def jdbcReplace(m: Meter): Unit = ingested(m, lineitem,
      ParquetIngest.ingest(spark, lineitem, jdbcSink, "replace").rowsWritten)
    def jdbcAppend(m: Meter): Unit = ingested(m, lineitemSmall,
      ParquetIngest.ingest(spark, lineitemSmall, jdbcSink, "append").rowsWritten)
    def uploaded(m: Meter): Unit = ingested(m, uploadSource, ParquetIngest.ingestUpload(
      spark, upload, ParquetSink(uploadSink.toString), "replace").rowsWritten)
    def failOnExisting(m: Meter): Unit = {
      val threw =
        try { ParquetIngest.ingest(spark, uploadSource, ParquetSink(failTarget.toString), "fail"); false }
        catch { case NonFatal(_) => true }
      if (!threw) throw new IllegalStateException("ingest with 'fail' onto an existing target did not throw")
    }

    Seq(
      Op("parquet", Some(parquetSink))(parquet, { m =>
        parquet(m)
        rowsWritten(m, "parquet", sourceRows(lineitem)) ++
          expect(parquetRows(parquetSink) == sourceRows(lineitem), "parquet: sink read-back count differs")
      }),
      Op("geoparquet", Some(spatialSink))(geoparquet, { m =>
        geoparquet(m)
        val want = ParquetIngest.probe(spark, spatialSource).numRows
        val sinkProbe = ParquetIngest.probe(spark, spatialSink.toString)
        rowsWritten(m, "geoparquet", want) ++
          expect(parquetRows(spatialSink) == want, "geoparquet: sink read-back count differs") ++
          expect(sinkProbe.spatial.exists(!_.fromFallback),
            s"geoparquet: sink probes spatial=${sinkProbe.spatial}, expected a geo footer")
      }),
      Op("jdbc_replace")(jdbcReplace, { m =>
        jdbcReplace(m)
        rowsWritten(m, "jdbc_replace", sourceRows(lineitem)) ++
          expect(jdbcRows() == sourceRows(lineitem), "jdbc_replace: table COUNT(*) differs")
      }),
      Op("jdbc_append")(jdbcAppend, { m =>
        val before = jdbcRows()
        jdbcAppend(m)
        rowsWritten(m, "jdbc_append", sourceRows(lineitemSmall)) ++
          expect(jdbcRows() == before + sourceRows(lineitemSmall), "jdbc_append: table COUNT(*) differs")
      }),
      Op("upload", Some(uploadSink))(uploaded, { m =>
        uploaded(m)
        rowsWritten(m, "upload", sourceRows(uploadSource)) ++
          expect(parquetRows(uploadSink) == sourceRows(uploadSource), "upload: sink read-back count differs")
      }),
      Op("fail_existing")(failOnExisting, { m =>
        failOnExisting(m)
        expect(parquetRows(failTarget) == sourceRows(uploadSource), "fail_existing: target row count changed")
      }))
  }
}
