package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.functions._

/** [[Tables]]' schema resolution: inferred once per file version, reused
  * by every later read of that version, re-inferred when the file changes,
  * and never cached for a directory path. Job counts come from
  * [[JobWatch]]; "planning" is building the frame plus its executed plan. */
class TablesSpec extends SparkSpec {

  /** Write `df` as ONE parquet file at `<dir>/<name>.parquet` (the
    * fixture tables' shape), replacing whatever is there. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame,
      dir: Path, name: String): Unit = {
    val staging = Files.createTempDirectory("graft_tables_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("o").toString)
    val part = Files.list(staging.resolve("o"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def plan(df: => org.apache.spark.sql.DataFrame) =
    JobWatch.jobsDuring(spark)(df.queryExecution.executedPlan)

  test("a warm read of an unchanged file plans with no Spark job") {
    val dir = Files.createTempDirectory("graft_tables_warm")
    writeSingleFile(spark.range(20).withColumn("s", col("id").cast("string")),
      dir, "t")
    val cold = plan(Tables(spark, dir.toString, "t"))
    assert(cold.nonEmpty, "the first read of a file version infers its schema")
    assert(plan(Tables(spark, dir.toString, "t")).isEmpty,
      "a second read of the same version must reuse the schema")
    assert(Tables(spark, dir.toString, "t").collect().map(_.toSeq).toSet ==
      spark.read.parquet(s"$dir/t.parquet").collect().map(_.toSeq).toSet)
    // the fixture tables go through the same path
    Tables.embeddings(spark, sfDir)
    assert(plan(Tables.embeddings(spark, sfDir)).isEmpty)
    assert(Tables.embeddings(spark, sfDir).schema ==
      spark.read.parquet(s"$sfDir/embeddings.parquet").schema)
  }

  test("a file rewritten at the same path with a new schema reads the new schema") {
    val dir = Files.createTempDirectory("graft_tables_rewrite")
    writeSingleFile(spark.range(5).select(col("id").as("a")), dir, "t")
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    writeSingleFile(spark.range(7).select(col("id").cast("string").as("b"),
      lit(1.5).as("c")), dir, "t")
    val again = Tables(spark, dir.toString, "t")
    assert(again.columns.toSeq == Seq("b", "c"),
      "a new file version must not be read with the old version's schema")
    assert(again.schema("b").dataType == org.apache.spark.sql.types.StringType)
    assert(again.count() == 7)
  }

  test("a directory path still infers its schema on every read") {
    val dir = Files.createTempDirectory("graft_tables_dir")
    val table = dir.resolve("d.parquet").toString
    spark.range(4).select(col("id").as("a"))
      .write.mode("overwrite").parquet(table)
    assert(Tables(spark, dir.toString, "d").columns.toSeq == Seq("a"))
    assert(plan(Tables(spark, dir.toString, "d")).nonEmpty,
      "a directory read is not version-keyed, so it must infer")
    spark.range(4).select(col("id").as("z"))
      .write.mode("overwrite").parquet(table)
    assert(Tables(spark, dir.toString, "d").columns.toSeq == Seq("z"))
    // a missing table fails as a bare parquet read does
    intercept[org.apache.spark.sql.AnalysisException](
      Tables(spark, dir.toString, "missing"))
  }
}
