package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata star schema (TESTDATA.md / FIXTURES.md).
  *
  * Each table is a single parquet file per scale factor. At cluster scale
  * these would be partitioned directories; `spark.read.parquet` handles both
  * shapes identically, so nothing here assumes single-file inputs.
  *
  * Schema resolution is paid once per file VERSION, not once per read: a
  * bare `spark.read.parquet` launches a 1-task schema-inference job every
  * time it is called, and the ANN/curation queries load the same table
  * up to seven times per call. A single-file read infers once, caches the
  * `StructType` under (session, qualified path), and every later read of
  * the same version is `spark.read.schema(cached).parquet(path)`, which
  * plans with no Spark job. The version is the file's length and
  * modification time plus the session's parquet schema-inference confs,
  * so a file rewritten in place (or a conf flip that changes how a type
  * reads) infers afresh. Only the schema is reused: the file listing
  * stays fresh on every read. Directory paths (a partitioned table) keep
  * the inferring read, since no single status versions their contents.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Confs that change what parquet schema inference yields for a file. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** Latest resolved (version, schema) per qualified file path, per
    * session. Sessions are weak keys ([[Memo]]'s map); the values hold no
    * session reference, so an unused session's entry is collectable. One
    * entry per path: a new version replaces the old one. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]]()

  private def schemasFor(spark: SparkSession) = schemas.synchronized {
    schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap())
  }

  /** Read `<sfDir>/<name>.parquet`: a single file resolves its schema once
    * per version (the object note); a directory, or a path that does not
    * exist, reads exactly as `spark.read.parquet` does. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val status =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val version = Seq(st.getLen, st.getModificationTime) ++
          inferenceConfs.map(spark.conf.getOption)
        val m = schemasFor(spark)
        val key = fs.makeQualified(p).toString
        val schema = Option(m.get(key)).filter(_._1 == version)
          .map(_._2).getOrElse {
            val inferred = spark.read.parquet(path).schema
            m.put(key, (version, inferred))
            inferred
          }
        spark.read.schema(schema).parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS). What the reader yields for it
    * has CHANGED across Spark builds: with
    * `spark.sql.legacy.parquet.nanosAsLong=true` older readers produce a
    * nanos-since-epoch LongType, while current 4.1.x ignores that legacy
    * conf and produces TIMESTAMP_NTZ (nanos truncated to micros). Every
    * event operator is written against the nanos-long contract, so this
    * loader normalizes by dispatching on the READ schema (the reference's
    * own dtype-dispatch move, `app.py:136` — dispatch on what arrived,
    * not on what was configured): LongType passes through; a timestamp
    * column is rebuilt as nanos. Sub-microsecond digits are lost on the
    * NTZ path — immaterial here because every consumer floors to ms (as
    * does the DuckDB oracle's `epoch_ms`). The NTZ→instant cast uses the
    * session timezone, which every entry point pins to UTC. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000L"))
      case TimestampType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Name → normalizing loader ([[events]]' ts dispatch included) —
    * callers registering every table (e.g. the ad-hoc SQL view setup)
    * must get the same columns the operators consume, not the raw read. */
  def loader(name: String): (SparkSession, String) => DataFrame = name match {
    case "events" => events
    case t => (s, d) => apply(s, d, t)
  }
}

/** Session tuning applied by every operator builder: adaptive execution on,
  * so shuffle partition counts, skew joins and broadcast decisions re-plan at
  * runtime — the knobs that matter when the same plan runs at 1000× the data.
  * All settings are runtime SQL confs (safe to set on a live session).
  */
object GraftSession {
  /** Spread a small-file scan across the session's cores ahead of a
    * CPU-heavy per-row stage (explode / lambda / regex over every token).
    * The fixture tables are single parquet files with ONE row group, so
    * Spark hands the whole scan to ONE task — and a non-shuffling pipeline
    * after it (explode → map-side partial agg) stays on that one core no
    * matter how many are idle. Hash-repartitioning on the row key is a
    * kilobyte-scale shuffle here, is deterministic, and lets a downstream
    * groupBy whose keys contain the spread key reuse the exchange. At
    * cluster scale inputs arrive in thousands of splits and this becomes a
    * cheap no-op-sized insurance, not a cost. */
  def spread(df: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  def tune(spark: SparkSession): SparkSession = {
    // The nanos-long contract in [[Tables.events]] rebuilds TIMESTAMP_NTZ
    // as nanos via an NTZ→instant cast that consults the SESSION timezone;
    // entry points that build their own SparkSession (TimeOne, Explain, an
    // external embedder) would otherwise inherit the machine TZ and shift
    // every timestamp by the local offset. timeZone is runtime-settable,
    // so pin it here where every operator path already passes through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // coalesce to the advisory partition SIZE rather than preserving
    // parallelism: small shuffles collapse to few real tasks instead of
    // `shuffle.partitions` near-empty ones, and at 100 TB reducers are
    // sized by bytes, not by a static partition count (the setting Spark's
    // AQE docs recommend for production)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "false")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // answer bare MIN/MAX/COUNT(*) from parquet footer statistics instead
    // of scanning data pages (q17/q50's metadata-probe queries — at 100 TB
    // this is the difference between a footer read and a full-table scan).
    // Aggregate pushdown is implemented only in the DSv2 parquet reader, so
    // path-based parquet scans are routed to V2 (catalog/bucketed tables
    // keep their V1 path — table resolution doesn't consult this list).
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList",
      "avro,csv,json,kafka,orc,text")
    // events.ts is parquet TIMESTAMP(NANOS): older readers honor this
    // legacy conf (nanos → LongType); current 4.1.x ignores it and yields
    // TIMESTAMP_NTZ. Kept for the older path; [[Tables.events]] dispatches
    // on the schema actually read, so event ops work under either reader.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // custom expressions as SQL functions (simhash64, cosine_similarity,
    // st_point, ...) — idempotent
    GraftFunctions.register(spark)
    spark
  }
}
