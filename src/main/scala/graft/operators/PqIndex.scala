package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline product-quantization index artifact (E13; the precompute
  * pattern behind q117, completing what [[IvfIndex]] does for q45).
  *
  * q117 trains its codebook in-query (memoized per session) and encodes
  * every vector IN-ROW at serving time — correct, but the encode argmin
  * re-reads raw embeddings on every query. The deployed PQ layout
  * (Jégou et al., TPAMI 2011 §IV) stores the encoding once:
  *
  *   `<path>/codebook/` — (sub, code, centroid), ≤ m·k rows; `code` is
  *                        the DENSE positional id per sub (Lloyd can
  *                        drop cells, so trained cell ids may be sparse
  *                        — stored codes must never depend on that)
  *   `<path>/codes/`    — (vec_id, codes ARRAY<INT> of length m): the
  *                        whole corpus at m·log₂k bits a row (32 here)
  *
  * Serving then touches THREE sizes of data, in the right order: the
  * m·k-row codebook becomes driver literals (the query's ADC distance
  * table), the codes table is scanned map-only (a builtin higher-order
  * `aggregate` of table lookups — no embeddings read, no join, no
  * shuffle; `TakeOrderedAndProject` keeps the 100-candidate shortlist),
  * and only the 100 survivors' raw embeddings are fetched from the
  * corpus (vec_id equi-join, broadcast at shortlist size) for the exact
  * re-rank. At 100 TB that is a 64×-smaller scan per query than q117's
  * in-row encode, for the identical answer — `PqIndexSpec` pins the
  * probe's top-10 equal to q117's on the same corpus.
  */
object PqIndex {

  val M = 8
  val K = 16

  /** vec_id-hash shard count for the codes table. Serving scans every
    * bucket anyway (the shortlist is corpus-wide), so the layout costs
    * probes nothing — its point is [[updateFrom]]: a delta's affected
    * buckets are computable from its IDS alone (`xxhash64(vec_id) mod
    * VBuckets`), no read of the old artifact needed to route the
    * partition rewrite. */
  val VBuckets = 64

  /** Format/params token folded into the shared-cache directory name
    * ([[VectorOps.artifactDir]]): bump the trailing version on ANY
    * change to the layout or training recipe so stale artifacts built
    * by old code are orphaned, not served. v2 = adds the `codes_count`
    * meta file the probe's default shortlist budget reads; v3 = codes
    * partitioned by the [[VBuckets]] vec_id shard for incremental
    * maintenance. */
  def formatTag: String = s"m${M}k${K}v3"

  private def vbucketCol(vecId: org.apache.spark.sql.Column) =
    pmod(xxhash64(vecId), lit(VBuckets.toLong)).cast("int")

  /** `<path>/codes_count` as a Hadoop path — works for local, hdfs://,
    * s3a:// alike (build's direct-call contract is any Spark-writable
    * path, only the [[VectorOps.artifactDir]] cache is local-only). */
  private def metaPath(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path, "codes_count")

  /** Train + encode at `path`. One pass trains ([[VectorOps.pqCodebook]],
    * deterministic), one pass encodes every vector's m sub-space argmins
    * into the dense positional code array. */
  def build(e: DataFrame, path: String, iters: Int = 3): Unit = {
    val corpus = e.filter(col("vec_id") =!= 0)
    val dim = corpus.select(size(col("embedding"))).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % M == 0, s"dim $dim not divisible by m=$M")
    val dsub = dim / M
    val cents = VectorOps.pqCodebook(e, M, dsub, K, iters)
    val dense = cents.withColumn("code",
      (row_number().over(Window.partitionBy(col("sub"))
        .orderBy(col("cell"))) - 1).cast("int"))
    dense.select(col("sub"), col("code"), col("centroid"))
      .write.mode("overwrite").parquet(s"$path/codebook")
    encodeWith(corpus, dense.select(col("sub"), col("code"), col("centroid")))
      .write.mode("overwrite").partitionBy("vbucket").parquet(s"$path/codes")
    writeCodesCount(e.sparkSession, path)
  }

  /** Encode `(vec_id, embedding)` rows against a stored DENSE codebook
    * `(sub, code, centroid)`: per-(vec, sub) argmin, positional codes
    * array, vec_id shard column. Shared by [[build]] and
    * [[updateFrom]] — the dense ids ARE the argmin cell ids here, and
    * the dense mapping is order-preserving over the trained cell ids,
    * so encoding against the stored codebook reproduces the build's
    * encode bit-for-bit (lowest-cell tiebreak included). */
  private def encodeWith(vecs: DataFrame, denseCb: DataFrame): DataFrame = {
    val dsub = denseCb.select(size(col("centroid"))).limit(1)
      .collect().head.getInt(0)
    VectorOps.assignPq(VectorOps.subVectors(vecs, M, dsub),
        denseCb.select(col("sub"), col("code").as("cell"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, cell))), " +
        "x -> x.cell)").as("codes"))
      .select(col("vec_id"), col("codes"), vbucketCol(col("vec_id")).as("vbucket"))
  }

  /** Stored-codes row count as a plain meta file: the probe's default
    * shortlist budget derives from it, and reading it must not cost a
    * Spark job per probe (round-8 advisor — the old probe ran
    * `read.parquet(codes).count()` at serve time). Resolved through
    * Hadoop FileSystem, not java.nio: build targets a cluster path
    * (hdfs://, s3a://) when called directly — the documented
    * non-local-cache route — and the meta file must land beside the
    * codes wherever Spark wrote them. */
  private def writeCodesCount(spark: SparkSession, path: String): Unit = {
    val n = codes(spark, path).count()
    val meta = metaPath(path)
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(meta, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Batched serving — [[probe]]'s ADC shortlist + exact re-rank for a
    * query BATCH in ONE codes scan (round-9 verdict item 3, completing
    * what [[IvfIndex.probeBatch]] did for the coarse-quantizer family).
    * The per-query ADC distance tables are computed DRIVER-side
    * against the m·k-row codebook (the batch is bounded — a retrieval
    * tier's micro-batch, not a corpus) and ride as ONE broadcast
    * (q_id, dt) block, so each stored code row is scored against every
    * query in-row with table lookups — embeddings untouched, no
    * shuffle below the frontier. Both the shortlist and the final
    * top-`k` run as `row_number ≤ n` per q_id — Spark's map-side
    * `WindowGroupLimit` frontier (q122/q135's law): the q_id exchange
    * carries ≤ n·|queries|·partitions rows regardless of corpus size.
    * Only the ≤ shortlist·|queries| survivors' embeddings are fetched
    * for the exact re-rank (null-filtered: a malformed corpus row
    * must not outrank real ones). Returns (q_id, rnk, vec_id, l2). */
  def probeBatch(spark: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, k: Int = 10,
      shortlistOpt: Option[Int] = None): DataFrame =
    probeBatchCore(spark,
      VectorOps.codebookMap(codebook(spark, path), "code"),
      codes(spark, path),
      shortlistOpt.getOrElse(defaultShortlist(spark, path)),
      queries, corpus, k)

  /** [[probeBatch]] against the CURRENT snapshot of a [[VersionedTable]]
    * at `root` — the per-micro-batch resolve behind
    * [[graft.streaming.StreamingOps.pqServeStream]]'s live rollover.
    * Codebook, codes, and the shortlist budget's count come from ONE
    * resolved manifest. The exact re-rank needs the RAW embeddings,
    * which the PQ artifact deliberately does not store — `corpusOf`
    * maps the resolved snapshot VERSION to the rerank store so the
    * caller can bind embeddings that are consistent with that commit
    * (rerank against another version's embedding of an upserted vec_id
    * would score the wrong vector). */
  def probeBatchVersioned(spark: SparkSession, root: String,
      queries: DataFrame, corpusOf: Long => DataFrame, k: Int = 10,
      shortlistOpt: Option[Int] = None): DataFrame = {
    val snap = VersionedTable.currentSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no PQ snapshot at $root"))
    probeBatchCore(spark,
      VectorOps.codebookMap(
        VersionedTable.readExtra(spark, snap, root, "codebook",
          codebookSchema), "code"),
      VersionedTable.read(spark, snap, root, codesSchema),
      shortlistOpt.getOrElse(
        AnnParams.adcShortlist(versionedCount(spark, root, snap))),
      queries, corpusOf(snap.version), k)
  }

  /** The ONE definition of the batched ADC plan (path-backed and
    * versioned callers differ only in where codebook/codes/shortlist
    * come from). */
  private def probeBatchCore(spark: SparkSession,
      cb: Map[Int, Array[Array[Float]]], codes: DataFrame, shortlist: Int,
      queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val qs = queries.select(col("q_id"), col("q_emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qs.nonEmpty, "empty query batch")
    require(cb.size == M, s"codebook covers ${cb.size} of $M sub-spaces")
    val qdt = qs.map { case (qid, qv) =>
      val dsub = qv.length / M
      (qid, VectorOps.adcSqTable(cb, M,
        s => qv.slice(s * dsub, (s + 1) * dsub).map(_.toDouble))
        .map(_.toSeq).toSeq)
    }.toSeq.toDF("q_id", "dt")
    val adc = aggregate(sequence(lit(0), lit(M - 1)), lit(0.0),
      (acc, s) => acc +
        element_at(element_at(col("dt"), s + 1),
          element_at(col("codes"), s + 1) + 1))
    val shortlistW = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id"))
    val ids = codes
      .crossJoin(broadcast(qdt))
      .select(col("q_id"), col("vec_id"), roundVal(adc, 4).as("adc"))
      .withColumn("srn", row_number().over(shortlistW))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val rerankW = Window.partitionBy(col("q_id"))
      .orderBy(col("l2").asc, col("vec_id"))
    ids.join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        roundVal(VectorOps.sqDist(col("embedding"), col("q_emb")), 4)
          .as("l2"))
      .filter(col("l2").isNotNull)
      .withColumn("rnk", row_number().over(rerankW))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("l2"))
  }

  /** Incremental maintenance under the FROZEN codebook (the
    * FAISS/Lucene split, as in [[IvfIndex.updateFrom]]): only the
    * delta (`upserts` = added ∪ changed `(vec_id, embedding)`,
    * `removedIds` = `(vec_id)`) is encoded, and the rewrite touches
    * exactly the [[VBuckets]] shards the delta ids hash to — computed
    * WITHOUT reading the old artifact, which is the point of the
    * vec_id-keyed layout. The codes_count meta is re-stamped (one
    * count job — offline-maintenance cost). `IndexMaintenanceSpec`
    * pins `updateFrom(v1→v2)` row-set-equal to a fresh encode of v2
    * under the same frozen codebook. */
  def updateFrom(spark: SparkSession, path: String, upserts: DataFrame,
      removedIds: DataFrame): Unit = {
    val denseCb = codebook(spark, path).localCheckpoint()
    val dropIds = removedIds.select(col("vec_id"))
      .union(upserts.select(col("vec_id"))).distinct().localCheckpoint()
    val affectedBuckets = IndexMaintenance.distinctVals(
      dropIds.select(vbucketCol(col("vec_id")).as("vbucket")), "vbucket")
    val kept = codes(spark, path)
      .filter(col("vbucket").isin(affectedBuckets: _*))
      .join(broadcast(dropIds), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("codes"), col("vbucket"))
    val added = encodeWith(
      upserts.select(col("vec_id"), col("embedding")), denseCb)
    IndexMaintenance.replacePartitions(spark, s"$path/codes", "vbucket",
      affectedBuckets, kept.unionByName(added))
    writeCodesCount(spark, path)
  }

  /** Explicit schemas for artifact reads, versioned and path-backed. */
  val codesSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("codes", ArrayType(IntegerType)),
      StructField("vbucket", IntegerType)))
  }
  private val codebookSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("sub", IntegerType),
      StructField("code", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
  }
  private val vStatsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))

  /** A path-backed artifact's tables, read with their declared schemas:
    * the engine wrote them, so no read pays a schema-inference job. */
  private def codebook(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(codebookSchema).parquet(s"$path/codebook")
  private def codes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(codesSchema).parquet(s"$path/codes")

  /** [[build]] into a [[VersionedTable]] at `root`: dense codebook and
    * the stored-codes count ride as extras of the SAME snapshot as the
    * codes they describe — the count can never be served against codes
    * from a different commit (the shortlist budget stays honest under
    * maintenance), and the codebook/codes pairing is atomic like the
    * IVF family's. */
  def buildVersioned(spark: SparkSession, e: DataFrame, root: String,
      iters: Int = 3, properties: Map[String, String] = Map.empty): Long = {
    import spark.implicits._
    val corpus = e.filter(col("vec_id") =!= 0)
    val dim = corpus.select(size(col("embedding"))).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % M == 0, s"dim $dim not divisible by m=$M")
    val cents = VectorOps.pqCodebook(e, M, dim / M, K, iters)
    val dense = cents.withColumn("code",
      (row_number().over(Window.partitionBy(col("sub"))
        .orderBy(col("cell"))) - 1).cast("int"))
      .select(col("sub"), col("code"), col("centroid"))
      .localCheckpoint()
    val rows = encodeWith(corpus, dense).localCheckpoint()
    VersionedTable.publishFull(spark, root, "vbucket", rows,
      Map("codebook" -> dense, "stats" -> Seq(rows.count()).toDF("n")),
      properties)
  }

  /** [[updateFrom]] against a versioned index: same frozen-codebook
    * delta-encode, but the count MOVES BY THE DELTA instead of a full
    * recount (old total from the snapshot's stats extra, minus the
    * affected buckets' prior rows, plus their replacements — all
    * delta-bounded reads), and codes+count publish as ONE snapshot. */
  def updateFromVersioned(spark: SparkSession, root: String,
      upserts: DataFrame, removedIds: DataFrame,
      properties: Map[String, String] = Map.empty): Long = {
    import spark.implicits._
    VersionedTable.retryingPublish(spark, root) { snap =>
      // derived from the ATTEMPT's base snapshot ([[Bm25Index
      // .updateFromVersioned]]'s rationale): the count delta in
      // particular MUST be computed against the base actually being
      // committed over, or a lost race would double-move it
      val denseCb = VersionedTable.readExtra(spark, snap, root, "codebook",
        codebookSchema).localCheckpoint()
      val nOld = VersionedTable.readExtra(spark, snap, root, "stats",
        vStatsSchema).collect().head.getLong(0)
      val dropIds = removedIds.select(col("vec_id"))
        .union(upserts.select(col("vec_id"))).distinct().localCheckpoint()
      val affectedBuckets = IndexMaintenance.distinctVals(
        dropIds.select(vbucketCol(col("vec_id")).as("vbucket")), "vbucket")
      val before = VersionedTable.read(spark, snap, root, codesSchema,
        wanted = Some(affectedBuckets))
      val kept = before.join(broadcast(dropIds), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("codes"), col("vbucket"))
      val added = encodeWith(
        upserts.select(col("vec_id"), col("embedding")), denseCb)
      val replacement = kept.unionByName(added).localCheckpoint()
      val nNew = nOld - before.count() + replacement.count()
      VersionedTable.Delta(affectedBuckets, replacement,
        Map("stats" -> Seq(nNew).toDF("n")), properties)
    }
  }

  /** [[probe]] against the CURRENT snapshot: codebook, codes, and the
    * shortlist budget's count all come from ONE resolved manifest — a
    * publish landing mid-probe cannot pair a new codebook with old
    * codes or a stale budget. The count memo is keyed (root, version)
    * with prior-version eviction, the [[Bm25Index]] pattern. */
  def probeVersioned(spark: SparkSession, root: String, qv: Array[Float],
      corpus: DataFrame, shortlistOpt: Option[Int] = None): DataFrame = {
    val snap = VersionedTable.currentSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no PQ snapshot at $root"))
    val shortlist = shortlistOpt.getOrElse(
      AnnParams.adcShortlist(versionedCount(spark, root, snap)))
    val cb = VectorOps.codebookMap(
      VersionedTable.readExtra(spark, snap, root, "codebook",
        codebookSchema), "code")
    require(cb.size == M, s"codebook covers ${cb.size} of $M sub-spaces")
    val dsub = qv.length / M
    val dt = VectorOps.adcSqTable(cb, M,
      s => qv.slice(s * dsub, (s + 1) * dsub).map(_.toDouble))
    val dtLit = typedlit(dt.map(_.toSeq).toSeq)
    val adc = aggregate(sequence(lit(0), lit(M - 1)), lit(0.0),
      (acc, s) => acc +
        element_at(element_at(dtLit, s + 1),
          element_at(col("codes"), s + 1) + 1))
    val ids = VersionedTable.read(spark, snap, root, codesSchema)
      .select(col("vec_id"), roundVal(adc, 4).as("adc"))
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(shortlist)
    ids.join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("adc"),
        roundVal(VectorOps.sqDist(col("embedding"), typedlit(qv)), 4)
          .as("l2"))
      .filter(col("l2").isNotNull)
      .orderBy(col("l2").asc, col("vec_id"))
      .limit(10)
  }

  private val countMemo = new VersionedTable.SnapshotMemo[java.lang.Long]

  /** Stored-codes count from the snapshot's stats extra, on the shared
    * [[VersionedTable.SnapshotMemo]]. A zero-row read (torn extra)
    * degrades to ONE uncached count job over the snapshot's codes —
    * [[defaultShortlist]]'s exact missing-meta rule, self-healing once
    * the extra reads again. */
  private def versionedCount(spark: SparkSession, root: String,
      snap: VersionedTable.Snapshot): Long =
    countMemo.get(root, snap) {
      VersionedTable.readExtra(spark, snap, root, "stats", vStatsSchema)
        .collect().headOption.map(r => java.lang.Long.valueOf(r.getLong(0)))
    }.map(_.longValue).getOrElse(
      VersionedTable.read(spark, snap, root, codesSchema).count())

  /** Default shortlist budget — [[AnnParams.adcShortlist]] over the
    * stored-codes count from the `codes_count` meta the build stamps
    * (no Spark job at serve time; a missing OR corrupt/empty meta —
    * e.g. a build killed between create and write — degrades to one
    * count job). ONE definition shared by [[probe]] and [[probeBatch]]
    * so the meta format and budget rule cannot silently fork. */
  private def defaultShortlist(spark: SparkSession, path: String): Int = {
    val meta = metaPath(path)
    val fs = meta.getFileSystem(spark.sessionState.newHadoopConf())
    val n = (if (fs.exists(meta)) {
        val in = fs.open(meta)
        val txt = try new String(in.readAllBytes(), "UTF-8").trim
          finally in.close()
        scala.util.Try(txt.toLong).toOption
      } else None)
      .getOrElse(codes(spark, path).count())
    AnnParams.adcShortlist(n)
  }

  /** Serve one query from the built artifact: ADC shortlist over the
    * stored CODES (map-only — embeddings untouched), exact re-rank of
    * the ≤`shortlist` survivors against `corpus` by vec_id. Returns
    * (vec_id, adc, l2) top-10 in q117's shape. The shortlist budget
    * defaults to the same corpus-derived size q117's in-query path uses
    * ([[AnnParams.adcShortlist]] over the stored-codes count, read from
    * the `codes_count` meta file the build stamps — no Spark job at
    * serve time; a pre-v2 artifact without the file falls back to one
    * count job), keeping artifact and in-query answers identical. */
  def probe(spark: SparkSession, path: String, qv: Array[Float],
      corpus: DataFrame, shortlistOpt: Option[Int] = None): DataFrame = {
    val shortlist = shortlistOpt.getOrElse(defaultShortlist(spark, path))
    // the ONE shared loader + ADC-table recipe (VectorOps.codebookMap /
    // adcSqTable — the positional ordering contract lives there, shared
    // with the in-query q117/q118 paths this probe is spec-pinned
    // equal to); the artifact's dense `code` column is the id
    val cb = VectorOps.codebookMap(codebook(spark, path), "code")
    require(cb.size == M, s"codebook covers ${cb.size} of $M sub-spaces")
    val dsub = qv.length / M
    val dt = VectorOps.adcSqTable(cb, M,
      s => qv.slice(s * dsub, (s + 1) * dsub).map(_.toDouble))
    val dtLit = typedlit(dt.map(_.toSeq).toSeq)
    val adc = aggregate(sequence(lit(0), lit(M - 1)), lit(0.0),
      (acc, s) => acc +
        element_at(element_at(dtLit, s + 1),
          element_at(col("codes"), s + 1) + 1))
    val ids = codes(spark, path)
      .select(col("vec_id"), roundVal(adc, 4).as("adc"))
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(shortlist)
    ids.join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("adc"),
        roundVal(VectorOps.sqDist(col("embedding"), typedlit(qv)), 4)
          .as("l2"))
      // sqDist NULLs length-mismatched embeddings and asc sorts nulls
      // FIRST — without this a malformed corpus row in the shortlist
      // would serve as the #1 result (the guard every sibling exact
      // re-rank carries; round-9 advisor)
      .filter(col("l2").isNotNull)
      .orderBy(col("l2").asc, col("vec_id"))
      .limit(10)
  }
}
