package graft

import graft.operators.{AnnParams, IvfIndex, VectorOps}
import org.apache.spark.sql.functions._

/** Specs for the offline IVF artifact (build/probe) and the corpus-scaled
  * ANN parameter derivations behind q43/q45/q48. */
class IvfIndexSpec extends SparkSpec {

  test("AnnParams derivations: monotone, clamped, and recall-sound") {
    // lshBits: bucket count tracks n/target; clamps at both ends
    assert(AnnParams.lshBits(10) == 2)
    assert(AnnParams.lshBits(2000) == 6) // 2^6 buckets ≈ 31/bucket
    assert(AnnParams.lshBits(1L << 40) == 24)
    assert(AnnParams.lshBits(500) <= AnnParams.lshBits(2000))
    // ivfCells: √n rule with clamps
    assert(AnnParams.ivfCells(0) == 2)
    assert(AnnParams.ivfCells(2000) == 45)
    assert(AnnParams.ivfCells(100000000L) == 4096)
    // adcShortlist: quarter-corpus at fixture sizes, 4096 cap survives
    // Int-overflow-scale corpora (10^10 vectors)
    assert(AnnParams.adcShortlist(500) == 125)
    assert(AnnParams.adcShortlist(10) == 100)
    assert(AnnParams.adcShortlist(10000000000L) == 4096)
    // ivfProbeCells: quarter of the cells, capped 64
    assert(AnnParams.ivfProbeCells(22) == 6)
    assert(AnnParams.ivfProbeCells(4096) == 64)
    // bandedLsh: derived shape meets the recall target it was asked for
    // (via the same banding formula), and rowBits tracks log2 n
    for (n <- Seq(300L, 2000L, 100000L); t <- Seq(0.5, 0.7, 0.95)) {
      val (b, r) = AnnParams.bandedLsh(n, t)
      assert(r >= 2 && r <= 24 && b >= 1 && b <= 256)
      if (b < 256) // below the visible clamp the target must be met
        assert(AnnParams.bandedRecall(b, r, t) >= 0.9,
          s"n=$n t=$t -> ($b,$r) misses target")
    }
    // the documented exponent story: high thresholds need FAR less work
    // (bands × bits, the per-vector hash volume)
    val (bLow, rLow) = AnnParams.bandedLsh(2000, 0.5)
    val (bHigh, rHigh) = AnnParams.bandedLsh(2000, 0.95)
    assert(bHigh * rHigh * 4 < bLow * rLow,
      s"work at 0.95 ($bHigh×$rHigh) should be ≪ work at 0.5 ($bLow×$rLow)")
    // deep-negative thresholds: p^r underflows 1-p^r to 1.0 for large r,
    // where log(1-pr) is -0.0 and the cost argmin would return a silent
    // near-zero-recall (1, r) shape — log1p keeps the formula finite, so
    // the returned shape still honors the target (or visibly clamps)
    for (t <- Seq(-0.9, -0.5); n <- Seq(500L, 100000L)) {
      val (b, r) = AnnParams.bandedLsh(n, t)
      assert(r >= 2 && r <= 24 && b >= 1 && b <= 256)
      assert(b == 256 || AnnParams.bandedRecall(b, r, t) >= 0.98,
        s"t=$t n=$n -> ($b,$r) recall ${AnnParams.bandedRecall(b, r, t)}")
    }
  }

  test("built index round-trips: artifact probe == in-query q45, partition-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val corpus = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val t0 = System.nanoTime()
    IvfIndex.build(corpus, dir)
    val tBuild = (System.nanoTime() - t0) / 1e9
    // codebook round-trip: loaded == retrained (training is deterministic)
    val loaded = IvfIndex.loadCodebook(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    val retrained = IvfIndex.train(corpus)
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(loaded == retrained, "codebook must round-trip through parquet")
    assert(loaded.size > 2 && loaded.size <= AnnParams.ivfCells(corpus.count()))
    // artifact probe == the declared q45 (same derived params, same corpus,
    // ±the count including the query row — both sides land on the same k)
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    // same derived probe width as the in-query core (from the REQUESTED
    // cell count — Lloyd may drop cells, and the core derives from k)
    val nProbe = AnnParams.ivfProbeCells(
      AnnParams.ivfCells(Tables.embeddings(spark, sfDir).count()))
    val t1 = System.nanoTime()
    val served = IvfIndex.probe(spark, dir, q, Some(nProbe)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val tCold = (System.nanoTime() - t1) / 1e9
    val inQuery = VectorOps.annIvfCore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(served == inQuery, "artifact probe must equal the in-query q45 core")
    val t2 = System.nanoTime()
    IvfIndex.probe(spark, dir, q).collect()
    val tWarm = (System.nanoTime() - t2) / 1e9
    info(f"build $tBuild%.2f s; probe cold $tCold%.2f s / warm $tWarm%.2f s " +
      "(training cost lives in build, not in any probe)")
    // the probe plan reads the partitioned assignments with a pruning
    // filter on the cell join key — no training stage, no Lloyd lineage
    val plan = IvfIndex.probe(spark, dir, q).queryExecution.executedPlan.toString
    assert(plan.contains("assignments"), "probe must scan the artifact")
    assert(!plan.toLowerCase.contains("posexplode"),
      "probe plan must not contain training stages")
  }

  test("√n boundary: nlist derived from the query-INCLUDING count keeps artifact == in-query parity") {
    // The parity hazard documented at the q132 call site: q45's in-query
    // core derives nlist from the FULL frame count (query row included),
    // while a naive artifact build would derive it from the
    // query-filtered corpus — at √-rounding boundary sizes the two
    // derivations give DIFFERENT cell counts and the codebooks diverge.
    // Corpus of 12 + 1 query row is exactly such a size:
    assert(AnnParams.ivfCells(13) == 4 && AnnParams.ivfCells(12) == 3,
      "13/12 must straddle a √n rounding boundary for this test to bite")
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 13)
    val corpus = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val k = AnnParams.ivfCells(e.count()) // q132's rule: INCLUDING the query
    val nProbe = AnnParams.ivfProbeCells(k)
    // in-query side (q45's recipe on this slice)
    val cents = VectorOps.ivfCodebook(e, k, iters = 3)
    val inQuery = VectorOps.ivfProbe(corpus, q, cents, nProbe).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    // artifact side (q132's recipe: explicit nlist override)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_bnd").toString
    IvfIndex.build(corpus, dir, nlist = Some(k))
    val served = IvfIndex.probe(spark, dir, q, Some(nProbe)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(served == inQuery,
      "artifact probe must equal the in-query core at the boundary size")
    // and the naive derivation really is different here — the hazard is
    // live at this size, not hypothetical
    val naiveK = AnnParams.ivfCells(corpus.count())
    assert(naiveK != k, "corpus-count derivation must diverge at the boundary")
  }

  test("literal-cell probe: == in-query core with or without a probed cell's dir, no listing job while planning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cells").toString
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val k = AnnParams.ivfCells(e.count()) // q132's rule
    val nProbe = AnnParams.ivfProbeCells(k)
    IvfIndex.build(corpus, dir, nlist = Some(k))
    val cb = IvfIndex.loadCodebook(spark, dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    // every probed cell has a dir: the artifact answers as q45's core
    assert(pairs(IvfIndex.probe(spark, dir, q, Some(nProbe))) ==
      pairs(VectorOps.annIvfCore(spark, sfDir)))
    // planning reads only the probed cells' dirs: with the parallel-
    // discovery threshold at nProbe, listing every cell dir launches a
    // listing job (the control) and the probe launches none
    val cellDirs = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.toPath)
    assert(cellDirs.length > nProbe, "the control needs more cells than probes")
    val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, nProbe.toString)
    def listings(body: => Any) = JobWatch.jobsDuring(spark)(body)
      .filter(_.startsWith("Listing leaf files"))
    try {
      assert(listings(spark.read.schema(IvfIndex.assignmentsSchema)
        .parquet(s"$dir/assignments").queryExecution.executedPlan).nonEmpty,
        "control: a whole-artifact read must list cells in a job")
      assert(listings(IvfIndex.probe(spark, dir, q, Some(nProbe))
        .queryExecution.executedPlan).isEmpty,
        "the probe must list only its probed cells, on the driver")
    } finally before match {
      case Some(v) => spark.conf.set(thresholdKey, v)
      case None => spark.conf.unset(thresholdKey)
    }
    // the nearest cell loses its dir (as a cell no vector was assigned
    // to has none): the probe still answers as the in-query probe over
    // the same codebook and the corpus without that cell's vectors
    val top = cb.crossJoin(broadcast(q))
      .select(col("cell"), graft.functions.VectorExpressions
        .cosineSimilarity(col("centroid"), col("q_emb")).as("csim"))
      .orderBy(col("csim").desc, col("cell")).limit(1)
      .collect().head.getInt(0)
    val topDir = java.nio.file.Paths.get(dir, "assignments", s"cell=$top")
    val gone = spark.read.parquet(topDir.toString).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(gone.nonEmpty, "the removed cell must have held vectors")
    org.apache.commons.io.FileUtils.deleteDirectory(topDir.toFile)
    val rest = corpus.filter(!col("vec_id").isin(gone: _*))
    val served = pairs(IvfIndex.probe(spark, dir, q, Some(nProbe)))
    assert(served == pairs(VectorOps.ivfProbe(rest, q, cb, nProbe)),
      "a probed cell without a dir must contribute no rows, and nothing else")
    assert(served.map(_._1).intersect(gone).isEmpty)
    // no probed cell has a dir: an empty answer, not a failure
    assert(IvfIndex.probe(spark, dir, q, Some(1)).count() == 0)
  }

  test("q135 probeBatch: served rows are sound, plan is pruned + frontier-limited, batch == per-query probes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_batch").toString
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val k = AnnParams.ivfCells(e.count())
    IvfIndex.build(corpus, dir, nlist = Some(k))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val nProbe = AnnParams.ivfProbeCells(k)
    val batch = IvfIndex.probeBatch(spark, dir, queries, nProbe, k = 5)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // soundness: per query ≤5 rows, ranks contiguous from 1, sims are the
    // exact cosines (cross-checked against the brute-force batch scorer)
    val exact = VectorOps.batchCosineScoredOf(corpus, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.length <= 5 && rows.map(_._2).sorted.toSeq == (1 to rows.length))
      rows.foreach { case (q, _, v, sim) =>
        assert(exact((q, v)) == sim, s"served sim for ($q,$v) must be exact") }
    }
    // batch == union of single-query probes through the same artifact
    // (the batched plan changes the EXECUTION, never the answer)
    queries.collect().foreach { row =>
      val qid = row.getLong(0)
      val single = IvfIndex.probe(spark, dir,
          queries.filter(col("q_id") === qid).select(col("q_emb")), Some(nProbe))
        .limit(5).collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
      val fromBatch = got.filter(_._1 == qid).sortBy(_._2)
        .map(t => t._3 -> t._4).toSeq
      assert(fromBatch == single, s"q$qid: batch must equal the single probe")
    }
    // plan: ONE statically partition-pruned scan of the assignments
    // (literal `cell IN (…)` in PartitionFilters — the union of probed
    // cells), no training lineage, map-side frontier
    val plan = batch.queryExecution.executedPlan.toString
    // AQE wraps the tree (collectLeaves sees only the adaptive root), so
    // pin the FINAL plan's text: exactly one assignments scan line,
    // carrying the literal probed-cell partition predicate
    val finalSection = plan.split("== Initial Plan ==").head
    val scanLines = finalSection.linesIterator.filter(l =>
      l.contains("BatchScan") && l.contains("assignments")).toSeq
    assert(scanLines.size == 1,
      s"exactly ONE assignments scan for the whole batch, got ${scanLines.size}")
    val partFilters = scanLines.head.replaceAll(".*PartitionFilters", "")
    assert(scanLines.head.contains("PartitionFilters") &&
      (partFilters.contains(" IN (") || partFilters.contains(" INSET ")),
      s"assignments scan must carry the literal probed-cell partition " +
        s"predicate: ${scanLines.head.take(400)}")
    assert(!plan.toLowerCase.contains("posexplode"), "no training stages")
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k must run as the map-side frontier")
  }

  test("q135 declared form: exact batch top-5 + green flags; aggregate floor documented-current") {
    val law = VectorOps.batchIvfIndexProbe(spark, sfDir).collect()
    assert(law.length == 40, s"8 queries x top-5 = 40 rows, got ${law.length}")
    assert(law.forall(r => r.getBoolean(4) && r.getBoolean(5)),
      "recall_ok/score_ok must hold on the fixture")
    // deterministic across invocations (artifact reuse + stable frontier)
    val again = VectorOps.batchIvfIndexProbe(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == law.map(_.toSeq).toSeq)
  }

  test("q132 declared form: exact top-10 + green flags; identity-keyed artifact reused, not rebuilt") {
    val law = VectorOps.ivfIndexProbe(spark, sfDir).collect()
    assert(law.length == 10)
    assert(law.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "recall_ok/score_ok must hold on the fixture")
    // a second invocation serves from the SAME artifact: identical rows,
    // and the _SUCCESS marker's mtime proves no rebuild happened
    val marker = VectorOps.ivfArtifactDir(sfDir)
      .resolve("assignments").resolve("_SUCCESS")
    val mtime = java.nio.file.Files.getLastModifiedTime(marker).toMillis
    val again = VectorOps.ivfIndexProbe(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == law.map(_.toSeq).toSeq)
    assert(java.nio.file.Files.getLastModifiedTime(marker).toMillis == mtime,
      "second probe must reuse the artifact, not rebuild it")
  }

  test("q140 declared form: exact planted-v2 top-10 + green flags; versioned lifecycle artifact reused") {
    val law = VectorOps.ivfVersionedProbe(spark, sfDir).collect()
    assert(law.length == 10)
    assert(law.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "recall_ok/score_ok must hold on the fixture")
    // the lifecycle ran ONCE (READY-gated): a second invocation serves
    // off the committed manifest and returns identical rows
    val again = VectorOps.ivfVersionedProbe(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == law.map(_.toSeq).toSeq)
    // the answer reflects the DELTA, not v1: it must differ from the
    // raw-corpus exact top-10 (q132's exact rows) — removed ids gone
    val v1Law = VectorOps.ivfIndexProbe(spark, sfDir).collect()
    assert(law.map(_.getLong(0)).toSeq != v1Law.map(_.getLong(0)).toSeq ||
      law.map(_.getDouble(1)).toSeq != v1Law.map(_.getDouble(1)).toSeq,
      "planted delta must change the exact answer or the law is vacuous")
  }
}
