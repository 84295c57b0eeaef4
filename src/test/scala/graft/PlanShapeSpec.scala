package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for the physical-plan properties that decide 100 TB
  * behavior. A refactor that silently loses a broadcast, reintroduces a
  * cartesian product, or drops parquet pushdown changes these plans long
  * before it changes sf0.01 results — so the shapes are asserted here,
  * not just eyeballed in `Bench --plans` dumps.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE so the asserted plan is the executed one
    df.queryExecution.executedPlan.toString()
  }

  test("q10 dimension joins broadcast the small side (no sort-merge of dims)") {
    val p = plan("q10_join_multi")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"))
  }

  test("q20 snapshot scan pushes the filter and prunes columns") {
    val p = plan("q20_snapshot_projection")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n${p.take(800)}")
    // 5 of 16 lineitem columns in the read schema
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"column pruning lost: $readSchema")
  }

  test("q61 packing attaches offsets via broadcast join, not a when-chain") {
    val p = plan("q61_sequence_packing")
    assert(p.contains("BroadcastHashJoin"), "offsets must broadcast-join")
    assert(!p.contains("CASE WHEN"),
      "O(P)-deep case expression reintroduced in the offset attach")
  }

  test("LSH pipelines never plan a cartesian product") {
    Seq("q43_dedup_minhash", "q44_dedup_simhash", "q52_ann_neardup_lsh",
      "q62_dedup_clusters").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n${p.take(500)}")
    }
  }

  test("q100 prefix-filtered Jaccard join: candidate equi-join, no cartesian") {
    val p = plan("q100_jaccard_join")
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(500))
  }

  test("q99 phrase search: postings aggregate, no positional self-join") {
    val p = plan("q99_phrase_search")
    assert(!p.contains("CartesianProduct"), p.take(500))
    // one aggregate pair (partial+final) for postings, one for the per-doc
    // map — adjacency is in-plan array work, not a join
    assert(!p.contains("SortMergeJoin"), p.take(500))
  }

  test("q55 decontamination broadcasts the benchmark gram set (corpus never shuffles to it)") {
    val p = plan("q55_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(500))
  }

  test("bloom decontamination: codegen'd probe, no forced broadcast on the verify join") {
    val df = ops.Decontamination.bloomOverlapReport(
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 0),
      "doc_id", "text",
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0),
      "text", n = 6)
    // the probe must be the native expression, not a UDF that breaks
    // whole-stage codegen on the corpus scan
    val analyzed = df.queryExecution.analyzed.toString()
    assert(analyzed.contains("bloom_might_contain"), analyzed.take(800))
    assert(!analyzed.toLowerCase.contains("udf"),
      s"the bloom prefilter regressed to a UDF:\n${analyzed.take(800)}")
    // the verify join must carry NO mandatory broadcast hint — this
    // variant exists for benchmark sets too big to broadcast; AQE may
    // still CHOOSE a broadcast at this size, so assert on the logical
    // plan's hints, not the executed join's physical strategy
    val withHints = df.queryExecution.logical.toString()
    assert(!withHints.contains("UnresolvedHint") &&
      !withHints.toLowerCase.contains("broadcast"),
      s"bloom verify join must not force a broadcast:\n${withHints.take(800)}")
    df.collect() // and the plan must actually execute
  }

  test("PQ probe is exchange-free: scan -> filter -> ADC project -> TakeOrdered") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).head.getSeq[Float](1)
    val cents = ops.Similarity.trainCentroids(emb, "embedding", k = 8, iters = 2)
    val books = ops.Similarity.trainPq(emb, "embedding", cents, m = 8)
    val codes = ops.Similarity.pqEncode(emb, "vec_id", "embedding", cents, books)
    val probe = ops.Similarity.pqTopK(codes, "vec_id", cents, books, q, 10, nprobe = 4)
    probe.collect()
    val p = probe.queryExecution.executedPlan.toString
    // the whole probe must be one map-side pipeline: no shuffle anywhere
    // (TakeOrderedAndProject merges per-partition heaps on the driver)
    assert(!p.contains("Exchange"),
      s"PQ probe grew a shuffle:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("q97 PQ join: LUT never crosses an exchange; encode kernel stays out of the match loop") {
    val p = plan("q97_pq_knn_join")
    assert(!p.contains("CartesianProduct"))
    // the per-query ADC lookup table must be projected away before the
    // top-k window's shuffle: an Exchange whose hashpartitioning input
    // carries the lut attribute means 8-32 KB rows ride the shuffle
    val exchanges = "Exchange hashpartitioning[^\n]*".r.findAllIn(p).toSeq
    assert(exchanges.nonEmpty, s"expected hash exchanges in:\n${p.take(600)}")
    assert(!exchanges.exists(_.contains("lut")),
      s"lut column crossed an exchange:\n${exchanges.mkString("\n")}")
    // the code index is pinned (localCheckpoint scan), so pq_code must
    // not appear in the join stage at all — a lazy inline encode would
    // re-run the kernel once per candidate row (see pqKnnJoin scaladoc)
    assert(!p.contains("pq_code"),
      "encode expression leaked into the join-time plan (index not pinned)")
  }

  test("q66 dup-ngram report joins grams per-key, never pairwise docs") {
    val p = plan("q66_dup_ngrams")
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(500))
  }

  test("q67 DSIR broadcasts the scalar totals; the model join is keyed") {
    val p = plan("q67_dsir_weights")
    // the 1-row totals frame must ride a broadcast nested-loop (cross)
    // join, while the vocab join stays a keyed hash join — if the totals
    // ever shuffle or the vocab join degrades to a loop, scale is gone
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(!p.contains("SortMergeJoin"),
      "the vocab scoring join degraded from a broadcast to a sort-merge")
  }

  test("q68 SemDeDup pairs via the cluster equi-join, no cartesian") {
    val p = plan("q68_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "within-cluster pairing must stay an equi-join on the cluster key")
  }

  test("q69 mixture normalizer rides a broadcast") {
    val p = plan("q69_domain_mixture")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("q105 range join: bin equi-join, never a nested-loop range join") {
    val p = plan("q105_range_join")
    assert(!p.contains("CartesianProduct"), p.take(500))
    // the whole point of the binned decomposition: Spark's native plan
    // for a pure range predicate is BroadcastNestedLoopJoin
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(500))
  }

  test("q107 SQ8 is exchange-free: map encode -> ADC scan -> TakeOrdered") {
    val p = plan("q107_ann_sq8")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      s"SQ8 path must not shuffle:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
  }

  test("q108 index merge: anti-join on doc_id, base rows never re-aggregate") {
    val p = plan("q108_index_merge")
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(p.contains("LeftAnti"), "replacement must be an anti-join:\n" + p.take(500))
  }

  test("q112 KLL: sketch rides partial aggregation; probes broadcast") {
    val p = plan("q112_kll_quantiles")
    assert(!p.contains("CartesianProduct"), p.take(500))
    // the summary aggregate must partial-aggregate (merge path), not
    // funnel raw rows to one node
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "kll_sketch must run as a real aggregate:\n" + p.take(800))
  }

  test("q114 WordPiece keeps the vocab-factored shape: distinct words then re-attach") {
    val df = SparkEntry.queries("q114_wordpiece_ids")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), p.take(500))
    assert(p.contains("HashAggregate"), "distinct-word pass missing")
    // the kernel expression lives in the aggregate's result projection
    // (elided from the physical toString) — assert it on the optimized
    // logical plan, and that it is applied AFTER the distinct
    val lp = df.queryExecution.optimizedPlan.toString()
    assert(lp.contains("wordpiece_ids"), "kernel expression missing:\n" + lp.take(800))
    assert(lp.indexOf("wordpiece_ids") < lp.indexOf("Deduplicate") ||
      lp.contains("Aggregate"), "vocab factoring lost:\n" + lp.take(800))
  }

  test("q295-q306 (round 15c/16 additions) never plan a cartesian product") {
    // the PLANAUDIT cart=0 invariant, asserted for the newest battery:
    // Cox, burstiness, Heaps, AR forecast, robust location, frequent
    // sequences, uplift, seasonal strength, binary segmentation,
    // quantile regression, probability-to-beat, RMST
    Seq("q295_cox_ph", "q296_burstiness", "q297_heaps_law",
      "q298_ar_forecast", "q299_robust_location",
      "q300_frequent_sequences", "q301_uplift_tlearner",
      "q302_seasonal_strength", "q303_binary_segmentation",
      "q304_quantile_reg", "q305_prob_best", "q306_rmst").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q planned a cartesian:\n${p.take(500)}")
    }
  }

  test("q115 PageRank: no cartesian across 5 iterative rounds") {
    val p = plan("q115_pagerank")
    assert(!p.contains("CartesianProduct"), p.take(500))
  }

  test("q119 z-order read-back: box predicates pushed, files pruned") {
    val df = SparkEntry.queries("q119_zorder_read")(spark, sf)
    df.collect()
    // descend through AQE wrappers (collect() stops at query-stage leaves)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scan in plan")
    // both range predicates reach the parquet scan (scan metadata is the
    // untruncated source; plan toString elides long filter lists)
    val pushed = scans.map(_.metadata("PushedFilters")).mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(l_partkey,0)") &&
      pushed.contains("LessThanOrEqual(l_partkey,60)") &&
      pushed.contains("GreaterThanOrEqual(l_suppkey,0)") &&
      pushed.contains("LessThanOrEqual(l_suppkey,3)"),
      s"box predicates not pushed: $pushed")
    // Plain parquet has no file-stats catalog, so skipping happens at
    // ROW-GROUP granularity via footer min/max (one row group per file
    // at this size). Two pieces of evidence that the z-order layout
    // makes the box query cheap:
    //  1. layout quality: few of the 16 written files INTERSECT the box
    //     (their min/max envelopes miss it) — the stats a pruning engine
    //     consults;
    //  2. engine behavior: the scan materializes far fewer rows than the
    //     table holds, because non-intersecting row groups were skipped
    //     by the pushed predicates.
    import org.apache.spark.sql.functions.col
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_zorder_" + sf.replaceAll("[^a-zA-Z0-9]", "_")).getAbsolutePath
    val zdf = spark.read.parquet(path)
    val stats = graft.ops.Layout.fileStats(zdf, Seq("l_partkey", "l_suppkey"))
      .localCheckpoint(true)
    val nFiles = stats.count()
    val hit = stats.filter(!(col("max_l_partkey") < 0 ||
      col("min_l_partkey") > 60 || col("max_l_suppkey") < 0 ||
      col("min_l_suppkey") > 3)).count()
    assert(nFiles == 16, s"expected 16 z-ordered files, found $nFiles")
    assert(hit > 0 && hit <= nFiles / 2,
      s"z-order layout not clustering: box intersects $hit of $nFiles files")
    val scanRows = scans.map(_.metrics("numOutputRows").value).sum
    val total = zdf.count()
    assert(scanRows < total / 2,
      s"row-group skipping ineffective: scan materialized $scanRows of $total rows")
  }
}
