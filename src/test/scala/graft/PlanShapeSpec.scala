package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, MrCore}

/** Plan-shape and equivalence checks for the round-2 scale fixes. */
class PlanShapeSpec extends SparkSpec {

  test("mr_sort ranks the FULL table through a range exchange") {
    val df = MrCore.mrSort(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected an explicit range exchange in:\n$plan")
    val rows = df.collect()
    val total = Tables.events(spark, sf).count()
    assert(rows.length == total, "every row must be ranked, not a top-k")
    // ranks are a permutation 1..n and agree with the declared order
    assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to total.toInt))
    val byRank = rows.sortBy(_.getAs[Int]("rank"))
    byRank.sliding(2).foreach { case Array(hi, lo) =>
      val (vh, vl) = (hi.getAs[Double]("value"), lo.getAs[Double]("value"))
      assert(vh > vl || (vh == vl &&
        hi.getAs[Long]("event_id") < lo.getAs[Long]("event_id")),
        s"rank order violated between $hi and $lo")
    }
  }

  test("scalable stratified sampler: same rows as the window form, via a range exchange") {
    val win = graft.operators.ScalarOps.qSampleStratified(spark, sf)
    val scalable = graft.operators.ScalarOps.sampleStratifiedScalable(spark, sf)
    val plan = scalable.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected the mr_sort-shaped range exchange in:\n$plan")
    assert(scalable.collect().map(_.toSeq).toSeq == win.collect().map(_.toSeq).toSeq,
      "scalable sampler must reproduce the window form exactly")
  }

  test("stratifiedSampleExact: one dominant stratum, kernel equals window form") {
    val s = spark
    import s.implicits._
    // 20k-row hot stratum + two tiny ones: the case where the window
    // sampler serializes the hot stratum into one task and the range
    // kernel must spread it across partitions yet produce the same rows
    val rows = (0L until 20000L).map(i => (i, "hot")) ++
      Seq((20000L, "a"), (20001L, "a"), (20002L, "a"), (20003L, "b"))
    val df = rows.toDF("id", "grp")
    val got = graft.operators.ScalarOps
      .stratifiedSampleExact(df, "grp", "id", numer = 1, denom = 4)
    val expect = df
      .withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(md5(concat(lit("strat:"), col("id").cast("string"))), col("id"))))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))))
      .filter(col("sample_rank") <= expr("(n + 3) div 4"))
      .select("id", "grp", "sample_rank")
    assert(got.collect().map(_.toSeq).toSet == expect.collect().map(_.toSeq).toSet)
    val counts = got.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("hot" -> 5000L, "a" -> 1L, "b" -> 1L),
      s"exact ceil-quota per stratum violated: $counts")
  }

  test("capPerStratum: at most cap rows per stratum, same rows as the window form") {
    val s = spark
    import s.implicits._
    val rows = (0L until 2000L).map(i => (i, s"s${i % 3}"))
    val df = rows.toDF("id", "grp")
    val got = graft.operators.ScalarOps.capPerStratum(df, "grp", "id", cap = 7)
    val expect = df
      .withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
          .orderBy(md5(concat(lit("strat:"), col("id").cast("string"))), col("id"))))
      .filter(col("sample_rank") <= 7)
      .select("id", "grp", "sample_rank")
    assert(got.collect().map(_.toSeq).toSet == expect.collect().map(_.toSeq).toSet)
    val counts = got.groupBy("grp").count().collect().map(_.getLong(1))
    assert(counts.length == 3 && counts.forall(_ == 7L),
      "cap must flatten every stratum to exactly cap rows")
  }

  test("hybrid retrieval shortlists are bounded top-k stages, never a global sort") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val plan = graft.operators.Similarity.pipelineHybridRetrieval(spark, sf)
      .queryExecution.executedPlan
    // both corpus-sized ranking stages are one bounded_topk group each
    // (a partial and a final aggregate apiece: <= K rows per partition
    // cross the wire); the only global order left is the <= 50-row
    // TakeOrdered over the <= 200-row fusion join
    val topks = new AdaptiveSparkPlanHelper {}.collect(plan) { case a: BaseAggregateExec =>
      a.aggregateExpressions.map(_.aggregateFunction.prettyName)
    }.flatten.count(_ == "bounded_topk")
    assert(topks == 4, s"expected 2 bounded_topk shortlists (partial + final), found $topks in:\n$plan")
    assert("TakeOrderedAndProject\\(limit=100".r.findFirstIn(plan.toString).isEmpty,
      s"a shortlist is still a TakeOrdered in:\n$plan")
  }

  test("every routed top-k plans a bounded_topk stage and no Window operator") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // the names whose per-key top-k goes through Similarity.topKPer;
    // dedup_semantic keeps its keep-first window and is not listed
    val routed = Seq("ann_bruteforce", "ann_bruteforce_agg", "ann_mips", "ann_ivf",
      "ann_ivf_trained", "mm_feature_knn", "ann_pq", "ann_ivfpq", "ann_ivfpq_indexed",
      "ann_ivfpq_rerank", "ann_sq", "ann_ivfsq", "ann_filtered", "pipeline_hard_negatives",
      "ann_mmr", "pipeline_hybrid_retrieval", "ann_knn_join", "q_group_topk")
    val helper = new AdaptiveSparkPlanHelper {}
    routed.foreach { name =>
      CacheHygiene.sweep(spark)
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      assert(plan.toString.contains("bounded_topk"), s"$name plans no bounded_topk:\n$plan")
      val windows = helper.collectWithSubqueries(plan) {
        case w if w.nodeName.contains("Window") => w.nodeName
      }
      assert(windows.isEmpty, s"$name plans $windows:\n$plan")
    }
    CacheHygiene.sweep(spark)
  }

  test("domain cap plans the same range exchange as the stratified sampler") {
    val plan = graft.operators.ScalarOps.qDomainCap(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected the stratum-rank range exchange in:\n$plan")
  }

  test("stratifiedSampleExact keeps NULL strata and tolerates colliding column names") {
    val s = spark
    import s.implicits._
    // "grp" has NULLs (a real stratum — the window form samples it);
    // "n" collides with a name the kernel once used internally
    val rows = Seq(
      (1L, "x", 10L), (2L, null.asInstanceOf[String], 20L),
      (3L, null.asInstanceOf[String], 30L), (4L, null.asInstanceOf[String], 40L),
      (5L, "x", 50L))
    val df = rows.toDF("id", "grp", "n")
    val got = graft.operators.ScalarOps
      .stratifiedSampleExact(df, "grp", "id", numer = 1, denom = 2)
      .collect()
    // strata: "x" (2 rows → ⌈1⌉ = 1 sampled), NULL (3 rows → ⌈1.5⌉ = 2)
    assert(got.length == 3, s"expected 1 + 2 sampled rows, got ${got.toSeq}")
    assert(got.count(_.isNullAt(1)) == 2, "NULL stratum must be sampled, not dropped")
    // caller columns pass through untouched
    assert(got.map(_.getLong(2)).forall(Set(10L, 20L, 30L, 40L, 50L)))
    assert(got.map(_.getInt(3)).forall(r => r == 1 || r == 2))
  }

  test("banded simhash finds exactly the all-pairs simhash results") {
    // the 16-bit pigeonhole demo kernel — the registered
    // dedup_simhash_banded routes to the 60-bit config since round 7
    val exact = Dedup.dedupSimhash(spark, sf).collect().toSeq
    val banded = Dedup.dedupSimhashBanded16(spark, sf).collect().toSeq
    assert(exact.nonEmpty, "corpus should contain near-dup pairs")
    assert(banded == exact,
      s"pigeonhole recall must be total: ${exact.size} exact vs ${banded.size} banded")
  }

  test("banded simhash candidate join is an equi-join, not a cross product") {
    val plan = Dedup.dedupSimhashBanded(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded candidates must come from a hash-joinable key:\n$plan")
  }

  /** Queries whose nested-loop joins are deliberate: a tiny broadcast
    * build side (literal buckets, query/centroid/hyperplane sets, a
    * single-row count) where a nested loop is the right plan. */
  private val allowedNestedLoop = Set(
    "q_range_join",                       // 5-row literal bucket table
    "ann_bruteforce", "ann_bruteforce_agg", "ann_ivf", "ann_ivf_trained", "ann_kmeans",
    "ann_mips",                           // ann_bruteforce's broadcast theta-join
                                          // with the raw dot as the score
    "ann_mmr",                            // the same bruteforce shortlist feeds
                                          // the per-query MMR greedy
    "ann_filtered",                       // bruteforce theta-join over the
                                          // label-filtered (pushed) scan
    "ann_range_search",                   // broadcast query set, pure selection scan
    "ann_pq",                             // broadcast query set, codes-only corpus side
    "ann_ivfpq",                          // broadcast centroid + query sets,
                                          // probed-cell equi-join candidates
    "ann_ivfpq_rerank",                   // same probed shape; the rerank tail
                                          // is a vec_id equi-join on a
                                          // shortlist of k×rerank rows/query
    "ann_ivfpq_indexed",                  // ann_ivfpq's shape with the encode
                                          // side materialized: the probe side
                                          // is the same broadcast centroid ×
                                          // query frame; the index scan itself
                                          // is a DPP-pruned equi-join
    "ann_sq",                             // broadcast query set; corpus side is
                                          // the SQ8 dequantize projection (the
                                          // ann_pq shape at 1 byte/dim)
    "ann_ivfsq",                          // ann_ivfpq's probed shape with SQ8
                                          // residual codes; same broadcast
                                          // centroid × query frames
    "pipeline_hard_negatives",            // broadcast anchor set; the label
                                          // inequality is part of the mining
                                          // predicate (cross-label only), same
                                          // bounded theta-join as ann_bruteforce
    "ann_lsh",                            // broadcast query/centroid/hyperplane sets
    "mm_feature_knn",                     // ivfTopK: same broadcast query set as ann_ivf
    "mr_pagerank",                        // broadcast single-row node count
    "q_active_users",                     // broadcast observed-day grid (≤ days
                                          // rows) range-joined for rolling WAU
    "q_active_users_approx",              // same broadcast day grid, range-joined
                                          // to merge trailing-7d HLL sketches
    "q_sample_weighted",                  // broadcast single-row total-weight
                                          // frame (the corpus-N pattern)
    "q11_important_parts",                // broadcast single-row grand-total
                                          // (the global-share HAVING)
    "q15_top_supplier",                   // broadcast single-row max-revenue
    "q22_global_sales",                   // broadcast single-row (sum, n)
                                          // balance stats for the avg threshold
    "q_join_size_estimate",               // three single-row frames (two
                                          // sketches + the exact count) joined
    "pipeline_curate_v5",                 // same single-row total via the
                                          // shared weighted-draw kernel
    "pipeline_mixture_temperature",       // broadcast single-row n_min joined
                                          // to the |sources| rate table
    "text_tfidf",                         // broadcast single-row corpus size N
    "text_cooccurrence",                  // broadcast 1-row (T, P) totals frame
    "text_bm25",                          // broadcast single-row (N, Σdl, df) stats
    "pipeline_hybrid_retrieval",          // bm25 stats row + 1-row query vector
    "dedup_containment_exact")            // mask tier: broadcast DISTINCT-mask
                                          // table (|distinct sets| rows, one
                                          // long each) against itself — the
                                          // deliberate ns-per-cell popcount
                                          // cross that replaced 406 s of
                                          // per-pair string intersects

  test("AQE splits a skewed join partition at runtime (the no-salt skew path)") {
    val s = spark
    import s.implicits._
    // 95% of the fact rows share one key: the classic hot-key join.
    // mr_wordcount_salted shows the MANUAL mitigation (two-stage salted
    // aggregate); this proves the AUTOMATIC one — AQE re-plans the
    // sort-merge join at runtime, splitting the oversized partition —
    // so at 100 TB a hot key degrades to extra tasks, not one straggler.
    val fact = s.range(0, 200000)
      .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val dim = s.range(0, 50000).select(col("id").as("k"), (col("id") * 2).as("attr"))
    val old = (s.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB"),
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"),
      s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val oldSkewEnabled = s.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep it a SMJ
    try {
      val joined = fact.join(dim, "k")
      // materialize through joined's OWN queryExecution so AQE finalizes
      // the plan we then inspect; 190k hot-key rows + id-keyed rows < 50000
      assert(joined.collect().length == 192500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should have marked the hot-key partition as skewed:\n$plan")
    } finally {
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", old._1)
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", old._2)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._3)
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", oldSkewEnabled)
      s.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    val s = spark
    // a selective dim filter should inject a bloom filter on the fact
    // side BEFORE the shuffle — at 100 TB this is the difference
    // between shuffling the whole fact table and shuffling the ~1%
    // that can possibly match. Thresholds lowered for test-scale data.
    val old = (s.conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB"),
      s.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"),
      s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val oldBloomEnabled = s.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    try {
      val li = Tables.lineitem(s, sf).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(s, sf)
        .filter(col("o_totalprice") > 500000) // selective: few orders qualify
        .select("o_orderkey")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter on the fact side:\n$plan")
      assert(joined.count() >= 0)
    } finally {
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", old._1)
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", old._2)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", old._3)
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", oldBloomEnabled)
    }
  }

  test("no query plans an unexpected cartesian or nested-loop join") {
    val offenders = SparkEntry.allDefs.flatMap { d =>
      val plan = d.run(spark, sf).queryExecution.executedPlan.toString
      val nested = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      if (nested && !allowedNestedLoop(d.name)) Some(d.name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected non-equi join in: ${offenders.mkString(", ")}")
  }

  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("round-8 scale claims are visible in the plans: exchange counts match the docs") {
    // pure projections: no hash exchange anywhere (final orderBy is a
    // range exchange — oracle-compare support, not operator work)
    assert(hashExchanges(graft.operators.Pipelines.evalSplit(spark, sf)) == 0,
      "eval split claims zero-shuffle projection")
    assert(hashExchanges(graft.operators.Similarity.annRangeSearch(spark, sf)) == 0,
      "range search claims a pure selection scan")
    // shard shuffle: exactly the ONE documented exchange (the per-shard
    // window's partitionBy) before the presentation sort
    assert(hashExchanges(graft.operators.Pipelines.shuffleShard(spark, sf)) == 1,
      "shuffle shard claims one hash exchange + per-shard sort")
    // grouping sets: one exchange feeds all four rollup granularities
    assert(hashExchanges(graft.operators.Pipelines.datasetCard(spark, sf)) == 1,
      "dataset card claims a single grouping-sets exchange")
  }

  test("curate chains v2-v7 keep their pinned hash-exchange counts") {
    // counted from a swept cache, as Verify runs each query: a chain's
    // persisted stages print their cached sub-plans in the plan text
    // once materialized, so without the sweep the count would depend on
    // what ran before. A change to a shared curation stage that alters
    // any chain's plan moves these figures.
    Seq("pipeline_curate_v2" -> 4, "pipeline_curate_v3" -> 2,
      "pipeline_curate_v4" -> 8, "pipeline_curate_v5" -> 31,
      "pipeline_curate_v6" -> 16, "pipeline_curate_v7" -> 51)
      .foreach { case (name, pinned) =>
        CacheHygiene.sweep(spark)
        val n = hashExchanges(SparkEntry.queries(name)(spark, sf))
        assert(n == pinned, s"$name plans $n hash exchanges, pinned at $pinned")
      }
    CacheHygiene.sweep(spark)
  }

  test("q6's tight filters reach the parquet scan as pushed filters") {
    val plan = graft.operators.Relational.q6ForecastRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)].*", "$1").nonEmpty,
      s"expected non-empty PushedFilters in:\n$plan")
  }

  test("nearestCentroid equals the window form on exact ties and zero-norm (NaN) vectors") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    val cvs = Seq(
      0 -> Seq(0.0, 0.0), // zero-norm CENTROID → null cosine for everyone:
      //                      the null seed must yield to a real cosine
      1 -> Seq(1.0, 0.0),
      2 -> Seq(1.0, 0.0), // duplicate centroid → exact cosine tie with c1
      3 -> Seq(0.0, 1.0))
    val cents = cvs.map { case (id, cv) => (id, cv, Similarity.driverNorm(cv)) }
    val vecs = Seq(
      (10L, Seq(2.0, 0.0)),  // ties c1/c2 → lowest id with a REAL cosine wins
      (11L, Seq(0.0, 3.0)),  // clear c3
      (12L, Seq(0.0, 0.0)),  // zero-norm ROW → every cosine null → lowest id
      (13L, Seq(1.0, 1.0)),  // c1/c2/c3 all at 1/√2: 3-way tie → lowest real
      (14L, Seq(-1.0, 0.5)))
    val df = vecs.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val kernel = df
      .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // independent oracle: the r3 cross-join + row_number window form
    val centDf = cvs.toDF("c_id", "cv")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id"))
    val win = df.join(broadcast(centDf), lit(true))
      // try_divide: the zero-norm row would raise DIVIDE_BY_ZERO
      // under ANSI with plain `/`; null sorts last under DESC, so
      // the c_id tiebreak still lands on the lowest id
      .withColumn("ccos", try_divide(VectorFunctions.dot(col("cv"), col("v")),
        VectorFunctions.norm(col("cv")) * col("nrm")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "c_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kernel == win, s"kernel=$kernel window=$win")
    assert(kernel(10L) == 1 && kernel(12L) == 0 && kernel(13L) == 1)
  }

  test("nearestCentroid assign stage plans zero exchanges") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val cents = Seq(
      (0, Seq(0.1, 0.2, 0.3), Similarity.driverNorm(Seq(0.1, 0.2, 0.3))),
      (1, Seq(0.3, 0.1, 0.2), Similarity.driverNorm(Seq(0.3, 0.1, 0.2))))
    val assigned = e.withColumn("cluster",
      Similarity.nearestCentroid(cents, col("v"), col("nrm")))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assign must be a pure zero-exchange projection:\n$plan")
    assert(assigned.filter(col("cluster") < 0).count() == 0,
      "every row must get a valid centroid id")
  }

  test("kmeans trainer and co-order edges plan no round-robin spread exchange") {
    // both spreads measured as losses at 32, 8 and 4 cores and were
    // removed; one may only return with a leave-one-out result
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    def roundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val (_, assigned) = Similarity.kmeansTrain(e, 3, iters = 1)
    assert(!roundRobin(assigned),
      s"kmeans assigned frame:\n${assigned.queryExecution.executedPlan}")
    val co = MrCore.coOrderTopEdges(Tables.lineitem(spark, sf))
    assert(!roundRobin(co), s"co-order edges:\n${co.queryExecution.executedPlan}")
    CacheHygiene.sweep(spark)
  }

  test("kmeans update plans one vector_mean_exact aggregate and no decimal(28,12)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cluster", (col("vec_id") % 3).cast("int"))
    val dim = e.head().getSeq[Double](1).length
    val upd = Similarity.kmeansUpdate(e, dim)
    upd.collect()
    val plan = upd.queryExecution.executedPlan
    // partial and final aggregate each hold the one function
    val fns = new AdaptiveSparkPlanHelper {}.collect(plan) { case a: BaseAggregateExec =>
      a.aggregateExpressions.map(_.aggregateFunction.prettyName)
    }
    assert(fns.nonEmpty && fns.forall(_ == Seq("vector_mean_exact")),
      s"expected one vector_mean_exact per aggregate, got $fns in:\n$plan")
    assert(!plan.toString.contains("decimal(28,12)"), s"decimal cast left in:\n$plan")
  }

  test("q1 sums with decimal_sum_exact in codegen'd HashAggregates and no decimal(18,6) cast") {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
    val q1 = graft.operators.Relational.q1PricingSummary(spark, sf)
    q1.collect()
    val plan = q1.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    // the operators one codegen stage compiles: its subtree down to its inputs
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case o => o +: o.children.flatMap(stage)
    }
    val aggs = helper.collect(plan) { case a: BaseAggregateExec => a }
    val codegenAggs = helper.collect(plan) { case w: WholeStageCodegenExec =>
      stage(w.child).collect { case h: HashAggregateExec => h }
    }.flatten
    assert(aggs.size == 2 && aggs.forall(_.isInstanceOf[HashAggregateExec]),
      s"expected a partial and a final HashAggregate in:\n$plan")
    assert(codegenAggs.size == aggs.size, s"an aggregate left whole-stage codegen:\n$plan")
    aggs.foreach { a =>
      assert(a.aggregateExpressions.map(_.aggregateFunction.prettyName) ==
        Seq.fill(3)("decimal_sum_exact") :+ "count", s"in:\n$plan")
    }
    assert(!plan.toString.contains("decimal(18,6)"), s"decimal cast left in:\n$plan")
  }

  test("typed sampleFrames equals the oracle-checked mm_frame_sample query") {
    val s = spark
    import s.implicits._
    val typed = graft.operators.Multimodal
      .sampleFrames(graft.operators.Multimodal.asBinary(s, sf), chunk = 64, stride = 2)
      .collect().map(f => (f.doc_id, f.frame_no, f.n_bytes)).toSet
    val sql = graft.operators.Multimodal.mmFrameSample(s, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(typed == sql, s"typed=${typed.size} sql=${sql.size}")
  }

  test("dimHint: broadcast fires at tested SF, is withheld once the dim outgrows the threshold") {
    val s = spark
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = Tables.dimHint(df).queryExecution.logical.toString
      p.contains("ResolvedHint") || p.contains("UnresolvedHint")
    }
    // tested SF: customer fits under the session threshold → the hint
    // fires, so the plans keep the broadcast joins the old forced
    // hints produced (zero behavior change at small scale) …
    assert(hinted(Tables.customer(s, sf)),
      "at tested SF the size gate must still apply the broadcast hint")
    val q3 = graft.operators.Relational.q3ShippingPriority(s, sf)
      .queryExecution.executedPlan.toString
    assert(q3.contains("BroadcastHashJoin"),
      s"q3's customer join must still plan as a broadcast join at tested SF:\n$q3")
    // … and at cluster scale (surrogate: shrink the threshold below the
    // frame's size estimate) the hint is WITHHELD so AQE owns the join
    // strategy — a forced hint would disable its demotion and OOM at
    // TPC-H sf≈100k where customer ≈ 15 B rows
    val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      assert(!hinted(Tables.customer(s, sf)),
        "an over-threshold dim must carry NO static hint (AQE decides)")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // disabled
      assert(!hinted(Tables.customer(s, sf)),
        "with broadcast disabled the gate must never hint")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("dimHint on mrPagerank's SF-growing orders frame: hinted at tested SF, withheld over-threshold") {
    val s = spark
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = Tables.dimHint(df).queryExecution.logical.toString
      p.contains("ResolvedHint") || p.contains("UnresolvedHint")
    }
    // the exact frame mrPagerank's edge build joins against lineitem —
    // orders GROWS with SF (~150 B rows at the 100-TB north star), so
    // it must go through the size gate, never a forced broadcast()
    val ord = Tables.orders(s, sf).select(col("o_orderkey"), col("o_custkey"))
    assert(hinted(ord),
      "at tested SF the orders projection fits and must carry the hint")
    val pr = MrCore.mrPagerank(s, sf).queryExecution.executedPlan.toString
    assert(pr.contains("BroadcastHashJoin"),
      s"at tested SF the edge build must still plan as a broadcast join:\n$pr")
    val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
      assert(!hinted(ord),
        "once orders outgrows the threshold the static hint must be withheld " +
          "(a forced hint is never demoted, even by AQE — the 100-TB OOM)")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("q17's DERIVED stats frame: static hint may be withheld, AQE still broadcasts the final plan") {
    val s = spark
    // the stats frame is an aggregate over a join — Catalyst's static
    // estimate (children-size product) exceeds the threshold even at
    // tested SF, so dimHint withholds the hint and the join's broadcast
    // depends entirely on AQE seeing the true post-shuffle size. This
    // pins that runtime behavior so an AQE regression is visible.
    val q17 = graft.operators.TpchSuite.q17SmallQtyRevenue(s, sf)
    q17.collect()
    // the adaptive plan's toString appends the pre-AQE "Initial Plan"
    // (where the un-hinted stats join IS sort-merge); assert on the
    // final section only — the plan that actually ran
    val fin = q17.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(fin.contains("isFinalPlan=true"), s"q17 must have re-planned:\n$fin")
    assert(fin.contains("BroadcastHashJoin"),
      s"q17's joins must end up broadcast in the FINAL adaptive plan:\n$fin")
    assert(!fin.contains("SortMergeJoin"),
      s"no q17 join should survive as sort-merge at tested SF:\n$fin")
  }
}
