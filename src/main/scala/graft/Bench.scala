package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout. The `noop` sink forces full materialization of
  * every operator (a bare `count()` would let Spark skip sorts and
  * projections). */
object Bench {

  /** One representative per operator family (SURVEY.md §2 A-G). */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary",   // scan + multi-agg
    "q3_shipping_priority", // fact-fact join + topk
    "q5_local_supplier",    // star join, broadcast dims
    "q_window_rank",        // partitioned window
    "q_sessionize",         // lag/running windows + agg
    "mr_wordcount",         // explode + agg
    "text_fingerprint",     // HOF-heavy per-doc text ops
    "text_tfidf",           // tf/df aggregates + broadcast N + per-doc rank (round 2)
    "text_repetition",      // Gopher-style top-bigram-share filter (round 3)
    "pipeline_decontaminate", // eval-split 5-gram collision probe (round 3)
    "q_sample_stratified_scalable", // range-exchange within-stratum rank (round 3)
    "q_resample",           // per-user dense grid + ignore-nulls ffill (round 6)
    "q_skyline",            // two-level prefix-max Pareto frontier (round 6)
    "q_stats_moments",      // exact integer power-sum moments (round 6)
    "pipeline_pack_sequences", // two-level prefix-sum packing manifest (round 6)
    "pipeline_mixture_sample", // zero-shuffle weighted source mixing (round 6)
    "text_bm25",            // per-row tf + 1-row stats broadcast + top-k (round 6)
    "text_cms",             // Count-Min sketch matrix, one-pass imperative agg (round 6)
    "bpe_train",            // 10-round vocab-table merge training loop (round 6)
    "bpe_tokenize",         // train + vocab-join token counting (round 6)
    "pipeline_hybrid_retrieval", // BM25 + cosine shortlists, RRF fusion (round 6)
    "dedup_chunk",          // corpus-wide dup-span share, chunk-hash join (round 6)
    "dedup_minhash",        // shingle + LSH band join
    "dedup_incremental",    // batch-vs-index bucket probe (round 6)
    "dedup_jaccard",        // adaptive set-similarity (bitmask | token join)
    "dedup_jaccard_ngram",  // trigram-set jaccard, hashed shingle equi-join (round 2)
    "dedup_simhash_banded", // banded signature candidates (round 2)
    "dedup_simhash_wide",   // 60-bit signature, 12-bit bands (round 2)
    "pipeline_fuzzy_dedup", // minhash candidates -> exact verify (round 2)
    "dedup_containment",    // directed containment on band candidates (round 6)
    "dedup_containment_ngram", // prefix-filter tier on a natural trigram vocab (round 9)
    "pipeline_dedup_clusters", // verified pairs -> connected components (round 2)
    "dedup_embedding",      // cluster-scoped embedding near-dup pairs (round 7)
    "dedup_embedding_exact", // all-pairs baseline within label blocks (round 7)
    "mm_feature_knn",       // payload features -> trained IVF top-k (round 7)
    "dedup_semantic",       // SemDeDup: kmeans clusters + in-cluster prune (round 6)
    "mg_topk",              // Misra-Gries heavy-hitter sketch, one pass (round 5)
    "ann_bruteforce",       // broadcast query set scan
    "ann_bruteforce_agg",   // bounded top-k aggregate form of the same (round 5)
    "ann_ivf",              // clustered probe
    "ann_pq",               // product-quantized ADC scan (round 6)
    "ann_ivf_trained",      // kmeans-trained IVF end-to-end (round 2)
    "ann_kmeans",           // iterative centroid training (5 Lloyd rounds)
    "mr_pagerank",          // iterative graph scatter/gather
    "graph_triangles",      // wedge join + closing probe (round 6)
    "graph_bfs",            // 4-round frontier BFS on the co-order graph (round 6)
    "mr_sort",              // full-table range-partitioned total sort (round 2)
    "q_asof_join_native")   // custom streaming-merge operator (round 2)

  /** Box-state snapshot (VERDICT r16 #4): same-code sweeps measured
    * 50.6 vs 64.4 s in one day (q1 0.98 vs 2.24 s) — pure box state,
    * but the artifact carried no evidence of it, so round-over-round
    * medians rested on an idle-box rule that existed only as
    * folklore. Every bench line now records the 1-minute load average
    * at start and end plus MemAvailable; the IDLE RULE (tools/README):
    * a sweep is comparison-grade iff load1_pre < 0.25 × cores —
    * otherwise rerun on a quiet box before reading deltas as
    * regressions. */
  private def boxState(): (Double, Double, Long) =
    try {
      import scala.util.Using
      val la = Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(
        _.mkString).split("\\s+")
      val mem = Using.resource(scala.io.Source.fromFile("/proc/meminfo"))(
        _.getLines().collectFirst {
          case l if l.startsWith("MemAvailable:") =>
            l.split("\\s+")(1).toLong / 1024 }) // MiB
      (la(0).toDouble, la(1).toDouble, mem.getOrElse(-1L))
    } catch { case _: Throwable => (-1.0, -1.0, -1L) }

  // captured at main() entry (pre-warmup — the state the sweep STARTED
  // under, which is what the idle rule gates on); the post snapshot is
  // taken in printLine
  private var boxPre: (Double, Double, Long) = (-1.0, -1.0, -1L)

  def main(args: Array[String]): Unit = {
    boxPre = boxState()
    val cores = Runtime.getRuntime.availableProcessors()
    if (boxPre._1 >= 0 && boxPre._1 > 0.25 * cores)
      System.err.println(f"[bench] BOX NOT IDLE at start: load1=${boxPre._1}%.2f" +
        f" (> 0.25 x $cores cores) — timings are not comparison-grade" +
        " (tools/README idle rule)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle partitions default to the core count (right at sf<=1),
    // but §18's sizing rule applies on this box too: at sf100 a
    // 900M-key aggregation over 32 partitions is ~28M keys/partition
    // — past the hash-agg spill cliff. SPARK_GRAFT_SHUFFLE_PARTITIONS
    // overrides for the big-SF sweeps (err high; AQE coalesces down).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // see GraftSession: keep bounded-buffer object aggregates
      // (BoundedTopK) on the hash path across many groups; the 128
      // default sort-falls-back on group COUNT irrespective of memory
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // the sf dirs are single ~MB-scale parquet files; split them so
      // scans parallelize across all local cores (at cluster scale the
      // default 128m is right — many files/row groups per table)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the local filesystem GraftSession.build serves file: with
      .config(graft.sources.LocalFs.sparkConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // JVM warmup outside the timed region: JIT + whole-stage-codegen
    // compiler + parquet reader/footer paths. Warms shared infra only
    // (a scan+agg per table), not any headline query's actual work —
    // at cluster scale JIT cost is amortized away, so excluding it
    // from single-JVM timings is the honest comparison.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.all.foreach { t =>
      try Tables.table(spark, sfDir, t).agg(org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1))).collect()
      catch { case e: Throwable =>
        // warmup-only failure is non-fatal, but a mis-set sfDir must
        // not stay silent until the first timed query pays the cost
        System.err.println(s"[bench] WARM-UP of table $t failed: ${e.getMessage}")
      }
    }

    // full isolation between timed runs: clearCache drops catalog-
    // tracked persist()s, but localCheckpoint blocks live as plain
    // persistent RDDs that the catalog never sees — left behind, 20+
    // queries of them accumulate in the block manager and thrash the
    // later queries' caches (round-2 forensics: the driver's pagerank
    // 23 s vs 9.7 s isolated came from exactly this interference)
    def isolate(): Unit = {
      // blocking: the next timed run must not start while the previous
      // run's blocks are still draining from the block manager
      CacheHygiene.sweep(spark, blocking = true)
      System.gc() // stabilize: old-gen garbage from run N must not bill run N+1
    }

    // local-iteration aid: SPARK_GRAFT_QUERIES=a,b,c runs a subset
    // (the driver never sets it, so its rounds always run the full set)
    val selected = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSeq).getOrElse(headline)
    // SPARK_GRAFT_RUNS=1 drops the second cold run — for the multi-
    // minute sf100 decade sweeps, where the doubled wall-clock is
    // expensive. Measured caveat (r16): the single-run band on
    // multi-minute queries is 1.15-1.7× on this box (page-cache state
    // + any co-tenant load), NOT a few percent — so decade tables take
    // the MIN of independent 1-run samples and any step near a
    // conclusion threshold gets a confirming re-sample on an idle box
    // (SCALING.md round-16 honesty rows). The policy field records
    // the mode; the driver never sets it.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    // SPARK_GRAFT_SPILL=1: per-query spill/peak-memory report (stderr)
    // for the squeezed-heap proof runs
    val spillOn = sys.env.get("SPARK_GRAFT_SPILL").contains("1")
    if (spillOn) SpillStats.install(spark)
    // fail fast with a readable message: a typo'd name would otherwise
    // throw NoSuchElementException mid-loop with no JSON emitted
    SparkEntry.exitOnUnknown("bench", Some(selected))
    // each query runs TWICE, cold-cache both times (isolate() between),
    // and the reported number is the min: this box's wall-clock noise
    // is ±2-4x on iterative queries, so a single sample routinely
    // manufactures phantom regressions; the min of two same-condition
    // runs is the stable estimator of the query's actual cost. Both
    // raw runs are carried in the "runs" field.
    // per-query warmup dir: one untimed run of EACH query at the
    // small SF compiles that query's own generated code (the plan —
    // and so the janino/JIT work — is SF-invariant), so run 1 of the
    // timed pair no longer bills codegen (r3 forensics: tfidf's 7.6
    // vs 2.4 s first-run skew was warmup, not work)
    // warm at the smallest SF that lives NEXT TO the bench dir (so the
    // policy is environment-independent, not tied to one machine's
    // absolute layout); SPARK_GRAFT_WARM_DIR stays the override. If no
    // sibling sf0.01 exists, warm at sfDir itself — still one untimed
    // codegen pass per query, just a pricier one.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", {
      val sib = new java.io.File(
        new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.01")
      if (sib.isDirectory) sib.getPath else sfDir
    })
    val doWarm = new java.io.File(warmDir).isDirectory
    // an unwarmed run bills per-query codegen to run 1 — legal, but it
    // must be visible: the policy field records it and stderr flags it
    if (!doWarm)
      System.err.println(s"[bench] warmup dir $warmDir missing — running UNWARMED")

    // materialized co-order layout (round 13, SURVEY §2 A5c-5h): pay
    // the shared graph derivation ONCE per bench run — rebuilt fresh
    // every run, so it can never serve stale edges — and time the
    // graph family in the production shape (bucketed layout read
    // instead of re-deriving the lineitem self-join inside each of
    // the six graph queries; ~20 s of each query's 22-26 s at sf10).
    // The build is billed as its own `graph_layout_build` entry.
    // Verify never sets the conf, so the driver's oracle gate always
    // checks the inline derivation.
    val graphQueries = Set("graph_triangles", "graph_bfs", "graph_cc",
      "graph_links", "graph_kcore", "graph_lpa")
    val wantLayout = sys.env.get("SPARK_GRAFT_QUERIES")
      .forall(_.split(",").exists(graphQueries.contains))
    val layoutBuild: Option[(String, (Double, Double))] =
      if (!wantLayout) None
      else try {
        // warm build too: warmed graph plans must have the same shape
        // (layout scan) as the timed ones, or the codegen warmup is
        // compiling the wrong plan
        if (doWarm && warmDir != sfDir)
          operators.MrCore.buildCoOrderLayout(spark, warmDir)
        isolate()
        val t0 = System.nanoTime()
        operators.MrCore.buildCoOrderLayout(spark, sfDir)
        val dt = (System.nanoTime() - t0) / 1e9
        isolate()
        spark.conf.set("spark.graft.coOrderLayout", "true")
        Some("graph_layout_build" -> (dt, dt))
      } catch { case e: Throwable =>
        System.err.println("[bench] co-order layout build failed " +
          s"(graph family will derive inline): ${e.getMessage}")
        None
      }

    val results = selected.map { name =>
      val fn = SparkEntry.queries(name)
      if (doWarm) {
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup of $name failed: ${e.getMessage}")
        }
        isolate()
      }
      def once(): Double = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        isolate()
        if (ok) dt else -1.0
      }
      val r1 = once()
      val r2 = if (r1 < 0) -1.0 else if (nRuns < 2) r1 else once()
      if (spillOn) SpillStats.report(name)
      name -> (r1, r2)
    }
    // streaming section: skipped in SPARK_GRAFT_QUERIES subset mode
    // (local iteration — it adds a fixed ~40 s; force with
    // SPARK_GRAFT_STREAM=1) and fail-soft: a broken sf dir or
    // streaming regression must not destroy the batch results that
    // already ran (printLine must always emit the JSON line)
    val doStream = sys.env.get("SPARK_GRAFT_STREAM")
      .map(_ == "1").getOrElse(sys.env.get("SPARK_GRAFT_QUERIES").isEmpty)
    val streaming: Seq[StreamResult] =
      if (!doStream) Seq.empty
      else
        try streamBench(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] streaming section failed: ${e.getMessage}")
          Seq.empty
        }
    // FAST TIER (round 7): the ~60 registered queries outside the
    // headline get ONE warmed timed run each — EXCEPT that a run
    // landing at >= 2 s earns a second run and reports the min
    // (round 10): the tail's single samples repeatedly manufactured
    // phantom 2x regressions on exactly its heaviest entries
    // (r7 "1.95x", r8 text_tfidf, r9 dedup_containment_exact 17.2 s
    // vs 7.0 s isolated / graph_cc 6.1 s vs 3.6 s), each costing an
    // adjudication round. Sub-2 s entries keep the single sample: a
    // 2x-noise reading still catches the order-of-magnitude
    // regressions the long tail is watched for, and the second run
    // is only billed where noise has actually burned us.
    // Subset mode skips it, like streaming. Per-query seconds go to
    // BENCH_DETAIL.json; stdout carries only the compact rollup so
    // the driver's bounded tail window keeps parsing.
    val fastResults: Seq[(String, Double)] =
      if (sys.env.contains("SPARK_GRAFT_QUERIES")) Seq.empty
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(selected.contains)
        .map { name =>
          val fn = SparkEntry.queries(name)
          if (doWarm) {
            try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
            catch { case e: Throwable =>
              System.err.println(s"[bench] fast warmup of $name failed: ${e.getMessage}")
            }
            isolate()
          }
          def once(): Double = {
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] fast $name failed: ${e.getMessage}"); false
              }
            val dt = (System.nanoTime() - t0) / 1e9
            isolate()
            if (ok) dt else -1.0
          }
          val r1 = once()
          // the >=2 s re-run is gated on nRuns too (ADVICE r15): a
          // SPARK_GRAFT_RUNS=1 sweep tags its line "1-run-cold", so
          // every tier must honor it or the policy field lies about
          // the fast tier's heaviest entries
          val best = if (r1 >= 2.0 && nRuns >= 2) math.min(r1, once() match {
            case bad if bad < 0 => r1 // second run failing: keep the good sample
            case r2 => r2
          }) else r1
          name -> best
        }
    val runsTag = if (nRuns < 2) "1-run-cold" else "min-of-2-cold"
    val policy =
      if (doWarm) s"warm-sf0.01+$runsTag" else runsTag
    printLine(results ++ layoutBuild, fastResults, streaming, policy, sfDir)
    spark.stop()
    // a failed query must not masquerade as a speedup (its -1 is
    // excluded from the total): surface it in the exit code — a
    // failure on EITHER run counts (best() is -1 if either run failed)
    if (results.exists(v => best(v._2) < 0)) sys.exit(1)
  }

  /** Streaming micro-bench (round 5): fixed-size, time-ordered inputs
    * from the sf tables driven through `MemoryStream` in 10
    * micro-batches per job. Reports rows/s and the final state-store
    * row count, so a state-store or per-batch-overhead regression in
    * the §H jobs — invisible to the batch bench — shows up round over
    * round. Inputs are capped (events 200k, docs 20k) so the section
    * measures per-row streaming cost, not the SF. */
  private def streamBench(spark: SparkSession, sfDir: String): Seq[StreamResult] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingJobs

    def rmTree(dir: String): Unit =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () } // best-effort tmp hygiene

    // State shard count sized to the micro-batch, not the session's
    // batch default: a stateful stream's shuffle partitions become its
    // state-store shards, and 32 shards over ~5k-row micro-batches
    // measure per-task scheduling + 32 store commits per batch, not
    // state work (probed: minhash-dedup 2.5k rows/s at 32 shards vs
    // 4.8k at 8, same job, same state). A cluster deployment sizes
    // shards to sustained batch volume the same way; the batch
    // sections keep the session's 32.
    val StreamShards = 8

    // Same-condition best-of-2, the batch tier's min-of-2 policy
    // (this box's wall-clock noise is ±2-5x; a single streaming pass
    // routinely manufactures phantom throughput regressions). Each
    // attempt is fully independent: fresh MemoryStream, fresh
    // checkpoint, fresh state.
    def drive[T](name: String, rows: Seq[T],
        build: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.DataFrame,
        outputMode: String = "append", chunkRows: Int = 0)(
        implicit enc: org.apache.spark.sql.Encoder[T]): StreamResult = {
      val r1 = driveOnce(name, rows, build, outputMode, chunkRows)
      if (!r1.ok) return r1
      val r2 = driveOnce(name, rows, build, outputMode, chunkRows)
      if (r2.ok && r2.rowsPerSec > r1.rowsPerSec) r2 else r1
    }

    // chunkRows = 0 → the default 10-batch split (per-batch size scales
    // with the feed); > 0 → a FIXED trigger size in rows (the
    // production-trigger entries pin it, so the number measures
    // amortized per-row cost at a stated cadence)
    def driveOnce[T](name: String, rows: Seq[T],
        build: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.DataFrame,
        outputMode: String = "append", chunkRows: Int = 0)(
        implicit enc: org.apache.spark.sql.Encoder[T]): StreamResult = {
      // query handle outside the try: a failure mid-feed must STOP the
      // started query, or it keeps consuming scheduler threads and
      // state-store memory while the NEXT job is being timed
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val ckpt = java.nio.file.Files.createTempDirectory(s"bench-$name").toString
      val batchParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StreamShards)
      try {
        val in = MemoryStream[T](spark)
        q = build(in.toDS()).writeStream
          .format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode(outputMode)
          .start()
        val chunks = rows.grouped(
          if (chunkRows > 0) chunkRows else math.max(1, rows.size / 10)).toSeq
        // first micro-batch runs UNTIMED: it bills whole-stage codegen
        // + state-store open for the job (the streaming twin of the
        // batch tier's untimed warmup run — the plan is input-
        // invariant, so batch 1 of the timed region no longer measures
        // janino). Timed region = the remaining batches, i.e. the
        // steady-state per-row cost a long-running ingest pays.
        val (warm, timed) =
          if (chunks.size > 1) (Seq(chunks.head), chunks.tail)
          else (Seq.empty, chunks)
        warm.foreach { c => in.addData(c); q.processAllAvailable() }
        val nTimed = timed.map(_.size).sum
        val t0 = System.nanoTime()
        timed.foreach { c => in.addData(c); q.processAllAvailable() }
        val dt = (System.nanoTime() - t0) / 1e9
        val stateRows = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
        q.stop()
        val rps = if (dt > 0) nTimed / dt else 0.0
        StreamResult(name, ok = true, nTimed, dt, rps, stateRows, timed.size)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming $name failed: ${e.getMessage}")
        if (q != null) { try q.stop() catch { case _: Throwable => () } }
        StreamResult(name, ok = false, rows.size, 0.0, 0.0, 0L, 0)
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", batchParts)
        rmTree(ckpt)
      }
    }

    // time-ordered so the watermark advances realistically (an
    // unordered feed would mark most input late and GC it unprocessed)
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      // event_id tiebreak: `us` alone has ties, so the 200k prefix
      // (and every derived stream metric) must not flap across runs
      .orderBy(col("us"), col("event_id")).limit(200000)
      .select("user_id", "us")
      .as[StreamingJobs.Ev].collect().toSeq
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(20000)
      .as[(Long, String)].collect().toSeq
    // minhash-dedup feed: 10 key-shifted token-tagged copies (the
    // scalegen transform — cross-copy near-dup density stays ZERO, so
    // state and emissions scale like a real corpus). Round-7 forensic:
    // at 5k docs / 10 batches the ~0.65 s fixed per-batch cost (plan +
    // 2-stage schedule + state commit) dominated and "784 rows/s" was
    // measuring the harness, not the job — per-row signature cost is
    // ~0.4 ms. 50k rows amortize the same 10 batches.
    val mhShift = docs.map(_._1).max + 1
    val mhDocs = (0 until 10).flatMap { c =>
      if (c == 0) docs
      else {
        val tag = ('q' + c).toChar
        docs.map { case (id, t) =>
          (id + mhShift * c,
            t.split("\\s+").filter(_.nonEmpty).map(_ + tag).mkString(" "))
        }
      }
    }
    val evalNgrams = graft.operators.Pipelines
      .fivegrams(docs.filter(_._1 < 20).toDF("doc_id", "text"))
      .select(col("s").as("es"), col("doc_id").as("eval_doc")).distinct()
      .persist()
    evalNgrams.count() // materialize outside the timed region

    // arrival-ordered (source, seq, doc_id) feed for the streaming
    // admission quota
    val capDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id")).limit(20000)
      .as[(Long, String)].collect().toSeq.zipWithIndex
      .map { case ((id, src), i) => StreamingJobs.CapDoc(src, i.toLong, id) }

    // full-row feed for the composed curate head (gate needs text,
    // quota needs arrival order): same 20k-doc cap as the other inputs
    val curateDocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id")).limit(20000)
      .as[(Long, String, String)].collect().toSeq.zipWithIndex
      .map { case ((id, src, txt), i) =>
        graft.streaming.StreamingJobs.CurateIn(src, i.toLong, id, txt) }

    // token feed for the streaming MG sketch: 32 shards (the
    // state-key fan-out an executor-sharded deploy would use),
    // capped like the other inputs so the number is per-row cost
    val mgToks = docs.iterator
      .flatMap { case (_, t) => t.toLowerCase.split("\\s+") }
      .filter(_.nonEmpty).take(200000).zipWithIndex
      .map { case (t, i) =>
        StreamingJobs.MgTok(math.floorMod(t.hashCode, 32), i.toLong, t)
      }.toSeq

    // full-payload event feed for the CDC changelog (profile state
    // needs id/type/value); same 200k cap as the sessionize feed
    val cdcEvs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
      // (us, event_id) is a total order → deterministic 200k prefix
      .orderBy(col("us"), col("event_id")).limit(200000)
      .as[StreamingJobs.CdcEv].collect().toSeq

    // per-frame hash feed for the streaming video near-dup: the
    // registered query's synthetic clip corpus hashed OUTSIDE the
    // timed region (the signature map is stateless; the bucket-state
    // matching is what's being measured), capped like the other feeds
    val frameHashes = graft.operators.Multimodal.demuxFrameHashes(
      graft.operators.Multimodal.syntheticClips(spark, sfDir)
        .filter(col("doc_id") < 4000L))
      .collect().toSeq

    val parts = Seq(
      drive[StreamingJobs.Ev]("stream_sessionize", evs,
        ds => StreamingJobs.sessionize(ds).toDF()),
      drive[(Long, String)]("stream_minhash_dedup", mhDocs,
        ds => StreamingJobs.minhashDedupStream(ds.toDF("doc_id", "text")).toDF()),
      drive[(Long, String)]("stream_decontaminate", docs,
        ds => StreamingJobs.decontaminateStream(ds.toDF("doc_id", "text"), evalNgrams)),
      drive[StreamingJobs.MgTok]("stream_mg_topk", mgToks,
        ds => StreamingJobs.mgTopkStream(ds, 16).toDF(),
        outputMode = "update"),
      drive[StreamingJobs.CmsTok]("stream_cms",
        mgToks.map(t => StreamingJobs.CmsTok(t.shard, t.tok)),
        ds => StreamingJobs.cmsStream(ds, 4, 1024,
          Seq("join", "hash", "scan")).toDF(),
        outputMode = "update"),
      drive[StreamingJobs.CapDoc]("stream_domain_cap", capDocs,
        ds => StreamingJobs.capPerSourceStream(ds, 200).toDF()),
      drive[StreamingJobs.CurateIn]("stream_curate", curateDocs,
        ds => StreamingJobs.curateStream(ds, 200)),
      // amortized-trigger twin (VERDICT r16 #6): the SAME composed
      // curate head at a pinned 2,500-row production trigger — the
      // §18 cost model says the ~0.2-0.3 s/batch floor dominates small
      // triggers (the entry above), so the artifact must also watch
      // the amortized per-row number the cost model predicts (~6-10k
      // rows/s); a regression in either term is now visible on its
      // own. The feed is doubled with disjoint seq/doc ids so the
      // timed region holds ≥ 3 full-size batches at sf0.1 (one timed
      // batch is a single sample of the floor term; quota saturation
      // after the early batches matches the floor-shape entry's own
      // steady state)
      drive[StreamingJobs.CurateIn]("stream_curate_amortized",
        curateDocs ++ curateDocs.map(c => c.copy(
          seq = c.seq + curateDocs.size, doc_id = c.doc_id + 10000000L)),
        ds => StreamingJobs.curateStream(ds, 200), chunkRows = 2500),
      // complete mode: the days-scale sketch state (2 × 4 KiB per
      // active window) makes full re-emission per batch cheap, and
      // the throughput number is input rows/s either way
      drive[StreamingJobs.Ev]("stream_active_users", evs,
        ds => StreamingJobs.activeUsersApproxStream(
          ds.select(timestamp_micros(col("us")).as("ts"), col("user_id"))),
        outputMode = "complete"),
      drive[StreamingJobs.CdcEv]("stream_cdc", cdcEvs,
        ds => StreamingJobs.cdcStream(ds).toDF()),
      // the cdc feed carries exactly the as-of columns; reuse it
      drive[StreamingJobs.AsOfEv]("stream_asof",
        cdcEvs.filter(e => e.event_type == "purchase" || e.event_type == "view")
          .map(e => StreamingJobs.AsOfEv(e.user_id, e.event_id, e.event_type, e.us)),
        ds => StreamingJobs.asofEnrichStream(ds).toDF()),
      drive[StreamingJobs.EwmaEv]("stream_ewma",
        cdcEvs.map(e => StreamingJobs.EwmaEv(e.user_id, e.event_id, e.us, e.value)),
        ds => StreamingJobs.ewmaStream(ds).toDF()),
      drive[StreamingJobs.CusumEv]("stream_cusum",
        cdcEvs.map(e => StreamingJobs.CusumEv(e.user_id, e.event_id, e.us,
          math.floor(e.value * 1e6 + 0.5).toLong)),
        ds => StreamingJobs.cusumStream(ds, mu0Micro = 35000000L).toDF()),
      drive[(Long, String)]("stream_scene_cut", docs,
        ds => StreamingJobs.sceneCutStream(ds.toDF("doc_id", "text"),
          encode(col("text"), "UTF-8"))),
      drive[(Long, String)]("stream_winnow", docs,
        ds => StreamingJobs.winnowStream(ds.toDF("doc_id", "text"))),
      drive[graft.operators.Multimodal.FrameHash]("stream_videodup",
        frameHashes, ds => StreamingJobs.videoDupStream(ds).toDF()),
      // the against-index compaction head (round 18): the history
      // half is snapshotted into the manifest-committed frame index
      // OUTSIDE the timed region (batch compaction is the amortized
      // cost), the stream drives only the tail — so this entry
      // watches the steady-state per-row price of the stream-static
      // bucket join + the stateless-history/stateful-new split, and
      // its state_rows column shows the since-snapshot bound next to
      // stream_videodup's full-corpus state
      {
        val vSplit = frameHashes.iterator.map(_.doc_id).max / 2
        val idxDir =
          java.nio.file.Files.createTempDirectory("bench-vfidx").toString
        graft.operators.Multimodal.writeFrameIndex(
          frameHashes.filter(_.doc_id < vSplit).toDS(), idxDir)
        try drive[graft.operators.Multimodal.FrameHash](
          "stream_videodup_compact",
          frameHashes.filter(_.doc_id >= vSplit),
          ds => StreamingJobs.videoDupStreamAgainstIndex(ds,
            graft.sources.ManifestTable.read(spark, idxDir)).toDF())
        finally rmTree(idxDir)
      },
      // the 5 previously-unbenched heads (VERDICT r17 #4): a
      // throughput regression in any of the 20 registered stream jobs
      // is now visible in the artifact trail
      drive[StreamingJobs.CdcEv]("stream_tumbling", cdcEvs,
        ds => StreamingJobs.tumblingHourly(
          ds.select(timestamp_micros(col("us")).as("ts"),
            col("event_type"), col("value")))),
      drive[StreamingJobs.CdcEv]("stream_dedup", cdcEvs,
        ds => StreamingJobs.dedupStream(
          ds.select(timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type")))),
      drive[StreamingJobs.CdcEv]("stream_interval_join", cdcEvs,
        ds => StreamingJobs.purchaseViewJoin(
          ds.select(timestamp_micros(col("us")).as("ts"),
            col("user_id"), col("event_type")))),
      drive[StreamingJobs.CapDoc]("stream_mixture_sample", capDocs,
        ds => StreamingJobs.mixtureSampleStream(
          ds.select(col("doc_id"), col("source")),
          graft.operators.Pipelines.mixtureBp, "mix")),
      drive[(Long, String)]("stream_shard_assign", docs,
        ds => StreamingJobs.shardAssignStream(ds.toDF("doc_id", "text"))))
    evalNgrams.unpersist()
    parts
  }

  /** One streaming job's measurement (ok=false → the job failed). */
  case class StreamResult(name: String, ok: Boolean, rows: Int, sec: Double,
      rowsPerSec: Double, stateRows: Long, batches: Int)

  private def best(v: (Double, Double)): Double =
    if (v._1 < 0 || v._2 < 0) -1.0 else math.min(v._1, v._2)

  /** Opt-in (SPARK_GRAFT_SPILL=1) task-metrics rollup for the
    * constrained-memory proof runs (SURVEY §18): sums shuffle/agg/sort
    * spill bytes and tracks the max per-task execution memory across
    * the sweep, so a squeezed-heap run reports "spilled X GiB, zero
    * failures" as a measurement instead of a survival anecdote.
    * Listener delivery is async: isolate()'s blocking unpersist + GC
    * drains most of the bus, but queued onTaskEnd events can still
    * land after it returns (ADVICE r15), so report() additionally
    * POLLS the counters to quiescence (two identical reads 100 ms
    * apart, 2 s cap) before taking the per-query delta. Totals are
    * exact either way; the per-query attribution is quiesced-best-
    * effort — a listener stall past the cap bleeds into the next
    * query's delta and is flagged on stderr. */
  private object SpillStats {
    val mem = new java.util.concurrent.atomic.AtomicLong
    val disk = new java.util.concurrent.atomic.AtomicLong
    val peakTask = new java.util.concurrent.atomic.AtomicLong
    private var lastMem, lastDisk = 0L
    def install(spark: SparkSession): Unit =
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            mem.addAndGet(m.memoryBytesSpilled)
            disk.addAndGet(m.diskBytesSpilled)
            peakTask.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
          }
        }
      })
    /** stderr delta since the previous report (per-query attribution). */
    def report(name: String): Unit = synchronized {
      // quiesce: the listener bus is async, so wait until the counters
      // stop moving (two identical reads 100 ms apart) before taking
      // the delta — bounded at 2 s so a stalled bus can't hang the run
      val deadline = System.nanoTime() + 2000000000L
      var prev = (mem.get, disk.get, peakTask.get)
      var settled = false
      while (!settled && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = (mem.get, disk.get, peakTask.get)
        settled = cur == prev
        prev = cur
      }
      if (!settled)
        System.err.println(s"[spill] $name: counters still moving at the 2 s " +
          "quiescence cap — this delta may include the previous query's tail")
      val (m, d) = (mem.get, disk.get)
      System.err.println(f"[spill] $name memSpilledMB=${(m - lastMem) / 1e6}%.1f " +
        f"diskSpilledMB=${(d - lastDisk) / 1e6}%.1f " +
        f"totalMemSpilledMB=${m / 1e6}%.1f peakTaskMemMB=${peakTask.get / 1e6}%.1f")
      lastMem = m; lastDisk = d
    }
  }

  /** The driver keeps only a bounded tail of stdout (observed: 2000
    * chars) and parses the LAST JSON line it finds there. Rounds 3-5
    * printed one line carrying the per-query raw runs + verbose
    * streaming detail (~2.6k chars): its head fell off the tail window
    * and the driver recorded `parsed: null` every round. So the stdout
    * line is now the COMPACT summary (best-of-runs per query, terse
    * streaming rows/s + state) and the full detail — raw run pairs,
    * streaming rows/sec/batches — goes to BENCH_DETAIL.json in the
    * CWD, tracked in-repo for round-over-round comparison. */
  private def printLine(results: Seq[(String, (Double, Double))],
      fastResults: Seq[(String, Double)],
      streaming: Seq[StreamResult], policy: String, sfDir: String): Unit = {
    // failed queries are OMITTED from every timing map and listed once
    // in `failed` (headline + fast tier) — the advisor's round-7 note:
    // -1.0 sentinels inside the maps silently poison any consumer that
    // sums or mins them, so exactly one field is authoritative now
    val qs = results.filter(v => best(v._2) >= 0)
      .map { case (k, v) => s""""$k":${"%.3f".format(best(v))}""" }
      .mkString("{", ",", "}")
    val runs = results.filter(v => best(v._2) >= 0)
      .map { case (k, (a, b)) =>
        s""""$k":[${"%.3f".format(a)},${"%.3f".format(b)}]""" }
      .mkString("{", ",", "}")
    val total = results.map(v => best(v._2)).filter(_ >= 0).sum
    val failed = (results.collect { case (k, v) if best(v) < 0 => s""""$k"""" } ++
      fastResults.collect { case (k, v) if v < 0 => s""""$k"""" })
      .mkString("[", ",", "]")
    // terse streaming for stdout: rows/s + state rows (failed job → -1)
    val streamShort = streaming.map { s =>
      if (s.ok) s""""${s.name}":{"rps":${"%.0f".format(s.rowsPerSec)},"state":${s.stateRows}}"""
      else s""""${s.name}":{"rps":-1,"state":-1}"""
    }.mkString("{", ",", "}")
    val streamFull = streaming.map { s =>
      if (s.ok)
        s""""${s.name}":{"rows":${s.rows},"sec":${"%.3f".format(s.sec)},"rows_per_sec":${"%.0f".format(s.rowsPerSec)},"state_rows":${s.stateRows},"batches":${s.batches}}"""
      else s""""${s.name}":{"failed":true}"""
    }.mkString("{", ",", "}")
    // box state (VERDICT r16 #4): the evidence the drift policy
    // assumes — pre/post 1-min load + MemAvailable, and the idle-rule
    // verdict the comparison reader needs. Compact on stdout (the
    // driver tail window is tight); the full snapshot goes to
    // BENCH_DETAIL.json.
    val boxPost = boxState()
    val cores = Runtime.getRuntime.availableProcessors()
    val idle = boxPre._1 >= 0 && boxPre._1 < 0.25 * cores
    val boxShort = s""""box":{"load1_pre":${"%.1f".format(boxPre._1)},""" +
      s""""load1_post":${"%.1f".format(boxPost._1)},"idle_start":$idle}"""
    val boxFull = s""""box":{"cores":$cores,""" +
      s""""load1_pre":${"%.2f".format(boxPre._1)},""" +
      s""""load5_pre":${"%.2f".format(boxPre._2)},""" +
      s""""mem_avail_pre_mib":${boxPre._3},""" +
      s""""load1_post":${"%.2f".format(boxPost._1)},""" +
      s""""load5_post":${"%.2f".format(boxPost._2)},""" +
      s""""mem_avail_post_mib":${boxPost._3},""" +
      s""""idle_start":$idle,""" +
      s""""idle_rule":"comparison-grade iff load1_pre < 0.25 x cores (tools/README)"}"""
    val head = s""""metric":"total","value":${"%.3f".format(total)},"unit":"sec","policy":"$policy""""
    // measured same-process drift band (VERDICT r13 #6): every headline
    // query already runs twice warm, so the run-pair ratio max/min IS
    // this box's repeat noise, measured on THIS run — recorded so a
    // 1.2-1.5x sub-second flutter on an untouched query reads as
    // in-band instead of costing an adjudication round. (The r12
    // forensics put the box's full-sequence band at ±15-30% for
    // sub-second entries; the live field tracks it per run.)
    // graph_layout_build is a single timed build recorded as (dt, dt):
    // its synthetic 1.00 ratio would deflate the noise band's floor
    val ratios = results.collect {
      case (k, (a, b)) if a > 0 && b > 0 && k != "graph_layout_build" =>
        math.max(a, b) / math.min(a, b)
    }.sorted
    val drift =
      if (ratios.isEmpty) """"drift":{}"""
      else {
        // true median: average the two middle elements for even n
        val med =
          if (ratios.size % 2 == 1) ratios(ratios.size / 2)
          else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0
        s""""drift":{"n":${ratios.size},"min":${"%.2f".format(ratios.head)},""" +
          s""""median":${"%.2f".format(med)},"max":${"%.2f".format(ratios.last)},""" +
          s""""basis":"warm run-pair ratio per headline query (layout build excluded)"}"""
      }
    // compact fast-tier rollup for stdout; per-query detail below
    val fastOkSecs = fastResults.map(_._2).filter(_ >= 0)
    val fastShort = s""""fast":{"n":${fastResults.size},""" +
      s""""failed":${fastResults.count(_._2 < 0)},""" +
      s""""sec":${"%.3f".format(fastOkSecs.sum)}}"""
    val fastFull = fastResults.filter(_._2 >= 0).map { case (k, v) =>
      s""""$k":${"%.3f".format(v)}""" }.mkString("{", ",", "}")
    val tail = s""""failed":$failed,"sf":"$sfDir""""
    // stdout carries NO drift block (ADVICE r14: with drift the compact
    // line reconstructed to ~2120 chars — past the ~2000-char driver
    // tail window documented above; drift lives in BENCH_DETAIL.json)
    val line = s"""{$head,$boxShort,"queries":$qs,$fastShort,"streaming":$streamShort,$tail}"""
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: stdout line ${line.length} chars" +
        " — approaching the ~2000-char driver tail window")
    println(line)
    // Subset mode (SPARK_GRAFT_QUERIES) must NOT clobber the tracked
    // full-run artifact: a 2-query iteration file committed by mistake
    // erases the round's 100+-query comparison basis (it happened —
    // restored from history). Subset runs print their line; only the
    // full sweep persists.
    if (sys.env.contains("SPARK_GRAFT_QUERIES")) return
    // simhash banding-probe verdicts (VERDICT r10 #7): the dispatch is
    // memoized per corpus, so the chosen config + its measured
    // collision masses ride in the artifact where a future corpus
    // flipping the verdict is visible in round-over-round diffs
    val banding = {
      import scala.jdk.CollectionConverters._
      graft.operators.Dedup.bandingProbeTelemetry.asScala.toSeq.sortBy(_._1)
        .map { case (k0, c) =>
          // keys are filesystem paths — escape \ and " so a path
          // containing either cannot produce invalid JSON
          val k = k0.replace("\\", "\\\\").replace("\"", "\\\"")
          // costSubset is +Inf when no subset rung is feasible
          // (ADVICE r17): "%.0f" would render the bare token Infinity
          // — invalid JSON — so non-finite values serialize as null
          def num(d: Double): String =
            if (java.lang.Double.isFinite(d)) "%.0f".format(d) else "null"
          val byAgree = c.costByAgree.keys.toSeq.sorted.map { k2 =>
            s""""$k2":{"cost":${num(c.costByAgree(k2))},""" +
              s""""mass":${num(c.massByAgree.getOrElse(k2, 0.0))}}"""
          }.mkString("{", ",", "}")
          s""""$k":{"use_subset":${c.useSubset},"agree":${c.agree},""" +
            s""""cost_single":${num(c.costSingle)},""" +
            s""""cost_subset":${num(c.costSubset)},""" +
            s""""mass_single":${num(c.massSingle)},""" +
            s""""mass_subset":${num(c.massSubset)},""" +
            s""""by_agree":$byAgree}"""
        }.mkString("{", ",", "}")
    }
    // comparison-tooling note (ADVICE r13): since r13 the graph family's
    // per-query timings read the prebuilt layout, with the shared
    // derivation billed ONCE as graph_layout_build — a per-query diff
    // against pre-r13 numbers must amortize the build back in, or the
    // methodology change reads as a phantom 2.5-3x engine speedup
    val graphFamily = {
      val build = results.collectFirst {
        case ("graph_layout_build", v) if best(v) >= 0 => best(v) }
      // the layout conf is session-wide, so FAST-TIER graph queries
      // read it too — amortize over every graph query that ran, not
      // just the headline members
      val members = Seq("graph_triangles", "graph_bfs", "graph_cc",
        "graph_links", "graph_kcore", "graph_lpa")
        .filter(m => results.exists { case (k, v) => k == m && best(v) >= 0 } ||
          fastResults.exists { case (k, v) => k == m && v >= 0 })
      build match {
        case Some(b) if members.nonEmpty =>
          s""""graph_family":{"layout_build_sec":${"%.3f".format(b)},""" +
            s""""amortized_over":${members.map(m => s""""$m"""").mkString("[", ",", "]")},""" +
            s""""per_query_amortized_add_sec":${"%.3f".format(b / members.size)},""" +
            s""""note":"per-query graph timings exclude the shared derivation since r13; compare to pre-r13 as (query + layout_build/n)"}"""
        case _ => """"graph_family":{}"""
      }
    }
    val detail =
      s"""{$head,$boxFull,$drift,"queries":$qs,"runs":$runs,"fast":$fastFull,"streaming":$streamFull,"banding_probe":$banding,$graphFamily,$tail}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => // detail file is best-effort; the
      // stdout line (the driver's input) already carries the summary
      System.err.println(s"[bench] BENCH_DETAIL.json write failed: ${e.getMessage}")
    }
  }
}
