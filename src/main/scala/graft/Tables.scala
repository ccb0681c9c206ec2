package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single entry point for the driver-generated parquet tables.
  *
  * Keeping every scan behind one function means projection pruning and
  * predicate pushdown stay visible in one place (`.explain` shows
  * `ReadSchema`/`PushedFilters` per scan), and a cluster deployment can
  * swap the path scheme (e.g. object-store prefixes, partitioned
  * layouts) without touching operators.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema registry: ADVICE r14 measured ~55-70 ms per
    * `spark.read.parquet` frame construction, most of it parquet-footer
    * schema inference — paid again by EVERY `Tables.x()` call in a
    * query build (a TPC-H build touches 5-8 tables, several twice).
    * Caching the inferred StructType per (dir, table) and issuing each
    * call as a fresh `read.schema(cached).parquet(path)` skips the
    * footer reads while keeping every call's AttributeReferences
    * DISTINCT — deliberately NOT a DataFrame cache: handing two callers
    * the same frame object would turn `lineitem ⋈ lineitem` builds into
    * ambiguous self-joins. Entries are invalidated by
    * [[sourceFingerprint]] (one cheap FS listing, no data read), so a
    * regenerated source dir re-infers instead of serving a stale
    * schema; StructType holds no session references, so the cache is
    * retention-safe across sessions and cleared anyway by
    * [[CacheHygiene.sweep]]. */
  private case class SchemaEntry(fp: String,
      schema: org.apache.spark.sql.types.StructType)
  private val SchemaCacheMax = 256
  // access-ordered LRU at the bound (r15 watch item: the former
  // wholesale clear() at capacity re-paid EVERY table's footer read on
  // the next query; evicting only the coldest (dir, table) keeps the
  // working set warm). Synchronized wrapper: access-ordered get()
  // mutates the map, so even reads need the lock.
  private val schemaCache: java.util.Map[(String, String), SchemaEntry] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String), SchemaEntry](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String), SchemaEntry]): Boolean =
          size() > SchemaCacheMax
      })

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val fp = sourceFingerprint(spark, dir, name)
    val cached = schemaCache.get((dir, name))
    val schema =
      if (cached != null && cached.fp == fp) cached.schema
      else {
        val s = spark.read.parquet(path).schema
        schemaCache.put((dir, name), SchemaEntry(fp, s))
        s
      }
    spark.read.schema(schema).parquet(path)
  }

  /** Drop the size-estimate cache. Called from [[CacheHygiene.sweep]]
    * so long-lived sessions (the test suite, Verify/Bench sweeps) never
    * retain canonicalized LogicalPlan trees — and their session
    * references — across queries/sessions (ADVICE r14). The schema
    * cache deliberately SURVIVES sweeps: it holds only StructTypes
    * (no session refs) and is fingerprint-invalidated, so clearing it
    * between queries would just re-pay the footer reads it exists to
    * skip. [[clearAllRegistries]] is the test-teardown full reset. */
  private[graft] def clearSizeEstimates(): Unit = sizeEstimateCache.clear()

  private[graft] def clearAllRegistries(): Unit = {
    schemaCache.clear()
    sizeEstimateCache.clear()
  }

  /** Name-dispatched loader (applies the per-table fixups, e.g. the
    * nanosecond-timestamp conversion on `events`). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case other    => load(spark, dir, other)
    }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * TimestampType (micros) refuses outright. Read nanos as raw long
    * and rebuild a microsecond timestamp (integer division — the data
    * is generated at micro precision, so this is lossless).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // GraftSession/Bench/Verify sessions set this up-front; this is the
    // fallback for caller-built sessions. It must stay set for the scan
    // (the reader consults it at execution, not just schema inference),
    // so it cannot be save/restored around the read.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // Parquet timestamp[us] with no timezone reads as TIMESTAMP_NTZ;
      // downstream event-time code (unix_micros, watermarks) needs
      // TimestampType. With the session TZ pinned to UTC the cast is the
      // identity on the stored micros, so oracle hashes are unchanged.
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      // Fail HERE, not 15 call sites downstream: every event-time
      // operator assumes TimestampType `ts`, and a silent pass-through
      // of a new writer type (the round-7 NTZ lesson) breaks them all.
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other; " +
          "extend Tables.events to normalize it to TimestampType")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Cheap content fingerprint of a source parquet table — file count
    * plus total bytes from ONE recursive FS listing (no data read).
    * Derived layouts (the co-order graph table, a materialized IVF
    * index) record this at build time and their read paths compare it
    * before serving, so a REGENERATED source dir can never be silently
    * answered from a layout built over the old data. Count+bytes is
    * the right granularity for immutable-write parquet dirs: any
    * rewrite changes file sizes (row-group payloads are content-
    * dependent) and most change the file count; mtimes are excluded
    * so a byte-identical copy still matches. */
  def sourceFingerprint(spark: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) s"$name:absent"
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      var bytes = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) { n += 1; bytes += st.getLen }
      }
      s"$name:$n:$bytes"
    }
  }

  /** Size-gated broadcast hint for dimension-shaped frames whose row
    * count GROWS with scale factor — customer, supplier, part, and
    * frames derived from them (per-part min tables, qualifying-supplier
    * shortlists). This is the 100-TB contract for every OLAP join in
    * the library:
    *
    *   - At the tested SFs these frames fit comfortably under
    *     `spark.sql.autoBroadcastJoinThreshold`, so the hint fires and
    *     the plans keep their broadcast joins (zero behavior change at
    *     small scale).
    *   - At cluster scale (TPC-H sf≈100k ⇒ customer ≈ 15 B rows) the
    *     estimate exceeds the threshold, the hint is WITHHELD, and
    *     AQE's runtime size-based planning picks the join strategy —
    *     including demotion to sort-merge. A forced `broadcast()` hint
    *     would DISABLE that demotion and turn the first TPC-H-shaped
    *     query into an executor OOM, which is why growing dims must
    *     never carry an unconditional hint.
    *
    * Plain `broadcast()` remains correct only for frames bounded by
    * construction: nation (25 rows), region (5), single-row scalar
    * aggregates, and `.limit(k)` shortlists.
    *
    * The estimate is Catalyst's optimized-plan size: file-length-based
    * for scans, conservative pass-through for filters/aggregates, and
    * a children-size product for inner joins — so a derived frame only
    * gets the static hint when even its UNREDUCED input fits, and
    * anything larger is left to AQE (which sees the true post-shuffle
    * size and still broadcasts it at every tested SF). The gate honors
    * whatever threshold the session has configured, so one conf tunes
    * both this hint and Spark's own planner identically.
    *
    * The size estimate requires a Catalyst analyze+optimize of the
    * subtree at DataFrame-construction time; a TPC-H query build calls
    * dimHint a handful of times and many of those share the same scan
    * subtree, so the ESTIMATE (threshold-independent) is memoized by
    * the analyzed plan's canonical form. The threshold comparison
    * itself is re-evaluated per call, so a session that re-tunes
    * `autoBroadcastJoinThreshold` mid-flight sees the new gate
    * immediately (PlanShapeSpec flips it at runtime). The cache is
    * size-estimate-only: a stale entry can only mis-tier the HINT,
    * never the data, and it is dropped wholesale at a small bound
    * rather than LRU-tracked.
    */
  private val sizeEstimateCache =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, BigInt]()
  private val SizeCacheMax = 1024

  private def estimatedSize(df: DataFrame): BigInt = {
    val key = df.queryExecution.analyzed.canonicalized
    sizeEstimateCache.get(key) match {
      case null =>
        val s = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (sizeEstimateCache.size >= SizeCacheMax) sizeEstimateCache.clear()
        sizeEstimateCache.put(key, s)
        s
      case hit => hit
    }
  }

  def dimHint(df: DataFrame): DataFrame = {
    val raw = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val threshold =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      catch { case _: NumberFormatException => -1L } // "-1" = disabled
    if (threshold <= 0) return df
    if (estimatedSize(df) <= BigInt(threshold))
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Keyless spread for a work-heavy pass over a byte-small scan:
    * when the frame's estimated bytes would give fewer input splits
    * than the session's cores, repartition it to `defaultParallelism`
    * so the downstream per-row work (shingle hashing, codec walks)
    * runs on every core. A frame big enough to split naturally passes
    * through untouched, so at cluster scale this plans no exchange.
    *
    * Keep rule: a call site exists only with a recorded leave-one-out
    * result. The site's registered queries run in `graft.Bench` subset
    * mode with and without the call, in at least 5 alternating pairs
    * on an idle box, and the call stays only if the side with it wins
    * at least 4 of 5 pairs by more than its own runs' interquartile
    * spread (recipe: tools/README.md). Each caller's comment carries
    * its numbers; a site that stops paying is deleted, not gated.
    * Results-neutral: only the physical layout changes, and every
    * caller's output is partitioning-independent (the §18
    * plan-independence sweeps). Size estimates ride the same memo as
    * [[dimHint]]. */
  def spreadHint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    val splitBytes =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      catch { case _: NumberFormatException => 134217728L }
    if (estimatedSize(df) < BigInt(splitBytes) * cores) df.repartition(cores) else df
  }

  /** Keyed repartition pinned to the session's shuffle partition
    * count. A bare `repartition(col)` leaves AQE free to coalesce the
    * exchange by bytes, which serializes post-shuffle per-row work
    * (window folds, explodes) on byte-small inputs; the pinned count
    * is the pre-AQE layout, and it follows the session conf, so the
    * §18 sizing rule (`SPARK_GRAFT_SHUFFLE_PARTITIONS`) still governs
    * the big-SF sweeps. Same keep rule as [[spreadHint]]. */
  def spreadByKey(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
}
