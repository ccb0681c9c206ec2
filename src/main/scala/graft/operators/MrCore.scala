package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.rnd

/** The reference's observable applications (SURVEY.md §2 A),
  * re-expressed as declarative plans over the `documents`/`events`
  * tables. The map phase is `split`+`explode` (codegen'd, no UDFs);
  * the reduce phase is a hash aggregate with map-side combine — the
  * Spark-native form of the word-count app in
  * mr_app/src/client.rs:3-21.
  */
object MrCore {

  /** Whitespace tokens, empties dropped (reference splits with
    * `split_whitespace`, client.rs:5 — no empty tokens). */
  private def tokens = explode(split(col("text"), "\\s+")).as("token")

  // ---------------------------------------------------------------- wordcount
  /** The flagship reference app: word count. */
  def mrWordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(tokens)
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("token"))

  private val mrWordcountSql =
    """SELECT token, count(*) AS cnt
      |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
      |      FROM documents)
      |WHERE token <> ''
      |GROUP BY token ORDER BY token""".stripMargin

  // ---------------------------------------------------------------- grep
  /** Map-only job (no shuffle): pattern filter over documents. */
  def mrGrep(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").rlike("hash join"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val mrGrepSql =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE regexp_matches(text, 'hash join')
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- inverted index
  /** Classic MR app: token → sorted distinct posting list. The
    * two-level shape (distinct pairs, then per-token fold) keeps the
    * wide row out of the shuffle until after dedup. */
  def mrInvertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens)
      .filter(col("token") =!= "")
      .distinct()
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        concat_ws(",",
          transform(sort_array(collect_set(col("doc_id"))),
            d => d.cast("string"))).as("postings"))
      .orderBy(col("token"))

  private val mrInvertedIndexSql =
    """SELECT token, count(*) AS df,
      |  string_agg(doc_id, ',' ORDER BY doc_id) AS postings
      |FROM (SELECT DISTINCT doc_id, token
      |      FROM (SELECT doc_id,
      |              unnest(regexp_split_to_array(text, '\s+')) AS token
      |            FROM documents)
      |      WHERE token <> '')
      |GROUP BY token ORDER BY token""".stripMargin

  // ---------------------------------------------------------------- sort
  /** Distributed total-order sort with GLOBAL ranks over the whole
    * table — the scalable form of the reference's single-reducer key
    * sort (worker.rs:124-131 collects everything into one HashMap;
    * mr/tests/test.rs:104-131 checks the total order of the output).
    *
    * Shape: an explicit range exchange (sampled split points, 32
    * partitions) + per-partition sort, then global rank = partition
    * offset + local index — partition sizes are a 32-row aggregate,
    * so NO single-partition window ever sees the full table. The
    * local index rides on monotonically_increasing_id (partition id
    * in the upper bits, a per-partition counter in the lower 33),
    * evaluated on the post-sort stream. This is the plan that ranks
    * 100 TB: every partition sorts locally, and only the 32-row size
    * table is globally ordered. */
  def mrSort(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sorted = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"))
      .repartitionByRange(32, col("value").desc, col("event_id"))
      .sortWithinPartitions(col("value").desc, col("event_id"))
      .withColumn("mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK) // offsets + rank reuse one sort
    val offs = PrefixSum.partitionOffsets(sorted, lit(1L)) // Σ1 = row count
    sorted
      .withColumn("pid", PrefixSum.pid)
      .join(broadcast(offs), "pid")
      .withColumn("rank", (col("off") + PrefixSum.localIdx + 1).cast("int"))
      .select(col("event_id"), col("user_id"), col("value"), col("rank"))
      .orderBy(col("rank"))
  }

  private val mrSortSql =
    """SELECT event_id, user_id, value,
      |  cast(row_number() OVER (ORDER BY value DESC, event_id) as int) AS rank
      |FROM events
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- partition hist
  /** Mirrors the reference's `task_id % n_reduce` bucketing
    * (coordinator.rs:146): key histogram per reduce bucket. */
  def mrPartitionHist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(pmod(col("user_id"), lit(32)).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("bucket"))

  private val mrPartitionHistSql =
    """SELECT user_id % 32 AS bucket, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- salted wordcount
  /** Skew-proof two-stage aggregation: tokens are first counted per
    * (salt, token) — splitting any hot key across 16 reducers — then
    * re-combined per token. Identical result to `mr_wordcount` (same
    * oracle SQL proves it); the shape to use when one key carries a
    * disproportionate share of a 100 TB shuffle. */
  def mrWordcountSalted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(tokens)
      .filter(col("token") =!= "")
      .withColumn("salt", pmod(crc32(col("token")) + spark_partition_id(), lit(16)))
      .groupBy(col("salt"), col("token"))
      .agg(count(lit(1)).as("partial_cnt"))
      .groupBy(col("token"))
      .agg(sum(col("partial_cnt")).as("cnt"))
      .orderBy(col("token"))

  // ---------------------------------------------------------------- pagerank
  /** Iterative PageRank (3 unrolled iterations) over the
    * customer↔supplier bipartite graph from order lineitems — the
    * classic iterative-MapReduce application (each iteration is one
    * contribution-scatter map + one gather reduce).
    *
    * All rank arithmetic is SCALED INTEGER (1e15 fixed point) —
    * sums are exact and order-independent, integer division is
    * identical on both engines, so 3 chained iterations stay
    * bit-deterministic. Edges are symmetrized (both directions) so
    * no node dangles. At scale each iteration is one shuffle on dst;
    * the edge list partitioning is reusable across iterations.
    */
  def mrPagerank(spark: SparkSession, dir: String): DataFrame = {
    val Scale = 1000000000000000L // 1e15 fixed point
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    // orders is the 4x-smaller side and only 2 narrow columns, but it
    // GROWS with SF (~150 B rows at the 100-TB north star), so a forced
    // broadcast() hint — which Spark never demotes, even under AQE —
    // would be a driver OOM at scale. dimHint applies the static hint
    // only while orders' estimated size fits the session threshold and
    // otherwise leaves the join to AQE's size-based planning.
    val fwd = li.join(Tables.dimHint(ord), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      .distinct()
    // Iteration-invariant frames are persisted once: without this the
    // lineitem⋈orders join + distinct is re-executed from the parquet
    // scan inside every iteration (~10 redundant scans/joins of the
    // largest table at 3 iterations). At cluster scale an uncached
    // iterative plan is a non-starter; MEMORY_AND_DISK spills rather
    // than OOMs when the graph outgrows executor memory.
    import org.apache.spark.storage.StorageLevel
    // outdeg rides ON the persisted edge frame (a src-partitioned
    // window count), so no per-iteration edges⋈deg join exists at all
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .sortWithinPartitions(col("src")) // each round's merge join reuses this order
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTotal = broadcast(nodes.agg(count(lit(1)).as("n")))
    // iteration-invariant teleport base: node + its (15%/n) term, so
    // each round is base ⋈ contribs and nothing else
    val base = nodes.crossJoin(nTotal)
      .select(col("node"), col("n"),
        expr(s"((15 * ${Scale}L) div 100) div n").as("tele"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // The 3 rounds stay ONE lazy plan: edges/base are persisted, so
    // each round's re-reference hits cache, and a 3-deep unrolled
    // lineage is well within planner/codegen comfort. (Round 2 bench
    // forensics: an eager localCheckpoint per round added 3 full
    // materialization JOBS inside the timed region — the single
    // largest cost in the driver's 23 s measurement — while buying
    // nothing at this depth. The checkpoint-every-k-rounds discipline
    // only pays once the round count grows past ~10, where lineage
    // depth starts to tax planning and straggler retry; see
    // Dedup.connectedComponents for the open-ended-loop form.)
    var ranks = base.select(col("node"), expr(s"${Scale}L div n").as("rank"))
    for (_ <- 1 to 3) {
      val contribs = edges
        .join(ranks, col("src") === col("node")).drop("node")
        .select(col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      ranks = base
        .join(contribs, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (col("tele") + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
    }
    ranks.select(col("node"), col("rank").as("rank_scaled")).orderBy(col("node"))
  }

  private val mrPagerankSql = {
    val scale = "1000000000000000"
    // every CTE MATERIALIZED (the kcore/graph_links lesson applied in
    // round 13): edges is read by nodes/deg/c1/c2/c3 and fwd twice by
    // edges — DuckDB's default inlining re-derived the sf10 60M-row
    // lineitem⋈orders DISTINCT once per reference, the recorded cause
    // of this oracle's >70 GiB spill death; materialized, each frame
    // is derived once per round like the engine side
    """WITH fwd AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT src, dst FROM fwd
      |  UNION ALL
      |  SELECT dst AS src, src AS dst FROM fwd),
      |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |r0 AS MATERIALIZED (SELECT node, SCALE // n AS rank FROM nodes CROSS JOIN nn),
      |c1 AS MATERIALIZED (SELECT e.dst, sum(r.rank // d.outdeg) AS s
      |       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |       GROUP BY e.dst),
      |r1 AS MATERIALIZED (SELECT node, ((15 * SCALE) // 100) // n + (85 * coalesce(s, 0)) // 100 AS rank
      |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON node = dst),
      |c2 AS MATERIALIZED (SELECT e.dst, sum(r.rank // d.outdeg) AS s
      |       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |       GROUP BY e.dst),
      |r2 AS MATERIALIZED (SELECT node, ((15 * SCALE) // 100) // n + (85 * coalesce(s, 0)) // 100 AS rank
      |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON node = dst),
      |c3 AS MATERIALIZED (SELECT e.dst, sum(r.rank // d.outdeg) AS s
      |       FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      |       GROUP BY e.dst),
      |r3 AS MATERIALIZED (SELECT node, ((15 * SCALE) // 100) // n + (85 * coalesce(s, 0)) // 100 AS rank
      |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON node = dst)
      |SELECT node, cast(rank as bigint) AS rank_scaled FROM r3
      |ORDER BY node""".stripMargin.replace("SCALE", scale)
  }

  // ------------------------------------------------- convergence kernels
  /** Convergence-driven PageRank over an arbitrary directed edge
    * frame (`src`, `dst`) — the open-ended public API next to the
    * fixed-3-round oracle query above (`mr_pagerank` keeps its
    * unrolled form: a FIXED depth is what makes it oracle-checkable).
    *
    * Loop discipline (the `connectedComponents` pattern): edges are
    * src-partitioned + persisted once with outdeg riding on the same
    * exchange; ranks advance `checkEvery` rounds per eager
    * `localCheckpoint`, so lineage depth is bounded by `checkEvery`
    * (not total rounds) and each superseded checkpoint's blocks are
    * freed immediately. Driver actions: one node count + one L1-delta
    * scalar per check — never per-node data.
    *
    * Semantics: standard damped PageRank on the node set src ∪ dst;
    * dangling nodes (no out-edges) keep their teleport share and
    * their mass is NOT redistributed (the simple variant — Σrank < 1
    * when dangling nodes exist). Convergence = L1 distance between
    * consecutive checked iterates ≤ `tol`; the walk stops early or at
    * `maxIter`, whichever first. The returned frame is checkpointed —
    * callers release its blocks with [[graft.CacheHygiene.sweep]];
    * every internal frame is already unpersisted on return. */
  def pageRank(edges0: DataFrame, damping: Double = 0.85,
      tol: Double = 1e-6, maxIter: Int = 20, checkEvery: Int = 5): DataFrame = {
    require(damping > 0 && damping < 1, s"damping in (0,1), got $damping")
    require(tol >= 0, s"tol must be >= 0, got $tol")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    require(checkEvery >= 1, s"checkEvery must be >= 1, got $checkEvery")
    val spark = edges0.sparkSession
    import org.apache.spark.storage.StorageLevel
    val edges = edges0.select(col("src"), col("dst"))
      .repartition(col("src"))
      .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // bounded: one scalar
    if (n == 0) {
      edges.unpersist(blocking = true); nodes.unpersist(blocking = true)
      return spark.range(0).select(col("id").as("node"), lit(0.0).as("rank"))
    }
    val tele = (1.0 - damping) / n
    var (ranks, rankIds) =
      Dedup.checkpointTracked(nodes.withColumn("rank", lit(1.0 / n)))
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val span = math.min(checkEvery, maxIter - it)
      var cur = ranks
      for (_ <- 1 to span) {
        val contribs = edges.join(cur, col("src") === col("node")).drop("node")
          .select(col("dst"), (col("rank") / col("outdeg")).as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
        cur = nodes.join(contribs, col("node") === col("dst"), "left_outer")
          .select(col("node"),
            (lit(tele) + lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
      }
      val (next, nextIds) = Dedup.checkpointTracked(cur)
      val delta = ranks.select(col("node"), col("rank").as("r0"))
        .join(next.select(col("node"), col("rank").as("r1")), Seq("node"))
        .agg(sum(abs(col("r1") - col("r0")))).head().getDouble(0)
      Dedup.freeBlocks(spark, rankIds)
      ranks = next; rankIds = nextIds
      it += span
      converged = delta <= tol
    }
    edges.unpersist(blocking = true); nodes.unpersist(blocking = true)
    ranks.orderBy(col("node"))
  }

  /** Frontier BFS distances from `srcNode` over an arbitrary directed
    * edge frame (`src`, `dst`) — the open-ended public API behind the
    * fixed-4-hop `graph_bfs` oracle query (pass both directions for
    * an undirected graph, as `graphBfs` does). Runs to frontier
    * exhaustion or `maxDepth`, whichever first; per level, the
    * frontier joins the src-partitioned persisted edge set once and a
    * min-aggregate merges newly reached nodes — frontier-sized
    * shuffles, never the graph. Distances are localCheckpoint'd per
    * level with superseded blocks freed; one frontier-count scalar
    * per level is the loop's only driver action (the level-sync BFS
    * contract). The returned frame is checkpointed — callers release
    * it with [[graft.CacheHygiene.sweep]]; internal frames are
    * unpersisted on return. */
  def bfs(edges0: DataFrame, srcNode: Long,
      maxDepth: Int = Int.MaxValue): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges0.sparkSession
    import org.apache.spark.storage.StorageLevel
    val edges = edges0.select(col("src"), col("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var (dist, distIds) = Dedup.checkpointTracked(
      spark.range(1).select(lit(srcNode).as("node"), lit(0).as("dist")))
    var k = 0
    var exhausted = false
    while (k < maxDepth && !exhausted) {
      k += 1
      val frontier = dist.filter(col("dist") === k - 1)
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), lit(k).as("dist"))
      // the did-this-level-reach-anything scalar rides the checkpoint
      // materialization as an accumulator (one driver action per
      // level, r19): the identity UDF is nondeterministic so the
      // optimizer neither collapses nor duplicates it, and result-task
      // accumulator updates are applied exactly once per partition —
      // the count matches the old separate filter-count job exactly
      val level = k
      val reached = spark.sparkContext.longAccumulator("bfs_frontier")
      val tick = udf((d: Int) => { if (d == level) reached.add(1L); d })
        .asNondeterministic()
      val (merged, mergedIds) = Dedup.checkpointTracked(
        dist.unionAll(next).groupBy(col("node"))
          .agg(min(col("dist")).as("dist"))
          .withColumn("dist", tick(col("dist"))))
      Dedup.freeBlocks(spark, distIds)
      dist = merged
      distIds = mergedIds
      // bounded scalar: did this level reach anything new?
      exhausted = reached.value == 0L
    }
    edges.unpersist(blocking = true)
    dist.orderBy(col("node"))
  }

  // ---------------------------------------------------------------- triangles
  /** Per-node triangle counts on the supplier co-order graph
    * (suppliers are adjacent when they co-supply ≥ 30 distinct
    * orders — the threshold keeps the projection of a dense bipartite
    * co-occurrence sparse). The second classic iterative-graph
    * MapReduce application after PageRank, in its canonical two-join
    * form (Suri & Vassilvitskii, WWW'11): edges oriented low-id →
    * high-id, wedges a<b<c enumerated by one equi-join on the shared
    * middle node, closed by a second equi-join against the edge set.
    * Each triangle materializes exactly once.
    *
    * Scale shape: the bipartite projection groups by (s1, s2) —
    * shuffle ∝ co-occurrence pairs (order sizes are bounded, so
    * linear in lineitem); both triangle joins are equi-joins on node
    * keys. Skewed hubs are bounded by the co-order threshold; the
    * published refinement (degree-ordered orientation, enumerating
    * wedges from the lowest-DEGREE vertex) drops in by re-ranking
    * nodes before the joins if hub skew ever dominates. */
  /** Per-node triangle counts over a canonical edge list
    * (`s1` < `s2`, distinct) — the public kernel behind
    * `graph_triangles`. Each triangle a<b<c is produced exactly once
    * by the wedge join + closing probe; the explode credits all three
    * corners. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val wedges = edges.select(col("s1").as("a"), col("s2").as("b"))
      .join(edges.select(col("s1").as("b"), col("s2").as("c")), Seq("b"))
    val tri = wedges.join(
      edges.select(col("s1").as("a"), col("s2").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("node"))
  }

  /** DEGREE-ORDERED triangle counting (the Suri-Vassilvitskii
    * refinement the id-ordered kernel above documents): re-orient
    * every edge from its (degree, id)-smaller endpoint, so wedges are
    * enumerated from each triangle's LOWEST-DEGREE corner. A hub of
    * degree d contributes C(d, 2) wedges under id-ordering when its
    * id is low; under degree-ordering its wedge count is bounded by
    * its higher-ordered neighbors only — total wedge work O(m^{3/2})
    * on any graph (no edge cap needed). Triangle counts are IDENTICAL
    * to the id-ordered form — each triangle materializes exactly once
    * from its unique order-minimal corner under ANY total order —
    * property-tested on a planted hub graph (IterativeSpec).
    *
    * No integer rank is ever computed: ordering compares the
    * (degree, id) STRUCT directly, so there is no global
    * rank-assignment exchange — degrees ride along the edge rows and
    * the two triangle joins stay plain equi-joins. Input: canonical
    * (`s1` < `s2`, distinct) edges, like [[triangleCounts]]. */
  def triangleCountsDegreeOrdered(edges: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sym = edges.unionAll(edges.select(col("s2").as("s1"), col("s1").as("s2")))
    val deg = sym.groupBy(col("s1")).agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("s1"), col("d").as("d1")), "s1")
      .join(deg.select(col("s1").as("s2"), col("d").as("d2")), "s2")
    val lowFirst = struct(col("d1"), col("s1")) < struct(col("d2"), col("s2"))
    // persisted: wedge enumeration consumes it on both sides and the
    // closing probe on a third — released by the caller's sweep
    val oriented = withDeg.select(
        when(lowFirst, col("s1")).otherwise(col("s2")).as("u"),
        when(lowFirst, col("s2")).otherwise(col("s1")).as("v"),
        when(lowFirst, col("d2")).otherwise(col("d1")).as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.select(col("u"), col("v").as("b"), col("dv").as("db"))
      .join(oriented.select(col("u"), col("v").as("c"), col("dv").as("dc")), Seq("u"))
      .filter(struct(col("db"), col("b")) < struct(col("dc"), col("c")))
    val tri = wedges.join(
      oriented.select(col("v").as("c"), col("u").as("b")), Seq("b", "c"))
    tri.select(explode(array(col("u"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("node"))
  }

  /** The supplier co-order graph: the TOP-2000 co-supply pairs by
    * (shared orders DESC, s1, s2) — a deterministic TakeOrdered, so
    * the graph has the same density at EVERY scale factor (a fixed
    * absolute threshold empties out as the supplier domain grows and
    * co-supply counts thin — measured: ≥30 gives 455 edges at
    * sf0.01 and ZERO above it) and the downstream wedge join is
    * size-bounded by construction. Persisted PER CALL: every consumer
    * of one returned plan uses it several times (triangles: both
    * wedge sides + closing probe; BFS: one probe per round) — but
    * nothing is shared ACROSS calls, so `graph_triangles` and
    * `graph_bfs` each build their own copy, released by the caller's
    * [[graft.CacheHygiene.sweep]] (Verify/Bench sweep between
    * queries; EmptyInputSpec asserts full release). */
  private val CoOrderTopEdges = 2000
  private def coOrderEdges(spark: SparkSession, dir: String): DataFrame =
    coOrderLayout(spark, dir) match {
      // layout read: a bucketed 2·TopK-row scan per consumer is cheaper
      // than a cached block, and skipping persist keeps the bucket
      // distribution visible to the plan (persist would be harmless but
      // pointless at this size)
      case Some(sym) => sym.filter(col("src") < col("dst"))
        .select(col("src").as("s1"), col("dst").as("s2"))
      case None => deriveCoOrderEdges(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def deriveCoOrderEdges(spark: SparkSession, dir: String): DataFrame =
    coOrderTopEdges(Tables.lineitem(spark, dir))

  /** Top-`topK` co-order supplier pairs of an (l_orderkey, l_suppkey)
    * frame, by shared-order count then (s1, s2) — a total order, so
    * the cut is deterministic. Shape: per-order supplier sets, then
    * ordered pairs from the sorted set array — NOT distinct +
    * self-join: that shape shuffles lineitem three times (the
    * distinct, then an exchange+sort per join side) and its
    * sort-merge join was part of the 190 GB spill / 19.6x decade step
    * at sf100 (SCALING.md round-15 rows). One exchange on l_orderkey
    * builds the sets (collect_set dedups in the partial aggregate;
    * TPC-H orders carry <= 17 suppliers, so the arrays are bounded),
    * the pair explode is per-row array work, and only the
    * ~|suppliers choose 2|-per-order pair stream hits the second
    * (map-side-combined) exchange. array_sort makes i < j imply
    * s1 < s2, matching the joined form exactly (property-tested
    * against the distinct+self-join reference in IterativeSpec). */
  private[graft] def coOrderTopEdges(li: DataFrame,
      topK: Int = CoOrderTopEdges): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(expr("array_sort(collect_set(l_suppkey))").as("sa"))
      .select(explode(expr(
        """flatten(transform(sa, (x, i) ->
          |  transform(slice(sa, i + 2, size(sa) - i - 1),
          |    y -> struct(x AS s1, y AS s2))))""".stripMargin)).as("p"))
      .select(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .orderBy(col("shared").desc, col("s1"), col("s2"))
      .limit(topK)
      .select(col("s1"), col("s2"))

  // ------------------------------------------------ co-order layout
  /** Materialized co-order graph (round 13): all six graph queries
    * share one expensive derivation — lineitem distinct + wedge
    * self-join + top-2000 — that dominated each query's runtime at
    * sf10 (~20 s of 22-26 s, measured). [[buildCoOrderLayout]] pays
    * it ONCE, writing the SYMMETRIZED edge list (src, dst) as a
    * bucketed+sorted managed table (`Sources.writeBucketed` on `src`,
    * so degree aggregates and src-keyed edge joins read a frame
    * already hash-distributed on the key — zero edge-side exchange,
    * layout-spec-proven), committed by an atomic MANIFEST pointer
    * rename in the warehouse dir (the [[graft.sources.ManifestTable]]
    * discipline applied to versioned table names: readers resolve the
    * pointer and see the previous complete version or the new one,
    * never a half-written table; the previous version is retained one
    * commit for in-flight readers, older ones dropped).
    *
    * The read path is OPT-IN via `spark.graft.coOrderLayout=true`:
    * Verify never sets it, so the driver's oracle gate always
    * exercises the inline derivation (a regenerated testdata dir can
    * never be served stale edges); Bench builds the layout fresh each
    * run (billed as its own `graph_layout_build` entry) and then
    * times the graph family against it — the production shape, where
    * a nightly layout build amortizes over every graph query of the
    * day. Layout and inline edges are identical by construction (the
    * same deterministic top-k derivation; spec-asserted). */
  private val CoOrderLayoutKey = "spark.graft.coOrderLayout"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[graft] def coOrderLayoutBase(dir: String): String =
    "graft_co_order_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  private def layoutManifestPath(spark: SparkSession, base: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"$base.MANIFEST")

  /** (table name, source fingerprint) the pointer currently
    * publishes, if any. Line 1 is the versioned table name; line 2
    * (round 14) is [[Tables.sourceFingerprint]] of the lineitem dir
    * the layout was derived from — a pre-r14 single-line manifest
    * parses as fingerprint-less and is treated as STALE by the read
    * path (rebuilding is cheap; silently serving unverifiable edges
    * is not). */
  private[graft] def currentCoOrderLayoutEntry(spark: SparkSession,
      dir: String): Option[(String, Option[String])] = {
    val mf = layoutManifestPath(spark, coOrderLayoutBase(dir))
    val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          .split("\n").toSeq
        finally in.close()
      Some((lines.head.trim, lines.drop(1).headOption.map(_.trim)))
    }
  }

  /** Table name the pointer currently publishes, if any. */
  private[graft] def currentCoOrderLayout(spark: SparkSession,
      dir: String): Option[String] =
    currentCoOrderLayoutEntry(spark, dir).map(_._1)

  private def coOrderLayout(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!spark.conf.get(CoOrderLayoutKey, "false").toBoolean) None
    else currentCoOrderLayoutEntry(spark, dir).flatMap { case (table, fp) =>
      // staleness guard: the layout is only served while the SOURCE
      // dir still fingerprints as it did at build time — a session
      // with the layout conf on over regenerated parquet falls back
      // to the inline derivation (correct, just unamortized) instead
      // of silently answering from the old corpus's edges.
      val now = Tables.sourceFingerprint(spark, dir, "lineitem")
      if (!fp.contains(now)) {
        log.warn(s"co-order layout $table is STALE for $dir " +
          s"(built over ${fp.getOrElse("<no fingerprint>")}, source now $now); " +
          "falling back to the inline derivation — rebuild with buildCoOrderLayout")
        None
      } else if (!spark.catalog.tableExists(table)) None
      else Some(spark.table(table))
    }

  /** Lease root for a layout base: a sibling dir of the MANIFEST
    * holding the [[graft.sources.ManifestTable]] LEASE sentinel, so
    * the layout build shares the enforced single-writer discipline of
    * every other writer (VERDICT r15 #5: two concurrent nightly
    * builds must fail loudly, not silently last-rename-wins). */
  private def layoutLeasePath(spark: SparkSession, base: String): String =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"$base.lock").toString

  /** Derive + publish the layout for `dir`; returns the versioned
    * table name. The single-writer contract is ENFORCED via the
    * [[graft.sources.ManifestTable]] lease (acquire before the version
    * is chosen, fencing re-check immediately before the commit rename,
    * release after): a second concurrent builder throws
    * [[graft.sources.ManifestTable.ConcurrentWriterException]] instead
    * of racing the pointer. A daemon thread heartbeats the lease every
    * TTL/3 — the sf100 build runs minutes, well past the 60 s TTL, and
    * a healthy slow builder must not look crashed to a would-be
    * lease-breaker. */
  def buildCoOrderLayout(spark: SparkSession, dir: String): String = {
    val base = coOrderLayoutBase(dir)
    val lease = layoutLeasePath(spark, base)
    val writer = "layout-" + java.util.UUID.randomUUID().toString
    graft.sources.ManifestTable.acquireLease(spark, lease, writer)
    // claim-time purge (ADVICE r16): any foreign staged manifest tmp
    // is a stalled predecessor's — deleting it NOW, under our fresh
    // lease, removes the loser's rename source, so a predecessor that
    // passed its fencing check before our claim and only then stalled
    // cannot rename over our commit (its rename finds no source and
    // throws). Our own tmp is writer-suffixed and created later.
    locally {
      val mf = layoutManifestPath(spark, base)
      val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(mf.getParent))
        fs.listStatus(mf.getParent).foreach { st =>
          if (st.getPath.getName.startsWith(mf.getName + ".tmp"))
            fs.delete(st.getPath, false)
        }
    }
    val hb = new Thread(() => {
      try while (!Thread.interrupted()) {
        Thread.sleep(graft.sources.ManifestTable.DefaultLeaseTtlMs / 3)
        graft.sources.ManifestTable.heartbeat(spark, lease, writer)
      } catch { case _: Throwable => () } // lost lease → publish fences
    }, s"co-order-layout-heartbeat-$base")
    hb.setDaemon(true)
    hb.start()
    try {
      val v = currentCoOrderLayout(spark, dir)
        .map(_.stripPrefix(s"${base}_v").toLong).getOrElse(-1L) + 1L
      val table = f"${base}_v$v%05d"
      // fingerprint BEFORE the derivation reads the source: if the dir
      // is regenerated mid-build, the published fingerprint can only be
      // pessimistic (guard refuses, readers fall back inline) — never a
      // fresh fingerprint over stale edges
      val fp = Tables.sourceFingerprint(spark, dir, "lineitem")
      val co = deriveCoOrderEdges(spark, dir)
        .select(col("s1").as("src"), col("s2").as("dst"))
      graft.sources.Sources.writeBucketed(
        co.unionAll(co.select(col("dst").as("src"), col("src").as("dst"))),
        table, "src", nBuckets = 4)
      // phase 2: one atomic rename publishes the new version
      val mf = layoutManifestPath(spark, base)
      val fs = mf.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // writer-suffixed tmp: the successor's claim-time purge (above)
      // can then invalidate a stalled loser's staged file without
      // touching its own
      val tmp = new org.apache.hadoop.fs.Path(mf.getParent,
        s"${mf.getName}.tmp.$writer")
      val out = fs.create(tmp, true)
      try out.write(s"$table\n$fp".getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri,
        spark.sparkContext.hadoopConfiguration)
      // fencing: a builder that stalled past its TTL and lost the lease
      // fails HERE, before the rename. This check-then-act pair is
      // best-effort on plain-FS primitives — the residual window (lease
      // lost BETWEEN verifyHeld and rename) is closed for any loser
      // that staged its tmp before the successor's claim (the claim
      // purges it, so the loser's rename throws on a missing source);
      // a loser stalled with its tmp not yet created fails verifyHeld
      // instead. What remains is FS-level: a non-atomic delete/rename
      // interleaving on a store without single-object semantics.
      graft.sources.ManifestTable.verifyHeld(spark, lease, writer)
      fc.rename(tmp, fs.makeQualified(mf),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      // retention: keep v-1 for in-flight readers, drop anything older
      spark.catalog.listTables().collect()
        .map(_.name).filter(_.startsWith(s"${base}_v"))
        .filter(_.stripPrefix(s"${base}_v").toLong < v - 1)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      table
    } finally {
      hb.interrupt()
      // bounded join BEFORE release (ADVICE r16): a heartbeat already
      // past its verifyHeld check is check-then-overwrite — without
      // the join it could land AFTER releaseLease deletes the
      // sentinel, leaving an orphan "live" lease that spuriously
      // blocks the next builder for a full TTL (or overwrite a
      // successor's fresh claim). Joining guarantees no heartbeat
      // write from THIS process follows the release; the bound only
      // guards against a pathologically hung FS write.
      hb.join(graft.sources.ManifestTable.DefaultLeaseTtlMs)
      graft.sources.ManifestTable.releaseLease(spark, lease, writer)
    }
  }

  /** Wedge mass — the candidate-pair count the triangle join
    * materializes — of an (s1, s2) edge list under each orientation,
    * WITHOUT materializing the wedges: orient every edge, then
    * Σᵤ C(out_deg(u), 2) in one bounded aggregate. This is the
    * measurable quantity behind [[triangleCountsDegreeOrdered]]'s
    * O(m^1.5) claim (Chiba–Nishizeki / Schank–Wagner: orienting each
    * edge toward the higher (degree, id) bounds every out-degree by
    * O(√m), so wedge mass is O(m^1.5) on ANY graph — where the naive
    * lower-id orientation is Θ(m²) on a hub). The scaling spec
    * measures both on planted hub graphs at growing |E|; SCALING.md
    * records the decade rows. */
  private[graft] def wedgeMass(edges: DataFrame, degreeOrdered: Boolean): Long = {
    val sym = edges.unionAll(edges.select(col("s2").as("s1"), col("s1").as("s2")))
    val oriented =
      if (degreeOrdered) {
        val deg = sym.groupBy(col("s1")).agg(count(lit(1)).as("d"))
        edges
          .join(deg.select(col("s1"), col("d").as("d1")), "s1")
          .join(deg.select(col("s1").as("s2"), col("d").as("d2")), "s2")
          .select(when(struct(col("d1"), col("s1")) < struct(col("d2"), col("s2")),
            col("s1")).otherwise(col("s2")).as("u"))
      } else edges.select(least(col("s1"), col("s2")).as("u"))
    oriented.groupBy(col("u")).agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2"))) // integer div: exact long sum
      .head().getLong(0)
  }

  // degree-ordered since round 7: identical counts (oracle unchanged),
  // hub-skew-robust wedge enumeration — see triangleCountsDegreeOrdered
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCountsDegreeOrdered(coOrderEdges(spark, dir))

  // ---------------------------------------------------------------- bfs
  /** Frontier BFS distances (≤ 4 hops) from the minimum node of the
    * co-order graph — the canonical iterative-MR graph traversal next
    * to pagerank: per round, the CURRENT frontier (nodes at the
    * previous distance) joins the src-partitioned edge set once, and
    * a min-aggregate merges newly reached nodes; rounds shuffle
    * frontier-sized frames, never the graph. Distances are
    * localCheckpoint'd per round with superseded blocks freed (the
    * components-loop hygiene). The fixed 4-hop cap is what makes the
    * iterative plan ORACLE-CHECKABLE: the DuckDB twin is a recursive
    * CTE with UNION-distinct semantics (rows bounded by nodes ×
    * depths, no path explosion) and the same depth guard, min(dist)
    * per node = the BFS distance. */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val co = coOrderEdges(spark, dir)
    val sym = co.unionAll(co.select(col("s2").as("s1"), col("s1").as("s2")))
    val srcRow = sym.agg(min(col("s1"))).head() // bounded: one scalar
    if (srcRow.isNullAt(0))
      return spark.range(0).select(col("id").as("node"), lit(0).as("dist"))
    // the open-ended kernel at the oracle's fixed 4-hop depth —
    // identical distances (the kernel's early exit only skips levels
    // that would reach nothing)
    bfs(sym.select(col("s1").as("src"), col("s2").as("dst")),
      srcRow.getLong(0), maxDepth = 4)
  }

  /** The co-order derivation CTEs, parameterized on DuckDB CTE
    * materialization (vs the former post-hoc string .replace, which a
    * formatting drift would silently no-op, reintroducing the sf10
    * re-derivation spill with no test guarding it). `materialized`
    * forces li/co to evaluate once for oracles that reference them
    * repeatedly — see graphLinksSql/graphTrianglesSql/graphKcoreSql. */
  private def coOrderCtes(materialized: Boolean): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    s"""li AS$m (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |co AS$m (
      |  SELECT s1, s2 FROM (
      |    SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS shared
      |    FROM li a JOIN li b
      |      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |    GROUP BY 1, 2
      |    ORDER BY shared DESC, s1, s2 LIMIT $CoOrderTopEdges))""".stripMargin
  }

  private val coOrderSqlCtes = coOrderCtes(materialized = false)

  private val graphBfsSql =
    s"""WITH RECURSIVE $coOrderSqlCtes,
       |sym AS (SELECT s1, s2 FROM co UNION ALL SELECT s2, s1 FROM co),
       |walk(node, dist) AS (
       |  SELECT min(s1), 0 FROM sym
       |  UNION
       |  SELECT e.s2, w.dist + 1
       |  FROM walk w JOIN sym e ON e.s1 = w.node
       |  WHERE w.dist < 4)
       |SELECT node, cast(min(dist) as int) AS dist
       |FROM walk WHERE node IS NOT NULL
       |GROUP BY node ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- components
  /** Connected components of the co-order graph — the third classic
    * iterative-graph kernel registered next to pagerank/bfs, and the
    * ORACLE-PAIRED registration of the [[graft.operators.Dedup
    * .connectedComponents]] kernel that clusters every dedup family
    * (there it is spec-verified via the cluster queries' oracles;
    * here the labels themselves are hash-checked against a recursive
    * CTE). Output: each node, its component label (= component's
    * minimum node id, the kernel contract), and the component size.
    *
    * Scale shape: the kernel's min-label loop shuffles label-sized
    * frames against src-partitioned edges, localCheckpoints each
    * round and frees superseded blocks, and falls back to the
    * O(log n)-round star-contraction kernel past the round cap; the
    * size column is one groupBy on the final labels. The oracle's
    * recursive CTE enumerates reachable-pairs (fine on the bounded
    * top-2000-edge graph, impossible at scale) — the iterative
    * kernel IS the scale answer the CTE can't be. */
  def graphCc(spark: SparkSession, dir: String): DataFrame = {
    val co = coOrderEdges(spark, dir)
    val nodes = co.select(col("s1").as("node"))
      .unionAll(co.select(col("s2").as("node"))).distinct()
    val pairs = co.select(col("s1").as("doc_a"), col("s2").as("doc_b"))
    val labels = Dedup.connectedComponents(nodes, pairs)
      .select(col("node"), col("lab").as("comp"))
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, Seq("comp"))
      .select(col("node"), col("comp"), col("comp_size"))
      .orderBy(col("node"))
  }

  private val graphCcSql =
    s"""WITH RECURSIVE $coOrderSqlCtes,
       |sym AS (SELECT s1 AS u, s2 AS v FROM co UNION ALL SELECT s2, s1 FROM co),
       |reach(node, m) AS (
       |  SELECT u, u FROM sym
       |  UNION
       |  SELECT s.u, r.m FROM sym s JOIN reach r ON s.v = r.node),
       |lab AS (SELECT node, min(m) AS comp FROM reach GROUP BY node)
       |SELECT node, comp, count(*) OVER (PARTITION BY comp) AS comp_size
       |FROM lab ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- link prediction
  /** Output bound for [[graphLinks]]: the top candidate links by
    * score — link prediction is a recommendation surface, so the
    * consumer wants a ranked shortlist, and the bound keeps output
    * size independent of graph size. */
  private val LinkTopK = 100

  /** Common-neighbor link prediction with Jaccard scoring
    * (Liben-Nowell & Kleinberg, CIKM 2003 — the classical baselines
    * their study starts from): for each NON-adjacent pair with ≥ 1
    * common neighbor, score = |N(u)∩N(v)| / |N(u)∪N(v)|, reported
    * with the raw common-neighbor count. Jaccard and not Adamic-Adar
    * deliberately: AA's Σ1/ln(deg) sums floats whose addition order
    * neither engine pins, where common/union is INTEGER arithmetic
    * until one final division — the cross-engine-exactness rule.
    *
    * Plan: wedge self-join on the middle vertex enumerates each
    * candidate pair once per shared neighbor (shuffle ∝ Σd², the
    * wedge mass — bounded here by the top-2000-edge graph; at hub
    * skew the degree-ordered orientation of
    * [[triangleCountsDegreeOrdered]] drops in); common counts are one
    * hash aggregate on the pair; existing edges leave via LEFT ANTI
    * on the canonical edge list; degrees broadcast back (|V| rows);
    * the shortlist is a TakeOrdered on (score DESC, pair) — ordering
    * uses the UNROUNDED division (both engines divide the same exact
    * integers, so the double sets are identical), output rounds once
    * (the annBruteforce discipline). */
  def linkPrediction(edges: DataFrame, topK: Int = LinkTopK): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // wedge both sides + degree table share one symmetrization
    val sym = edges
      .unionAll(edges.select(col("s2").as("s1"), col("s1").as("s2")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy(col("s1")).agg(count(lit(1)).as("d"))
    val common = sym.select(col("s1").as("m"), col("s2").as("a"))
      .join(sym.select(col("s1").as("m"), col("s2").as("c")), Seq("m"))
      .filter(col("a") < col("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("n_common"))
    val score = col("n_common").cast("double") /
      (col("da") + col("dc") - col("n_common")).cast("double")
    common
      .join(edges.select(col("s1").as("a"), col("s2").as("c")),
        Seq("a", "c"), "left_anti")
      .join(broadcast(deg.select(col("s1").as("a"), col("d").as("da"))), "a")
      .join(broadcast(deg.select(col("s1").as("c"), col("d").as("dc"))), "c")
      .orderBy(score.desc, col("a"), col("c"))
      .limit(topK)
      .select(col("a").as("node_a"), col("c").as("node_b"),
        col("n_common"), rnd(score, 6).as("jaccard"))
  }

  // selection into the top-K uses the raw score on BOTH engines (exact
  // integer division → identical doubles); the PRESENTATION sort is on
  // the rounded jaccard on both engines too — two pairs whose raw
  // scores round to the same 6-decimal value must order identically
  def graphLinks(spark: SparkSession, dir: String): DataFrame =
    linkPrediction(coOrderEdges(spark, dir))
      .orderBy(col("jaccard").desc, col("node_a"), col("node_b"))

  // co-order CTEs MATERIALIZED (the kcore-oracle lesson): sym is read
  // twice by cm, co three times (sym ×2 + the ne anti-join), deg twice
  // by sc — DuckDB's default inlining re-derives the 60M-row li
  // self-join per reference, which accumulated past the 55.8 GiB
  // spill cap at sf10 (round 13 forensics: every stage is tiny — co
  // is 2000 rows in 8 s — only the re-derivation count blows up)
  private val graphLinksSql = {
    val coMat = coOrderCtes(materialized = true)
    s"""WITH $coMat,
      |sym AS MATERIALIZED (SELECT s1, s2 FROM co UNION ALL SELECT s2, s1 FROM co),
      |deg AS MATERIALIZED (SELECT s1, count(*) AS d FROM sym GROUP BY s1),
      |cm AS MATERIALIZED (
      |  SELECT w1.s2 AS a, w2.s2 AS c, count(*) AS n_common
      |  FROM sym w1 JOIN sym w2 ON w1.s1 = w2.s1 AND w1.s2 < w2.s2
      |  GROUP BY 1, 2),
      |ne AS (
      |  SELECT cm.* FROM cm
      |  LEFT JOIN co ON co.s1 = cm.a AND co.s2 = cm.c
      |  WHERE co.s1 IS NULL),
      |sc AS (
      |  SELECT ne.a, ne.c, ne.n_common,
      |    cast(ne.n_common as double)
      |      / (da.d + dc.d - ne.n_common) AS score
      |  FROM ne JOIN deg da ON da.s1 = ne.a JOIN deg dc ON dc.s1 = ne.c)
      |SELECT * FROM (
      |  SELECT a AS node_a, c AS node_b, n_common,
      |    ${graft.functions.CrossEngine.rndSql("score", 6)} AS jaccard
      |  FROM sc
      |  ORDER BY score DESC, a, c LIMIT $LinkTopK)
      |ORDER BY jaccard DESC, node_a, node_b""".stripMargin
  }

  // ---------------------------------------------------------------- k-core
  /** Peel parameters of the registered `graph_kcore`: k adapts to the
    * corpus as `max_degree / 3` (integer division, computed from the
    * same degree frame by both engines — a fixed k degenerates on
    * this graph family, whose density swings from a complete K10 at
    * sf0.001 to median-degree-4 at sf0.1), under at most 10 peel
    * rounds. 10 bounds the unrolled oracle — every tested corpus
    * converges in ≤ 8 rounds, and the ROUND CAP is part of the
    * registered semantics (both engines stop at 10), so the query
    * stays deterministic even on a corpus that would peel longer. */
  private val KCoreDegDiv = 3
  private val KCoreRounds = 10

  /** Iterative k-core peeling (Seidman, Social Networks 1983; the
    * distributed formulation follows the Batagelj–Zaveršnik degree
    * recursion) over a SYMMETRIC edge frame (`src`, `dst`, both
    * directions present): each round removes every node whose degree
    * among survivors is < k, until a fixpoint or `maxRounds`.
    * Returns (node, layer): layer = the round (1-based) the node was
    * peeled, 0 = survived all rounds (the k-core, plus any
    * not-yet-peeled nodes if the cap bound first — capped and
    * converged runs agree whenever the fixpoint arrives within the
    * cap, because post-fixpoint rounds remove nothing).
    *
    * Loop discipline (the [[pageRank]]/[[bfs]] pattern): edges
    * persisted once, src-partitioned; the alive set advances one
    * eager localCheckpoint per round with superseded blocks freed
    * ([[Dedup.checkpointTracked]]/[[Dedup.freeBlocks]]); each peeled
    * layer is checkpointed (node-set-sized, tiny) and the rounds'
    * union happens once at the end. Driver actions: ONE removed-count
    * scalar per round — never node data. Per-round shuffles are
    * alive-set-sized (two semi-join-shaped equi-joins + one count
    * aggregate), never the corpus: on a 100 TB-derived graph the
    * peel cost is rounds × |V|-scale exchanges, the same envelope as
    * the components loop. All arithmetic is integer (degree counts,
    * set membership) — cross-engine exact by construction. */
  def kCorePeel(edges0: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges0.sparkSession
    import org.apache.spark.storage.StorageLevel
    val edges = edges0.select(col("src"), col("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var (alive, aliveIds) = Dedup.checkpointTracked(
      edges.select(col("src").as("node")).distinct())
    var layers: List[DataFrame] = Nil
    var layerIds: Set[Int] = Set.empty
    var r = 0
    var fixed = false
    while (r < maxRounds && !fixed) {
      r += 1
      val next = edges
        .join(alive, col("src") === col("node")).drop("node")
        .join(alive, col("dst") === col("node")).drop("node")
        .groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("src").as("node"))
      // the did-anything-peel scalar rides the peeled checkpoint's
      // materialization as an accumulator (the bfs/cc discipline,
      // r19) — one fewer driver action per round, same exact count.
      // The counting UDF wraps the layer literal, not `node`, so the
      // node column keeps the input's type (Int, Long, String, ...)
      val peelCnt = spark.sparkContext.longAccumulator("kcore_peeled")
      val tick = udf((layer: Int) => { peelCnt.add(1L); layer }).asNondeterministic()
      val (peeled, peeledIds) = Dedup.checkpointTracked(
        alive.join(next.select(col("node").as("kept")),
            col("node") === col("kept"), "left_anti")
          .select(col("node"), tick(lit(r)).as("layer")))
      val (nextCp, nextIds) = Dedup.checkpointTracked(next)
      Dedup.freeBlocks(spark, aliveIds)
      alive = nextCp; aliveIds = nextIds
      layers ::= peeled; layerIds ++= peeledIds
      fixed = peelCnt.value == 0L // bounded scalar per round
    }
    val out = layers
      .foldLeft(alive.select(col("node"), lit(0).as("layer")))(_ unionAll _)
    edges.unpersist(blocking = true)
    out.select(col("node"), col("layer").cast("int").as("layer"))
  }

  /** k-core decomposition of the supplier co-order graph: each node's
    * peel layer (0 = in the core) plus its initial degree — the
    * density skeleton next to 5c's triangles and 5e's components.
    * k = max_degree / [[KCoreDegDiv]] (one collected integer scalar —
    * the bounded 1-row probe pattern), giving non-trivial layering
    * across this family's density range. The fixed (divisor, rounds)
    * pair is what makes an ITERATIVE algorithm oracle-checkable (the
    * `mr_pagerank` unrolling discipline): the DuckDB twin unrolls
    * exactly [[KCoreRounds]] survivor CTEs and derives each node's
    * layer as the first round it went missing. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val co = coOrderEdges(spark, dir)
    val sym = co
      .unionAll(co.select(col("s2").as("s1"), col("s1").as("s2")))
      .select(col("s1").as("src"), col("s2").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val maxRow = deg.agg(max(col("deg0"))).head
    // empty corpus → max is NULL → k floors to 1 and the peel no-ops
    val k = (if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)).toInt / KCoreDegDiv
    kCorePeel(sym, math.max(k, 1), KCoreRounds)
      .join(broadcast(deg), "node") // |V| rows — always broadcastable
      .select(col("node"), col("layer"), col("deg0"))
      .orderBy(col("node"))
  }

  private val graphKcoreSql = {
    // Every CTE is MATERIALIZED: a{r} references a{r-1} twice and the
    // final SELECT references all of a1..aR, so DuckDB's default
    // inlining would re-derive the co-order graph 2^R times — measured
    // as a multi-minute hang at sf0.01 vs 0.6 s materialized.
    val coMat = coOrderCtes(materialized = true)
    // a0 = all nodes; a{r} = nodes with >= k alive neighbors in a{r-1}
    val survivorCtes = (1 to KCoreRounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT e.s1 AS node FROM sym e
         |  JOIN a${r - 1} x ON e.s1 = x.node
         |  JOIN a${r - 1} y ON e.s2 = y.node
         |  GROUP BY e.s1 HAVING count(*) >= (SELECT k FROM kv))""".stripMargin
    }.mkString(",\n")
    val layerCase = (1 to KCoreRounds)
      .map(r => s"WHEN a$r.node IS NULL THEN $r").mkString(" ")
    val layerJoins = (1 to KCoreRounds)
      .map(r => s"LEFT JOIN a$r ON a$r.node = d.node").mkString("\n")
    s"""WITH $coMat,
       |sym AS MATERIALIZED (SELECT s1, s2 FROM co UNION ALL SELECT s2, s1 FROM co),
       |deg AS MATERIALIZED (SELECT s1 AS node, count(*) AS deg0 FROM sym GROUP BY s1),
       |kv AS MATERIALIZED (SELECT greatest(max(deg0) // $KCoreDegDiv, 1) AS k FROM deg),
       |a0 AS MATERIALIZED (SELECT node FROM deg),
       |$survivorCtes
       |SELECT d.node, cast(CASE $layerCase ELSE 0 END AS int) AS layer,
       |  d.deg0
       |FROM deg d
       |$layerJoins
       |ORDER BY d.node""".stripMargin
  }

  // ---------------------------------------------------------------- label propagation
  /** Round count of the registered `graph_lpa`. Synchronous LPA can
    * oscillate on bipartite structure, so community detection runs a
    * FIXED round budget rather than to convergence — the cap is part
    * of the registered semantics (both engines stop there), which is
    * also what makes the iterative kernel oracle-checkable (the
    * `graph_kcore`/`mr_pagerank` unrolling discipline). 4 rounds
    * propagate labels across the tested graphs' diameters. */
  private val LpaRounds = 4

  /** Synchronous label propagation (Raghavan et al., Phys. Rev. E
    * 2007) over a SYMMETRIC edge frame: labels start as node ids;
    * each round every node adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label (the deterministic
    * tie-break that replaces the paper's random choice — integer
    * (count, label) ordering, cross-engine exact by construction).
    * Nodes with no surviving neighbor keep their label.
    *
    * Loop discipline (the [[pageRank]]/[[kCorePeel]] pattern): edges
    * persisted once, dst-partitioned for the per-round label join;
    * labels advance one eager localCheckpoint per round with
    * superseded blocks freed. Per-round cost: one |E| join against
    * the |V| label frame, one (node, label) hash aggregate, one
    * per-node window pick — every exchange ∝ |E|, never re-derived
    * input. At 100 TB-derived graphs: rounds × edge-sized exchanges,
    * the same envelope as the components loop; the window partitions
    * by node, so hub skew bounds a task at one node's distinct
    * neighbor-label count, not its degree. */
  def labelPropagation(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges0.sparkSession
    import org.apache.spark.storage.StorageLevel
    val edges = edges0.select(col("src"), col("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var (labels, labelIds) = Dedup.checkpointTracked(
      edges.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lab")))
    for (_ <- 1 to rounds) {
      val picked = edges
        .join(labels, col("dst") === col("node")).drop("node")
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("c").desc, col("lab"))))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("lab"))
      val (next, nextIds) = Dedup.checkpointTracked(
        // no-neighbor nodes keep their previous label
        labels.select(col("node"), col("lab").as("prev"))
          .join(picked.select(col("node"), col("lab").as("picked")), Seq("node"), "left")
          .select(col("node"), coalesce(col("picked"), col("prev")).as("lab")))
      Dedup.freeBlocks(spark, labelIds)
      labels = next; labelIds = nextIds
    }
    edges.unpersist(blocking = true)
    labels
  }

  /** Community detection on the supplier co-order graph: each node's
    * LPA community label (= a member node id) and the community size
    * — the mesoscale structure next to 5e's exact components and 5g's
    * density cores. The DuckDB twin unrolls exactly [[LpaRounds]]
    * label frames; every CTE is MATERIALIZED (the `graph_kcore`
    * lesson: each round references the previous one twice). */
  def graphLpa(spark: SparkSession, dir: String): DataFrame = {
    val co = coOrderEdges(spark, dir)
    val sym = co
      .unionAll(co.select(col("s2").as("s1"), col("s1").as("s2")))
      .select(col("s1").as("src"), col("s2").as("dst"))
    val labels = labelPropagation(sym, LpaRounds)
      .select(col("node"), col("lab").as("community"))
    val sizes = labels.groupBy(col("community")).agg(count(lit(1)).as("community_size"))
    labels.join(broadcast(sizes), "community") // |V| rows — always broadcastable
      .select(col("node"), col("community"), col("community_size"))
      .orderBy(col("node"))
  }

  private val graphLpaSql = {
    val roundCtes = (1 to LpaRounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT a.node, coalesce(p.lab, a.lab) AS lab
         |  FROM l${r - 1} a LEFT JOIN (
         |    SELECT node, lab FROM (
         |      SELECT e.src AS node, x.lab, count(*) AS c,
         |        row_number() OVER (PARTITION BY e.src
         |          ORDER BY count(*) DESC, x.lab) AS rn
         |      FROM sym e JOIN l${r - 1} x ON e.dst = x.node
         |      GROUP BY e.src, x.lab)
         |    WHERE rn = 1) p ON a.node = p.node)""".stripMargin
    }.mkString(",\n")
    val coMat = coOrderCtes(materialized = true)
    s"""WITH $coMat,
       |sym AS MATERIALIZED (SELECT s1 AS src, s2 AS dst FROM co
       |  UNION ALL SELECT s2, s1 FROM co),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM sym),
       |$roundCtes
       |SELECT node, lab AS community,
       |  count(*) OVER (PARTITION BY lab) AS community_size
       |FROM l$LpaRounds
       |ORDER BY node""".stripMargin
  }

  // co MATERIALIZED: the triangle join reads co THREE times and the
  // incidence union reads tri three — inlining re-derived the 60M-row
  // li self-join per reference, the recorded cause of this oracle's
  // sf10 infeasibility (round 13: materialized, it completes — see
  // CORRECTNESS_SF10.json)
  private val graphTrianglesSql = {
    val coMat = coOrderCtes(materialized = true)
    s"""WITH $coMat,
      |tri AS MATERIALIZED (
      |  SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      |  FROM co e1
      |  JOIN co e2 ON e1.s2 = e2.s1
      |  JOIN co e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
      |nodes AS (
      |  SELECT a AS node FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |SELECT node, count(*) AS n_tri FROM nodes
      |GROUP BY node ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- registry
  def defs: Seq[QueryDef] = Seq(
    QueryDef("mr_wordcount", mrWordcount _, Some(mrWordcountSql)),
    QueryDef("mr_wordcount_salted", mrWordcountSalted _, Some(mrWordcountSql)),
    QueryDef("mr_grep", mrGrep _, Some(mrGrepSql)),
    QueryDef("mr_inverted_index", mrInvertedIndex _, Some(mrInvertedIndexSql)),
    QueryDef("mr_sort", mrSort _, Some(mrSortSql)),
    QueryDef("mr_partition_hist", mrPartitionHist _, Some(mrPartitionHistSql)),
    QueryDef("mr_pagerank", mrPagerank _, Some(mrPagerankSql)),
    QueryDef("graph_triangles", graphTriangles _, Some(graphTrianglesSql)),
    QueryDef("graph_bfs", graphBfs _, Some(graphBfsSql)),
    QueryDef("graph_cc", graphCc _, Some(graphCcSql)),
    QueryDef("graph_links", graphLinks _, Some(graphLinksSql)),
    QueryDef("graph_kcore", graphKcore _, Some(graphKcoreSql)),
    QueryDef("graph_lpa", graphLpa _, Some(graphLpaSql)))
}
