package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.CrossEngine.{rnd, rndSql}
import graft.functions.{BoundedTopK, VectorFunctions}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Similarity search over the embedding column (SURVEY.md §2 F).
  *
  * `ann_bruteforce` is the exact baseline: the (tiny) query set is
  * broadcast against the corpus — one scan, per-partition top-k via
  * the bounded [[topKPer]] stage. `ann_ivf` is the scale path:
  * vectors are assigned to deterministic centroids once (linear), and
  * each query only scans its 2 closest clusters (~nprobe/nlist of the
  * corpus).
  * At 100 TB the assignment is a write-once partitioning (cluster id
  * = partition key), making the probe a partition-pruned scan.
  *
  * All vector math is element-wise double with a sequential left
  * fold — bit-identical between Spark and the DuckDB oracle.
  */
object Similarity {

  private val NQueries = 5    // query set: vec_id < 5
  private val NCentroids = 10 // centroids: vec_id < 10

  /** Target vectors per kmeans cluster for the corpus-scaled dedup
    * clusterings ([[dedupEmbeddingClustered]], [[dedupSemantic]]) —
    * the knob that keeps the pairwise stage output-bounded: k =
    * ⌈n / target⌉ clusters hold every compare block to ~target rows,
    * so pair work is ∝ n · target (linear in the corpus) instead of
    * n². 2560 ≈ 256 rows per (label, cluster) block on this 10-label
    * corpus. Declared BEFORE the oracle-SQL vals that interpolate it
    * (a forward val reference would silently bake 0 into the SQL). */
  private val DedupClusterRows = 2560
  private val NProbe = 2
  private val TopK = 5

  /** (vec_id, label, v: array<double>, nrm) — norm and dot products
    * via the native codegen'd expressions in VectorFunctions (same
    * sequential fold as the HOF form, no per-pair allocation). */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        // native array cast, not transform(_.cast): Cast is whole-stage
        // codegen'd; the per-element HOF lambda evaluates interpreted
        // (same float→double widening, bit-exact either way)
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", VectorFunctions.norm(col("v")))

  private def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  // ------------------------------------------------- zero-shuffle assign kernel
  /** Driver-side L2 norm with the EXACT left-to-right fold `L2Norm`
    * generates — centroid norms embedded as literals must be
    * bit-identical to what the engine would compute. */
  def driverNorm(v: Seq[Double]): Double =
    math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))

  /** Nearest-centroid id for a (v, nrm) row against a driver-side
    * centroid list `(c_id, cv, cn)` — a PURE PROJECTION: the k×dim
    * centroid table (a few KB at any corpus scale) is embedded as an
    * array<struct> literal and folded per row with `aggregate`, so
    * the assign stage plans ZERO exchanges on any layout. This
    * replaces the r3 cross-join + `row_number()` window form, which
    * expanded the corpus k× and hash-shuffled + sorted the expansion
    * — per Lloyd round — just to take a per-row argmax.
    *
    * Semantics are identical to ordering by (ccos DESC, c_id ASC) and
    * keeping rank 1: the accumulator is SEEDED from the lowest-id
    * centroid (so a valid c_id comes back even if every comparison
    * fails — all-NaN or all-null cosines), the fold runs over the
    * rest in ascending c_id order, and only a STRICTLY greater cosine
    * replaces the incumbent, so exact ties keep the lowest c_id.
    * Spark's `>` already orders NaN above every non-NaN double (and
    * NaN > NaN is false), so `sc > acc.s` alone gives the window's
    * NaN-first descending order: a NaN cosine beats any finite
    * incumbent but never replaces an earlier NaN.
    *
    * Degenerate inputs: `try_divide` (not `/`) keeps a zero norm from
    * raising DIVIDE_BY_ZERO under ANSI mode. A null cosine — from a
    * zero-norm/null row (nulls every centroid's cosine) or a zero-norm
    * CENTROID handed to this public kernel (nulls only that
    * centroid's) — sorts LAST like the window form's DESC order: the
    * fold's replace condition also fires when the incumbent is null
    * and the candidate isn't, so a null-cosine seed yields to the
    * lowest-id centroid with a real cosine, and an all-null row keeps
    * the lowest c_id. */
  def nearestCentroid(cents: Seq[(Int, Seq[Double], Double)],
      v: Column, nrm: Column): Column = {
    // an empty centroid list can only arise from an EMPTY corpus
    // (centroids are always derived from it), so the projection never
    // evaluates — a typed null keeps the plan buildable, matching the
    // old window form's graceful empty-input degradation
    if (cents.isEmpty) return lit(null).cast("int")
    val sorted = cents.sortBy(_._1)
    // native codegen'd kernel (r18, guide §4): the former
    // aggregate-HOF fold has no codegen, so every corpus row paid
    // interpreted lambda dispatch per centroid; NearestCentroidId
    // replicates the fold's semantics bit-for-bit (scaladoc above and
    // on the expression) in one whole-stage-codegen'd loop, with the
    // centroid table riding as referenced objects — generated source
    // is identical across Lloyd rounds, so janino caches hit.
    ColumnBridge.column(VectorFunctions.NearestCentroidId(
      sorted.map(_._1).toArray,
      sorted.map(_._2.toArray).toArray,
      sorted.map(_._3).toArray,
      ColumnBridge.expression(v), ColumnBridge.expression(nrm)))
  }

  /** Driver-side centroid triples `(c_id, cv, cn)` for
    * [[nearestCentroid]] from a (c_id, cv[, cn]) frame — the bounded
    * k×dim collect (a few KB regardless of corpus size). Computes the
    * norm with [[driverNorm]] (bit-identical to the in-engine
    * `L2Norm` fold) when the frame doesn't carry one. */
  def collectCentroids(cent: DataFrame): Seq[(Int, Seq[Double], Double)] = {
    // project by NAME before collecting: a caller frame with extra
    // columns or a different column order must not silently misread
    // (this is a public helper for the public ivfTopK kernel)
    val hasNorm = cent.columns.contains("cn")
    val proj =
      if (hasNorm) cent.select("c_id", "cv", "cn") else cent.select("c_id", "cv")
    proj.collect().toSeq.map { r =>
      val id = r.get(0) match {
        case i: Int => i
        case l: Long => l.toInt
      }
      val cv = r.getSeq[Double](1)
      (id, cv, if (hasNorm) r.getDouble(2) else driverNorm(cv))
    }.sortBy(_._1)
  }

  // ------------------------------------------- two-level (coarse/fine) assign
  /** Driver-side Σ a(i)·b(i) with the EXACT sequential fold
    * `DotProduct` generates — like [[driverNorm]], values computed
    * here must be bit-identical to what either engine would compute
    * from the same inputs. */
  def driverDot(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.size, b.size)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Coarse/fine split of a centroid list for the corpus-scaled
    * clusterings: the g = ⌈√k⌉ LOWEST-id centroids are the coarse
    * representatives, and every centroid belongs to the group of its
    * nearest representative (cosine argmax; a representative belongs
    * to its OWN group by definition, so no group is empty and the
    * fine step is total). Returns (representative, members) pairs
    * ordered by rep id, members ordered by c_id.
    *
    * The argmax here runs on the DRIVER but must agree bit-for-bit
    * with the oracle's in-DuckDB `row_number() OVER (ORDER BY
    * dot/(rn·cn) DESC, rep_id)` over the same centroid table (the
    * centroids themselves are already proven bit-equal across
    * engines by the Lloyd-chain oracles): same fold order
    * ([[driverDot]]/[[driverNorm]]), same operand order in the
    * denominator, strictly-greater replacement (exact ties keep the
    * lowest rep id), NaN above every finite (both engines' DESC
    * order), and a zero denominator maps to the engines' NULL —
    * never beating a real cosine, with an all-null row keeping the
    * lowest rep id. */
  def coarseGroups(cents: Seq[(Int, Seq[Double], Double)])
      : Seq[((Int, Seq[Double], Double), Seq[(Int, Seq[Double], Double)])] = {
    require(cents.nonEmpty, "coarseGroups needs at least one centroid")
    val sorted = cents.sortBy(_._1)
    val g = math.ceil(math.sqrt(sorted.size.toDouble)).toInt
    val reps = sorted.take(g)
    val repIds = reps.map(_._1).toSet
    // engine `>` with NaN largest; NaN > NaN is false
    def gtEngine(a: Double, b: Double): Boolean =
      if (a.isNaN) !b.isNaN else if (b.isNaN) false else a > b
    def cos(r: (Int, Seq[Double], Double), c: (Int, Seq[Double], Double))
        : java.lang.Double = {
      val den = r._3 * c._3
      if (den == 0.0) null else java.lang.Double.valueOf(driverDot(r._2, c._2) / den)
    }
    val byGroup = sorted.map { c =>
      val grp =
        if (repIds.contains(c._1)) c._1
        else {
          var bestId = reps.head._1
          var bestS = cos(reps.head, c)
          for (r <- reps.tail) {
            val s = cos(r, c)
            if ((s != null && bestS != null && gtEngine(s, bestS))
                || (bestS == null && s != null)) {
              bestId = r._1; bestS = s
            }
          }
          bestId
        }
      grp -> c
    }
    byGroup.groupBy(_._1).toSeq.sortBy(_._1).map { case (gid, ms) =>
      (reps.find(_._1 == gid).get, ms.map(_._2))
    }
  }

  /** Adds `cluster` = nearest-centroid id via the TWO-LEVEL probe:
    * nearest coarse representative first (g = ⌈√k⌉ cosines), then
    * exact argmax within that representative's group (~√k cosines) —
    * n·2√k work instead of the flat kernel's n·k, which turns
    * quadratic once k scales with the corpus (k = ⌈n/2560⌉ made the
    * flat assign the n²/2560 growing term of the sf10 decade). Still
    * a PURE PROJECTION (zero exchanges): the same k×dim centroid
    * literal volume as [[nearestCentroid]], just factored into a
    * coarse fold plus per-group folds behind a CASE.
    *
    * Two SEPARATE projections keep the coarse argmax evaluated once
    * per row: `CollapseProject` won't inline a non-cheap expression
    * referenced by every CASE branch (inlining would re-evaluate the
    * g-way fold per branch — n·g² ≈ n·k again).
    *
    * The probe is approximate in the IVF sense (a vector near a
    * group boundary may assign to a different fine centroid than the
    * flat argmax) but the PROCEDURE is deterministic and replicated
    * verbatim by the oracle CTEs ([[kmeans2lAssignCtes]]), so
    * hash-gates hold end to end; near-duplicate vectors follow the
    * same probe path, which is what the dedup consumers need. */
  def assignTwoLevel(df: DataFrame, cents: Seq[(Int, Seq[Double], Double)],
      v: Column, nrm: Column): DataFrame = {
    // empty centroids ⇒ empty corpus: match nearestCentroid's typed-
    // null degradation so the plan stays buildable (EmptyInputSpec)
    if (cents.isEmpty)
      return df.withColumn("cluster", lit(null).cast("int"))
    val groups = coarseGroups(cents)
    val reps = groups.map(_._1)
    val withGrp = df.withColumn("_g2l", nearestCentroid(reps, v, nrm))
    val fine = groups.map { case (rep, mem) =>
      (rep._1, nearestCentroid(mem, v, nrm))
    }
    val chain = fine.tail.foldLeft(
        when(col("_g2l") === lit(fine.head._1), fine.head._2)) {
      case (acc, (rid, e)) => acc.when(col("_g2l") === lit(rid), e)
    }.otherwise(lit(null).cast("int"))
    withGrp.withColumn("cluster", chain).drop("_g2l")
  }

  private val vecsSql =
    """SELECT vec_id, label,
      |    list_transform(embedding, x -> cast(x as double)) AS v,
      |    sqrt(list_reduce(list_transform(
      |      list_transform(embedding, x -> cast(x as double)), x -> x * x),
      |      (x, y) -> x + y)) AS nrm
      |  FROM embeddings""".stripMargin

  // THE oracle vector lambdas — single definitions: the fold order is
  // the bit-determinism contract with DuckDB, and a drifting copy
  // would desynchronize one oracle silently
  private def sqlDot(a: String, b: String) =
    s"list_reduce(list_transform($a, (x, i) -> x * $b[i]), (x, y) -> x + y)"
  private def sqlNrm(a: String) =
    s"sqrt(list_reduce(list_transform($a, x -> x * x), (x, y) -> x + y))"
  private def dotSql(a: String, b: String) = sqlDot(a, b)

  // ---------------------------------------------------------------- per-key top-k
  /** THE top-k stage of the ANN family: for each value of `key`, the
    * `k` rows with the highest `score`, ties broken by the lower `id`.
    * Returns (key, id, score, rank: int), rank from 1, in no order.
    *
    * It returns exactly the rows of `row_number() OVER (PARTITION BY
    * key ORDER BY score DESC, id) <= k`, the form the tests check it
    * against and the oracles spell out ([[rankedSql]]):
    *  - NaN ranks largest;
    *  - `-0.0` and `0.0` are equal, so ties between them break by id
    *    (Spark's `SQLOrderingUtil.compareDoubles`);
    *  - a null score ranks after every non-null one, ties broken by id
    *    (the window's `DESC NULLS LAST`; the ADC shortlists'
    *    `try_divide` yields one for a zero-norm reconstruction);
    *  - `score` is a double column; `id` is a non-null integral key,
    *    cast to long for the aggregate and back to its input type.
    *
    * Built on the native [[BoundedTopK]] aggregate plus `posexplode`:
    * at most k rows per partition per key cross the wire, and no
    * group is ever sorted whole. A caller that needs columns besides
    * (key, id, score) joins them back on the key or the id. */
  def topKPer(df: DataFrame, key: String, score: String, id: String,
      k: Int): DataFrame =
    df.groupBy(col(key))
      .agg(BoundedTopK.topK(k, col(id).cast("long"), col(score)).as("_topk"))
      .select(col(key), posexplode(arrays_zip(col("_topk.ids"), col("_topk.scores")))
        .as(Seq("_pos", "_hit")))
      .select(col(key), col("_hit.ids").cast(df.schema(id).dataType).as(id),
        col("_hit.scores").as(score), (col("_pos") + 1).cast("int").as("rank"))

  /** Per-query top-`k` of scored (q_id, vec_id, `score`) candidates as
    * the family's output rows: (q_id, neighbor_id, rank, `name` = the
    * score rounded once, after ranking). The Scala twin of
    * [[rankedSql]]. */
  private def topNeighbors(scored: DataFrame, k: Int, name: String,
      score: String = "cos"): DataFrame =
    topKPer(scored, "q_id", score, "vec_id", k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        rnd(col(score), 6).as(name))

  /** The oracles' per-query rank: by `score` desc, then vec_id. */
  private def rankSql(score: String) =
    s"row_number() OVER (PARTITION BY q_id ORDER BY $score DESC, vec_id)"

  /** `rank` and the cosine rounded once as `name`: the usual output
    * list of [[rankedSql]]. */
  private def rankOut(name: String) = s"rank,\n  ${rndSql("cos", 6)} AS $name"

  /** The oracles' per-query top-k tail, the SQL twin of
    * [[topNeighbors]]: the `ranked` CTE over `from` (q_id, vec_id,
    * `carry` columns, `score`), then `SELECT q_id, vec_id AS
    * neighbor_id, <out>` for rank <= [[TopK]], ordered by (q_id,
    * rank). Ends the statement: it goes last in the WITH list. */
  private def rankedSql(from: String, out: String = rankOut("cos_sim"),
      score: String = "cos", carry: String = ""): String =
    s"""ranked AS (
       |  SELECT q_id, vec_id, $carry$score,
       |    cast(${rankSql(score)} as int) AS rank
       |  FROM $from)
       |SELECT q_id, vec_id AS neighbor_id, $out
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- brute force
  /** Exact cosine top-k for each query vector: [[cosineTopKExact]] on
    * the standard query set. Registered as both `ann_bruteforce` and
    * `ann_bruteforce_agg`, which share one oracle. */
  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    cosineTopKExact(
      e.select(col("vec_id"), col("v")),
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv")),
      TopK)
  }

  private val annBruteforceSql =
    s"""WITH e AS ($vecsSql),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |    ${dotSql("q.qv", "e.v")} / (q.qn * e.nrm) AS cos
       |  FROM e JOIN q ON e.vec_id <> q.q_id),
       |${rankedSql("scored")}""".stripMargin

  // ---------------------------------------------------------------- MIPS
  /** Exact max-inner-product top-k per query — the objective
    * two-tower retrieval and recommender stacks actually rank by
    * (user·item): cosine's normalization DISCARDS the magnitude
    * signal those models learn (a popular item's larger norm IS its
    * prior), so a cosine engine silently re-ranks their output.
    * Same plan as [[annBruteforce]] — broadcast query set, one scan,
    * per-query [[topKPer]] — with the score = the raw dot product.
    * Determinism: the dot is the same pinned left-to-right fold on
    * both engines, ranking uses the unrounded value, output rounds
    * once (the annBruteforce discipline, minus the division). */
  def annMips(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("ip", dot(col("qv"), col("v")))
    topNeighbors(scored, TopK, "ip", score = "ip").orderBy(col("q_id"), col("rank"))
  }

  private val annMipsSql =
    s"""WITH e AS ($vecsSql),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, ${dotSql("q.qv", "e.v")} AS ip
       |  FROM e JOIN q ON e.vec_id <> q.q_id),
       |${rankedSql("scored", s"rank, ${rndSql("ip", 6)} AS ip", score = "ip")}""".stripMargin

  /** Norm-augmentation MIPS→cosine reduction (Neyshabur & Srebro,
    * ICML 2015 "On Symmetric and Asymmetric LSHs for Inner Product
    * Search", the simple-LSH transform): with M = max corpus norm,
    * aug(x) = [x ; √(M²−|x|²)] gives |aug(x)| = M for EVERY corpus
    * vector, and aug(q) = [q ; 0] keeps ⟨aug(x), aug(q)⟩ = ⟨x, q⟩ —
    * so augmented cosine is ⟨x,q⟩/(M·|q|), a per-query MONOTONE
    * transform of the inner product. Consequence: every cosine tier
    * in this file (bounded-agg exact, the IVF probe, the SQ/PQ code
    * ladder) becomes a MIPS engine with zero changes — augment once
    * at index-build time, append a literal 0 to queries.
    *
    * Plan: M is one map-side-combined max aggregate (1-row scalar
    * probe, the allowlisted corpus-stat pattern); the augmentation is
    * a per-row projection fused into whatever scan follows. The √
    * argument clamps at 0 — the max-norm row itself can land −1 ulp
    * under FP subtraction. Returns (augmented corpus, augmented
    * queries) with the same (vec_id, v) / (q_id, qv) shapes the
    * cosine kernels take. */
  def mipsAugment(vectors: DataFrame, queries: DataFrame): (DataFrame, DataFrame) = {
    val mRow = vectors.agg(max(VectorFunctions.norm(col("v")))).head()
    val m = if (mRow.isNullAt(0)) 0.0 else mRow.getDouble(0) // empty corpus
    val aug = vectors.withColumn("v",
      concat(col("v"), array(sqrt(greatest(lit(0.0),
        lit(m * m) - dot(col("v"), col("v")))))))
    val augQ = queries.withColumn("qv",
      concat(col("qv"), array(lit(0.0))))
    (aug, augQ)
  }

  /** MIPS top-k THROUGH the cosine stack: [[mipsAugment]] then the
    * bounded-agg exact kernel. The reported score is the augmented
    * cosine — rank-equivalent to the inner product ([[annMips]]
    * reports the ip itself); SimilaritySpec proves the rankings
    * coincide neighbor-for-neighbor and that the IVF probe composes
    * the same way. */
  def mipsTopKViaCosine(vectors: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val (aug, augQ) = mipsAugment(vectors, queries)
    cosineTopKExact(aug, augQ, k)
  }

  // ---------------------------------------------------------------- range search
  /** Cosine threshold for [[annRangeSearch]]: ~p99 of this corpus's
    * query-to-corpus cosine distribution, so each query matches a
    * few dozen vectors at sf0.01 — both sides of the cut exercised. */
  private val RangeTau = 0.25

  /** Range (radius) similarity search — ALL corpus vectors within
    * cosine ≥ τ of each query, the other half of the vector-search
    * API surface next to top-k: top-k bounds the RESULT SIZE (rank
    * cutoff), range search bounds the SIMILARITY (every sufficiently
    * close match, however many or few). Retrieval wants top-k;
    * near-dup mining and contamination sweeps want range.
    *
    * Scale shape — and why this needs NO ranking machinery: a range
    * search is a pure SELECTION. Broadcast query set, one corpus
    * scan, per-row cosine folds, a filter — zero exchanges, no
    * window, no TopK state; output ∝ true matches. The threshold
    * compares the RAW cosine (the fold order shared with the oracle
    * is the bit-determinism contract; rounding happens only in the
    * emitted column, like the top-k family's rank ordering). With a
    * corpus-sized query set this becomes [[knnJoin]]'s blocked
    * self-join with the filter in place of the bounded rank. */
  def annRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .filter(col("cos") >= RangeTau)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        rnd(col("cos"), 6).as("cos_sim"))
      .orderBy(col("q_id"), col("neighbor_id"))
  }

  private val annRangeSearchSql =
    s"""WITH e AS ($vecsSql),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id,
       |    ${dotSql("q.qv", "e.v")} / (q.qn * e.nrm) AS cos
       |  FROM e JOIN q ON e.vec_id <> q.q_id)
       |SELECT q_id, vec_id AS neighbor_id, ${rndSql("cos", 6)} AS cos_sim
       |FROM scored WHERE cos >= $RangeTau
       |ORDER BY q_id, neighbor_id""".stripMargin

  // ---------------------------------------------------------------- bounded topk kernel
  /** PUBLIC scalable exact top-k kernel: cosine top-k of `vectors`
    * for each row of broadcast `queries`, ranked through the bounded
    * [[topKPer]] stage — ≤ k rows per partition per query cross the
    * wire, never a sort of the whole corpus. THIS is the brute-force
    * form that holds at 100 TB with a broadcast-sized query set; its
    * oracle twin is `ann_bruteforce`'s DuckDB SQL. `vectors`:
    * (vec_id, v array<double>); `queries`: (q_id, qv). Self-matches
    * (vec_id == q_id) are excluded. */
  def cosineTopKExact(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.withColumn("qn", VectorFunctions.norm(col("qv"))))
    val scored = vectors
      .withColumn("nrm", VectorFunctions.norm(col("v")))
      .join(q, col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    topNeighbors(scored, k, "cos_sim").orderBy(col("q_id"), col("rank"))
  }

  // ---------------------------------------------------------------- IVF
  /** PUBLIC parameterized IVF top-k kernel over arbitrary frames:
    * `vectors` (vec_id, v, nrm), `queries` (q_id, qv, qn), centroids
    * as driver-side triples (seeded or kmeans-trained — a few KB at
    * any corpus scale). The corpus assign is the zero-shuffle
    * [[nearestCentroid]] projection; each query probes its `nprobe`
    * closest centroids (a top-k over the broadcast-sized query × k
    * frame, never the corpus) and candidates are ranked exactly
    * inside probed clusters only — the probe scans ~nprobe/nlist of
    * the corpus. Self-matches (vec_id == q_id) are excluded. At
    * 100 TB the assignment is a write-once partition key and the
    * probe a partition-pruned scan. Backs `ann_ivf` and
    * `ann_ivf_trained` (hash-checked) and the recall harness
    * (SimilarityRecallSpec). */
  def ivfTopK(vectors: DataFrame, queries: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], nprobe: Int, k: Int): DataFrame = {
    val assigned = vectors
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"))
    rankProbed(assigned, probeClusters(queries, cents, nprobe), k)
  }

  /** Each query's `nprobe` closest centroids (q_id, qv, qn,
    * probe_cluster) — a [[topKPer]] over the broadcast-sized query × k
    * frame, never the corpus; qv/qn join back on q_id. SHARED by
    * [[ivfTopK]], [[probeIvfIndex]] and the IVF-PQ paths so their
    * documented result equivalences cannot drift; [[probesSql]] is its
    * oracle twin. */
  private def probeClusters(queries: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col("q_id"), col("qv"), col("qn"))
    val scored = q.join(broadcast(cents.toDF("c_id", "cv", "cn")), lit(true))
      .withColumn("qcos", dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
    topKPer(scored, "q_id", "qcos", "c_id", nprobe)
      // always true, but Spark prunes a cluster-partitioned index scan
      // dynamically only when the probe side carries such a predicate
      .filter(col("rank") <= nprobe)
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("probe_cluster"))
  }

  /** The oracles' `probes` CTE over `q` and `cent`, the SQL twin of
    * [[probeClusters]]. */
  private def probesSql: String =
    s"""probes AS (
       |  SELECT q_id, qv, qn, probe_cluster FROM (
       |    SELECT q.q_id, q.qv, q.qn, cent.c_id AS probe_cluster,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${sqlDot("cent.cv", "q.qv")} / (cent.cn * q.qn) DESC, cent.c_id)
       |        AS prank
       |    FROM q CROSS JOIN cent)
       |  WHERE prank <= $NProbe)""".stripMargin

  /** The oracles' `assigned` CTE: each (vec_id, v, nrm) row of `src`
    * with the id of its nearest `cent` row (cosine desc, then c_id) as
    * `cluster`, the SQL twin of [[nearestCentroid]]. */
  private def assignedSql(src: String): String =
    s"""assigned AS (
       |  SELECT vec_id, v, nrm, cluster FROM (
       |    SELECT $src.vec_id, $src.v, $src.nrm, cent.c_id AS cluster,
       |      row_number() OVER (PARTITION BY $src.vec_id
       |        ORDER BY ${sqlDot("cent.cv", s"$src.v")} / (cent.cn * $src.nrm) DESC, cent.c_id)
       |        AS crank
       |    FROM $src CROSS JOIN cent)
       |  WHERE crank = 1)""".stripMargin

  /** Exact rank of (vec_id, v, nrm, cluster) candidates inside probed
    * clusters only — the shared tail of [[ivfTopK]]/[[probeIvfIndex]].
    * The broadcast probe join is what dynamic partition pruning hangs
    * off when the candidate side is a cluster-partitioned scan. */
  private def rankProbed(candidates: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    val scored = candidates.join(broadcast(probes),
        col("cluster") === col("probe_cluster") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    topNeighbors(scored, k, "cos_sim").orderBy(col("q_id"), col("rank"))
  }

  /** Materialize an IVF index as a CLUSTER-PARTITIONED parquet
    * layout: one linear write pass (the assign is the zero-shuffle
    * [[nearestCentroid]] projection), `partitionBy(cluster)` makes
    * the learned assignment the physical partition key. This is the
    * literal "write-once partitioning" the `annIvf` scaladoc
    * promises at 100 TB — [[probeIvfIndex]] then touches only the
    * probed clusters' directories. */
  def writeIvfIndex(vectors: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], path: String,
      sourceFingerprint: Option[String] = None): Unit = {
    vectors
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(path)
    // staleness guard (round 14, the co-order layout's discipline):
    // record what the index was built FROM so a probe can refuse an
    // index whose source corpus has since been regenerated. The
    // leading underscore keeps the sidecar invisible to the parquet
    // scan (the _SUCCESS convention).
    sourceFingerprint.foreach(fp =>
      writeSidecar(vectors.sparkSession, ivfFpPath(path), fp))
  }

  private def ivfFpPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_SOURCE_FINGERPRINT")

  private def writeSidecar(spark: SparkSession,
      p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readSidecar(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** Append a vector batch to a materialized IVF index WITHOUT
    * retraining — the index-maintenance path a live corpus needs
    * (rebuilding a 100 TB index for each ingest batch is not a
    * plan): the batch assigns against the index's OWN frozen
    * centroids (the same zero-shuffle [[nearestCentroid]]
    * projection as the build) and appends cluster-partitioned, so
    * only the TOUCHED clusters' directories gain files — cost ∝
    * batch, never ∝ index. Because assignment is per-row against
    * fixed centroids and the layout key IS the assignment, append
    * commutes with build: probing the appended index is
    * row-identical to probing an index built from base ∪ batch in
    * one shot (spec-proven, along with the plan still
    * partition-pruning afterwards). Centroid DRIFT is the documented
    * trade (Lloyd quality degrades as the corpus outgrows the
    * training snapshot) — the production cadence is append per
    * batch, retrain per epoch; pair with [[ManifestTable]] when the
    * swap must be atomic for readers. */
  def appendIvfIndex(batch: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], path: String,
      sourceFingerprint: Option[String] = None): Unit = {
    batch
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cluster").parquet(path)
    // an append advances what the index covers: the caller hands the
    // post-batch source fingerprint so subsequent guarded probes
    // accept the grown corpus
    sourceFingerprint.foreach(fp =>
      writeSidecar(batch.sparkSession, ivfFpPath(path), fp))
  }

  /** Probe a materialized IVF index: each query's `nprobe` closest
    * clusters come from the same broadcast-sized top-k as
    * [[ivfTopK]], and the index scan is DYNAMICALLY partition-pruned
    * by the broadcast equi-join on the partition column — Spark reads
    * only the probed clusters' directories (~nprobe/nlist of the
    * corpus), asserted by the PartitionFilters/dynamicpruning plan
    * check in SimilarityRecallSpec. Results are identical to
    * [[ivfTopK]] over the same centroids. */
  def probeIvfIndex(spark: SparkSession, path: String, queries: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], nprobe: Int, k: Int,
      expectFingerprint: Option[String] = None): DataFrame = {
    // refuse a stale index outright (vs the co-order layout's silent
    // inline fallback — a probe has no inline equivalent to fall back
    // to, so failing loud is the only honest behavior)
    expectFingerprint.foreach { want =>
      val have = readSidecar(spark, ivfFpPath(path))
      if (!have.contains(want)) throw new IllegalStateException(
        s"IVF index at $path is STALE: built over " +
          s"${have.getOrElse("<no fingerprint>")}, source now $want — " +
          "rebuild with writeIvfIndex")
    }
    rankProbed(spark.read.parquet(path),
      probeClusters(queries, cents, nprobe), k)
  }

  /** IVF-bucketed ANN query: `ivfTopK` with deterministic centroid
    * seeds (the `NCentroids` lowest-id vectors; their `cn` is the
    * engine-computed norm, so cosines are bit-identical to the
    * window-form oracle). */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = e.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").cast("int").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    ivfTopK(
      e.select(col("vec_id"), col("v"), col("nrm")),
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")),
      collectCentroids(cent), NProbe, TopK)
  }

  private val annIvfSql =
    s"""WITH e AS ($vecsSql),
       |cent AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM e WHERE vec_id < $NCentroids),
       |${assignedSql("e")},
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $NQueries),
       |$probesSql,
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    ${dotSql("p.qv", "a.v")} / (p.qn * a.nrm) AS cos
       |  FROM assigned a JOIN probes p
       |    ON a.cluster = p.probe_cluster AND a.vec_id <> p.q_id),
       |${rankedSql("scored")}""".stripMargin

  // ---------------------------------------------------------------- LSH
  /** Random-hyperplane LSH near-dup candidates: an 8-bit signature
    * (sign of the dot product against 8 deterministic hyperplanes —
    * the lowest-id vectors), candidates = pairs in the same bucket.
    * Like dedup_minhash, signature computation is linear and the
    * bucket join is an equi-join — no cross join; at 100 TB the
    * signature doubles as a partition key so each bucket is a
    * partition-local pair scan. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val hyper = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("hid"), col("v").as("hv"))
    // persisted: the bucket equi-join consumes the signature frame on
    // both sides — one row per vector, saves a 8-hyperplane recompute
    val sigs = e.join(broadcast(hyper), lit(true))
      .withColumn("bit",
        when(VectorFunctions.dot(col("hv"), col("v")) > 0,
          expr("cast(shiftleft(1L, hid) as bigint)")).otherwise(0L))
      .groupBy(col("vec_id"), col("v"), col("nrm"))
      .agg(sum(col("bit")).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sigs.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("sig"))
    val b = sigs.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("sig").as("sig_b"))
    a.join(b, col("sig") === col("sig_b") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("sig").as("bucket"),
        rnd(VectorFunctions.dot(col("va"), col("vb"))
          / (col("na") * col("nb")), 6).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** PUBLIC multi-table random-hyperplane LSH candidate kernel over
    * an arbitrary (vec_id, v) frame: `hyper` supplies `bands × bits`
    * driver-side hyperplanes (a few KB — embedded as literals, like
    * the centroid kernel), each band's `bits` sign-bits form one
    * signature, and a pair is a candidate when ANY band's signatures
    * collide (the OR-construction: recall ≈ 1 − (1 − p^bits)^bands
    * for per-hyperplane agreement p = 1 − θ/π). Signature computation
    * is a pure per-row projection — zero shuffles on any layout — and
    * candidates are an equi-join on (band, sig): collisions, never
    * n². `ann_lsh` keeps its single-band oracle-paired form; this is
    * the scale/recall-tunable path, recall-floor-tested in
    * SimilarityRecallSpec. */
  def lshCandidatePairs(vectors: DataFrame, hyper: Seq[Seq[Double]],
      bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
    require(hyper.nonEmpty && hyper.size % bits == 0,
      s"need a multiple of $bits hyperplanes, got ${hyper.size}")
    val bands = hyper.size / bits
    val sigCols = (0 until bands).map { b =>
      val sig = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
        acc + when(
          VectorFunctions.dot(typedLit(hyper(b * bits + i)), col("v")) > 0,
          lit(1L << i)).otherwise(lit(0L))
      }
      struct(lit(b).as("band"), sig.as("sig"))
    }
    // NOT persisted: both join sides recompute the signature
    // projection, but it is a cheap codegen'd per-row expression and
    // a kernel that persists internally would leak one cached frame
    // per call for the session's lifetime with no handle to release
    // it (callers wanting reuse can persist `vectors` themselves)
    val sigs = vectors
      .select(col("vec_id"), explode(array(sigCols: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val a = sigs.select(col("vec_id").as("vec_a"), col("band"), col("sig"))
    val b = sigs.select(col("vec_id").as("vec_b"), col("band").as("band_b"),
      col("sig").as("sig_b"))
    a.join(b, col("band") === col("band_b") && col("sig") === col("sig_b")
        && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
  }

  private val annLshSql = {
    val dot = (a: String, b: String) => sqlDot(a, b)
    s"""WITH en AS ($vecsSql),
       |hyper AS (SELECT cast(vec_id as int) AS hid, v AS hv FROM en WHERE vec_id < 8),
       |sigs AS (
       |  SELECT en.vec_id, any_value(en.v) AS v, any_value(en.nrm) AS nrm,
       |    cast(sum(CASE WHEN ${dot("h.hv", "en.v")} > 0
       |             THEN (1::BIGINT << h.hid) ELSE 0 END) as bigint) AS sig
       |  FROM en CROSS JOIN hyper h
       |  GROUP BY en.vec_id)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.sig AS bucket,
       |  ${rndSql("list_reduce(list_transform(a.v, (x, i) -> x * b.v[i]), (x, y) -> x + y) / (a.nrm * b.nrm)", 6)} AS cos_sim
       |FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------- kmeans
  /** Reusable Lloyd trainer over (vec_id, v, nrm) rows: k clusters
    * (init = k lowest-id vectors), `iters` assign/update rounds.
    * Returns (centroids with c_id/cv, final assignment with
    * vec_id/v/cluster). Vectors are expected non-null with one fixed
    * width; rows violating that are excluded from centroid updates
    * (see `update`) but still flow to the assignment output.
    *
    * Iteration shape: the k×dim centroid table (a few KB — tiny at
    * any corpus scale) is COLLECTED to the driver between rounds and
    * re-embedded as a broadcast literal. This keeps every iteration's
    * plan flat — one persisted-corpus pass + one (cluster, dim)
    * aggregate — instead of stacking each round's whole lineage under
    * the next (which re-executed from the scan and grew per round;
    * that's how MLlib's own KMeans iterates too). The corpus frame is
    * persisted once and reused by all `iters+1` jobs. Collected
    * doubles round-trip exactly, so cross-engine bit-determinism is
    * unaffected.
    *
    * Cross-engine: init = lowest-id vectors, cosine assignment with a
    * fixed tie-break (norms/dots are sequential folds over dim-ordered
    * arrays → bit-identical doubles), and component means computed by
    * [[kmeansUpdate]] exactly as the oracle's decimal sum / count
    * ([[lloydCtes]]) computes them. */
  def kmeansTrain(e0: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) =
    kmeansTrainImpl(e0, k, iters, twoLevel = false)

  /** [[kmeansTrain]] with the [[assignTwoLevel]] coarse/fine probe in
    * place of the flat argmax — the trainer for the corpus-scaled
    * clusterings ([[dedupSemantic]], [[dedupEmbeddingClustered]]),
    * where k = ⌈n/2560⌉ makes the flat n·k assign quadratic in the
    * corpus. Fixed-k consumers (`ann_kmeans`, the IVF family) keep
    * the flat trainer: k = 10 is cheaper than any two-level split
    * and their oracles stay untouched. */
  def kmeansTrainTwoLevel(e0: DataFrame, k: Int, iters: Int)
      : (DataFrame, DataFrame) =
    kmeansTrainImpl(e0, k, iters, twoLevel = true)

  private def kmeansTrainImpl(e0: DataFrame, k: Int, iters: Int,
      twoLevel: Boolean): (DataFrame, DataFrame) = {
    require(iters >= 1, s"kmeansTrain needs iters >= 1, got $iters " +
      "(the assigned frame comes from the final iteration)")
    val spark = e0.sparkSession
    import org.apache.spark.storage.StorageLevel
    val e = e0.persist(StorageLevel.MEMORY_AND_DISK)

    // assign = [[nearestCentroid]] projection against the driver-side
    // centroid literal: ZERO exchanges on any layout. (The r3 form —
    // cross-join + `row_number()` window — expanded the corpus k× and
    // hash-shuffled + sorted the expansion, per Lloyd round, per
    // consumer: 50 corpus-sized shuffles at 5 rounds × 2 consumers.)
    def assign(cents: Seq[(Int, Seq[Double], Double)]): DataFrame =
      (if (twoLevel) assignTwoLevel(e, cents, col("v"), col("nrm"))
       else e.withColumn("cluster",
         nearestCentroid(cents, col("v"), col("nrm"))))
        .select(col("vec_id"), col("v"), col("cluster"))

    // dim comes from the seed-centroid collect below (r18: the old
    // head(1) probe was one more SEQUENTIAL driver job per trainer
    // call, ~10 registered consumers) — the seed rows are corpus rows,
    // so on any fixed-width corpus the value is identical; width 1 on
    // an empty corpus keeps the plan resolvable (EmptyInputSpec).
    // ADVICE r19: scan ALL seeds, not just the first — a null or
    // zero-width first seed among valid ones would otherwise probe
    // dim 1 and silently exclude every row from training.
    def dimOf(cents: Seq[(Int, Seq[Double], Double)]): Int =
      cents.iterator.flatMap(c => Option(c._2)).map(_.length)
        .find(_ > 0).getOrElse(1)

    // k×dim → driver triples; norms via driverNorm (bit-identical to
    // the in-engine L2Norm fold), so each round's plan stays flat
    var cents = collectCentroids(e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("c_id"), col("v").as("cv")))
    val dim = dimOf(cents)
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assign(cents)
      cents = collectCentroids(kmeansUpdate(assigned, dim))
    }
    import spark.implicits._
    val centDf = cents.map { case (id, cv, _) => (id, cv) }.toDF("c_id", "cv")
    (centDf, assigned)
  }

  /** One Lloyd centroid update: ONE groupBy(cluster) whose single
    * native [[graft.functions.VectorMeanExact]] aggregate carries the
    * `dim` component means (map-side combined: each partition ships
    * k buffers of 128-bit sums, never rows).
    *
    * The means equal the oracle's decimal sum / count ([[lloydCtes]])
    * bit for bit: every element goes through Spark's own double →
    * decimal cast at the oracle's precision and scale, and only the
    * accumulation is native — an exact 128-bit sum of the unscaled
    * values, which, like a decimal sum, does not depend on row order
    * or merge order.
    *
    * Malformed rows (null v, or width ≠ the probed dim) are filtered
    * out before grouping, so they neither count toward a mean nor
    * make a centroid of a cluster that holds only them. Those rows
    * still appear in `assigned` (with whatever cluster the
    * null-propagating argmax yields); they just don't train. */
  private[graft] def kmeansUpdate(assigned: DataFrame, dim: Int): DataFrame =
    assigned
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .groupBy(col("cluster"))
      .agg(graft.functions.VectorMeanExact.mean(dim, col("v")).as("cv"))
      .select(col("cluster").as("c_id"), col("cv"))

  /** 5 Lloyd rounds (was 2 in round 1): with the flat-iteration
    * trainer each extra round costs one corpus pass plus one
    * [[kmeansUpdate]] aggregate, not a replay of all prior rounds. */
  private val KmeansIters = 5

  def annKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val (cN, aN) = kmeansTrain(e, NCentroids, iters = KmeansIters)
    val sizes = aN.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    cN.join(sizes, col("c_id") === col("cluster"))
      .select(
        col("c_id").as("cluster_id"),
        col("n_members"),
        rnd(VectorFunctions.norm(col("cv")), 6).as("centroid_norm"),
        rnd(element_at(col("cv"), 1), 6).as("centroid_c0"))
      .orderBy(col("cluster_id"))
  }


  /** Unrolled Lloyd CTE chain for any iteration count — c(i) from
    * a(i), a(i) assigned against c(i-1), mirroring kmeansTrain
    * exactly; ends with `c$iters` / `a$iters` available. Shared by
    * the kmeans oracle, the trained-IVF oracle, and the clustered
    * embedding-dedup oracle. `kSql` is the centroid-count expression
    * for the c0 init (a literal for the fixed-k queries; a scalar
    * subquery for the corpus-scaled `dedup_embedding`). */
  private def kmeansCtesFor(iters: Int): String =
    kmeansCtes(iters, NCentroids.toString)

  private def kmeansCtes(iters: Int, kSql: String): String =
    lloydCtes(iters, kSql) { i =>
      s"""a$i AS (
         |  SELECT vec_id, v, cluster FROM (
         |    SELECT en.vec_id, en.v, c.c_id AS cluster,
         |      row_number() OVER (PARTITION BY en.vec_id
         |        ORDER BY ${sqlDot("c.cv", "en.v")} / (${sqlNrm("c.cv")} * en.nrm) DESC, c.c_id) AS rn
         |    FROM en CROSS JOIN c${i - 1} c)
         |  WHERE rn = 1)""".stripMargin
    }

  /** The Lloyd CTE chain around a per-round assign block: `en` (the
    * vectors), `c0` (the `kSql` lowest-id seeds), then per round i the
    * `assign(i)` CTEs ending in `a$i` (vec_id, v, cluster) and the
    * update `u$i`/`c$i` — the decimal sum / count that
    * [[kmeansUpdate]]'s native aggregate reproduces bit for bit. */
  private def lloydCtes(iters: Int, kSql: String)(assign: Int => String): String = {
    val rounds = (1 to iters).map { i =>
      s"""${assign(i)},
         |u$i AS (
         |  SELECT cluster, dim,
         |    cast(sum(cast(x as decimal(28,12))) as double) / count(*) AS m
         |  FROM (SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM a$i)
         |  GROUP BY cluster, dim),
         |c$i AS MATERIALIZED (SELECT cluster AS c_id, list(m ORDER BY dim) AS cv FROM u$i GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    s"""en AS MATERIALIZED ($vecsSql),
       |c0 AS MATERIALIZED (SELECT cast(vec_id as int) AS c_id, v AS cv FROM en WHERE vec_id < ($kSql)),
       |$rounds""".stripMargin
  }

  /** CTE block replicating ONE [[assignTwoLevel]] probe of `en`
    * against the centroid CTE `centCte`, producing `$outCte` with
    * `carry` columns + `cluster`. Mirrors the kernel step for step:
    * `r` = the ⌈√|cent|⌉ lowest-id centroids (the coarse reps), `g` =
    * every centroid mapped to its nearest rep (reps to themselves —
    * the same self-membership rule [[coarseGroups]] applies, so the
    * fine join is total), `ac` = per-vector nearest rep, out = exact
    * argmax within the chosen group. Every cosine is the shared
    * fold-order expression; every argmax is `row_number ORDER BY cos
    * DESC, id` — the tie/NaN/NULL semantics [[nearestCentroid]]'s
    * fold reproduces. */
  private def kmeans2lAssignCtes(sfx: String, centCte: String,
      carry: Seq[String], outCte: String): String = {
    val acCols = carry.map(c => s"en.$c").mkString(", ")
    val outInner = carry.map(c => s"ac.$c").mkString(", ")
    // every multi-referenced CTE MATERIALIZED (the round-13 oracle
    // lesson, see MrCore's pagerank/graph oracles): r is read three
    // times per round and en once per round across rounds — DuckDB's
    // default inlining re-derives them per reference, which is what
    // pushed this chain past the sf10 spill cap
    s"""r$sfx AS MATERIALIZED (
       |  SELECT c_id, cv, ${sqlNrm("cv")} AS cn FROM (
       |    SELECT c_id, cv, row_number() OVER (ORDER BY c_id) AS rn FROM $centCte)
       |  WHERE rn <= (SELECT cast(ceil(sqrt(count(*))) as int) FROM $centCte)),
       |g$sfx AS MATERIALIZED (
       |  SELECT c_id, cv, cn, grp FROM (
       |    SELECT c.c_id, c.cv, ${sqlNrm("c.cv")} AS cn,
       |      CASE WHEN c.c_id IN (SELECT c_id FROM r$sfx) THEN c.c_id
       |        ELSE r.c_id END AS grp,
       |      row_number() OVER (PARTITION BY c.c_id
       |        ORDER BY ${sqlDot("r.cv", "c.cv")} / (r.cn * ${sqlNrm("c.cv")}) DESC, r.c_id) AS rr
       |    FROM $centCte c CROSS JOIN r$sfx r)
       |  WHERE rr = 1),
       |ac$sfx AS MATERIALIZED (
       |  SELECT $acCols, en.nrm AS _nrm, grp FROM (
       |    SELECT en.*, r.c_id AS grp,
       |      row_number() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${sqlDot("r.cv", "en.v")} / (r.cn * en.nrm) DESC, r.c_id) AS rr
       |    FROM en CROSS JOIN r$sfx r) en
       |  WHERE rr = 1),
       |$outCte AS MATERIALIZED (
       |  SELECT ${carry.mkString(", ")}, cluster FROM (
       |    SELECT $outInner, g.c_id AS cluster,
       |      row_number() OVER (PARTITION BY ac.vec_id
       |        ORDER BY ${sqlDot("g.cv", "ac.v")} / (g.cn * ac._nrm) DESC, g.c_id) AS rn
       |    FROM ac$sfx ac JOIN g$sfx g ON g.grp = ac.grp)
       |  WHERE rn = 1)""".stripMargin
  }

  /** Unrolled Lloyd chain like [[kmeansCtes]] but with the TWO-LEVEL
    * assign per round — the oracle twin of [[kmeansTrainTwoLevel]].
    * Ends with `c$iters` / `a$iters` (a$i = vec_id, v, cluster). */
  private def kmeans2lCtes(iters: Int, kSql: String): String =
    lloydCtes(iters, kSql) { i =>
      kmeans2lAssignCtes(i.toString, s"c${i - 1}", Seq("vec_id", "v"), s"a$i")
    }

  private val annKmeansSql = {
    val n = KmeansIters
    s"""WITH ${kmeansCtesFor(n)},
       |sizes AS (SELECT cluster, count(*) AS n_members FROM a$n GROUP BY cluster)
       |SELECT c$n.c_id AS cluster_id, sizes.n_members,
       |  ${rndSql(sqlNrm(s"c$n.cv"), 6)} AS centroid_norm,
       |  ${rndSql(s"c$n.cv[1]", 6)} AS centroid_c0
       |FROM c$n JOIN sizes ON c$n.c_id = sizes.cluster
       |ORDER BY cluster_id""".stripMargin
  }

  // ---------------------------------------------------------------- IVF trained
  /** The full IVF lifecycle as ONE query (round 2): TRAIN centroids
    * with `kmeansTrain` (2 Lloyd rounds, flat iterations), ASSIGN
    * every vector to its learned centroid, then PROBE each query's 2
    * closest learned clusters and rank exactly — `ann_ivf` with real
    * learned centroids instead of the deterministic seed vectors. At
    * 100 TB the trained assignment is the write-once partition key;
    * training cost is `iters` linear passes. */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val ev = e.select(col("vec_id"), col("v"), col("nrm"))
    val (cent, _) = kmeansTrain(ev, NCentroids, iters = 2)
    // collectCentroids recomputes cn with driverNorm — bit-identical
    // to the oracle's in-engine L2 fold over the same literal cv
    ivfTopK(ev,
      ev.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")),
      collectCentroids(cent), NProbe, TopK)
  }

  private val annIvfTrainedSql = {
    val cN = "c2" // 2 training rounds
    s"""WITH ${kmeansCtesFor(2)},
       |cent AS (SELECT c_id, cv, ${sqlNrm("cv")} AS cn FROM $cN),
       |${assignedSql("en")},
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en WHERE vec_id < $NQueries),
       |$probesSql,
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    ${sqlDot("p.qv", "a.v")} / (p.qn * a.nrm) AS cos
       |  FROM assigned a JOIN probes p
       |    ON a.cluster = p.probe_cluster AND a.vec_id <> p.q_id),
       |${rankedSql("scored")}""".stripMargin
  }

  // ---------------------------------------------------------------- semantic dedup
  /** Within-cluster cosine floor for [[dedupSemantic]]: vectors this
    * close to a lower-id cluster-mate are semantic duplicates.
    * Calibrated to the synthetic corpus, whose planted near-dup band
    * sits at cos ≈ 0.3-0.5 (the `dedup_embedding` regime); on real
    * text embeddings SemDeDup operates at ~0.95 — the threshold is
    * data, not algorithm. */
  private val SemDedupTau = 0.35

  /** SemDeDup-style semantic deduplication (method: Abbas et al.,
    * "SemDeDup", arXiv:2303.09540): cluster the corpus embeddings
    * with [[kmeansTrain]] (2 Lloyd rounds — the `ann_ivf_trained`
    * configuration, so the learned partitioning is shared
    * infrastructure, not a bespoke pass), then compare vectors ONLY
    * within their cluster and drop every vector that has a lower-id
    * cluster-mate with cosine >= [[SemDedupTau]]. Output = the
    * dropped rows with their keeper (`dup_of` = the LOWEST-id
    * qualifying cluster-mate) — the delete-list a curation pipeline
    * anti-joins against the corpus. Complements `dedup_embedding`
    * (exact near-dup pairs inside label blocks): this one needs no
    * labels and catches paraphrase-grade duplicates, the curation
    * pass exact/minhash dedup cannot see.
    *
    * Scale shape: clustering first is the entire trick — the
    * quadratic comparison is confined to cluster blocks. Training is
    * `iters` linear passes with a zero-shuffle assign; the pair stage
    * is ONE hash equi-join on cluster id (shuffle ∝ corpus, pairs ∝
    * Σ|cluster|²). k grows with the corpus (round 7, the sf10
    * lesson: the fixed-k form left blocks ∝ n and the pair stage
    * quadratic — 37× for 10× data; k = max([[NCentroids]],
    * ⌈n / [[DedupClusterRows]]⌉) holds blocks to ~2.5k rows so pair
    * work is linear, and at sf ≤ 1 where ⌈n/2560⌉ ≤ 10 the k —
    * hence the gate output — is unchanged). A skewed cluster is
    * AQE-splittable because the join is a plain equi-join. No
    * all-pairs stage exists at any scale. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val ev = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val k = math.max(NCentroids.toLong,
      math.ceil(ev.count() / DedupClusterRows.toDouble).toLong).toInt
    val (_, assigned) = kmeansTrainTwoLevel(ev, k, iters = 2)
    // deliberately NOT persisted: the pair stage self-joins this frame
    // and each side re-runs the final assign projection — but the
    // assign is ~2√k codegen'd dot products per row against centroid
    // LITERALS, and materializing the corpus-wide (v, cluster, nrm)
    // frame costs more than computing it twice (measured r17, sf1
    // isolated min-of-2: 12.2 s persisted vs 10.9 s recomputed — the
    // sf1 time tracks the pair stage, not the assign; closes the r16
    // "plan re-read" watch item on this query)
    val m = assigned.withColumn("nrm", VectorFunctions.norm(col("v")))
    val a = m.select(col("vec_id").as("vec_a"), col("cluster"),
      col("v").as("va"), col("nrm").as("na"))
    val b = m.select(col("vec_id").as("vec_b"),
      col("cluster").as("cluster_b"), col("v").as("vb"), col("nrm").as("nb"))
    // rn=1 keeps the lowest-id qualifying keeper; the window is
    // bounded by the cluster block size, never global
    val w = Window.partitionBy(col("vec_a")).orderBy(col("vec_b"))
    a.join(b, col("cluster") === col("cluster_b") && col("vec_b") < col("vec_a"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= SemDedupTau)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_a").as("vec_id"), col("cluster"),
        col("vec_b").as("dup_of"), rnd(col("cos"), 6).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  private val dedupSemanticSql = {
    val pairCos = s"${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm)"
    // corpus-scaled k as a scalar subquery — the dedup_embedding
    // pattern; greatest() keeps the sf ≤ 1 gate output identical to
    // the fixed-k history
    val kSql = s"SELECT greatest($NCentroids, " +
      s"cast(ceil(count(*) / $DedupClusterRows.0) as int)) FROM embeddings"
    // cast the threshold to double explicitly: a bare fractional
    // literal is DECIMAL on both engines with different promotion
    // rules (the round-6 bm25 lesson, SURVEY §12)
    s"""WITH ${kmeans2lCtes(2, kSql)},
       |m AS (SELECT vec_id, v, cluster, ${sqlNrm("v")} AS nrm FROM a2),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, a.cluster, b.vec_id AS vec_b,
       |    $pairCos AS cos,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY b.vec_id) AS rn
       |  FROM m a JOIN m b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
       |  WHERE $pairCos >= cast($SemDedupTau as double))
       |SELECT vec_a AS vec_id, cluster, vec_b AS dup_of,
       |  ${rndSql("cos", 6)} AS cos_sim
       |FROM pairs WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------- clustered embedding dedup
  /** The registered `dedup_embedding` since round 7: embedding-cosine
    * near-dup pairs within (label, kmeans-cluster) blocks — the
    * SemDeDup trade (Abbas et al., arXiv:2303.09540) applied to the
    * pair-listing semantic: cluster first with the SHARED
    * [[kmeansTrain]] (2 Lloyd rounds, the `ann_ivf_trained`
    * configuration), then compare only within blocks. k scales with
    * the corpus (⌈n / [[DedupClusterRows]]⌉), so blocks stay ~256
    * rows and the pairwise stage is LINEAR at any scale — at sf ≤ 0.1
    * (n ≤ 2000) k = 1 and the output is exactly the all-pairs
    * baseline's.
    *
    * Why not a total-recall banded plan: measured this round, every
    * qualifying pair on this corpus sits in cos ∈ [0.3, 0.5) — the
    * continuous tail of the random-pair distribution (nearest
    * non-qualifier 0.29998). At τ = 0.3 (θ = 72.5°) hyperplane-LSH
    * banding with ≥ 90% boundary recall admits ≈ half of ALL pairs as
    * candidates (0.597^k per k-bit band) — all-pairs in disguise.
    * Clustering bounds the compare scope instead and the recall trade
    * is declared: cross-cluster pairs are not listed (on real
    * corpora, near-dups at production thresholds ≥ 0.8 co-cluster;
    * the boundary-tail pairs this corpus plants are exactly what
    * SemDeDup scopes out). The exact baseline stays registered as
    * `dedup_embedding_exact` (Dedup.scala) and
    * DedupSimilaritySpec measures this form's coverage against it.
    *
    * The oracle replicates the full pipeline — corpus-scaled k via a
    * scalar subquery, the Lloyd CTE chain, assignment against the
    * final centroids (the `ann_ivf_trained` pattern), cluster-scoped
    * pairs — so the result is hash-checked end to end, not rows-only. */
  def dedupEmbeddingClustered(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // persisted: the count probe, kmeansTrain's corpus passes, and
    // both pair sides all consume this one projection
    val e = vecs(spark, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val k = math.max(1L,
      math.ceil(e.count() / DedupClusterRows.toDouble).toLong).toInt
    val (cent, _) =
      kmeansTrainTwoLevel(e.select(col("vec_id"), col("v"), col("nrm")), k, iters = 2)
    // assign against the FINAL centroids with the zero-shuffle
    // TWO-LEVEL projection (collectCentroids recomputes cn with
    // driverNorm — bit-identical to the oracle's in-engine fold over
    // the same cv)
    val m = assignTwoLevel(e, collectCentroids(cent), col("v"), col("nrm"))
    val a = m.select(col("vec_id").as("vec_a"), col("label"), col("cluster"),
      col("v").as("va"), col("nrm").as("na"))
    val b = m.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
      col("cluster").as("cluster_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("label") === col("label_b") &&
        col("cluster") === col("cluster_b") && col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= lit(0.3d))
      .select(col("vec_a"), col("vec_b"), rnd(col("cos"), 6).as("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val dedupEmbeddingClusteredSql = {
    val kSql = s"SELECT greatest(1, cast(ceil(count(*) / $DedupClusterRows.0) as int)) FROM embeddings"
    val pairCos = s"${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm)"
    s"""WITH ${kmeans2lCtes(2, kSql)},
       |${kmeans2lAssignCtes("f", "c2", Seq("vec_id", "label", "v", "nrm"), "assigned")}
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${rndSql(pairCos, 6)} AS cos_sim
       |FROM assigned a JOIN assigned b
       |  ON a.label = b.label AND a.cluster = b.cluster AND a.vec_id < b.vec_id
       |WHERE $pairCos >= cast(0.3 as double)
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  // ---------------------------------------------------------------- knn join
  /** Corpus-wide k-NN JOIN (round 7): every vector's [[TopK]] nearest
    * neighbors — the kNN-graph construction primitive behind
    * SemDeDup-style semantic dedup, NN-descent seeding, kNN-LM
    * retrieval graphs, and graph-based clustering. Distinct from the
    * `ann_*` queries (a small broadcast query SET probing the
    * corpus): here the query set IS the corpus, so neither side is
    * broadcastable and the brute-force form is n² at any scale.
    *
    * Shape: cluster with the shared [[kmeansTrainTwoLevel]] (2 Lloyd
    * rounds, corpus-scaled k = ⌈n / [[DedupClusterRows]]⌉ — blocks
    * stay ~2.5k rows), assign with the zero-shuffle two-level probe,
    * then ONE hash equi-join on cluster id scores each vector
    * against its cluster-mates and the bounded [[topKPer]] stage
    * ranks per query (≤ k rows per partition per query cross the
    * wire — never a corpus-sized window sort). Total pair work is
    * ∝ n · [[DedupClusterRows]] (linear), shuffle = the one cluster
    * exchange + the bounded rank exchange. A skewed cluster is
    * AQE-splittable (plain equi-join).
    *
    * The probe is nprobe=1 BY CONSTRUCTION (neighbors come from the
    * query's own cluster only) — the IVF recall trade stated rather
    * than hidden: a true neighbor in an adjacent cluster is not
    * listed; SimilarityRecallSpec measures this form's recall
    * against `cosineTopKExact` truth and floors it. At 100 TB the
    * cluster id is the write-once partition key ([[writeIvfIndex]])
    * and this join is a partition-local scan.
    *
    * Oracle replicates the full pipeline (scalar-subquery k,
    * two-level Lloyd CTE chain, two-level assignment, in-cluster
    * pairs, rank ≤ k) — hash-checked end to end. */
  def annKnnJoin(spark: SparkSession, dir: String): DataFrame =
    knnJoin(vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm")),
      TopK, NCentroids, DedupClusterRows)

  /** PUBLIC parameterized kNN-join kernel over a (vec_id, v, nrm)
    * frame: clusters = max(kFloor, ⌈n/clusterRows⌉) via the shared
    * two-level trainer, neighbors ranked in-cluster through the
    * bounded [[topKPer]] stage. `annKnnJoin` is its registered query form;
    * SimilarityRecallSpec measures its recall against
    * `cosineTopKExact` truth on a planted-cluster corpus. */
  def knnJoin(e0: DataFrame, topK: Int, kFloor: Int,
      clusterRows: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val k = math.max(kFloor.toLong,
      math.ceil(e.count() / clusterRows.toDouble).toLong).toInt
    val (cent, _) = kmeansTrainTwoLevel(e, k, iters = 2)
    val m = assignTwoLevel(e, collectCentroids(cent), col("v"), col("nrm"))
    val a = m.select(col("vec_id").as("q_id"), col("cluster"),
      col("v").as("qv"), col("nrm").as("qn"))
    val b = m.select(col("vec_id"), col("cluster").as("cluster_b"),
      col("v"), col("nrm"))
    val scored = a.join(b,
        col("cluster") === col("cluster_b") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    topNeighbors(scored, topK, "cos_sim").orderBy(col("q_id"), col("rank"))
  }

  private val annKnnJoinSql = {
    val kSql = s"SELECT greatest($NCentroids, " +
      s"cast(ceil(count(*) / $DedupClusterRows.0) as int)) FROM embeddings"
    s"""WITH ${kmeans2lCtes(2, kSql)},
       |${kmeans2lAssignCtes("f", "c2", Seq("vec_id", "v", "nrm"), "assigned")},
       |scored AS (
       |  SELECT a.vec_id AS q_id, b.vec_id,
       |    ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
       |${rankedSql("scored")}""".stripMargin
  }

  // ---------------------------------------------------------------- product quantization
  /** PQ geometry: 64-dim vectors cut into [[PqM]] subspaces of
    * [[PqSubDim]] dims, each coded against a [[PqK]]-entry codebook —
    * one BYTE-SCALE code per subspace instead of 16 floats (64×
    * compression). This is the memory story that makes 100 TB ANN
    * fit: the scored corpus is codes, not vectors. */
  private val PqM = 4
  private val PqSubDim = 16
  private val PqK = 16

  /** Driver-side PQ codebook: cb(m)(c) = subspace-m sub-vector of the
    * c-th lowest-id corpus vector (deterministic init codebook — the
    * oracle-checkable configuration; per-subspace kmeans training is
    * orthogonal: hand [[kmeansTrain]] the sub-vector frame and pass
    * its centroids here, as the recall spec does). M×K×subdim doubles
    * — a few KB at any corpus scale, like [[collectCentroids]]. */
  def pqCodebook(e: DataFrame, m: Int = PqM, subDim: Int = PqSubDim,
      k: Int = PqK): Seq[Seq[Seq[Double]]] = {
    val rows = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("c_id"), col("v").as("cv"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
    (0 until m).map(sub =>
      rows.toSeq.map(_._2.slice(sub * subDim, sub * subDim + subDim)))
  }

  /** Subspace code: argmin over the codebook of squared L2 distance
    * to `sub`, ties to the LOWEST code — the same seeded strict-
    * comparison fold as [[nearestCentroid]] (equivalent to
    * `row_number() OVER (ORDER BY dist2, c)` = 1), a pure per-row
    * projection with zero exchanges. No NaN/null guards needed: the
    * distance is a sum of squares, never a division. */
  def pqCode(cb: Seq[Seq[Double]], sub: Column): Column = {
    // degenerate codebooks must keep the plan buildable: empty (only
    // from an empty corpus — see pqCodes) -> typed null; one entry
    // (a collapsed trained subspace: empty clusters drop out of the
    // Lloyd update) -> code 0 without the fold (an empty struct
    // array would fail analysis on getField). Mirrors nearestCentroid.
    if (cb.isEmpty) return lit(null).cast("int")
    if (cb.sizeIs == 1) return lit(0)
    // native codegen'd kernel (r18, guide §4): replaces the
    // aggregate(zip_with(...)) interpreted fold — PqArgMin replicates
    // the d² order, strict-< tie rule, and the zip_with null-padding
    // degradations bit-for-bit (see the expression's scaladoc).
    ColumnBridge.column(VectorFunctions.PqArgMin(
      cb.map(_.toArray).toArray, ColumnBridge.expression(sub)))
  }

  /** The stored form at scale: one code per subspace. Geometry
    * (subspace count, widths) derives from the codebook's own shape,
    * so trained or non-default-dim codebooks Just Work. */
  def pqCodes(cb: Seq[Seq[Seq[Double]]], v: Column): Column = {
    // an empty codebook only arises from an EMPTY corpus (it is
    // always collected from one), so the projection never evaluates;
    // a typed null keeps the plan buildable (EmptyInputSpec)
    if (cb.exists(_.isEmpty)) return lit(null).cast("array<int>")
    val widths = cb.map(_.head.length)
    val starts = widths.scanLeft(0)(_ + _)
    array(cb.indices.map(m =>
      pqCode(cb(m), slice(v, starts(m) + 1, widths(m)))): _*)
  }

  /** Decoded approximation x̂: per-subspace codebook lookup,
    * concatenated in subspace order. Scoring dot(q, x̂) is exactly
    * asymmetric-distance (ADC) PQ search — the query stays
    * unquantized. */
  def pqReconstruct(cb: Seq[Seq[Seq[Double]]], v: Column): Column = {
    if (cb.exists(_.isEmpty)) return lit(null).cast("array<double>") // see pqCodes
    val widths = cb.map(_.head.length)
    val starts = widths.scanLeft(0)(_ + _)
    flatten(array(cb.indices.map { m =>
      element_at(typedLit(cb(m)),
        pqCode(cb(m), slice(v, starts(m) + 1, widths(m))) + 1)
    }: _*))
  }

  /** Decode STORED codes (the [[pqCodes]] form — one int per
    * subspace) back to x̂: a per-subspace codebook-literal lookup,
    * concatenated in subspace order. This is the read-path twin of
    * [[pqReconstruct]] (which encodes-then-decodes a raw vector in
    * one expression): `pqDecode(cb, pqCodes(cb, v)) ==
    * pqReconstruct(cb, v)` bit-for-bit, because both resolve the
    * same argmin code and fetch the same codeword literal. A pure
    * projection — the scan that feeds it ships M ints per vector,
    * never the raw floats. */
  def pqDecode(cb: Seq[Seq[Seq[Double]]], codes: Column): Column = {
    if (cb.exists(_.isEmpty)) return lit(null).cast("array<double>") // see pqCodes
    flatten(array(cb.indices.map(m =>
      element_at(typedLit(cb(m)), element_at(codes, m + 1) + 1)): _*))
  }

  /** PQ search as production systems actually run it: the ADC scan
    * over reconstructed codes produces a SHORTLIST of `rerank × k`
    * candidates per query, then only the shortlist's raw vectors are
    * fetched (the equi-join on vec_id — at scale a point lookup into
    * the vector store, ~rerank·k·|q| rows, never the corpus) and
    * re-ranked by exact cosine. Quantization coarseness then costs
    * recall only when a true neighbor falls OUT of the shortlist, not
    * when ADC merely scrambles the order within it — the standard
    * IVF-PQ quality/memory trade (Jégou et al.'s ADC + re-ranking).
    * `vecs` needs (vec_id, v, nrm); `qs` needs (q_id, qv, qn). */
  def pqTopKRerank(vecs: DataFrame, qs: DataFrame, cb: Seq[Seq[Seq[Double]]],
      k: Int, rerank: Int): DataFrame = {
    val enc = vecs
      .select(col("vec_id"), pqReconstruct(cb, col("v")).as("rv"))
      .withColumn("rn", VectorFunctions.norm(col("rv")))
    val adc = enc.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .withColumn("adc", try_divide(dot(col("qv"), col("rv")), col("qn") * col("rn")))
    exactRerank(topKPer(adc, "q_id", "adc", "vec_id", k * rerank), vecs, qs, k)
  }

  /** The exact re-rank tail of [[pqTopKRerank]] and [[ivfPqTopKRerank]]:
    * the (q_id, vec_id) `shortlist` fetches its raw vectors from `vecs`
    * (vec_id, v, nrm) and its query vectors from `qs` (q_id, qv, qn),
    * and each query keeps its top `k` by exact cosine. The shortlist
    * (≤ |q|·k·rerank rows) is BROADCAST against the vector store's
    * scan — the raw-vector fetch costs one corpus scan and zero
    * exchanges of the corpus side, the point-lookup shape the
    * production read path has (shuffling the store to co-locate with
    * a few thousand shortlist rows would invert the size
    * relationship). */
  private def exactRerank(shortlist: DataFrame, vecs: DataFrame,
      qs: DataFrame, k: Int): DataFrame = {
    val fetched = broadcast(shortlist.select(col("q_id"), col("vec_id"))
        .join(broadcast(qs.select(col("q_id"), col("qv"), col("qn"))), "q_id"))
      .join(vecs.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    topNeighbors(fetched, k, "cos_sim")
  }

  /** PQ top-k: brute-force ADC scan over the RECONSTRUCTED corpus —
    * same plan as `ann_bruteforce` (broadcast query set, per-query
    * [[topKPer]] over corpus rows), but the corpus side is codes + a
    * codebook literal, never raw vectors. Encode is a per-row
    * projection (zero exchanges on any layout); the only shuffle is
    * the per-query top-k. At 100 TB this is the scan you actually
    * run when the raw vectors don't fit: 4 bytes/vector in flight
    * instead of 256. Composes with IVF for sublinear probes. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cb = pqCodebook(e)
    val enc = e
      .select(col("vec_id"), pqReconstruct(cb, col("v")).as("rv"))
      .withColumn("rn", VectorFunctions.norm(col("rv")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = enc.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("rv")) / (col("qn") * col("rn")))
    topNeighbors(scored, TopK, "cos_pq").orderBy(col("q_id"), col("rank"))
  }

  private val annPqSql = {
    val d2 = "list_reduce(list_transform(" +
      s"list_slice(e.v, cb.m * $PqSubDim + 1, cb.m * $PqSubDim + $PqSubDim), " +
      "(x, i) -> (x - cb.cv[i]) * (x - cb.cv[i])), (a, b) -> a + b)"
    s"""WITH e AS ($vecsSql),
       |cb AS (
       |  SELECT t.m, e.vec_id AS c,
       |    list_slice(e.v, t.m * $PqSubDim + 1, t.m * $PqSubDim + $PqSubDim) AS cv
       |  FROM e, range(0, $PqM) t(m) WHERE e.vec_id < $PqK),
       |codes AS (
       |  SELECT vec_id, m, c FROM (
       |    SELECT e.vec_id, cb.m, cb.c,
       |      row_number() OVER (PARTITION BY e.vec_id, cb.m
       |        ORDER BY $d2, cb.c) AS rn
       |    FROM e CROSS JOIN cb)
       |  WHERE rn = 1),
       |recon AS (
       |  SELECT codes.vec_id, flatten(list(cb.cv ORDER BY cb.m)) AS rv
       |  FROM codes JOIN cb ON codes.m = cb.m AND codes.c = cb.c
       |  GROUP BY codes.vec_id),
       |r AS (SELECT vec_id, rv, ${sqlNrm("rv")} AS rn FROM recon),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, r.vec_id,
       |    ${sqlDot("q.qv", "r.rv")} / (q.qn * r.rn) AS cos
       |  FROM r CROSS JOIN q WHERE r.vec_id <> q.q_id),
       |${rankedSql("scored", s"rank, ${rndSql("cos", 6)} AS cos_pq")}""".stripMargin
  }

  // ---------------------------------------------------------------- IVF-PQ
  /** IVF-PQ — the composition production ANN actually deploys
    * (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011: coarse quantizer + PQ on the RESIDUAL):
    * vectors are assigned to their kmeans-trained coarse cell
    * (zero-shuffle [[nearestCentroid]] projection), the residual
    * v − centroid is what gets PQ-coded (residuals are centered —
    * the same codebook budget buys far less quantization error than
    * coding raw vectors, which is why this beats flat `ann_pq` at
    * equal bytes), and queries ADC-score x̂ = centroid + decode(code)
    * ONLY inside their [[NProbe]] probed cells — sublinear scan AND
    * 64× compressed candidates, the two scale levers composed.
    *
    * Plan shape: assignment and residual are per-row projections
    * against broadcast centroid literals; the codebook is the
    * deterministic lowest-[[PqK]]-residuals init (the oracle-checkable
    * configuration, same as `ann_pq`; kmeans-training it per
    * subspace is orthogonal — hand [[kmeansTrain]] the residual
    * sub-vector frame); scoring reuses the probed-cell equi-join
    * shape of [[ivfTopK]] with the codes side carrying x̂, never raw
    * vectors. At 100 TB the scan reads cluster-pruned, PQ-coded
    * candidates: bytes ∝ probed cells × code width. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val (cent, _) = kmeansTrain(ev, NCentroids, iters = 2)
    val cents = collectCentroids(cent)
    val centDf = broadcast(cents.toDF("c_id", "cv", "cn"))
    val withRes = ev
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .join(centDf, col("cluster") === col("c_id"))
      .withColumn("res", VectorFunctions.vecSub(col("v"), col("cv")))
    val cb = pqCodebook(withRes.select(col("vec_id"), col("res").as("v")))
    val enc = withRes
      .withColumn("rhat",
        VectorFunctions.vecAdd(col("cv"), pqReconstruct(cb, col("res"))))
      .withColumn("rn", VectorFunctions.norm(col("rhat")))
      .select(col("vec_id"), col("cluster"), col("rhat"), col("rn"))
    val q = ev.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    adcRankProbed(enc, broadcast(probeClusters(q, cents, NProbe)), TopK)
  }

  /** ADC rank inside probed cells — the shared tail of [[annIvfPq]]
    * and [[probeIvfPqIndex]] (one definition, so the documented
    * "index probe == in-memory pipeline" equivalence cannot drift):
    * `enc` carries (vec_id, cluster, rhat, rn) — x̂ from either
    * [[pqReconstruct]] or a [[pqDecode]] of stored codes — and each
    * query scores candidates only where cluster == probe_cluster. */
  private def adcRankProbed(enc: DataFrame, probes: DataFrame,
      k: Int, cosName: String = "cos_ivfpq"): DataFrame = {
    val scored = enc.join(probes,
        col("cluster") === col("probe_cluster") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("rhat")) / (col("qn") * col("rn")))
    topNeighbors(scored, k, cosName).orderBy(col("q_id"), col("rank"))
  }

  private val annIvfPqSql = {
    val d2 = "list_reduce(list_transform(" +
      s"list_slice(r.res, cb.m * $PqSubDim + 1, cb.m * $PqSubDim + $PqSubDim), " +
      "(x, i) -> (x - cb.cv[i]) * (x - cb.cv[i])), (a, b) -> a + b)"
    s"""WITH ${kmeansCtesFor(2)},
       |cent AS (SELECT c_id, cv, ${sqlNrm("cv")} AS cn FROM c2),
       |${assignedSql("en")},
       |r AS (
       |  SELECT a.vec_id, a.cluster, cent.cv AS ccv,
       |    list_transform(a.v, (x, i) -> x - cent.cv[i]) AS res
       |  FROM assigned a JOIN cent ON a.cluster = cent.c_id),
       |cb AS (
       |  SELECT t.m, r.vec_id AS c,
       |    list_slice(r.res, t.m * $PqSubDim + 1, t.m * $PqSubDim + $PqSubDim) AS cv
       |  FROM r, range(0, $PqM) t(m) WHERE r.vec_id < $PqK),
       |codes AS (
       |  SELECT vec_id, m, c FROM (
       |    SELECT r.vec_id, cb.m, cb.c,
       |      row_number() OVER (PARTITION BY r.vec_id, cb.m
       |        ORDER BY $d2, cb.c) AS rn
       |    FROM r CROSS JOIN cb)
       |  WHERE rn = 1),
       |recon AS (
       |  SELECT codes.vec_id, flatten(list(cb.cv ORDER BY cb.m)) AS rres
       |  FROM codes JOIN cb ON codes.m = cb.m AND codes.c = cb.c
       |  GROUP BY codes.vec_id),
       |rhat AS (
       |  SELECT r.vec_id, r.cluster,
       |    list_transform(r.ccv, (x, i) -> x + recon.rres[i]) AS rhat
       |  FROM r JOIN recon ON r.vec_id = recon.vec_id),
       |rh AS (SELECT vec_id, cluster, rhat, ${sqlNrm("rhat")} AS rn FROM rhat),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en WHERE vec_id < $NQueries),
       |$probesSql,
       |scored AS (
       |  SELECT p.q_id, rh.vec_id,
       |    ${sqlDot("p.qv", "rh.rhat")} / (p.qn * rh.rn) AS cos
       |  FROM rh JOIN probes p
       |    ON rh.cluster = p.probe_cluster AND rh.vec_id <> p.q_id),
       |${rankedSql("scored", rankOut("cos_ivfpq"))}""".stripMargin
  }

  // ---------------------------------------------------------------- IVF-SQ
  /** IVF-SQ8 — the OTHER production composition (Faiss's IVF_SQ8, the
    * common default when memory allows 1 byte/dim): coarse kmeans
    * cells + SQ8 on the RESIDUAL v − centroid. Residuals are centered
    * by construction, so their per-dim [min, max] envelope is tighter
    * than the raw corpus's — the same 8-bit budget buys a strictly
    * smaller quantization step than flat `ann_sq` (the residual
    * argument of IVF-PQ, measured by the spec as a strict error
    * inequality), while keeping SQ's near-lossless recall and trivial
    * train. Plan shape: assignment and residual are per-row
    * projections against broadcast centroid literals; the SQ
    * "codebook" is 2 doubles/dim; scoring reuses [[adcRankProbed]] —
    * the probed-cell equi-join, scanning nprobe/nlist of the corpus
    * at 1 byte/dim. */
  def annIvfSq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val (cent, _) = kmeansTrain(ev, NCentroids, iters = 2)
    val cents = collectCentroids(cent)
    val centDf = broadcast(cents.toDF("c_id", "cv", "cn"))
    val withRes = ev
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .join(centDf, col("cluster") === col("c_id"))
      .withColumn("res", VectorFunctions.vecSub(col("v"), col("cv")))
    val (mns, mxs) = sqTrain(withRes.select(col("res").as("v")))
    val enc = withRes
      .withColumn("rhat",
        VectorFunctions.vecAdd(col("cv"), sqReconstruct(mns, mxs, col("res"))))
      .withColumn("rn", VectorFunctions.norm(col("rhat")))
      .select(col("vec_id"), col("cluster"), col("rhat"), col("rn"))
    val q = ev.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    adcRankProbed(enc, broadcast(probeClusters(q, cents, NProbe)), TopK,
      "cos_ivfsq")
  }

  private val annIvfSqSql = {
    val deq = "CASE WHEN m.mxs[i] > m.mns[i] THEN m.mns[i] + " +
      "round((r.res[i] - m.mns[i]) * 255.0 / (m.mxs[i] - m.mns[i]))" +
      " * (m.mxs[i] - m.mns[i]) / 255.0 ELSE m.mns[i] END"
    s"""WITH ${kmeansCtesFor(2)},
       |cent AS (SELECT c_id, cv, ${sqlNrm("cv")} AS cn FROM c2),
       |${assignedSql("en")},
       |r AS (
       |  SELECT a.vec_id, a.cluster, cent.cv AS ccv,
       |    list_transform(a.v, (x, i) -> x - cent.cv[i]) AS res
       |  FROM assigned a JOIN cent ON a.cluster = cent.c_id),
       |px AS (SELECT unnest(list_transform(res, (x, i) -> {'i': i, 'x': x})) AS s FROM r),
       |mm AS (SELECT s.i AS i, min(s.x) AS mn, max(s.x) AS mx FROM px GROUP BY s.i),
       |m AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
       |rhat AS (
       |  SELECT r.vec_id, r.cluster,
       |    list_transform(r.ccv, (x, i) -> x + ($deq)) AS rhat
       |  FROM r, m),
       |rh AS (SELECT vec_id, cluster, rhat, ${sqlNrm("rhat")} AS rn FROM rhat),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en WHERE vec_id < $NQueries),
       |$probesSql,
       |scored AS (
       |  SELECT p.q_id, rh.vec_id,
       |    ${sqlDot("p.qv", "rh.rhat")} / (p.qn * rh.rn) AS cos
       |  FROM rh JOIN probes p
       |    ON rh.cluster = p.probe_cluster AND rh.vec_id <> p.q_id),
       |${rankedSql("scored", rankOut("cos_ivfsq"))}""".stripMargin
  }

  /** IVF-PQ search as production deploys it (Jégou et al. TPAMI 2011
    * §V: ADC shortlist + exact re-rank) — the residual twin of
    * [[pqTopKRerank]]: corpus vectors are coarse-assigned against
    * `cents` (zero-shuffle projection), residual-PQ-decoded against
    * `cb` into x̂ = centroid + decode(code), each query ADC-scores x̂
    * ONLY inside its `nprobe` probed cells and keeps a `rerank × k`
    * shortlist, then only the shortlist's raw vectors are fetched
    * (the vec_id equi-join — at scale a point lookup into the vector
    * store, ~rerank·k·|q| rows, never the corpus) and re-ranked by
    * exact cosine. Quantization then costs recall only when a true
    * neighbor misses the shortlist entirely, not when ADC merely
    * scrambles order within it. `cb` must be the codebook of the
    * RESIDUALS v − centroid (trained or deterministic-init — the
    * kernel recomputes the residual geometry from `cents` itself, so
    * any codebook over the same residual frame composes).
    * `vecs` needs (vec_id, v, nrm); `qs` needs (q_id, qv, qn). */
  def ivfPqTopKRerank(vecs: DataFrame, qs: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], cb: Seq[Seq[Seq[Double]]],
      nprobe: Int, k: Int, rerank: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centDf = broadcast(cents.toDF("c_id", "cv", "cn"))
    val enc = vecs
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .join(centDf, col("cluster") === col("c_id"))
      // res MUST be its own projected column before pqReconstruct:
      // the reconstruct fold references its input once per
      // (subspace × code) distance term, so an inline residual
      // expression is re-evaluated O(M·K) times per row (measured
      // 11 s vs ~2 s for the same 20k-row encode at sf1)
      .withColumn("res", VectorFunctions.vecSub(col("v"), col("cv")))
      .withColumn("rhat",
        VectorFunctions.vecAdd(col("cv"), pqReconstruct(cb, col("res"))))
      .withColumn("rn", VectorFunctions.norm(col("rhat")))
      .select(col("vec_id"), col("cluster"), col("rhat"), col("rn"))
    val adc = enc.join(broadcast(probeClusters(qs, cents, nprobe)),
        col("cluster") === col("probe_cluster") && col("vec_id") =!= col("q_id"))
      .withColumn("adc",
        try_divide(dot(col("qv"), col("rhat")), col("qn") * col("rn")))
    exactRerank(topKPer(adc, "q_id", "adc", "vec_id", k * rerank), vecs, qs, k)
  }

  /** How many ADC-shortlist candidates per returned neighbor the
    * registered rerank query keeps (shortlist = [[TopK]] × this). */
  private val IvfPqRerankFactor = 4

  /** Registered IVF-PQ + exact-rerank query: [[annIvfPq]]'s exact
    * configuration (trained coarse cells, deterministic-init residual
    * codebook, [[NProbe]] probes) driven through [[ivfPqTopKRerank]]
    * — the output is EXACT cosines over the ADC shortlist, so the
    * oracle replicates the shortlist selection then re-scores raw
    * vectors. This is the production read path; the recall floors
    * live in SimilarityRecallSpec ("IVF-PQ recall@10"). */
  def annIvfPqRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val (cent, _) = kmeansTrain(ev, NCentroids, iters = 2)
    val cents = collectCentroids(cent)
    val centDf = broadcast(cents.toDF("c_id", "cv", "cn"))
    val withRes = ev
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .join(centDf, col("cluster") === col("c_id"))
      .withColumn("res", VectorFunctions.vecSub(col("v"), col("cv")))
    val cb = pqCodebook(withRes.select(col("vec_id"), col("res").as("v")))
    val q = ev.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    ivfPqTopKRerank(ev, q, cents, cb, NProbe, TopK, IvfPqRerankFactor)
      .orderBy(col("q_id"), col("rank"))
  }

  /** [[annIvfPqSql]]'s CTE chain up to ADC scoring, then the
    * shortlist cut (rank ≤ k × rerank on ADC order) and the exact
    * re-rank over raw vectors — mirroring [[ivfPqTopKRerank]]. */
  private val annIvfPqRerankSql = {
    val d2 = "list_reduce(list_transform(" +
      s"list_slice(r.res, cb.m * $PqSubDim + 1, cb.m * $PqSubDim + $PqSubDim), " +
      "(x, i) -> (x - cb.cv[i]) * (x - cb.cv[i])), (a, b) -> a + b)"
    s"""WITH ${kmeansCtesFor(2)},
       |cent AS (SELECT c_id, cv, ${sqlNrm("cv")} AS cn FROM c2),
       |${assignedSql("en")},
       |r AS (
       |  SELECT a.vec_id, a.cluster, cent.cv AS ccv,
       |    list_transform(a.v, (x, i) -> x - cent.cv[i]) AS res
       |  FROM assigned a JOIN cent ON a.cluster = cent.c_id),
       |cb AS (
       |  SELECT t.m, r.vec_id AS c,
       |    list_slice(r.res, t.m * $PqSubDim + 1, t.m * $PqSubDim + $PqSubDim) AS cv
       |  FROM r, range(0, $PqM) t(m) WHERE r.vec_id < $PqK),
       |codes AS (
       |  SELECT vec_id, m, c FROM (
       |    SELECT r.vec_id, cb.m, cb.c,
       |      row_number() OVER (PARTITION BY r.vec_id, cb.m
       |        ORDER BY $d2, cb.c) AS rn
       |    FROM r CROSS JOIN cb)
       |  WHERE rn = 1),
       |recon AS (
       |  SELECT codes.vec_id, flatten(list(cb.cv ORDER BY cb.m)) AS rres
       |  FROM codes JOIN cb ON codes.m = cb.m AND codes.c = cb.c
       |  GROUP BY codes.vec_id),
       |rhat AS (
       |  SELECT r.vec_id, r.cluster,
       |    list_transform(r.ccv, (x, i) -> x + recon.rres[i]) AS rhat
       |  FROM r JOIN recon ON r.vec_id = recon.vec_id),
       |rh AS (SELECT vec_id, cluster, rhat, ${sqlNrm("rhat")} AS rn FROM rhat),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM en WHERE vec_id < $NQueries),
       |$probesSql,
       |adc AS (
       |  SELECT p.q_id, rh.vec_id,
       |    ${sqlDot("p.qv", "rh.rhat")} / (p.qn * rh.rn) AS adc
       |  FROM rh JOIN probes p
       |    ON rh.cluster = p.probe_cluster AND rh.vec_id <> p.q_id),
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ${rankSql("adc")} AS arank
       |    FROM adc)
       |  WHERE arank <= ${TopK * IvfPqRerankFactor}),
       |exact AS (
       |  SELECT s.q_id, s.vec_id,
       |    ${sqlDot("q.qv", "en.v")} / (q.qn * en.nrm) AS cos
       |  FROM shortlist s
       |  JOIN q ON s.q_id = q.q_id
       |  JOIN en ON s.vec_id = en.vec_id),
       |${rankedSql("exact")}""".stripMargin
  }

  // ------------------------------------------------- materialized IVF-PQ index
  /** Materialize an IVF-PQ index: the cluster-partitioned layout of
    * [[writeIvfIndex]] with the stored payload compressed to PQ
    * CODES of the residual (one int per subspace — the [[pqCodes]]
    * form; at byte-packed width this is M bytes/vector vs 4·dim for
    * raw floats, the 64× that makes a 100 TB vector store scannable).
    * Assign, residual, and encode are all per-row projections against
    * broadcast centroid/codebook literals — one linear write pass,
    * zero exchanges — and `partitionBy(cluster)` makes the coarse
    * assignment the physical partition key, so [[probeIvfPqIndex]]
    * reads only probed cells' directories AND ships only codes.
    * `res` must be its own projected column before [[pqCodes]] (the
    * same O(M·K) re-evaluation hazard [[ivfPqTopKRerank]] documents). */
  def writeIvfPqIndex(vectors: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], cb: Seq[Seq[Seq[Double]]],
      path: String, mode: org.apache.spark.sql.SaveMode =
        org.apache.spark.sql.SaveMode.Overwrite): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    vectors
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .join(broadcast(cents.toDF("c_id", "cv", "cn")),
        col("cluster") === col("c_id"))
      .withColumn("res", VectorFunctions.vecSub(col("v"), col("cv")))
      .select(col("vec_id"), pqCodes(cb, col("res")).as("codes"), col("cluster"))
      .write.mode(mode).partitionBy("cluster").parquet(path)
  }

  /** Append a vector batch to a materialized IVF-PQ index without
    * retraining — [[appendIvfIndex]]'s twin for the coded layout:
    * the batch assigns and residual-encodes against the index's own
    * FROZEN centroids and codebook, so only touched clusters'
    * directories gain files and cost ∝ batch, never ∝ index. Same
    * commutes-with-build property (assignment and code are per-row
    * against fixed literals; the layout key is the assignment), same
    * documented centroid/codebook drift trade: append per batch,
    * retrain per epoch, [[ManifestTable]] for the atomic swap. */
  def appendIvfPqIndex(batch: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], cb: Seq[Seq[Seq[Double]]],
      path: String): Unit =
    writeIvfPqIndex(batch, cents, cb, path,
      org.apache.spark.sql.SaveMode.Append)

  /** Probe a materialized IVF-PQ index: the scan is DYNAMICALLY
    * partition-pruned to probed cells by the broadcast probe join
    * (reading ~nprobe/nlist of the corpus) and ships only the stored
    * codes; x̂ = centroid + [[pqDecode]](codes) is rebuilt as a
    * per-row projection at read time, then ADC-ranked by the shared
    * [[adcRankProbed]] tail. Results are identical to running the
    * whole [[annIvfPq]] pipeline in memory over the same centroids
    * and codebook — the index is a layout, not an approximation on
    * top of PQ's. */
  def probeIvfPqIndex(spark: SparkSession, path: String, queries: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)], cb: Seq[Seq[Seq[Double]]],
      nprobe: Int, k: Int): DataFrame = {
    import spark.implicits._
    // explicit schema — an index reader KNOWS its layout; inference
    // would also fail outright on a zero-row index (dynamic
    // partitionBy writes no part files for an empty frame, leaving
    // nothing to infer from — the empty date-slice every production
    // pipeline eventually probes)
    val enc = spark.read
      .schema("vec_id BIGINT, codes ARRAY<INT>, cluster INT")
      .parquet(path)
      .join(broadcast(cents.toDF("c_id", "cv", "cn")),
        col("cluster") === col("c_id"))
      .withColumn("rhat",
        VectorFunctions.vecAdd(col("cv"), pqDecode(cb, col("codes"))))
      .withColumn("rn", VectorFunctions.norm(col("rhat")))
      .select(col("vec_id"), col("cluster"), col("rhat"), col("rn"))
    adcRankProbed(enc, broadcast(probeClusters(queries, cents, nprobe)), k)
  }

  /** Registered index round-trip: [[annIvfPq]]'s exact configuration
    * (trained coarse cells, deterministic-init residual codebook)
    * built into a materialized codes-only index, then answered FROM
    * the index — build → [[writeIvfPqIndex]] → [[probeIvfPqIndex]].
    * Output is identical to `ann_ivfpq`, so the oracle is
    * [[annIvfPqSql]] VERBATIM (the `ann_bruteforce_agg` precedent):
    * DuckDB proves the whole write/read round-trip, not just the
    * in-memory math. The index lands in a per-invocation temp dir
    * (build cost is billed to the query — the honest bench shape). */
  /** Previous [[annIvfPqIndexed]] index dir, reclaimed on the NEXT
    * invocation once that invocation's index is fully written (ADVICE
    * r11: bound per-JVM disk to one index), with a JVM shutdown hook
    * for the final one. CONTRACT (single-threaded, sequential): each
    * returned plan must be consumed before the next `annIvfPqIndexed`
    * call — the reclaim is not atomic with build+probe, so building
    * two plans before executing either, or calling concurrently,
    * can read an already-deleted index. Callers that need overlapping
    * live plans should drive [[writeIvfPqIndex]]/[[probeIvfPqIndex]]
    * directly with caller-managed directories. */
  private val lastIdxDir = new java.util.concurrent.atomic.AtomicReference[String](null)

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Option(lastIdxDir.getAndSet(null))
        .foreach(p => deleteRecursively(new java.io.File(p)))))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(); ()
  }

  def annIvfPqIndexed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = vecs(spark, dir).select(col("vec_id"), col("v"), col("nrm"))
    val (cent, _) = kmeansTrain(ev, NCentroids, iters = 2)
    val cents = collectCentroids(cent)
    val centDf = broadcast(cents.toDF("c_id", "cv", "cn"))
    val withRes = ev
      .withColumn("cluster", nearestCentroid(cents, col("v"), col("nrm")))
      .join(centDf, col("cluster") === col("c_id"))
      .withColumn("res", VectorFunctions.vecSub(col("v"), col("cv")))
    val cb = pqCodebook(withRes.select(col("vec_id"), col("res").as("v")))
    // each invocation writes a fresh index; the PREVIOUS invocation's
    // temp dir is deleted only after the new index is fully written
    // (under lastIdxDir's sequential-consumption contract above), so
    // repeated bench/verify runs in one JVM hold at most one live
    // index plus one being handed over.
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-idx").toString
    val path = root + "/idx"
    writeIvfPqIndex(ev, cents, cb, path)
    lastIdxDir.getAndSet(root) match {
      case null => ()
      case prev => deleteRecursively(new java.io.File(prev))
    }
    val q = ev.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    probeIvfPqIndex(spark, path, q, cents, cb, NProbe, TopK)
  }

  // ---------------------------------------------------------------- hybrid retrieval
  /** Hybrid lexical+semantic retrieval with reciprocal-rank fusion
    * (Cormack et al., SIGIR 2009) — the RAG-era corpus-search shape:
    * a BM25 shortlist (TextAnalysis.bm25Frame, the SAME scoring frame
    * `text_bm25` ranks) and an embedding-cosine shortlist (query =
    * the corpus vector with vec_id 0, the synthetic corpus' documents
    * ↔ embeddings linkage doc_id == vec_id) are fused by
    * Σ 1/(60 + rank), missing-in-one-list contributing 0.
    *
    * Plan shape: each shortlist is one [[topKPer]] group under a
    * constant key — ≤ K rows per partition cross the wire, never a
    * global sort, and the stage hands back the ranks. The fusion join
    * and final top-N touch ≤ 2K rows regardless of corpus size. At
    * 100 TB the two shortlist scans are the only corpus-sized work,
    * and they are independent single passes (the semantic one
    * IVF/PQ-replaceable by the kernels in this file).
    *
    * Cross-engine: ranks are integers; each RRF term is one double
    * division `1/(60+rank)` (DuckDB's bare `1.0` is DECIMAL, so the
    * SQL casts to double first); the sum of two such terms is a
    * single correctly-rounded add on both engines. */
  private val HybridK = 100   // per-modality shortlist
  private val HybridTopN = 50 // fused result size
  private val RrfK = 60       // the standard RRF dampening constant

  def pipelineHybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val rrfTerm: Column => Column =
      r => coalesce(lit(1.0) / (lit(RrfK) + r), lit(0.0))
    // one shortlist = the top HybridK of one constant-key group
    def shortlist(df: DataFrame, score: String, id: String): DataFrame =
      topKPer(df.withColumn("_all", lit(0)), "_all", score, id, HybridK)
    val lex = shortlist(TextAnalysis.bm25Frame(spark, dir), "bm25_raw", "doc_id")
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val e = vecs(spark, dir)
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn")))
    val sem = shortlist(e.filter(col("vec_id") =!= 0).crossJoin(q)
        .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm"))),
        "cos", "vec_id")
      .select(col("vec_id").as("doc_id"), col("rank").as("sem_rank"))
    // cut AND present in the same order, on the same quantity — the
    // RAW rrf — in both engines (the oracle mirrors this two-step
    // shape); rounding to 9 decimals happens strictly after ordering,
    // so it can only affect displayed values, never membership or
    // order. (Distinct RRF sums differ by ≥ 1/(K+HybridK)⁴ ≈ 1.5e-9
    // > the 1e-9 rounding grid, so rounded-order would coincide
    // anyway — but equality should not rest on that thin margin.)
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_raw",
        rrfTerm(col("lex_rank")) + rrfTerm(col("sem_rank")))
      .orderBy(col("rrf_raw").desc, col("doc_id")).limit(HybridTopN)
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        rnd(col("rrf_raw"), 9).as("rrf"), col("rrf_raw"))
      .orderBy(col("rrf_raw").desc, col("doc_id"))
      .drop("rrf_raw")
  }

  private val pipelineHybridRetrievalSql = {
    def rrfTermSql(r: String) =
      s"coalesce(cast(1 as double) / ($RrfK + $r), cast(0 as double))"
    s"""WITH ${TextAnalysis.Bm25SqlCtes},
       |lexscored AS (
       |  SELECT doc_id, ${TextAnalysis.Bm25SqlScore} AS bm25_raw
       |  FROM perdoc CROSS JOIN stats),
       |lex AS (
       |  SELECT doc_id, cast(row_number() OVER
       |    (ORDER BY bm25_raw DESC, doc_id) as int) AS lex_rank
       |  FROM (SELECT * FROM lexscored
       |        ORDER BY bm25_raw DESC, doc_id LIMIT $HybridK)),
       |e AS ($vecsSql),
       |q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0),
       |semscored AS (
       |  SELECT e.vec_id, ${sqlDot("q.qv", "e.v")} / (q.qn * e.nrm) AS cos
       |  FROM e CROSS JOIN q WHERE e.vec_id <> 0),
       |sem AS (
       |  SELECT vec_id AS doc_id, cast(row_number() OVER
       |    (ORDER BY cos DESC, vec_id) as int) AS sem_rank
       |  FROM (SELECT * FROM semscored ORDER BY cos DESC, vec_id LIMIT $HybridK)),
       |fused AS (
       |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    lex.lex_rank, sem.sem_rank,
       |    ${rrfTermSql("lex.lex_rank")} + ${rrfTermSql("sem.sem_rank")} AS rrf
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
       |sel AS (
       |  SELECT doc_id, lex_rank, sem_rank, rrf AS rrf_raw
       |  FROM fused ORDER BY rrf DESC, doc_id LIMIT $HybridTopN)
       |SELECT doc_id, lex_rank, sem_rank, ${rndSql("rrf_raw", 9)} AS rrf
       |FROM sel ORDER BY rrf_raw DESC, doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- scalar quantization
  /** Per-dimension corpus [min, max] — the SQ8 "codebook": 2 doubles
    * per dimension, a few hundred bytes at ANY corpus scale, so it is
    * always a driver literal / broadcast. One positional explode +
    * (dim × partitions)-row aggregate trains it; at 100 TB this is a
    * single map-side-combined pass (the explode feeds partial min/max
    * per partition — only ~dim rows per partition cross the wire). */
  def sqTrain(e: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i"))
      .collect() // bounded: exactly `dim` rows (64 here), never corpus-sized
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** Dequantized SQ8 reconstruction x̂ of a raw vector `v` — encode
    * (8-bit uniform code per dimension) and decode fused into one
    * per-row projection against the min/max literals: code =
    * round((x−mn)·255/(mx−mn)), x̂ = mn + code·(mx−mn)/255. A flat
    * dimension (mx == mn) reconstructs to mn exactly (its code is
    * degenerate — zero information, zero error). The arithmetic is
    * plain IEEE double ops in the oracle's exact textual order, and
    * round() on a never-negative argument is HALF_UP in both engines,
    * so x̂ is bit-identical to DuckDB's. */
  def sqReconstruct(mns: Seq[Double], mxs: Seq[Double], v: Column): Column = {
    val mnl = typedLit(mns)
    val mxl = typedLit(mxs)
    transform(v, (x, i) => {
      val mn = element_at(mnl, i + 1)
      val mx = element_at(mxl, i + 1)
      when(mx > mn,
        mn + round((x - mn) * lit(255.0) / (mx - mn), 0) * (mx - mn) / lit(255.0))
        .otherwise(mn)
    })
  }

  /** SQ8 top-k — the SCALAR-quantized tier of the quantization ladder
    * (SQ8 → PQ → IVF-PQ, the three compression points every vector
    * store exposes; Faiss's IndexScalarQuantizer shape): each float32
    * dimension is coded to 8 bits against global per-dim [min, max],
    * and queries ADC-score the dequantized corpus — same plan as
    * `ann_pq` (broadcast query set, per-query [[topKPer]]) with 1
    * byte/dim candidates in flight instead of 8. SQ8 trades 4× less
    * compression than PQ (64 B vs 8 B here) for near-lossless recall
    * and a trivially cheap train step (one min/max pass — no kmeans),
    * which is why it is the default first step down from raw floats.
    * At 100 TB: train is one map-side-combined aggregate; encode is a
    * write-once projection; the scan reads 1-byte codes and
    * reconstructs in-register inside whole-stage codegen. */
  def annSq(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val (mns, mxs) = sqTrain(e)
    val enc = e
      .select(col("vec_id"), sqReconstruct(mns, mxs, col("v")).as("rv"))
      .withColumn("rn", VectorFunctions.norm(col("rv")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = enc.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("rv")) / (col("qn") * col("rn")))
    topNeighbors(scored, TopK, "cos_sq").orderBy(col("q_id"), col("rank"))
  }

  private val annSqSql = {
    // per-dim min/max: positional struct explode (1-based i from
    // list_transform, matching the Spark side's element_at(i+1))
    val deq = "CASE WHEN m.mxs[i] > m.mns[i] THEN m.mns[i] + " +
      "round((x - m.mns[i]) * 255.0 / (m.mxs[i] - m.mns[i]))" +
      " * (m.mxs[i] - m.mns[i]) / 255.0 ELSE m.mns[i] END"
    s"""WITH e AS ($vecsSql),
       |px AS (SELECT unnest(list_transform(v, (x, i) -> {'i': i, 'x': x})) AS s FROM e),
       |mm AS (SELECT s.i AS i, min(s.x) AS mn, max(s.x) AS mx FROM px GROUP BY s.i),
       |m AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
       |r AS (
       |  SELECT e.vec_id,
       |    list_transform(e.v, (x, i) -> $deq) AS rv
       |  FROM e, m),
       |r2 AS (SELECT vec_id, rv, ${sqlNrm("rv")} AS rn FROM r),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, r2.vec_id,
       |    ${sqlDot("q.qv", "r2.rv")} / (q.qn * r2.rn) AS cos
       |  FROM r2 CROSS JOIN q WHERE r2.vec_id <> q.q_id),
       |${rankedSql("scored", s"rank, ${rndSql("cos", 6)} AS cos_sq")}""".stripMargin
  }

  // ---------------------------------------------------------------- hard negatives
  /** Near-duplicate ceiling for [[pipelineHardNegatives]]: a
    * candidate at or above this cosine is presumed a duplicate /
    * paraphrase of the anchor (a FALSE negative — training on it as a
    * negative teaches the retriever to push true matches apart), so
    * the miner skips it. ~p99.9 of this corpus's cross-label cosine
    * mass; both sides of the cut are exercised at every SF. */
  private val HardNegMaxCos = 0.98

  /** Hard-negative mining — the contrastive-training data op (DPR,
    * Karpukhin et al., EMNLP 2020: train a dense retriever with the
    * top-scoring NON-matches as negatives): for each anchor, the
    * top-k most-similar vectors with a DIFFERENT label, excluding
    * near-duplicates above [[HardNegMaxCos]] (the standard
    * false-negative guard — without it the "hardest" negatives are
    * unlabeled copies of the positive). Output is the (anchor,
    * negative) pair table a contrastive loss consumes.
    *
    * This registered form is the exact brute-force miner (the
    * oracle-checkable configuration — broadcast anchor set, one
    * corpus scan, per-anchor [[topKPer]]). At 100 TB with a
    * corpus-sized anchor set, swap the scorer: mine inside IVF cells
    * ([[ivfTopK]]'s probed equi-join) or over SQ8/PQ codes — the
    * label filter and dup ceiling are per-row predicates that compose
    * with any of the scan tiers above unchanged. */
  def pipelineHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    hardNegatives(e, q, TopK, HardNegMaxCos)
      .orderBy(col("q_id"), col("rank"))
  }

  /** The mining kernel behind [[pipelineHardNegatives]] (public so
    * planted-corpus specs can drive it): `corpus` needs (vec_id,
    * label, v, nrm); `anchors` (q_id, q_label, qv, qn), broadcast-
    * sized, with vec_id a key of `corpus`. Returns the top-`k`
    * cross-label candidates per anchor under the `maxCos`
    * near-duplicate ceiling. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      maxCos: Double): DataFrame = {
    val scored = corpus.join(broadcast(anchors),
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .filter(col("cos") < maxCos)
    withLabel(topKPer(scored, "q_id", "cos", "vec_id", k), corpus)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"), col("rank"), rnd(col("cos"), 6).as("cos_sim"))
  }

  /** A [[topKPer]] result over vec_id with each row's `label` joined
    * back from `corpus` — the broadcast top-k side is ≤ |q|·k rows. */
  private def withLabel(top: DataFrame, corpus: DataFrame): DataFrame =
    broadcast(top).join(corpus.select(col("vec_id"), col("label")), "vec_id")

  private val pipelineHardNegativesSql =
    s"""WITH e AS ($vecsSql),
       |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
       |      FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |    ${dotSql("q.qv", "e.v")} / (q.qn * e.nrm) AS cos
       |  FROM e JOIN q ON e.vec_id <> q.q_id AND e.label <> q.q_label),
       |${rankedSql(s"scored WHERE cos < $HardNegMaxCos",
             "label AS neg_label, " + rankOut("cos_sim"), carry = "label, ")}""".stripMargin

  // ---------------------------------------------------------------- filtered search
  /** Label predicate of the registered `ann_filtered` (~30% of the
    * corpus — selective enough that post-filtering visibly starves). */
  private val FilterLabels = Seq(2, 5, 7)

  /** Metadata-filtered vector search — top-k among ONLY the corpus
    * vectors whose label passes the predicate (the "filtered vector
    * search" every production vector store exposes). This is
    * PRE-filtering: the predicate cuts the candidate set before
    * ranking, so every query gets its full k from the eligible set.
    * The naive alternative — post-filtering an unfiltered top-k —
    * silently returns FEWER than k whenever the neighborhood is
    * dominated by excluded labels (the spec demonstrates the
    * starvation on this corpus); that loss is exactly why stores
    * implement the filter natively. Scale: the predicate is a plain
    * pushed scan filter ahead of the broadcast theta-join here, and
    * composes unchanged with the IVF tier (`ivfTopK` over the
    * filtered frame — the spec proves full-probe parity with the
    * exact form), where it prunes INSIDE probed partitions. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.filter(col("label").isin(FilterLabels: _*))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    withLabel(topKPer(scored, "q_id", "cos", "vec_id", TopK), e)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("label"),
        col("rank"), rnd(col("cos"), 6).as("cos_sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  private val annFilteredSql =
    s"""WITH e AS ($vecsSql),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $NQueries),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |    ${dotSql("q.qv", "e.v")} / (q.qn * e.nrm) AS cos
       |  FROM e JOIN q ON e.vec_id <> q.q_id
       |  WHERE e.label IN (${FilterLabels.mkString(", ")})),
       |${rankedSql("scored", "label, " + rankOut("cos_sim"), carry = "label, ")}""".stripMargin

  // ---------------------------------------------------------------- MMR rerank
  /** MMR parameters of the registered `ann_mmr`: shortlist size,
    * final k, and the relevance/diversity trade λ (0.7 = the common
    * retrieval default — mostly relevance, enough diversity pressure
    * to break up near-duplicate runs). */
  private val MmrShortlist = 20
  private val MmrK = 10
  private val MmrLambda = 0.7

  /** One MMR candidate: relevance to the query plus the raw vector
    * for pairwise diversity scoring inside the greedy. */
  private[graft] case class MmrCand(
    qId: Long, vecId: Long, rel: Double, v: Seq[Double], nrm: Double)

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedily pick k of a shortlist maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s) — the diversity
    * pass retrieval stacks run so the context window isn't spent on
    * near-duplicates of one hit (for training data: diverse
    * negatives / diverse few-shot pools). Greedy selection is
    * inherently sequential IN k, so it runs per query group over the
    * BOUNDED shortlist (≤ [[MmrShortlist]] rows — memory and work
    * O(S·k·dim) per group, embarrassingly parallel across queries;
    * the kernel the 100 TB path feeds from any distributed shortlist
    * tier: bruteforce here, IVF/SQ/PQ at scale). Rows-only by
    * declared design: the selection DEPENDS on unrounded float
    * comparisons at every step, so a SQL twin could flip a whole
    * suffix of picks on one ulp — the spec pins the semantics
    * instead (λ=1 ⇔ relevance order; a planted near-dup pair splits;
    * exact ties break on vec_id).
    *
    * Determinism: rel and pairwise cosines use the same pinned
    * left-to-right fold as every vector kernel (driver-side
    * [[driverNorm]] discipline); ties pick the smallest vec_id. */
  private[graft] def mmrSelect(
      cands: Seq[MmrCand], lambda: Double, k: Int): Seq[(MmrCand, Double, Int)] = {
    def cos(a: MmrCand, b: MmrCand): Double = {
      var s = 0.0; var i = 0
      while (i < a.v.length) { s += a.v(i) * b.v(i); i += 1 }
      val d = a.nrm * b.nrm
      if (d == 0.0) 0.0 else s / d
    }
    val pool = scala.collection.mutable.ArrayBuffer(
      cands.sortBy(_.vecId): _*) // stable deterministic scan order
    val picked = scala.collection.mutable.ArrayBuffer.empty[(MmrCand, Double, Int)]
    var rank = 1
    while (rank <= k && pool.nonEmpty) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < pool.length) {
        val c = pool(i)
        val div = if (picked.isEmpty) 0.0
          else picked.iterator.map(p => cos(c, p._1)).max
        val score = lambda * c.rel - (1.0 - lambda) * div
        // strict > + vecId-ascending scan order = min-id tie-break
        if (score > bestScore) { bestScore = score; bestIdx = i }
        i += 1
      }
      picked += ((pool.remove(bestIdx), bestScore, rank))
      rank += 1
    }
    picked.toSeq
  }

  /** Registered query: bruteforce cosine shortlist (top
    * [[MmrShortlist]] per query, the [[annBruteforce]] plan) → MMR
    * to [[MmrK]] at λ = [[MmrLambda]]. Output: per query the MMR
    * rank, the kept neighbor, its relevance, and the marginal score
    * it was picked at (both rounded once, selection on unrounded). */
  def annMmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    val scored = e.join(broadcast(
        e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))),
        col("vec_id") =!= col("q_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    // v/nrm ride back on the id: ≤ MmrShortlist rows per query
    val shortlist = broadcast(topKPer(scored, "q_id", "cos", "vec_id", MmrShortlist))
      .join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .select(col("q_id").as("qId"), col("vec_id").as("vecId"), col("cos").as("rel"),
        col("v"), col("nrm"))
      .as[MmrCand]
    shortlist.groupByKey(_.qId)
      .flatMapGroups { (qid, it) =>
        mmrSelect(it.toSeq, MmrLambda, MmrK).map { case (c, score, rank) =>
          (qid, rank, c.vecId, c.rel, score)
        }
      }
      .toDF("q_id", "mmr_rank", "neighbor_id", "rel_raw", "score_raw")
      .select(col("q_id"), col("mmr_rank"), col("neighbor_id"),
        rnd(col("rel_raw"), 6).as("rel"), rnd(col("score_raw"), 6).as("mmr_score"))
      .orderBy(col("q_id"), col("mmr_rank"))
  }

  // ---------------------------------------------------------------- registry
  def defs: Seq[QueryDef] = Seq(
    QueryDef("ann_filtered", annFiltered _, Some(annFilteredSql)),
    QueryDef("ann_mmr", annMmr _, None), // rows-only: see annMmr scaladoc
    QueryDef("ann_sq", annSq _, Some(annSqSql)),
    QueryDef("ann_ivfsq", annIvfSq _, Some(annIvfSqSql)),
    QueryDef("pipeline_hard_negatives", pipelineHardNegatives _,
      Some(pipelineHardNegativesSql)),
    QueryDef("ann_pq", annPq _, Some(annPqSql)),
    QueryDef("ann_ivfpq", annIvfPq _, Some(annIvfPqSql)),
    QueryDef("ann_ivfpq_rerank", annIvfPqRerank _, Some(annIvfPqRerankSql)),
    QueryDef("ann_ivfpq_indexed", annIvfPqIndexed _, Some(annIvfPqSql)),
    QueryDef("ann_bruteforce", annBruteforce _, Some(annBruteforceSql)),
    QueryDef("ann_mips", annMips _, Some(annMipsSql)),
    // a second name for the same function and oracle
    QueryDef("ann_bruteforce_agg", annBruteforce _, Some(annBruteforceSql)),
    QueryDef("ann_ivf", annIvf _, Some(annIvfSql)),
    QueryDef("ann_ivf_trained", annIvfTrained _, Some(annIvfTrainedSql)),
    QueryDef("ann_kmeans", annKmeans _, Some(annKmeansSql)),
    QueryDef("ann_lsh", annLsh _, Some(annLshSql)),
    QueryDef("ann_knn_join", annKnnJoin _, Some(annKnnJoinSql)),
    QueryDef("ann_range_search", annRangeSearch _, Some(annRangeSearchSql)),
    // lives here (not Dedup.scala) because it runs on the shared
    // kmeans/IVF clustering infrastructure
    QueryDef("dedup_semantic", dedupSemantic _, Some(dedupSemanticSql)),
    // the registered embedding near-dup query (round 7): cluster-
    // scoped on the shared kmeans — the exact all-pairs baseline
    // stays in Dedup.scala as dedup_embedding_exact
    QueryDef("dedup_embedding", dedupEmbeddingClustered _,
      Some(dedupEmbeddingClusteredSql)),
    // lives here (not Pipelines.scala) because the semantic side and
    // all vector SQL oracles are this file's infrastructure
    QueryDef("pipeline_hybrid_retrieval", pipelineHybridRetrieval _,
      Some(pipelineHybridRetrievalSql)))
}
