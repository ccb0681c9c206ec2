package graft

import org.apache.spark.sql.functions._
import graft.operators.{MrCore, Similarity}

class IterativeSpec extends SparkSpec {

  test("pagerank: mass is conserved within integer-truncation loss") {
    val df = MrCore.mrPagerank(spark, sf)
    val scale = 1000000000000000L
    val total = df.agg(sum("rank_scaled")).collect()(0).getLong(0)
    // total mass stays within 1% of SCALE (integer division truncates)
    assert(math.abs(total - scale).toDouble / scale < 0.01,
      s"total mass $total vs $scale")
    // all ranks positive
    assert(df.filter(col("rank_scaled") <= 0).count() == 0)
  }

  test("pagerank: high-degree nodes outrank low-degree nodes on average") {
    val df = MrCore.mrPagerank(spark, sf)
    val suppliers = df.filter(col("node") >= 1000000L)
    val customers = df.filter(col("node") < 1000000L)
    // few suppliers absorb many edges -> mean supplier rank far higher
    val sAvg = suppliers.agg(avg("rank_scaled")).collect()(0).getDouble(0)
    val cAvg = customers.agg(avg("rank_scaled")).collect()(0).getDouble(0)
    assert(sAvg > cAvg * 2, s"supplier avg $sAvg vs customer avg $cAvg")
  }

  test("pageRank kernel converges to the driver-side reference on a random graph") {
    val s = spark
    import s.implicits._
    // deterministic "random" digraph: 40 nodes, ~160 edges
    val rng = new scala.util.Random(42)
    val edges = (0 until 160).map { _ =>
      (rng.nextInt(40).toLong, rng.nextInt(40).toLong)
    }.filter { case (a, b) => a != b }.distinct
    val df = MrCore.pageRank(edges.toDF("src", "dst"),
      damping = 0.85, tol = 1e-10, maxIter = 100, checkEvery = 5)
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver-side reference: same formula, iterated far past the tol
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val outdeg = out.view.mapValues(_.size.toDouble).toMap
    var pr = nodes.map(_ -> 1.0 / n).toMap
    (1 to 300).foreach { _ =>
      val contrib = scala.collection.mutable.Map[Long, Double]()
      out.foreach { case (src, dsts) =>
        val c = pr(src) / outdeg(src)
        dsts.foreach(d => contrib(d) = contrib.getOrElse(d, 0.0) + c)
      }
      pr = nodes.map(nd => nd -> (0.15 / n + 0.85 * contrib.getOrElse(nd, 0.0))).toMap
    }
    assert(got.keySet == pr.keySet)
    val maxErr = pr.map { case (k, v) => math.abs(got(k) - v) }.max
    assert(maxErr < 1e-7, s"kernel vs reference max |diff| = $maxErr")
    CacheHygiene.sweep(spark)
  }

  test("bfs kernel matches driver-side BFS and exhausts early") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val und = (0 until 120).map { _ =>
      (rng.nextInt(60).toLong, rng.nextInt(60).toLong)
    }.filter { case (a, b) => a != b }.distinct
    val sym = (und ++ und.map(_.swap)).distinct
    val src = sym.map(_._1).min
    val df = MrCore.bfs(sym.toDF("src", "dst"), src) // unbounded depth
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // driver-side level BFS
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var dist = Map(src -> 0)
    var frontier = Seq(src)
    var k = 0
    while (frontier.nonEmpty) {
      k += 1
      val next = frontier.flatMap(nd => adj.getOrElse(nd, Nil))
        .filterNot(dist.contains).distinct
      next.foreach(nd => dist += nd -> k)
      frontier = next
    }
    assert(got == dist, s"kernel ${got.size} nodes vs reference ${dist.size}")
    // a depth cap below the eccentricity truncates consistently
    val capped = MrCore.bfs(sym.toDF("src", "dst"), src, maxDepth = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped == dist.filter(_._2 <= 1))
    CacheHygiene.sweep(spark)
  }

  test("degree-ordered triangle counts equal id-ordered on a planted hub graph") {
    val s = spark
    import s.implicits._
    // hub 0 adjacent to every node (worst case for id-ordering: the
    // hub has the LOWEST id, so id-ordered wedges at the hub are
    // C(n,2)); ring edges close a triangle at every consecutive pair
    val n = 40L
    val hub = (1L until n).map(i => (0L, i))
    val ring = (1L until n - 1).map(i => (i, i + 1))
    val edges = (hub ++ ring).map { case (a, b) =>
      (math.min(a, b), math.max(a, b))
    }.distinct.toDF("s1", "s2")
    val idOrdered = MrCore.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val degOrdered = MrCore.triangleCountsDegreeOrdered(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idOrdered.nonEmpty && idOrdered.values.sum / 3 == n - 2,
      s"hub-ring graph must contain ${n - 2} triangles")
    assert(degOrdered == idOrdered)
    CacheHygiene.sweep(spark)
  }

  test("link prediction: hand-computed jaccard on a square + pendant; edges and strangers excluded") {
    val s = spark
    import s.implicits._
    // square 1-2-3-4-1 with pendant 5 hanging off 4:
    //   (1,3): common {2,4}, deg 2+2 -> jaccard 2/(2+2-2) = 1.0
    //   (2,4): common {1,3}, deg 2+3 -> 2/3
    //   (1,5), (3,5): common {4}    -> 1/(2+1-1) = 0.5
    //   adjacent pairs share no neighbors here; (2,5) shares none
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L))
      .toDF("s1", "s2")
    val got = MrCore.linkPrediction(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (-t._4, t._1, t._2))
    assert(got == Seq(
      (1L, 3L, 2L, 1.0),
      (2L, 4L, 2L, 0.666667),
      (1L, 5L, 1L, 0.5),
      (3L, 5L, 1L, 0.5)), s"hand-computed link scores: $got")
    CacheHygiene.sweep(spark)
  }

  test("k-core peel: layered removal on a triangle+tail; cap semantics honored") {
    val s = spark
    import s.implicits._
    // triangle 1-2-3 with tail 3-4-5-6; k=2: the tail peels inward one
    // node per round (6 -> 5 -> 4), the triangle is the 2-core
    val co = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("s1", "s2")
    val sym = co.unionAll(co.select(col("s2").as("s1"), col("s1").as("s2")))
      .select(col("s1").as("src"), col("s2").as("dst"))
    def run(k: Int, rounds: Int) =
      MrCore.kCorePeel(sym, k, rounds).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run(2, 10) == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 3, 5L -> 2, 6L -> 1))
    // round cap is part of the semantics: with 2 rounds, node 4 is
    // still alive when the cap hits and reports layer 0
    assert(run(2, 2) == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 2, 6L -> 1))
    // k=3: only node 3 has degree 3, so it survives round 1 — then its
    // neighbors are gone and it peels in round 2 (the cascade case)
    assert(run(3, 10) ==
      Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 1, 6L -> 1))
    CacheHygiene.sweep(spark)
  }

  test("k-core peel: Int- and String-keyed edges keep their node type and Long layers") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val s = spark
    import s.implicits._
    val co = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("s1", "s2")
    val symLong = co.unionAll(co.select(col("s2").as("s1"), col("s1").as("s2")))
      .select(col("s1").as("src"), col("s2").as("dst"))
    val longLayers = MrCore.kCorePeel(symLong, 2, 10).collect()
      .map(r => r.getLong(0).toString -> r.getInt(1)).toMap
    for ((tpe, castTo) <- Seq(IntegerType -> "int", StringType -> "string")) {
      val sym = symLong.select(col("src").cast(castTo).as("src"),
        col("dst").cast(castTo).as("dst"))
      val out = MrCore.kCorePeel(sym, 2, 10)
      assert(out.schema("node").dataType == tpe, s"node type for $castTo: ${out.schema}")
      assert(out.schema("node").dataType != LongType)
      val layers = out.collect().map(r => r.get(0).toString -> r.getInt(1)).toMap
      assert(layers == longLayers, s"$castTo-keyed layers")
    }
    CacheHygiene.sweep(spark)
  }

  test("label propagation: two bridged triangles resolve to two communities") {
    val s = spark
    import s.implicits._
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: hand-unrolled
    // synchronous rounds with the min-label tie-break converge to
    // community 1 (left) and community 3 (right) by round 4
    val co = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("s1", "s2")
    val sym = co.unionAll(co.select(col("s2").as("s1"), col("s1").as("s2")))
      .select(col("s1").as("src"), col("s2").as("dst"))
    val got = MrCore.labelPropagation(sym, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    CacheHygiene.sweep(spark)
  }

  test("graph_cc: labels are component minima with consistent sizes") {
    val df = MrCore.graphCc(spark, sf).persist()
    try {
      assert(df.count() > 0, "co-order graph must be non-empty at sf0.001")
      // label contract: comp = min node id of the component
      assert(df.filter(col("comp") > col("node")).count() == 0)
      val badMin = df.groupBy("comp")
        .agg(min("node").as("mn"), count(lit(1)).as("n"))
        .filter(col("mn") =!= col("comp"))
      assert(badMin.count() == 0, "every label must be its component's minimum")
      // comp_size agrees with the actual member count per label
      val badSize = df.groupBy("comp", "comp_size").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= col("comp_size"))
      assert(badSize.count() == 0)
    } finally df.unpersist()
  }

  test("kmeans: every vector accounted for, centroids finite") {
    val df = Similarity.annKmeans(spark, sf).collect()
    val total = df.map(_.getLong(1)).sum
    assert(total == Tables.embeddings(spark, sf).count())
    assert(df.forall(r => !r.getDouble(2).isNaN && r.getDouble(2) > 0))
  }

  test("wedge mass at growing |E|: degree-ordered stays linear on hub graphs where id-ordered is quadratic") {
    val s = spark
    import s.implicits._
    // planted hub topology at growing edge mass: one hub adjacent to
    // every node, plus a ring — the adversarial case for triangle
    // enumeration. |E| = 2n, so doubling n doubles the edge mass.
    def hubGraph(n: Int) = {
      val star = (1L to n.toLong).map(i => (0L, i))
      val ring = (1L until n.toLong).map(i => (i, i + 1))
      (star ++ ring).toDF("s1", "s2")
    }
    val sizes = Seq(2000, 8000, 32000) // |E| ≈ 4k, 16k, 64k: two decades of 4×
    val rows = sizes.map { n =>
      val g = hubGraph(n)
      val degOrd = MrCore.wedgeMass(g, degreeOrdered = true)
      val idOrd = MrCore.wedgeMass(g, degreeOrdered = false)
      info(s"|E|=${2 * n - 1}: degree-ordered wedges=$degOrd, id-ordered wedges=$idOrd")
      (n, degOrd, idOrd)
    }
    rows.foreach { case (n, degOrd, idOrd) =>
      // id-ordered: every star edge orients hub→leaf (0 is the lowest
      // id), so the hub alone contributes C(n,2) — quadratic
      assert(idOrd >= n.toLong * (n - 1) / 2,
        s"id-ordered must be hub-quadratic at n=$n: $idOrd")
      // degree-ordered: every out-degree is O(√m); on this topology the
      // orientation sends star edges leaf→hub, so mass stays LINEAR
      assert(degOrd <= 4L * (2L * n),
        s"degree-ordered wedge mass must stay within a linear envelope at n=$n: $degOrd")
    }
    // growth across the 4× steps: degree-ordered tracks |E| (ratio ≈ 4),
    // id-ordered tracks |E|² (ratio ≈ 16)
    rows.sliding(2).foreach { case Seq((_, d1, i1), (_, d2, i2)) =>
      assert(d2.toDouble / d1 <= 6.0,
        s"degree-ordered growth must be ~linear in |E|: $d1 -> $d2")
      assert(i2.toDouble / i1 >= 12.0,
        s"id-ordered growth must be ~quadratic in |E|: $i1 -> $i2")
    }
    // and the enumeration the mass predicts: the degree-ordered kernel
    // counts the hub graph's triangles correctly at the largest size
    // (every ring edge (i, i+1) closes exactly one triangle via the hub)
    val n = sizes.last
    val tri = MrCore.triangleCountsDegreeOrdered(hubGraph(n))
      .agg(sum("n_tri")).head().getLong(0)
    assert(tri == 3L * (n - 1),
      s"hub graph has n-1 triangles, 3 incidences each: got $tri")
    CacheHygiene.sweep(s)
  }

  test("co-order layout: identical results, derivation gone from the plan, zero edge-side exchange, atomic repoint") {
    val s = spark
    // inline baseline FIRST (conf off — the Verify/driver shape)
    val inline = MrCore.graphLinks(s, sf).collect().map(_.toSeq).toSeq
    CacheHygiene.sweep(s)
    val t1 = MrCore.buildCoOrderLayout(s, sf)
    try {
      s.conf.set("spark.graft.coOrderLayout", "true")
      val viaLayout = MrCore.graphLinks(s, sf)
      // the layout serves the SAME edges the inline derivation builds
      assert(viaLayout.collect().map(_.toSeq).toSeq == inline,
        "layout-backed graph query must equal the inline derivation")
      // … without ever touching lineitem: the shared ~20s-at-sf10
      // derivation is gone from the per-query plan
      val plan = viaLayout.queryExecution.executedPlan.toString
      assert(!plan.contains("lineitem"),
        s"layout read must not re-derive from lineitem:\n$plan")
      // bucketed-by-src layout: the degree aggregate reads a frame
      // already hash-distributed on the key — zero edge-side exchange
      val deg = s.table(t1).groupBy(col("src")).agg(count(lit(1)).as("d"))
      assert(!deg.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        "degree aggregate over the bucketed layout must plan no exchange")
      // atomic repoint + retention: each build publishes a new version,
      // keeps the previous for in-flight readers, drops older ones
      val t2 = MrCore.buildCoOrderLayout(s, sf)
      assert(t2 != t1 && MrCore.currentCoOrderLayout(s, sf).contains(t2))
      assert(s.catalog.tableExists(t1), "v-1 retained for in-flight readers")
      val t3 = MrCore.buildCoOrderLayout(s, sf)
      assert(MrCore.currentCoOrderLayout(s, sf).contains(t3))
      assert(s.catalog.tableExists(t2) && !s.catalog.tableExists(t1),
        "versions older than v-1 are dropped at publish")
    } finally {
      s.conf.set("spark.graft.coOrderLayout", "false")
      CacheHygiene.sweep(s)
    }
  }

  test("co-order layout staleness guard: a regenerated source dir is never served the old layout") {
    val s = spark
    // a private "source dir" this test can regenerate (the derivation
    // reads only lineitem, so that is all the dir needs)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stale-src").toString
    s.read.parquet(s"$sf/lineitem.parquet")
      .write.parquet(s"$tmp/lineitem.parquet")
    val t1 = MrCore.buildCoOrderLayout(s, tmp)
    try {
      s.conf.set("spark.graft.coOrderLayout", "true")
      // fresh build over the current source: the layout is served
      val fresh = MrCore.graphLinks(s, tmp)
      assert(!fresh.queryExecution.executedPlan.toString.contains("lineitem"),
        "a fingerprint-matching layout must be served")
      fresh.collect()
      CacheHygiene.sweep(s)
      // REGENERATE the source (different rows ⇒ different file bytes)
      s.read.parquet(s"$sf/lineitem.parquet")
        .limit(100).coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      // the pointer still names t1 but its recorded fingerprint no
      // longer matches the dir — the read path must fall back inline
      assert(MrCore.currentCoOrderLayout(s, tmp).contains(t1))
      val stale = MrCore.graphLinks(s, tmp)
      assert(stale.queryExecution.executedPlan.toString.contains("lineitem"),
        "a stale layout must NOT be served: the plan must re-derive from lineitem")
      // inline fallback computes over the REGENERATED data, identical
      // to what a layout-off session sees
      val viaGuard = stale.collect().map(_.toSeq).toSeq
      CacheHygiene.sweep(s)
      s.conf.set("spark.graft.coOrderLayout", "false")
      val inline = MrCore.graphLinks(s, tmp).collect().map(_.toSeq).toSeq
      assert(viaGuard == inline, "guarded fallback must equal the inline derivation")
      s.conf.set("spark.graft.coOrderLayout", "true")
      CacheHygiene.sweep(s)
      // a rebuild over the regenerated source re-arms the layout path
      val t2 = MrCore.buildCoOrderLayout(s, tmp)
      assert(t2 != t1)
      val rebuilt = MrCore.graphLinks(s, tmp)
      assert(!rebuilt.queryExecution.executedPlan.toString.contains("lineitem"),
        "after a rebuild the layout must be served again")
      assert(rebuilt.collect().map(_.toSeq).toSeq == inline,
        "rebuilt layout must serve the regenerated source's edges")
    } finally {
      s.conf.set("spark.graft.coOrderLayout", "false")
      CacheHygiene.sweep(s)
    }
  }

  test("co-order layout build is single-writer: a second interleaved builder fails loudly via the lease") {
    val s = spark
    import graft.sources.ManifestTable
    val tmp = java.nio.file.Files.createTempDirectory("graft-lease-src").toString
    s.read.parquet(s"$sf/lineitem.parquet").limit(500)
      .write.parquet(s"$tmp/lineitem.parquet")
    // builder B is mid-build: it holds the layout lease (the same
    // claim buildCoOrderLayout takes first)
    val lease = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      MrCore.coOrderLayoutBase(tmp) + ".lock").toString
    ManifestTable.acquireLease(s, lease, "builder-B")
    try {
      // builder A arriving under B's live lease must fail LOUDLY before
      // staging anything — not silently last-rename-wins (VERDICT r15 #5)
      intercept[ManifestTable.ConcurrentWriterException] {
        MrCore.buildCoOrderLayout(s, tmp)
      }
      assert(MrCore.currentCoOrderLayout(s, tmp).isEmpty,
        "the losing builder must publish nothing")
    } finally ManifestTable.releaseLease(s, lease, "builder-B")
    // B done: the next build claims, publishes, and releases its lease
    val t = MrCore.buildCoOrderLayout(s, tmp)
    assert(MrCore.currentCoOrderLayout(s, tmp).contains(t))
    assert(ManifestTable.currentLease(s, lease).isEmpty,
      "a completed build must release its lease")
    CacheHygiene.sweep(s)
  }

  test("property: set-explode co-order derivation equals the distinct+self-join reference") {
    val s = spark
    import s.implicits._
    // randomized order/supplier incidence with duplicates (collect_set
    // must dedup them exactly like the reference's distinct), plus
    // single-supplier orders (no pairs) and a hot supplier (ties in
    // shared counts exercise the (shared desc, s1, s2) cut order)
    val rng = new scala.util.Random(7)
    for (round <- 1 to 3) {
      val rows = (0 until 400 + round * 100).map { _ =>
        (rng.nextInt(60).toLong, (if (rng.nextInt(4) == 0) 0
          else rng.nextInt(15)).toLong)
      }
      val li = rows.toDF("l_orderkey", "l_suppkey")
      val topK = 5 + round * 7 // small enough that the limit bites
      val got = MrCore.coOrderTopEdges(li, topK)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val d = li.distinct()
      val ref = d.select(col("l_orderkey"), col("l_suppkey").as("s1"))
        .join(d.select(col("l_orderkey"), col("l_suppkey").as("s2")), Seq("l_orderkey"))
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("shared"))
        .orderBy(col("shared").desc, col("s1"), col("s2")).limit(topK)
        .select(col("s1"), col("s2"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // both cuts follow the same total order, so exact sequence equality
      assert(got.toSeq == ref.toSeq,
        s"round $round: got ${got.toSeq} vs ref ${ref.toSeq}")
    }
  }

  test("fused convergence scalar: accumulated (count, xor) fingerprint " +
      "equals the aggregate fingerprint under eager localCheckpoint") {
    // the r19 loop fusion relies on accumulator updates riding the
    // checkpoint materialization exactly once per row — assert the
    // accumulated pair is bit-identical to the separate agg job it
    // replaced, over several trials (task scheduling varies)
    for (trial <- 1 to 3) {
      val df = spark.range(50000 + trial)
        .select(col("id").as("node"), (col("id") % 97).as("lab"))
        .groupBy(col("node")).agg(min(col("lab")).as("lab"))
      val acc = new graft.functions.XorCountAcc
      spark.sparkContext.register(acc, "spec_fp")
      val tick = udf((h: Long) => { acc.add(h); h }).asNondeterministic()
      val cp = df.withColumn("__fp", tick(xxhash64(col("node"), col("lab"))))
        .localCheckpoint()
      val accVal = acc.value
      val r = cp.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("node"), col("lab"))), lit(0L))).head()
      assert(accVal == ((r.getLong(0), r.getLong(1))),
        s"trial $trial: accumulated $accVal vs agg " +
          s"(${r.getLong(0)}, ${r.getLong(1)})")
      cp.unpersist(blocking = true)
    }
  }

  test("BpeMergeSyms: greedy left-to-right non-overlapping merge with " +
      "null elements passing through unmatched") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(
      (1L, Seq[String]("a", "a", "a")),          // no rematch of the merged symbol
      (2L, Seq[String]("a", "b", "a", "a", "b")),
      (3L, Seq[String]("x")),
      (4L, Seq[String]())
    ).toDF("id", "syms")
      .union(Seq((5L, null.asInstanceOf[Seq[String]])).toDF("id", "syms"))
    val merged = df.select(col("id"),
      graft.functions.BpeFunctions.bpeMerge(col("syms"), "a", "a").as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1).toList)).toMap
    assert(merged(1L) == List("aa", "a")) // second merge blocked: last is "aa", not "a"
    assert(merged(2L) == List("a", "b", "aa", "b"))
    assert(merged(3L) == List("x"))
    assert(merged(4L) == Nil)
    assert(merged(5L) == null) // null array propagates
    // null ELEMENTS pass through and never match
    val withNulls = Seq((6L, Seq("a", null, "a", "a"))).toDF("id", "syms")
      .select(graft.functions.BpeFunctions.bpeMerge(col("syms"), "a", "a").as("m"))
      .head().getSeq[String](0).toList
    assert(withNulls == List("a", null, "aa"))
  }
}
