package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity

/** Recall harness for the approximate ANN paths (round 5).
  *
  * The oracle-checked `ann_ivf`/`ann_lsh` queries prove the plans are
  * deterministic, but on the synthetic sf tables probe ≈ exact, so
  * the quality dimension a real user cares about — recall vs the
  * brute-force truth — was untested. This spec builds a corpus where
  * the probe genuinely loses neighbors (clustered points with queries
  * planted BETWEEN cluster centers, plus planted near-duplicate
  * pairs), measures recall@k against `cosineTopKExact`, prints the
  * recall/cost curve, and asserts floors.
  */
class SimilarityRecallSpec extends SparkSpec {

  private val Dim = 16
  private val NClusters = 10
  private val PerCluster = 60
  private val K = 10

  // deterministic splitmix-style generator: the corpus must be
  // identical on every run or the asserted floors would flap
  private final class Det(var s: Long) {
    def next(): Double = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    def vec(): Seq[Double] = Seq.fill(Dim)(next())
  }

  private def plus(a: Seq[Double], b: Seq[Double], w: Double): Seq[Double] =
    a.zip(b).map { case (x, y) => x + w * y }

  private lazy val rnd = new Det(42L)
  private lazy val centers: Seq[Seq[Double]] =
    Seq.fill(NClusters)(rnd.vec()).map { c =>
      val n = Similarity.driverNorm(c); c.map(_ / n)
    }
  /** Corpus: 60 points per cluster at noise 0.15; each cluster's
    * member 2t/2t+1 is a planted near-duplicate pair (noise 0.004
    * apart, cosine ≥ ~0.999). Ids INTERLEAVE across clusters
    * (id = member × NClusters + cluster) so the k lowest ids — the
    * deterministic kmeans seeds — start one per true cluster, the
    * same property the sf embeddings table has. */
  private lazy val corpus: Seq[(Long, Seq[Double])] = {
    val byCluster: Seq[IndexedSeq[Seq[Double]]] = centers.map { c =>
      (0 until PerCluster / 2).flatMap { _ =>
        val base = plus(c, rnd.vec(), 0.15)
        Seq(base, plus(base, rnd.vec(), 0.004))
      }
    }
    for {
      m <- 0 until PerCluster
      c <- 0 until NClusters
    } yield ((m * NClusters + c).toLong, byCluster(c)(m))
  }
  /** Queries planted between adjacent cluster centers (52/48 lean):
    * their true top-k spans BOTH clusters, so nprobe=1 must lose
    * neighbors and nprobe=2 must recover them. */
  private lazy val queries: Seq[(Long, Seq[Double])] =
    (0 until 2 * NClusters).map { j =>
      val a = centers(j % NClusters)
      val b = centers((j + 1) % NClusters)
      (1000L + j, plus(plus(a.map(_ * 0.52), b, 0.48), rnd.vec(), 0.02))
    }

  test("IVF recall@10 vs brute force: nprobe=1 lossy, nprobe=2 above 0.9, monotone") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
      .persist()
    val qs = queries.toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))

    val truth = Similarity.cosineTopKExact(
        corpus.toDF("vec_id", "v"), queries.toDF("q_id", "qv"), K)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (cent, _) = Similarity.kmeansTrain(
      vecs.select(col("vec_id"), col("v"), col("nrm")), NClusters, iters = 2)
    val cents = Similarity.collectCentroids(cent)

    // measured probe cost: rows scanned = Σ over queries of probed
    // cluster sizes (not the nominal nprobe/nlist estimate)
    val sizes = vecs
      .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum.toDouble

    val curve = Seq(1, 2, 4).map { nprobe =>
      val got = Similarity.ivfTopK(vecs, qs, cents, nprobe, K)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (got & truth).size.toDouble / truth.size
      val probed = queries.map { case (qid, qv) =>
        val qn = Similarity.driverNorm(qv)
        cents.map { case (cid, cv, cn) =>
          cid -> qv.zip(cv).map { case (x, y) => x * y }.sum / (cn * qn)
        }.sortBy(-_._2).take(nprobe).map(c => sizes.getOrElse(c._1, 0L)).sum
      }.sum.toDouble / queries.size
      info(f"nprobe=$nprobe recall@$K=$recall%.3f scanned=${probed / total * 100}%.1f%% of corpus/query")
      nprobe -> recall
    }.toMap
    vecs.unpersist()

    assert(curve(1) < 1.0,
      s"corpus must stress the probe: nprobe=1 recall ${curve(1)} should be < 1")
    assert(curve(2) >= 0.9, s"recall@$K floor: nprobe=2 got ${curve(2)}")
    assert(curve(4) >= curve(2), "recall must be monotone in nprobe")
  }

  test("materialized IVF index: probe equals ivfTopK and the scan is partition-pruned") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val qs = queries.toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))
    val cents = centers.zipWithIndex.map { case (c, i) =>
      (i, c, Similarity.driverNorm(c))
    }
    val path = java.nio.file.Files.createTempDirectory("ivf-idx").toString + "/idx"
    Similarity.writeIvfIndex(vecs, cents, path)
    // the physical layout IS the assignment: one dir per cluster
    val dirs = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("cluster=")).sorted
    assert(dirs.length == NClusters, s"expected $NClusters cluster dirs, got ${dirs.toSeq}")

    val probed = Similarity.probeIvfIndex(s, path, qs, cents, nprobe = 2, k = K)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"index scan must be dynamically partition-pruned by the probe join:\n$plan")
    val viaIndex = probed.collect().map(_.toSeq).toSeq
    val direct = Similarity.ivfTopK(vecs, qs, cents, nprobe = 2, k = K)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == direct,
      "probing the materialized index must reproduce ivfTopK exactly")
  }

  test("incremental IVF append: append == one-shot rebuild, only touched clusters gain files") {
    val s = spark
    import s.implicits._
    val all = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val qs = queries.toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))
    val cents = centers.zipWithIndex.map { case (c, i) =>
      (i, c, Similarity.driverNorm(c))
    }
    val cut = corpus.size / 2
    val (base, batch) =
      (all.filter(col("vec_id") < cut), all.filter(col("vec_id") >= cut))
    val tmp = java.nio.file.Files.createTempDirectory("ivf-incr").toString
    val (inc, full) = (tmp + "/inc", tmp + "/full")
    Similarity.writeIvfIndex(base, cents, inc)
    val filesBefore = new java.io.File(inc).listFiles()
      .filter(_.getName.startsWith("cluster=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    Similarity.appendIvfIndex(batch, cents, inc)
    // cost ∝ batch: a cluster the batch never assigns to gains no files
    val batchClusters = batch
      .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .select("cluster").distinct().collect().map(r => s"cluster=${r.getInt(0)}").toSet
    new java.io.File(inc).listFiles().filter(_.getName.startsWith("cluster="))
      .foreach { d =>
        val n = d.listFiles().count(_.getName.endsWith(".parquet"))
        if (!batchClusters(d.getName))
          assert(n == filesBefore.getOrElse(d.getName, 0),
            s"untouched ${d.getName} gained files")
        else assert(n > filesBefore.getOrElse(d.getName, 0))
      }
    // append commutes with build: probing the appended index is
    // row-identical to probing a one-shot index over the full corpus
    Similarity.writeIvfIndex(all, cents, full)
    val got = Similarity.probeIvfIndex(s, inc, qs, cents, nprobe = 2, k = K)
      .collect().map(_.toSeq).toSeq
    val want = Similarity.probeIvfIndex(s, full, qs, cents, nprobe = 2, k = K)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "appended index must answer like the rebuilt index")
    // and the appended index still partition-prunes
    val plan = Similarity.probeIvfIndex(s, inc, qs, cents, nprobe = 2, k = K)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"))
  }

  test("IVF index staleness guard: a fingerprinted index refuses a regenerated source") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val qs = queries.toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))
    val cents = centers.zipWithIndex.map { case (c, i) =>
      (i, c, Similarity.driverNorm(c))
    }
    // a source dir the test can regenerate, fingerprinted like a
    // production embeddings table
    val src = java.nio.file.Files.createTempDirectory("ivf-fp-src").toString
    vecs.write.parquet(s"$src/embeddings.parquet")
    val fp0 = Tables.sourceFingerprint(s, src, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf-fp-idx").toString + "/idx"
    Similarity.writeIvfIndex(vecs, cents, path, sourceFingerprint = Some(fp0))
    // matching fingerprint: the guarded probe answers like the unguarded one
    val guarded = Similarity
      .probeIvfIndex(s, path, qs, cents, nprobe = 2, k = K, expectFingerprint = Some(fp0))
      .collect().map(_.toSeq).toSeq
    val plain = Similarity.probeIvfIndex(s, path, qs, cents, nprobe = 2, k = K)
      .collect().map(_.toSeq).toSeq
    assert(guarded == plain)
    // REGENERATE the source: the guarded probe must refuse the index
    vecs.limit(3).coalesce(1)
      .write.mode("overwrite").parquet(s"$src/embeddings.parquet")
    val fp1 = Tables.sourceFingerprint(s, src, "embeddings")
    assert(fp1 != fp0, "regeneration must change the fingerprint")
    val e = intercept[IllegalStateException] {
      Similarity.probeIvfIndex(s, path, qs, cents, nprobe = 2, k = K,
        expectFingerprint = Some(fp1))
    }
    assert(e.getMessage.contains("STALE"))
    // an un-fingerprinted legacy index also refuses a guarded probe
    val legacy = java.nio.file.Files.createTempDirectory("ivf-fp-leg").toString + "/idx"
    Similarity.writeIvfIndex(vecs, cents, legacy)
    intercept[IllegalStateException] {
      Similarity.probeIvfIndex(s, legacy, qs, cents, nprobe = 2, k = K,
        expectFingerprint = Some(fp1))
    }
    // and an append hands over the grown corpus's fingerprint
    Similarity.appendIvfIndex(vecs.limit(2), cents, path,
      sourceFingerprint = Some(fp1))
    Similarity.probeIvfIndex(s, path, qs, cents, nprobe = 2, k = K,
      expectFingerprint = Some(fp1)).collect() // accepted, no throw
  }

  test("PQ recall@10 vs brute force: trained codebook beats init, codes round-trip") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
      .persist()
    val truth = Similarity.cosineTopKExact(
        corpus.toDF("vec_id", "v"), queries.toDF("q_id", "qv"), K)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val M = 4
    val subDim = Dim / M
    def recallOf(cb: Seq[Seq[Seq[Double]]]): Double = {
      val recon = vecs.select(col("vec_id"),
        Similarity.pqReconstruct(cb, col("v")).as("v"))
      val got = Similarity.cosineTopKExact(recon, queries.toDF("q_id", "qv"), K)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }

    // init codebook: sub-vectors of the 16 lowest-id corpus vectors
    val init = Similarity.pqCodebook(vecs, m = M, subDim = subDim, k = 16)
    // trained codebook: per-subspace Lloyd on the sub-vector frame —
    // the production path, reusing the SAME public trainer as IVF
    val trained = (0 until M).map { m =>
      val sub = vecs.select(col("vec_id"),
        slice(col("v"), m * subDim + 1, subDim).as("v"))
        .withColumn("nrm", VectorFunctions.norm(col("v")))
      val (cent, _) = Similarity.kmeansTrain(sub, 16, iters = 2)
      Similarity.collectCentroids(cent).map(_._2)
    }
    val rInit = recallOf(init)
    val rTrained = recallOf(trained)
    val qs = queries.toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))
    def rerankRecall(cb: Seq[Seq[Seq[Double]]], rerank: Int): Double = {
      val got = Similarity.pqTopKRerank(vecs, qs, cb, K, rerank)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val rr4 = rerankRecall(trained, 4)
    val rr8 = rerankRecall(trained, 8)
    info(f"PQ recall@$K: raw ADC init $rInit%.3f / trained $rTrained%.3f; " +
      f"shortlist+exact-rerank ×4 $rr4%.3f, ×8 $rr8%.3f " +
      f"(codes: $M bytes/vector vs ${Dim * 8})")
    assert(rInit < 1.0, "corpus must stress the quantizer")
    assert(rTrained >= rInit - 0.05,
      "training the codebook must not lose recall vs the init codebook")
    // raw ADC order is allowed to be coarse; the production pipeline
    // (shortlist + exact re-rank) must recover the true neighbors
    assert(rr4 > rTrained, "re-ranking must beat raw ADC order")
    assert(rr8 >= 0.9, s"rerank ×8 recall floor: got $rr8")
    assert(rr8 >= rr4, "recall must be monotone in the shortlist factor")

    // codes are the stored form: reconstruct == codebook lookup of codes
    val roundTrip = vecs.select(
        Similarity.pqReconstruct(trained, col("v")).as("direct"),
        transform(Similarity.pqCodes(trained, col("v")),
          (c, m) => element_at(element_at(typedLit(trained), m + 1), c + 1))
          .as("viaCodes"))
      .filter(not(expr("direct = flatten(viaCodes)")))
    assert(roundTrip.count() == 0,
      "pqReconstruct must equal decoding pqCodes against the codebook")
    vecs.unpersist()
  }

  test("SQ8 recall@10 near-lossless, per-dim error within half a quantization step") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
      .persist()
    val truth = Similarity.cosineTopKExact(
        corpus.toDF("vec_id", "v"), queries.toDF("q_id", "qv"), K)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (mns, mxs) = Similarity.sqTrain(vecs)
    assert(mns.size == Dim && mxs.size == Dim)
    // uniform-quantizer error contract: |x̂ − x| ≤ step/2 (+1 ulp of
    // slack for the double arithmetic), step = (mx − mn)/255 per dim
    val recon = vecs.select(col("vec_id"), col("v"),
      Similarity.sqReconstruct(mns, mxs, col("v")).as("rv"))
    val maxRel = recon.select(max(expr(
      """aggregate(zip_with(v, rv, (a, b) -> abs(a - b)), 0D,
        |  (acc, e) -> greatest(acc, e))""".stripMargin))).head.getDouble(0)
    val maxStep = mns.zip(mxs).map { case (a, b) => (b - a) / 255.0 }.max
    assert(maxRel <= maxStep / 2.0 + 1e-12,
      f"SQ8 reconstruction error $maxRel%.6g exceeds half-step ${maxStep / 2.0}%.6g")

    // recall: 8 bits/dim is near-lossless — it must clear a floor a
    // 4-byte PQ code cannot, and in practice reproduce the exact set
    val got = Similarity.cosineTopKExact(
        recon.select(col("vec_id"), col("rv").as("v")),
        queries.toDF("q_id", "qv"), K)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"SQ8 recall@$K: $recall%.3f (codes: $Dim bytes/vector vs ${Dim * 8} raw)")
    assert(recall >= 0.95, s"SQ8 recall floor: got $recall")

    // flat dimension reconstructs exactly to mn (the degenerate guard)
    val flat = Seq((0L, Seq(3.0, 7.5)), (1L, Seq(3.0, 2.5))).toDF("vec_id", "v")
    val (fm, fx) = Similarity.sqTrain(flat)
    val frv = flat.orderBy("vec_id")
      .select(Similarity.sqReconstruct(fm, fx, col("v")).as("rv"))
      .collect().map(_.getSeq[Double](0))
    assert(frv(0) == Seq(3.0, 7.5) && frv(1) == Seq(3.0, 2.5),
      "flat dim must round-trip exactly; range endpoints are exact codes")
    vecs.unpersist()
  }

  test("hard negatives: near-dup ceiling excludes planted cross-label copies, label filter holds") {
    val s = spark
    import s.implicits._
    // anchor along +x; a cross-label COPY of it (cos 1.0 — a false
    // negative the ceiling must drop); a same-label close vector (the
    // positive — label filter must drop); three genuine negatives at
    // descending cosine
    val corpus = Seq(
      (1L, 1, Seq(1.0, 0.001)),   // cross-label near-dup, cos ≈ 1.0
      (2L, 0, Seq(0.9, 0.1)),     // same label — never a negative
      (3L, 1, Seq(1.0, 0.5)),     // hard negative, cos ≈ 0.894
      (4L, 2, Seq(1.0, 1.0)),     // cos ≈ 0.707
      (5L, 1, Seq(0.0, 1.0))      // orthogonal, cos 0
    ).toDF("vec_id", "label", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val anchors = Seq((100L, 0, Seq(1.0, 0.0))).toDF("q_id", "q_label", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))
    val got = Similarity.hardNegatives(corpus, anchors, k = 10, maxCos = 0.98)
      .orderBy("rank")
      .select("neighbor_id", "neg_label", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((3L, 1, 1), (4L, 2, 2), (5L, 1, 3)),
      s"expected the three true negatives in cosine order, got $got")
  }

  test("IVF-SQ: residual SQ8 strictly beats flat SQ8 error at equal bit budget, recall holds") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
      .persist()
    val truth = Similarity.cosineTopKExact(
        corpus.toDF("vec_id", "v"), queries.toDF("q_id", "qv"), K)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (cent, _) = Similarity.kmeansTrain(vecs, NClusters, iters = 2)
    val cents = Similarity.collectCentroids(cent)
    val centDf = org.apache.spark.sql.functions.broadcast(
      cents.toDF("c_id", "cv", "cn"))
    val withRes = vecs
      .withColumn("cluster",
        Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .join(centDf, col("cluster") === col("c_id"))
      .withColumn("res", zip_with(col("v"), col("cv"), (a, b) => a - b))
      .persist()

    def maxErr(frame: org.apache.spark.sql.DataFrame, src: String,
        mns: Seq[Double], mxs: Seq[Double]): Double =
      frame.select(max(expr(
        s"""aggregate(zip_with($src, rv, (a, b) -> abs(a - b)), 0D,
           |  (acc, e) -> greatest(acc, e))""".stripMargin))).head.getDouble(0)
    // flat SQ8 over raw vectors vs SQ8 over residuals: the residual
    // envelope is tighter, so its quantization step — and therefore
    // the worst-case error — must be strictly smaller (the residual
    // argument, measured; the IVF-PQ MSE test's SQ twin)
    val (fm, fx) = Similarity.sqTrain(vecs)
    val flatErr = maxErr(vecs.select(col("v"),
      Similarity.sqReconstruct(fm, fx, col("v")).as("rv")), "v", fm, fx)
    val (rm, rx) = Similarity.sqTrain(withRes.select(col("res").as("v")))
    val resErr = maxErr(withRes.select(col("res"),
      Similarity.sqReconstruct(rm, rx, col("res")).as("rv")), "res", rm, rx)
    info(f"SQ8 max |x̂−x|: flat $flatErr%.6g vs residual $resErr%.6g")
    assert(resErr < flatErr,
      s"residual SQ8 must beat flat SQ8 worst-case error: $resErr vs $flatErr")

    // recall of the composed probe path: x̂ = centroid + deq(res),
    // exact scan over x̂ (probe-free here isolates quantization loss
    // from IVF probe loss, which the IVF recall test owns)
    val rhat = withRes.select(col("vec_id"),
      zip_with(col("cv"),
        Similarity.sqReconstruct(rm, rx, col("res")), (a, b) => a + b).as("v"))
    val got = Similarity.cosineTopKExact(rhat, queries.toDF("q_id", "qv"), K)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"IVF-SQ (residual SQ8) recall@$K: $recall%.3f")
    assert(recall >= 0.95, s"residual-SQ8 recall floor: got $recall")
    withRes.unpersist(); vecs.unpersist()
  }

  test("pqCode degenerate codebooks: a collapsed single-entry subspace codes to 0") {
    val s = spark
    import s.implicits._
    // subspace 0: two 1-wide entries; subspace 1: ONE entry (the
    // collapsed-trained-subspace case — an empty struct array would
    // fail analysis without the guard)
    val cb = Seq(Seq(Seq(1.0), Seq(9.0)), Seq(Seq(2.0)))
    val got = Seq((0L, Seq(8.5, 7.0))).toDF("vec_id", "v")
      .select(Similarity.pqCodes(cb, col("v")).as("c"))
      .head.getSeq[Int](0)
    assert(got == Seq(1, 0)) // 8.5 nearer 9.0 -> code 1; singleton -> 0
  }

  test("ADC rerank shortlists keep zero-norm reconstructions last and survive too few candidates") {
    val s = spark
    import s.implicits._
    // A reconstruction of norm 0 gives a null ADC score (try_divide).
    // The shortlist ranks it after every real score and cuts among
    // such rows by vec_id, the row_number window's DESC NULLS LAST.
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().map(r => (r.getLong(1), r.getInt(2))).toSeq
    val vecs = Seq(
        1L -> Seq(1.0, 0.0, 0.0, 0.1), 2L -> Seq(1.0, 0.2, 0.0, 0.0),
        3L -> Seq(0.0, 0.0, 1.0, 0.3), 4L -> Seq(0.1, 0.0, 1.0, 0.0),
        5L -> Seq(2.0, 0.0, 0.0, 1.0))
      .toDF("vec_id", "v").withColumn("nrm", VectorFunctions.norm(col("v")))
    def query(qv: Seq[Double]) = Seq(100L -> qv).toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))

    // flat PQ: 3 and 4 sit nearer (0, 0) than (1, 0) in subspace 0, so
    // they reconstruct to 0 and score null, while 1, 2 and 5 tie at
    // 0.0; the k·rerank = 4 shortlist is 1, 2, 5, 3, and 4 (the best
    // exact cosine) misses it
    val pqCb = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 0.0)), Seq(Seq(0.0, 0.0)))
    assert(ids(Similarity.pqTopKRerank(vecs, query(Seq(0.0, 0.0, 1.0, 0.0)), pqCb,
      k = 2, rerank = 2)) == Seq(3L -> 1, 1L -> 2))

    // IVF-PQ: every residual codes to (-1, 0, 0, 0), so the cell of
    // (1, 0, 0, 0) — vectors 1, 2, 5 — reconstructs to 0 and scores
    // null, while 3 and 4 tie at -0.5 / (1.5·√2)
    val cents = Seq(0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 0.0, 1.0, 0.0))
      .map { case (c, cv) => (c, cv, Similarity.driverNorm(cv)) }
    val ivfCb = Seq(Seq(Seq(-1.0, 0.0)), Seq(Seq(0.0, 0.0)))
    val q = query(Seq(1.0, 0.0, 0.5, 1.0))
    // both cells probed: shortlist 3, 4, then nulls 1, 2; 5 is cut
    assert(ids(Similarity.ivfPqTopKRerank(vecs, q, cents, ivfCb,
      nprobe = 2, k = 2, rerank = 2)) == Seq(1L -> 1, 2L -> 2))
    // one cell probed: 3 candidates for a shortlist of 4, all null
    assert(ids(Similarity.ivfPqTopKRerank(vecs, q, cents, ivfCb,
      nprobe = 1, k = 2, rerank = 2)) == Seq(5L -> 1, 1L -> 2))
  }

  test("multi-table LSH recall on planted near-duplicates above 0.9; banding beats one band") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
    // truth: all pairs with cosine >= 0.999 (the planted even/odd
    // near-dups, plus any incidental ones) via full O(n²) self-join —
    // affordable at 600 vectors, and independent of any LSH machinery
    val e = vecs.withColumn("nrm", VectorFunctions.norm(col("v")))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    val truth = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", VectorFunctions.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.999)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= NClusters * PerCluster / 2,
      s"construction must plant near-dup pairs, got ${truth.size}")

    val hrnd = new Det(7L)
    def recallWith(bands: Int, bits: Int): (Double, Long) = {
      val hyper = Seq.fill(bands * bits)(hrnd.vec())
      val cand = Similarity.lshCandidatePairs(vecs, hyper, bits)
      val found = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((found & truth).size.toDouble / truth.size, found.size.toLong)
    }
    val (r1, c1) = recallWith(bands = 1, bits = 8)
    val (r4, c4) = recallWith(bands = 4, bits = 8)
    val allPairs = corpus.size.toLong * (corpus.size - 1) / 2
    info(f"1 band × 8 bits: recall=$r1%.3f candidates=$c1 (${c1 * 100.0 / allPairs}%.2f%% of n²/2)")
    info(f"4 bands × 8 bits: recall=$r4%.3f candidates=$c4 (${c4 * 100.0 / allPairs}%.2f%% of n²/2)")
    assert(r4 >= 0.9, s"multi-table LSH recall floor: got $r4")
    assert(r4 >= r1, "OR-construction must not lose recall vs one band")
    assert(c4 < allPairs / 4,
      s"candidates must stay far below all-pairs: $c4 vs $allPairs")
  }

  test("range search: threshold respected, consistent with top-k above the cut") {
    import org.apache.spark.sql.functions._
    val range = graft.operators.Similarity.annRangeSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(range.nonEmpty, "tau must admit matches at sf0.001")
    assert(range.values.forall(_ >= 0.25), "every match must clear tau")
    // every brute-force top-k neighbor above tau must be in the range
    // result with the same rounded cosine (selection ⊇ ranking ∩ cut)
    val topk = graft.operators.Similarity.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .filter(_._2 >= 0.25)
    assert(topk.nonEmpty, "some top-k neighbors must clear tau")
    topk.foreach { case (key, cos) =>
      assert(range.get(key).contains(cos),
        s"top-k neighbor $key (cos $cos) missing or drifted in range result")
    }
  }

  test("kNN join: planted near-dups recovered at rank 1, recall vs exact floored") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    // clusterRows = 60 → k = ceil(600/60) = 10, matching the planted
    // cluster structure (kFloor 1 keeps the corpus-derived k)
    val graph = Similarity.knnJoin(
      vecs.select(col("vec_id"), col("v"), col("nrm")), 10, 1, 60)
      .persist()
    val got = graph.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // every planted near-dup (even/odd member pair, cos ≥ ~0.999)
    // must be its twin's rank-1 neighbor: the pair is same-cluster
    // by construction unless the probe splits it, and rank-1 is what
    // the dedup/NN-graph consumers read first
    val rank1 = graph.filter(col("rank") === 1)
      .select("q_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twins = for {
      c <- 0 until NClusters
      t <- 0 until PerCluster / 2
    } yield ((2 * t) * NClusters + c).toLong -> ((2 * t + 1) * NClusters + c).toLong
    val twinHits = twins.count { case (a, b) =>
      rank1.get(a).contains(b) || rank1.get(b).contains(a)
    }
    info(f"kNN join: twin-at-rank-1 ${twinHits * 100.0 / twins.size}%.1f%% of ${twins.size} pairs")
    assert(twinHits.toDouble / twins.size >= 0.95,
      s"planted twins must dominate rank 1: $twinHits/${twins.size}")

    // recall@10 vs exact truth over ALL corpus vectors as queries
    // (in-cluster probe: boundary vectors lose cross-cluster
    // neighbors — the declared nprobe=1 trade, floored not hidden)
    val truth = Similarity.cosineTopKExact(
        corpus.toDF("vec_id", "v"),
        corpus.toDF("q_id", "qv"), 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"kNN join recall@10 vs exact: $recall%.3f")
    assert(recall >= 0.7, s"kNN join recall floor: got $recall")
    graph.unpersist()
  }

  test("IVF-PQ recall@10: reranked nprobe=2 clears 0.9, monotone in nprobe, rerank beats raw ADC") {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
      .persist()
    val qs = queries.toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))
    val truth = Similarity.cosineTopKExact(
        corpus.toDF("vec_id", "v"), queries.toDF("q_id", "qv"), K)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (cent, _) = Similarity.kmeansTrain(
      vecs.select(col("vec_id"), col("v"), col("nrm")), NClusters, iters = 2)
    val cents = Similarity.collectCentroids(cent)
    // production config: per-subspace Lloyd-trained codebook on the
    // RESIDUAL frame (the same public trainer the flat-PQ test uses)
    val M = 4
    val subDim = Dim / M
    val withRes = vecs
      .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .join(broadcast(cents.toDF("c_id", "cv", "cn")), col("cluster") === col("c_id"))
      .withColumn("res", zip_with(col("v"), col("cv"), (a, b) => a - b))
      .select(col("vec_id"), col("res"))
    val cb = (0 until M).map { m =>
      val sub = withRes.select(col("vec_id"),
        slice(col("res"), m * subDim + 1, subDim).as("v"))
        .withColumn("nrm", VectorFunctions.norm(col("v")))
      val (c, _) = Similarity.kmeansTrain(sub, 16, iters = 2)
      Similarity.collectCentroids(c).map(_._2)
    }
    def recallOf(nprobe: Int, rerank: Int): Double = {
      val got = Similarity.ivfPqTopKRerank(vecs, qs, cents, cb, nprobe, K, rerank)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    // rerank=1 shortlists exactly k, so the returned SET is the raw
    // residual-ADC top-k — the no-rerank baseline at equal probe cost
    val raw = recallOf(2, 1)
    val np1 = recallOf(1, 4)
    val np2 = recallOf(2, 4)
    val np4 = recallOf(4, 4)
    val r8 = recallOf(2, 8)
    info(f"IVF-PQ recall@$K: raw ADC np2 $raw%.3f; reranked ×4 np1 $np1%.3f " +
      f"np2 $np2%.3f np4 $np4%.3f; ×8 np2 $r8%.3f")
    assert(np1 < 1.0, "corpus must stress the probe")
    assert(np2 >= 0.9, s"IVF-PQ reranked recall floor at nprobe=2: got $np2")
    assert(np4 >= np2 && np2 >= np1, "recall must be monotone in nprobe")
    assert(np2 >= raw, "exact rerank must not lose recall vs raw ADC order")
    assert(r8 >= np2, "recall must be monotone in the shortlist factor")
    vecs.unpersist()
  }

  test("IVF-PQ: residual coding strictly beats flat PQ reconstruction at equal code budget") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val ev = graft.Tables.embeddings(sp, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
    def mse(recon: org.apache.spark.sql.DataFrame): Double = recon
      .select(avg(aggregate(zip_with(col("v"), col("xhat"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))).head.getDouble(0)
    val cbFlat = Similarity.pqCodebook(ev)
    val flat = mse(ev.withColumn("xhat", Similarity.pqReconstruct(cbFlat, col("v"))))
    val (cent, _) = Similarity.kmeansTrain(ev, 10, 2)
    val cents = Similarity.collectCentroids(cent)
    val withRes = ev
      .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .join(broadcast(cents.toDF("c_id", "cv", "cn")), col("cluster") === col("c_id"))
      .withColumn("res", zip_with(col("v"), col("cv"), (a, b) => a - b))
    val cbRes = Similarity.pqCodebook(withRes.select(col("vec_id"), col("res").as("v")))
    val resid = mse(withRes.withColumn("xhat",
      zip_with(col("cv"), Similarity.pqReconstruct(cbRes, col("res")), (a, b) => a + b)))
    // same code budget (PqM x PqK), residuals centered by the coarse
    // quantizer -> strictly less quantization error (measured 1.13x
    // on this weakly-clustered synthetic corpus; real text embeddings
    // cluster harder and widen the gap) — the reason IVF-PQ exists
    assert(resid < flat,
      s"residual PQ must reconstruct better than flat PQ: $resid vs $flat")
  }

  /** Shared fixture for the index tests: trained coarse cells plus a
    * Lloyd-trained residual codebook over the planted corpus. */
  private def ivfPqFixture() = {
    val s = spark
    import s.implicits._
    val vecs = corpus.toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.norm(col("v")))
    val qs = queries.toDF("q_id", "qv")
      .withColumn("qn", VectorFunctions.norm(col("qv")))
    val (cent, _) = Similarity.kmeansTrain(
      vecs.select(col("vec_id"), col("v"), col("nrm")), NClusters, iters = 2)
    val cents = Similarity.collectCentroids(cent)
    val M = 4
    val subDim = Dim / M
    val withRes = vecs
      .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .join(broadcast(cents.toDF("c_id", "cv", "cn")), col("cluster") === col("c_id"))
      .withColumn("res", zip_with(col("v"), col("cv"), (a, b) => a - b))
      .select(col("vec_id"), col("res"))
    val cb = (0 until M).map { m =>
      val sub = withRes.select(col("vec_id"),
        slice(col("res"), m * subDim + 1, subDim).as("v"))
        .withColumn("nrm", VectorFunctions.norm(col("v")))
      val (c, _) = Similarity.kmeansTrain(sub, 16, iters = 2)
      Similarity.collectCentroids(c).map(_._2)
    }
    (vecs, qs, cents, cb)
  }

  test("materialized IVF-PQ index: stores only codes, probe == in-memory pipeline, partition-pruned") {
    val s = spark
    import s.implicits._
    val (vecs, qs, cents, cb) = ivfPqFixture()
    val path = java.nio.file.Files.createTempDirectory("ivfpq-idx").toString + "/idx"
    Similarity.writeIvfPqIndex(vecs, cents, cb, path)
    // the layout IS the assignment, and the payload is codes only —
    // no raw floats in the stored schema (the 64× at 100 TB)
    val dirs = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("cluster=")).sorted
    assert(dirs.length == NClusters, s"expected $NClusters cluster dirs, got ${dirs.toSeq}")
    val stored = s.read.parquet(path)
    assert(stored.schema.fieldNames.sorted.toSeq == Seq("cluster", "codes", "vec_id"),
      s"index must store codes only, got ${stored.schema.fieldNames.toSeq}")

    val probed = Similarity.probeIvfPqIndex(s, path, qs, cents, cb, nprobe = 2, k = K)
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"index scan must be dynamically partition-pruned by the probe join:\n$plan")

    // pqDecode of the stored codes must rebuild the exact x̂ the
    // in-memory pipeline derives via pqReconstruct: same ADC scores,
    // same ranks, row-identical output. The expected frame replicates
    // annIvfPq's probe + ADC-rank tail inline over the encode-side
    // (never-written) x̂.
    val inMem = {
      val centDf = broadcast(cents.toDF("c_id", "cv", "cn"))
      val enc = vecs
        .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
        .join(centDf, col("cluster") === col("c_id"))
        .withColumn("res", zip_with(col("v"), col("cv"), (a, b) => a - b))
        .withColumn("rhat",
          zip_with(col("cv"), Similarity.pqReconstruct(cb, col("res")), (a, b) => a + b))
        .withColumn("rn", VectorFunctions.norm(col("rhat")))
        .select(col("vec_id"), col("cluster"), col("rhat"), col("rn"))
      val wProbe = Window.partitionBy(col("q_id"))
        .orderBy(col("qcos").desc, col("c_id"))
      val probes = qs.join(broadcast(cents.toDF("c_id", "cv", "cn")), lit(true))
        .withColumn("qcos",
          VectorFunctions.dot(col("cv"), col("qv")) / (col("cn") * col("qn")))
        .withColumn("prank", row_number().over(wProbe))
        .filter(col("prank") <= 2)
        .select(col("q_id"), col("qv"), col("qn"), col("c_id").as("probe_cluster"))
      val wRank = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      enc.join(broadcast(probes),
          col("cluster") === col("probe_cluster") && col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          VectorFunctions.dot(col("qv"), col("rhat")) / (col("qn") * col("rn")))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= K)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
        .orderBy(col("q_id"), col("rank"))
        .collect().map(_.toSeq).toSeq
    }
    val viaIndex = probed.select("q_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(viaIndex == inMem,
      "probing the coded index must reproduce the in-memory residual-ADC ranking")
  }

  test("incremental IVF-PQ append: append == one-shot rebuild, only touched clusters gain files") {
    val s = spark
    import s.implicits._
    val (vecs, qs, cents, cb) = ivfPqFixture()
    val cut = corpus.size / 2
    val (base, batch) =
      (vecs.filter(col("vec_id") < cut), vecs.filter(col("vec_id") >= cut))
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq-incr").toString
    val (inc, full) = (tmp + "/inc", tmp + "/full")
    Similarity.writeIvfPqIndex(base, cents, cb, inc)
    val filesBefore = new java.io.File(inc).listFiles()
      .filter(_.getName.startsWith("cluster=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    Similarity.appendIvfPqIndex(batch, cents, cb, inc)
    // cost ∝ batch: untouched clusters gain no files
    val batchClusters = batch
      .withColumn("cluster", Similarity.nearestCentroid(cents, col("v"), col("nrm")))
      .select("cluster").distinct().collect().map(r => s"cluster=${r.getInt(0)}").toSet
    new java.io.File(inc).listFiles().filter(_.getName.startsWith("cluster="))
      .foreach { d =>
        val n = d.listFiles().count(_.getName.endsWith(".parquet"))
        if (!batchClusters(d.getName))
          assert(n == filesBefore.getOrElse(d.getName, 0),
            s"untouched ${d.getName} gained files")
        else assert(n > filesBefore.getOrElse(d.getName, 0))
      }
    Similarity.writeIvfPqIndex(vecs, cents, cb, full)
    val got = Similarity.probeIvfPqIndex(s, inc, qs, cents, cb, nprobe = 2, k = K)
      .collect().map(_.toSeq).toSeq
    val want = Similarity.probeIvfPqIndex(s, full, qs, cents, cb, nprobe = 2, k = K)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "appended coded index must answer like the rebuilt index")
    val plan = Similarity.probeIvfPqIndex(s, inc, qs, cents, cb, nprobe = 2, k = K)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"))
  }

  /** MIPS corpus: the planted-cluster vectors SCALED by id-dependent
    * magnitudes (1 + (id mod 7)·0.3) so inner-product order genuinely
    * disagrees with cosine order — without the scaling, the near-unit
    * norms make MIPS ≈ cosine and the augmentation would be untested
    * dead weight. */
  private lazy val mipsCorpus: Seq[(Long, Seq[Double])] =
    corpus.map { case (id, v) =>
      (id, v.map(_ * (1.0 + (id % 7).toDouble * 0.3)))
    }

  private def driverIp(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }

  test("MIPS: norm-augmentation through the cosine kernel equals exact inner-product top-k; cosine alone does not") {
    val s = spark
    import s.implicits._
    // driver-side exact MIPS truth (same left-to-right fold as the
    // engine's dot): per query, top-K by (ip desc, vec_id)
    val truth: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
      qid -> mipsCorpus.map { case (id, v) => (id, driverIp(qv, v)) }
        .sortBy { case (id, ip) => (-ip, id) }.take(K).map(_._1)
    }.toMap
    // cosine truth must DIFFER for at least one query, or the corpus
    // fails to discriminate the two objectives
    val cosTruth: Map[Long, Seq[Long]] = queries.map { case (qid, qv) =>
      val qn = Similarity.driverNorm(qv)
      qid -> mipsCorpus.map { case (id, v) =>
        (id, driverIp(qv, v) / (qn * Similarity.driverNorm(v)))
      }.sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
    }.toMap
    assert(queries.exists { case (qid, _) => truth(qid) != cosTruth(qid) },
      "scaled corpus must make MIPS order differ from cosine order")

    val got = Similarity.mipsTopKViaCosine(
        mipsCorpus.toDF("vec_id", "v"), queries.toDF("q_id", "qv"), K)
      .select("q_id", "rank", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }
    assert(got == truth,
      "augmented-cosine ranking must equal exact MIPS neighbor-for-neighbor")
  }

  test("MIPS through the IVF probe: recall@10 vs exact MIPS holds a floor and is nprobe-monotone") {
    val s = spark
    import s.implicits._
    val truth: Map[Long, Set[Long]] = queries.map { case (qid, qv) =>
      qid -> mipsCorpus.map { case (id, v) => (id, driverIp(qv, v)) }
        .sortBy { case (id, ip) => (-ip, id) }.take(K).map(_._1).toSet
    }.toMap
    val (augC, augQ) = Similarity.mipsAugment(
      mipsCorpus.toDF("vec_id", "v"), queries.toDF("q_id", "qv"))
    val vecs = augC.withColumn("nrm", VectorFunctions.norm(col("v"))).persist()
    val qs = augQ.withColumn("qn", VectorFunctions.norm(col("qv")))
    val (cent, _) = Similarity.kmeansTrain(
      vecs.select(col("vec_id"), col("v"), col("nrm")), NClusters, iters = 2)
    val cents = Similarity.collectCentroids(cent)
    val curve = Seq(2, 4).map { nprobe =>
      val got = Similarity.ivfTopK(vecs, qs, cents, nprobe, K)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = got.count { case (qid, id) => truth(qid)(id) }.toDouble /
        truth.values.map(_.size).sum
      info(f"MIPS-IVF nprobe=$nprobe recall@$K=$recall%.3f")
      nprobe -> recall
    }.toMap
    vecs.unpersist()
    assert(curve(2) >= 0.8, s"MIPS-IVF recall floor: nprobe=2 got ${curve(2)}")
    assert(curve(4) >= curve(2), "recall must be monotone in nprobe")
  }

  test("MMR: lambda=1 reduces to pure relevance order") {
    import graft.operators.Similarity.{MmrCand, mmrSelect}
    val cands = Seq(
      MmrCand(0L, 10L, 0.9, Seq(1.0, 0.0), 1.0),
      MmrCand(0L, 11L, 0.7, Seq(0.0, 1.0), 1.0),
      MmrCand(0L, 12L, 0.8, Seq(1.0, 1.0), math.sqrt(2)),
      MmrCand(0L, 13L, 0.6, Seq(-1.0, 0.0), 1.0))
    val picks = mmrSelect(cands, lambda = 1.0, k = 3).map(_._1.vecId)
    assert(picks == Seq(10L, 12L, 11L), s"got $picks")
  }

  test("MMR: a near-duplicate of the top hit yields to a diverse lower-rel candidate") {
    import graft.operators.Similarity.{MmrCand, mmrSelect}
    // A and A' are the two most relevant but nearly identical;
    // B is clearly different. Pure top-2 = {A, A'}; MMR at
    // lambda=0.5 pays cos(A,A')~1 and takes B instead.
    val a  = MmrCand(0L, 10L, 0.95, Seq(1.0, 0.01), driverNormOf(Seq(1.0, 0.01)))
    val a2 = MmrCand(0L, 11L, 0.94, Seq(1.0, 0.00), 1.0)
    val b  = MmrCand(0L, 12L, 0.80, Seq(0.0, 1.00), 1.0)
    val picks = mmrSelect(Seq(a, a2, b), lambda = 0.5, k = 2).map(_._1.vecId)
    assert(picks == Seq(10L, 12L), s"got $picks")
    // and the marginal score of the second pick reflects the diversity term
    val scores = mmrSelect(Seq(a, a2, b), lambda = 0.5, k = 3)
    assert(scores.map(_._3) == Seq(1, 2, 3))
  }

  test("MMR: exact ties break on the smallest vec_id") {
    import graft.operators.Similarity.{MmrCand, mmrSelect}
    val t1 = MmrCand(0L, 21L, 0.5, Seq(1.0, 0.0), 1.0)
    val t2 = MmrCand(0L, 20L, 0.5, Seq(1.0, 0.0), 1.0)
    val picks = mmrSelect(Seq(t1, t2), lambda = 1.0, k = 2).map(_._1.vecId)
    assert(picks == Seq(20L, 21L))
  }

  test("ann_mmr: k rows per query, rank-1 is the relevance argmax, picks come from the shortlist") {
    val out = graft.operators.Similarity.annMmr(spark, sf).collect()
    val brute = graft.operators.Similarity.annBruteforce(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 10, s"query $q: expected k=10 rows")
      assert(rows.map(_.getAs[Int]("mmr_rank")).sorted.toSeq == (1 to 10))
      // rank 1 has no diversity term: it is the pure relevance argmax,
      // which bruteforce rank 1 also is
      val top = rows.minBy(_.getAs[Int]("mmr_rank"))
      val bTop = brute(q).minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("neighbor_id") == bTop.getAs[Long]("neighbor_id"),
        s"query $q: MMR rank-1 must equal the cosine argmax")
    }
    CacheHygiene.sweep(spark)
  }

  private def driverNormOf(v: Seq[Double]): Double =
    graft.operators.Similarity.driverNorm(v)

  test("ann_filtered: pre-filtering fills k where post-filtering starves; IVF full-probe parity") {
    import graft.operators.Similarity
    val pre = Similarity.annFiltered(spark, sf).collect()
    val byQ = pre.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    // every neighbor passes the predicate and every query fills k
    assert(pre.forall(r => Seq(2, 5, 7).contains(r.getAs[Int]("label"))))
    assert(byQ.values.forall(_.length == 5), "pre-filtering must fill k per query")
    // post-filtering the UNFILTERED top-k: some query comes up short —
    // the starvation native filtered search exists to avoid
    val post = Similarity.annBruteforce(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val postCounts = post.map { case (q, rows) =>
      q -> rows.count(r => Seq(2, 5, 7).contains(e(r.getAs[Long]("neighbor_id"))))
    }
    assert(postCounts.values.exists(_ < 5),
      s"corpus should exhibit post-filter starvation, got $postCounts")
    CacheHygiene.sweep(spark)
  }
}
