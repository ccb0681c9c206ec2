package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.AsOf
import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.Ev

/** Property-based equivalence of graft's custom operators against
  * in-memory brute-force references, over randomized inputs. */
class PropertySpec extends SparkSpec {

  /** Drive a ScalaCheck Gen manually: `samples` seeded samples per
    * property (deterministic across runs — no scalatestplus bridge
    * needed). */
  private def forAll[A](gen: Gen[A], samples: Int = 10)(body: A => Unit): Unit =
    (0 until samples).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val pairGen: Gen[(List[(Long, Long)], List[(Long, Long)])] = for {
    nl <- Gen.choose(0, 20)
    nr <- Gen.choose(0, 20)
    l <- Gen.listOfN(nl, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
    r <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
  } yield (l, r)

  test("property: AsOf.join equals brute-force latest-at-or-before") {
    val s = spark
    import s.implicits._
    forAll(pairGen) { case (l, r) =>
      whenever(l.nonEmpty) {
        // make left rows unique so rows are identifiable
        val lu = l.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        val ldf = lu.toDF("k", "t", "lid")
        val rdf = r.toDF("rk", "rt")
        val got = AsOf.join(ldf, rdf, "k", "t", "rk", "rt")
          .select("lid", "rt").collect()
          .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1))))
          .toMap
        val expect = lu.map { case (k, t, lid) =>
          val cands = r.filter { case (rk, rt) => rk == k && rt <= t }
          lid -> (if (cands.isEmpty) None else Some(cands.map(_._2).max))
        }.toMap
        assert(got == expect)

        // with a staleness tolerance: the SAME latest-at-or-before
        // candidate, nulled when older than t - tol (it must still
        // advance the cursor — later left rows can match it)
        val tol = 10L
        val gotTol = AsOf.join(ldf, rdf, "k", "t", "rk", "rt", Some(tol))
          .select("lid", "rt").collect()
          .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getLong(1))))
          .toMap
        val expectTol = lu.map { case (k, t, lid) =>
          lid -> expect(lid).filter(rt => t - rt <= tol)
        }.toMap
        assert(gotTol == expectTol)
      }
    }
  }

  test("property: BoundedTopK buffer equals sort-take (with merge halves)") {
    // the buffer behind the native BoundedTopK aggregate: score desc,
    // then id asc, and merging two halves gives the same top k. Scores
    // draw ±0.0, which are equal and so tie on id; lists of up to 100
    // and of up to 12 pairs, where those ties reach the cut.
    val score = Gen.frequency(
      3 -> Gen.choose(-100.0, 100.0), 2 -> Gen.const(0.0), 2 -> Gen.const(-0.0))
    def ranksBefore(a: (Long, Double), b: (Long, Double)): Boolean = {
      val c = if (a._2 == b._2) 0 else java.lang.Double.compare(a._2, b._2)
      c > 0 || (c == 0 && a._1 < b._1)
    }
    def bits(xs: Seq[(Long, Double)]) =
      xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }
    def topOf(pairs: Seq[(Long, Double)]) = {
      val buf = new graft.functions.TopKBuffer(3)
      pairs.foreach { case (id, s) => buf.insert(id, s) }
      buf
    }
    for (maxLen <- Seq(100, 12))
      forAll(Gen.choose(0, maxLen).flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(0L, 30L), score)))) {
        (pairs: List[(Long, Double)]) =>
          val expect = bits(pairs.sortWith(ranksBefore).take(3))
          val buf = topOf(pairs)
          assert(bits(buf.ids.take(buf.n).zip(buf.scores.take(buf.n))) == expect)
          val (h1, h2) = pairs.splitAt(pairs.length / 2)
          val b1 = topOf(h1)
          b1.mergeIn(topOf(h2))
          assert(bits(b1.ids.take(b1.n).zip(b1.scores.take(b1.n))) == expect)
      }
  }

  test("BoundedTopK aggregate equals row_number window (ties, NaN, partitions)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // Similarity.topKPer (BoundedTopK + posexplode) against the
    // row_number window it must equal, over 1 and 7 partitions. 500 groups of ~40 rows tie
    // on a 1/4 grid with NaN and null scores; 150 groups of 1-7 rows
    // (most smaller than k) score from {0.0, -0.0, null, NaN, -1.0}, so
    // ±0.0 ties and nulls reach the cut. The id column is an int.
    val rnd = new scala.util.Random(7)
    def big(): java.lang.Double = rnd.nextInt(400) match {
      case 0 => Double.NaN
      case 1 | 2 => null
      case _ => rnd.nextInt(16) / 4.0
    }
    val small = Array[java.lang.Double](0.0, -0.0, null, Double.NaN, -1.0)
    val rows = (0 until 20000).map(i => Row(rnd.nextInt(500).toLong, i, big())) ++
      (0 until 150).flatMap { g =>
        (0 to g % 7).map(j => Row(500L + g, 20000 + 8 * g + j, small(rnd.nextInt(5))))
      }
    val schema = StructType(Seq(StructField("g", LongType, nullable = false),
      StructField("id", IntegerType, nullable = false),
      StructField("sc", DoubleType, nullable = true)))
    def byRank(rs: Array[Row]) = rs.map { r =>
      (r.getAs[Long]("g"), r.getAs[Int]("rank")) -> (r.getAs[Int]("id"),
        Option(r.getAs[java.lang.Double]("sc")).map(d => java.lang.Double.doubleToLongBits(d)))
    }.toMap
    val k = 5
    Seq(1, 7).foreach { parts =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      val top = graft.operators.Similarity.topKPer(df, "g", "sc", "id", k)
      assert(top.schema("id").dataType == IntegerType && top.schema("rank").dataType == IntegerType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("sc").desc, col("id"))
      val expect = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      assert(byRank(top.collect()) == byRank(expect.collect()), s"over $parts partitions")
    }
  }

  /** The k-means update before [[graft.functions.VectorMeanExact]]:
    * `dim` decimal(28,12) sums plus a count, one per component. Kept
    * as the reference its means must equal bit for bit. */
  private def decimalMeanUpdate(assigned: org.apache.spark.sql.DataFrame, dim: Int) =
    assigned
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .groupBy(col("cluster"))
      .agg(array((0 until dim).map { i =>
        (sum(element_at(col("v"), i + 1).cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as(s"m$i")
      }: _*).as("cv"))
      .select(col("cluster").as("c_id"), col("cv"))

  /** (cluster, v) rows over `parts` partitions, v an array<double>
    * that may hold nulls. */
  private def clusterVectors(rows: Seq[(Int, Seq[java.lang.Double])], parts: Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = true), nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (c, v) => Row(c, v) }, parts), schema)
  }

  /** c_id → component means as raw double bits (None = null). */
  private def meanBits(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Option[Long]]] =
    df.collect().map { r =>
      r.getInt(0) -> r.getSeq[java.lang.Double](1).map(d =>
        Option(d).map(x => java.lang.Double.doubleToRawLongBits(x)))
    }.toMap

  private def assertSameMeans(rows: Seq[(Int, Seq[java.lang.Double])], dim: Int): Unit =
    Seq(1, 7).foreach { parts =>
      val df = clusterVectors(rows, parts)
      val got = meanBits(graft.operators.Similarity.kmeansUpdate(df, dim))
      val expect = meanBits(decimalMeanUpdate(df, dim))
      assert(got == expect, s"parts=$parts dim=$dim rows=$rows")
    }

  test("property: VectorMeanExact equals the decimal(28,12) mean bit for bit") {
    // HALF_UP ties: the shortest decimal string has 13 decimals ending
    // in 5, so the cast rounds the string, not the binary value, up
    val tie = for {
      ip <- Gen.choose(-999, 999)
      frac <- Gen.listOfN(12, Gen.numChar)
    } yield s"$ip.${frac.mkString}5".toDouble
    val elem: Gen[java.lang.Double] = Gen.frequency(
      1 -> Gen.const(null),
      9 -> Gen.frequency(
        1 -> Gen.const(-0.0),
        4 -> Gen.choose(-10.0, 10.0),
        2 -> Gen.choose(-1e15, 1e15),
        1 -> Gen.oneOf(9.999999999999998e15, -9.999999999999998e15, 1e15, 4.9e-324),
        3 -> tie
      ).map(Double.box))
    val gen = for {
      dim <- Gen.choose(1, 8)
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 3), Gen.listOfN(dim, elem)))
      // malformed rows the update must drop: a null vector, a too-wide one
      bad <- Gen.listOfN(2, Gen.zip(Gen.choose(0, 3),
        Gen.oneOf(Gen.const(null), Gen.listOfN(dim + 1, elem))))
    } yield (dim, rows ++ bad)
    forAll(gen, samples = 12) { case (dim, rows) =>
      // cluster 0's first component is null in every row of its group
      val withAllNull = rows.map {
        case (0, v) if v != null => (0, null +: v.tail)
        case r => r
      }
      assertSameMeans(withAllNull, dim)
    }
  }

  test("VectorMeanExact on NaN, ±Inf and |x| >= 1e16 matches the decimal mean: null, or the same error under ANSI") {
    val special: Seq[(Int, Seq[java.lang.Double])] = Seq(
      (0, Seq(Double.NaN, 1.5, Double.PositiveInfinity)),
      (0, Seq(2.0, Double.NegativeInfinity, Double.NaN)),
      (1, Seq(Double.NaN, Double.NaN, 0.25)))
    // NaN and ±Inf cast to null under either mode: skipped, row counted
    assertSameMeans(special, 3)
    val huge = special :+ ((1, Seq[java.lang.Double](1e16, -3.0, -1.7e300)))
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.getOption(key)
    def conditionOf(body: => Any): String = {
      val e = intercept[Exception](body)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: org.apache.spark.SparkThrowable if t.getCondition != null =>
          t.getCondition }
        .getOrElse(fail(s"no error condition in $e"))
    }
    try {
      spark.conf.set(key, "true")
      val df = clusterVectors(huge, 3)
      val expect = conditionOf(decimalMeanUpdate(df, 3).collect())
      assert(expect.startsWith("NUMERIC_VALUE_OUT_OF_RANGE"), expect)
      assert(conditionOf(graft.operators.Similarity.kmeansUpdate(df, 3).collect()) == expect)
      // without ANSI the out-of-range element casts to null instead
      spark.conf.set(key, "false")
      assertSameMeans(huge, 3)
      assert(meanBits(graft.operators.Similarity.kmeansUpdate(clusterVectors(huge, 1), 3))(1)(0)
        .isEmpty, "1e16 is skipped, the group's NaN elements too: component 0 is null")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs `body` with `spark.sql.ansi.enabled` set to `on`, then
    * restores the session's setting. */
  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The error condition `body` raises, from the first SparkThrowable
    * in its cause chain. */
  private def errorCondition(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: org.apache.spark.SparkThrowable if t.getCondition != null =>
        t.getCondition }
      .getOrElse(fail(s"no error condition in $e"))
  }

  /** (id, g, x) rows over `parts` partitions; x may be null. */
  private def groupedDoubles(rows: Seq[(Int, java.lang.Double)], parts: Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", IntegerType, nullable = false),
      StructField("x", DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case ((g, x), i) => Row(i.toLong, g, x) }, parts), schema)
  }

  /** Doubles shaped like the lineitem money columns (quantity, price,
    * discounted price), random bit patterns, HALF_UP ties planted at
    * the seventh decimal (`…ddddd5`), ±0.0, subnormals, NaN, ±Inf and
    * magnitudes at and past decimal(18,6)'s 1e12 limit. */
  private val castCase: Gen[java.lang.Double] = {
    val lineitem = for {
      q <- Gen.choose(1, 50)
      cents <- Gen.choose(90000L, 210000L)
      disc <- Gen.choose(0, 10)
      kind <- Gen.choose(0, 2)
    } yield {
      val ext = q * cents / 100.0
      if (kind == 0) q.toDouble else if (kind == 1) ext else ext * (1.0 - disc / 100.0)
    }
    val bits = Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble)
    val tie = for {
      sign <- Gen.oneOf("", "-")
      ip <- Gen.choose(0, 999999)
      frac <- Gen.listOfN(6, Gen.numChar)
    } yield s"$sign$ip.${frac.mkString}5".toDouble
    val special = Gen.oneOf(0.0, -0.0, 4.9e-324, -4.9e-324, 2.2250738585072014e-308, 1e-7, 5e-7,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 9007199254.740991,
      9007199254.740993, 999999999999.9999, 1e12, -1e12, 1.5e15, -3.7e200, Double.MaxValue)
    Gen.frequency(
      1 -> Gen.const(null),
      5 -> Gen.frequency(4 -> lineitem, 2 -> bits, 3 -> tie, 1 -> special).map(Double.box))
  }

  private def unscaledCast(c: org.apache.spark.sql.Column, ansi: Boolean) = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.UnscaledDecimalCast(
      ColumnBridge.expression(c), 18, 6, nullOnOverflow = !ansi))
  }

  test("property: the exact decimal(18,6) cast equals Spark's cast bit for bit, ANSI on and off") {
    forAll(Gen.listOfN(1500, castCase), samples = 6) { xs =>
      val df = groupedDoubles(xs.map((0, _)), 3)
      def pairs(ansi: Boolean, d: org.apache.spark.sql.DataFrame) = withAnsi(ansi) {
        d.select(col("x"), unscaledCast(col("x"), ansi).as("fast"),
          col("x").cast("decimal(18,6)").as("spark")).collect().map { r =>
          val fast = if (r.isNullAt(1)) None else Some(r.getLong(1))
          val spark = Option(r.getDecimal(2)).map(_.unscaledValue.longValueExact)
          (r.get(0), fast, spark)
        }
      }
      val off = pairs(ansi = false, df)
      off.foreach { case (x, fast, spark) => assert(fast == spark, s"x=$x, ANSI off") }
      // the interpreted path agrees too
      off.foreach { case (x, _, spark) => if (x != null) {
        val u = graft.functions.ExactDecimal.unscaledLong(x.asInstanceOf[Double], 18, 6, true)
        assert((if (u == graft.functions.ExactDecimal.Undecided) None else Some(u)) == spark, s"x=$x")
      } }
      // finite values that cast to null without ANSI overflow decimal(18,6)
      val overflow = off.collect { case (x: Double, _, None) if !x.isNaN && !x.isInfinite => x }
      val fits = col("x").isNull || isnan(col("x")) || abs(col("x")) < 1e11 ||
        abs(col("x")) === Double.PositiveInfinity
      pairs(ansi = true, df.filter(fits)).foreach { case (x, fast, spark) =>
        assert(fast == spark, s"x=$x, ANSI on")
      }
      withAnsi(true) {
        overflow.take(3).foreach { x =>
          val one = groupedDoubles(Seq((0, Double.box(x))), 1)
          val expect = errorCondition(one.select(col("x").cast("decimal(18,6)")).collect())
          assert(expect.startsWith("NUMERIC_VALUE_OUT_OF_RANGE"), expect)
          assert(errorCondition(one.select(unscaledCast(col("x"), ansi = true)).collect()) == expect)
        }
      }
    }
  }

  test("property: DecimalSumExact equals sum(cast(x as decimal(18,6))) over 1 and 7 partitions") {
    import graft.functions.DecimalSumExact
    val gen = for {
      n <- Gen.choose(0, 80)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 3), castCase))
      big <- Gen.choose(9.0e11, 9.99999999e11)
    } yield {
      // group 4 is all null; groups 5 and 6 sum 30 summands near 1e18,
      // past the 64-bit range, one up and one down
      val planted = Seq.fill(3)((4, null: java.lang.Double)) ++
        Seq.fill(30)((5, Double.box(big))) ++ Seq.fill(30)((6, Double.box(-big - 0.5)))
      rows ++ planted
    }
    def sums(df: org.apache.spark.sql.DataFrame, exact: Boolean) = {
      val s = if (exact) DecimalSumExact.sum(col("x")) else sum(col("x").cast("decimal(18,6)"))
      val k = if (exact) DecimalSumExact.sum(col("g")) else sum(col("g").cast("decimal(18,6)"))
      val out = df.groupBy(col("g")).agg(s.as("s"), k.as("k"))
      (out.schema.map(_.dataType), out.collect().map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap)
    }
    def assertSame(rows: Seq[(Int, java.lang.Double)]): Unit = Seq(1, 7).foreach { parts =>
      val df = groupedDoubles(rows, parts)
      assert(sums(df, exact = true) == sums(df, exact = false), s"parts=$parts rows=$rows")
    }
    forAll(gen, samples = 8) { rows =>
      withAnsi(false)(assertSame(rows))
      withAnsi(true)(assertSame(rows.filter { case (_, x) =>
        x == null || x.isNaN || x.isInfinite || math.abs(x) < 1e11 }))
    }
    // no rows: a global sum is null, a grouped one has no groups
    val empty = groupedDoubles(Nil, 2)
    Seq(false, true).foreach { ansi => withAnsi(ansi) {
      assert(empty.agg(DecimalSumExact.sum(col("x"))).collect().toSeq ==
        empty.agg(sum(col("x").cast("decimal(18,6)"))).collect().toSeq)
      assert(empty.groupBy(col("g")).agg(DecimalSumExact.sum(col("x"))).count() == 0)
    } }
    // an out-of-range summand under ANSI: the cast's error from both
    withAnsi(true) {
      val df = groupedDoubles(Seq((0, 1.0), (0, 2e12)), 2)
      val expect = errorCondition(df.agg(sum(col("x").cast("decimal(18,6)"))).collect())
      assert(errorCondition(df.agg(DecimalSumExact.sum(col("x"))).collect()) == expect)
    }
    // a total past 28 digits (> 10^10 maximal summands): null, or an error under ANSI
    val limit = java.math.BigInteger.TEN.pow(28)
    def words(v: java.math.BigInteger) = (v.shiftRight(64).longValue, v.longValue)
    val (h, l) = words(limit.subtract(java.math.BigInteger.ONE))
    assert(graft.functions.ExactDecimal.toDecimal(h, l, 28, 6, nullOnOverflow = true)
      .toJavaBigDecimal.unscaledValue == limit.subtract(java.math.BigInteger.ONE))
    val (oh, ol) = words(limit.negate)
    assert(graft.functions.ExactDecimal.toDecimal(oh, ol, 28, 6, nullOnOverflow = true) == null)
    intercept[ArithmeticException](
      graft.functions.ExactDecimal.toDecimal(oh, ol, 28, 6, nullOnOverflow = false))
  }

  test("property: stateful sessionizer equals brute-force gap split") {
    val s = spark
    import s.implicits._
    val gap = 10L
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 200L)))) {
      (evs: List[(Long, Long)]) =>
        whenever(evs.nonEmpty) {
          val distinct = evs.distinct
          val ds = distinct.map { case (u, t) => Ev(u, t) }.toDS()
          val got = StreamingJobs.sessionize(ds, gapUs = gap).collect()
            .map(o => (o.user_id, o.session_id, o.n_events, o.duration_us)).toSet
          val expect = distinct.groupBy(_._1).flatMap { case (u, rows) =>
            val ts = rows.map(_._2).distinct.sorted
            // split where consecutive gap exceeds `gap`
            val sessions = ts.foldLeft(List.empty[List[Long]]) {
              case (Nil, t) => List(List(t))
              case (cur :: done, t) =>
                if (t - cur.head > gap) List(t) :: cur :: done
                else (t :: cur) :: done
            }.reverse.map(_.reverse)
            sessions.zipWithIndex.map { case (sess, i) =>
              (u, (i + 1).toLong, sess.length.toLong, sess.last - sess.head)
            }
          }.toSet
          // brute force counts distinct timestamps; dataset may carry
          // duplicate (u,t) rows — drop them on both sides (done above)
          assert(got == expect)
        }
    }
  }

  // ------------------------------------------------ stream folds under random splits
  // Each stateful stream head's step, replayed over a random split of
  // one key's events as the keyed-fold runner feeds micro-batches,
  // against one call over the key's whole history (the batch form).

  /** `xs` cut in order into contiguous non-empty chunks at boundaries
    * `cuttable` allows: none, all of them, or each with a random
    * probability. */
  private def randomSplit[A](xs: Seq[A], rng: scala.util.Random,
      cuttable: (A, A) => Boolean): Seq[Seq[A]] = {
    val p = rng.nextInt(3) match { case 0 => 0.0; case 1 => 1.0; case _ => rng.nextDouble() }
    val cuts = (1 until xs.size).filter(i => rng.nextDouble() < p && cuttable(xs(i - 1), xs(i)))
    (0 +: cuts :+ xs.size).sliding(2).map { case Seq(a, b) => xs.slice(a, b) }.toSeq
  }

  /** 1-3 keys' event lists, each put in `order` and randomly split:
    * `body(key, events, chunks)`. */
  private def forAllSplits[E](event: Gen[E], order: Seq[E] => Seq[E] = (xs: Seq[E]) => xs,
      cuttable: (E, E) => Boolean = (_: E, _: E) => true)(
      body: (Int, Seq[E], Seq[Seq[E]]) => Unit): Unit = {
    val keyed = Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.choose(1, 40).flatMap(Gen.listOfN(_, event))))
    forAll(Gen.zip(keyed, Gen.long), samples = 40) { case (keys, seed) =>
      val rng = new scala.util.Random(seed)
      keys.zipWithIndex.foreach { case (evs, key) =>
        val all = order(evs)
        val chunks = randomSplit(all, rng, cuttable)
        assert(chunks.flatten == all && chunks.forall(_.nonEmpty))
        body(key, all, chunks)
      }
    }
  }

  /** Replays `chunks` through `step` as the runner does (`None` keeps
    * the held state): the final state and each call's rows. One chunk
    * is the whole-history call. */
  private def replay[K, E, S, O](step: (K, Iterator[E], Option[S]) => (Option[S], Iterator[O]),
      key: K, chunks: Seq[Seq[E]]): (Option[S], Seq[List[O]]) =
    chunks.foldLeft((Option.empty[S], Vector.empty[List[O]])) { case ((held, outs), c) =>
      val (next, out) = step(key, c.iterator, held)
      (next.orElse(held), outs :+ out.toList)
    }

  private val tokGen = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
  private val usGen = Gen.choose(0L, 12L) // narrow: equal-us ties are common
  private def idsUnique[E](evs: Seq[E])(withId: (E, Long) => E): Seq[E] =
    evs.zipWithIndex.map { case (e, i) => withId(e, i.toLong) }

  test("property: cms fold: final cells equal for any split of shuffled events") {
    import StreamingJobs.CmsTok
    val step = StreamingJobs.cmsStep(3, 8, Seq("a", "c", "zz"))
    forAllSplits(tokGen.map(CmsTok(0, _))) { (key, all, chunks) =>
      // the chunks see the generated (random) order, the whole call a sorted one
      val (st, outs) = replay(step, key, chunks)
      val (wSt, Seq(wOut)) = replay(step, key, Seq(all.sortBy(_.tok)))
      assert(st.map(x => (x.cells, x.n)) == wSt.map(x => (x.cells, x.n)))
      assert(outs.last == wOut)
    }
  }

  test("property: cusum fold: final row bit-equal on time-ordered splits") {
    import StreamingJobs.CusumEv
    val step = StreamingJobs.cusumStep(250000L) _
    val ev = Gen.zip(usGen, Gen.choose(-3000000L, 3000000L)).map { case (us, v) => CusumEv(0L, 0L, us, v) }
    forAllSplits(ev, (evs: Seq[CusumEv]) =>
        idsUnique(evs)((e, i) => e.copy(event_id = i)).sortBy(e => (e.us, e.event_id))) {
      (key, all, chunks) =>
        val (st, outs) = replay(step, key.toLong, chunks)
        val (wSt, Seq(wOut)) = replay(step, key.toLong, Seq(all))
        assert(st == wSt && outs.forall(_.size == 1) && outs.last == wOut)
    }
  }

  test("property: ewma fold: final (n, ewma) bit-equal on time-ordered splits") {
    import StreamingJobs.EwmaEv
    val ev = Gen.zip(usGen, Gen.choose(-1000.0, 1000.0)).map { case (us, v) => EwmaEv(0L, 0L, us, v) }
    forAllSplits(ev, (evs: Seq[EwmaEv]) =>
        idsUnique(evs)((e, i) => e.copy(event_id = i)).sortBy(e => (e.us, e.event_id))) {
      (key, all, chunks) =>
        val (_, outs) = replay(StreamingJobs.ewmaStep _, key.toLong, chunks)
        val (_, Seq(wOut)) = replay(StreamingJobs.ewmaStep _, key.toLong, Seq(all))
        def bits(o: StreamingJobs.EwmaOut) = (o.n, java.lang.Double.doubleToRawLongBits(o.ewma))
        assert(bits(outs.last.head) == bits(wOut.head))
    }
  }

  test("property: mg fold: final snapshot equal on seq-ordered splits") {
    import StreamingJobs.MgTok
    for (k <- Seq(1, 2, 4)) {
      val step = StreamingJobs.mgStep(k) _
      forAllSplits(tokGen.map(MgTok(0, 0L, _)),
          (ts: Seq[MgTok]) => idsUnique(ts)((t, i) => t.copy(seq = i))) { (key, all, chunks) =>
        val (st, outs) = replay(step, key, chunks)
        val (wSt, Seq(wOut)) = replay(step, key, Seq(all))
        assert(st == wSt && outs.last == wOut)
      }
    }
  }

  test("property: cap fold: final count and concatenated admissions equal on seq-ordered splits") {
    import StreamingJobs.CapDoc
    for (cap <- Seq(0, 1, 3, 100)) {
      val step = StreamingJobs.capStep(cap) _
      forAllSplits(Gen.choose(0L, 1000L).map(CapDoc("src", 0L, _)),
          (ds: Seq[CapDoc]) => idsUnique(ds)((d, i) => d.copy(seq = i))) { (key, all, chunks) =>
        val (st, outs) = replay(step, s"s$key", chunks)
        val (wSt, Seq(wOut)) = replay(step, s"s$key", Seq(all))
        assert(st == wSt && outs.flatten == wOut)
      }
    }
  }

  test("property: asof fold: concatenated emissions equal on time-ordered splits keeping equal-us runs") {
    import StreamingJobs.AsOfEv
    val ev = Gen.zip(usGen, Gen.oneOf("view", "purchase", "click"))
      .map { case (us, t) => AsOfEv(0L, 0L, t, us) }
    forAllSplits(ev, (evs: Seq[AsOfEv]) => idsUnique(evs)((e, i) => e.copy(event_id = i)).sortBy(_.us),
        (a: AsOfEv, b: AsOfEv) => a.us != b.us) { (key, all, chunks) =>
      val (st, outs) = replay(StreamingJobs.asofStep _, key.toLong, chunks)
      val (wSt, Seq(wOut)) = replay(StreamingJobs.asofStep _, key.toLong, Seq(all))
      assert(st == wSt && outs.flatten == wOut)
    }
  }

  test("property: cdc fold: final profile equal for any split, at most one row per chunk") {
    import StreamingJobs.CdcEv
    val ev = Gen.zip(usGen, Gen.oneOf("view", "purchase"), Gen.choose(0.0, 9.0))
      .map { case (us, t, v) => CdcEv(0L, 0L, t, v, us) }
    forAllSplits(ev, (evs: Seq[CdcEv]) => idsUnique(evs)((e, i) => e.copy(event_id = i))) {
      (key, all, chunks) =>
        val (st, outs) = replay(StreamingJobs.cdcStep _, key.toLong, chunks)
        val (wSt, Seq(wOut)) = replay(StreamingJobs.cdcStep _, key.toLong, Seq(all))
        assert(st == wSt && outs.forall(_.size <= 1))
        assert(wOut.map(_.new_event_id) == wSt.map(_.event_id).toList)
    }
  }

  test("property: admitDocs and admitFrames: emitted set equal on id-ordered splits") {
    forAllSplits(Gen.choose(0L, 30L), (ds: Seq[Long]) => ds.sorted) { (key, all, chunks) =>
      val (st, outs) = replay(StreamingJobs.admitDocs _, key, chunks)
      val (wSt, Seq(wOut)) = replay(StreamingJobs.admitDocs _, key, Seq(all))
      assert(st == wSt && outs.flatten.toSet == wOut.toSet)
    }
    import StreamingJobs.FrameBandHit
    // near copies of a few base hashes, so some pairs fall within maxHamming
    val hit = for {
      doc <- Gen.choose(0L, 6L)
      frame <- Gen.choose(0, 3)
      base <- Gen.oneOf(0x0123456789abcdefL, 0x7edcba9876543210L)
      flips <- Gen.listOf(Gen.choose(0, 63)).map(_.take(5))
    } yield FrameBandHit(doc, frame, flips.foldLeft(base)((h, b) => h ^ (1L << b)), 0, 0L)
    for (bucketCap <- Seq(2L, 4096L)) {
      val step = StreamingJobs.admitFrames(3, bucketCap) _
      forAllSplits(hit, (hs: Seq[FrameBandHit]) => hs.sortBy(h => (h.doc_id, h.frame_no))) {
        (key, all, chunks) =>
          val (st, outs) = replay(step, key, chunks)
          val (wSt, Seq(wOut)) = replay(step, key, Seq(all))
          assert(st == wSt && outs.flatten.toSet == wOut.toSet)
      }
    }
  }

  // ------------------------------------------------ signature kernels
  private def md5LongRef(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  private val MinhashP = 2147483647L
  private val MinhashA = Seq(1299709L, 15485863L, 32452843L, 49979687L,
    67867967L, 86028121L, 104395301L, 122949823L)
  private val MinhashB = Seq(179424673L, 217645177L, 256203161L, 295075147L,
    334214459L, 373587883L, 413158511L, 452930459L)

  private val docsGen: Gen[List[(Long, String, String)]] = for {
    n <- Gen.choose(1, 12)
    docs <- Gen.listOfN(n, for {
      lang <- Gen.oneOf("en", "de")
      toks <- Gen.listOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "x9", "k"))
    } yield (lang, toks.mkString(" ")))
  } yield docs.zipWithIndex.map { case ((lang, text), i) => (i.toLong, lang, text) }

  test("property: per-row minhash signatures equal the scalar reference") {
    val s = spark
    import s.implicits._
    forAll(docsGen) { docs =>
      val df = docs.toDF("doc_id", "lang", "text")
      val got = graft.operators.Dedup.minhashSignatures(df).collect()
        .map(r => r.getLong(0) ->
          (1 to 8).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
        .toMap
      val expect = docs.map { case (id, _, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val shingles = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
        val hbs = shingles.map(sh => md5LongRef(sh) % MinhashP)
        id -> (0 until 8).map { k =>
          if (hbs.isEmpty) None
          else Some(hbs.map(h => (MinhashA(k) * h + MinhashB(k)) % MinhashP).min)
        }
      }.toMap
      assert(got == expect)
    }
  }

  test("property: per-row simhash signatures equal the scalar reference") {
    val s = spark
    import s.implicits._
    forAll(docsGen) { docs =>
      val df = docs.toDF("doc_id", "lang", "text")
      val got = graft.operators.Dedup.simhashSignatures(df).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val expect = docs.flatMap { case (id, _, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).distinct
        if (toks.isEmpty) None
        else {
          val ths = toks.map(md5LongRef)
          val sh = (0 until 16).map { b =>
            val vote = ths.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
            if (vote > 0) 1L << b else 0L
          }.sum
          Some(id -> sh)
        }
      }.toMap
      assert(got == expect)
    }
  }

  /** Random signatures with planted near-dups: each base also appears
    * with <= maxHamming bits flipped. */
  private def plantedSigs(bits: Int, maxHamming: Int, base: List[Long],
      flips: List[Int]): List[Long] = {
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bases = base.map(_ & mask)
    val clones = bases.zip(flips).map { case (b, f) =>
      (0 until f).foldLeft(b)((acc, i) => acc ^ (1L << ((b.toInt.abs + i * 7) % bits)))
    }
    bases ++ clones
  }

  /** bandedHammingPairs must equal the all-pairs popcount reference and
    * emit each pair exactly once despite multi-key collisions. */
  private def checkBandedVsAllPairs(bits: Int, bands: Int, maxHamming: Int,
      sigs: List[Long]): Unit = {
    val s = spark
    import s.implicits._
    val df = sigs.zipWithIndex
      .map { case (sh, i) => (i.toLong, "x", sh) }.toDF("doc_id", "block", "sh")
    val got = graft.operators.Dedup
      .bandedHammingPairs(df, bits, bands, maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val expect = (for {
      (a, i) <- sigs.zipWithIndex
      (b, j) <- sigs.zipWithIndex
      if i < j
      h = java.lang.Long.bitCount(a ^ b)
      if h <= maxHamming
    } yield (i.toLong, j.toLong, h)).toSet
    assert(got.length == got.toSet.size,
      s"bits=$bits bands=$bands maxHamming=$maxHamming: duplicate pairs emitted")
    assert(got.toSet == expect,
      s"bits=$bits bands=$bands maxHamming=$maxHamming: " +
        s"missing=${(expect -- got.toSet).take(3)} extra=${(got.toSet -- expect).take(3)}")
  }

  test("property: bandedHammingPairs has total recall vs all-pairs for any (bits, bands, maxHamming)") {
    // random configs + random signatures with planted near-dups: the
    // generalized pigeonhole (hamming <= h over `bands` bands => some
    // (bands - h)-subset of bands matches exactly) must hold for ANY
    // agree >= 1 and arbitrary band splits, including uneven widths
    // (bits not divisible by bands)
    val cfgGen: Gen[(Int, Int, Int, List[Long])] = for {
      bits <- Gen.choose(8, 48)
      bands <- Gen.choose(2, 6)
      agree <- Gen.choose(1, bands)
      n <- Gen.choose(10, 35)
      base <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
      flips <- Gen.listOfN(n, Gen.choose(0, bands - agree))
    } yield (bits, bands, bands - agree, plantedSigs(bits, bands - agree, base, flips))
    forAll(cfgGen, samples = 20) { case (bits, bands, maxHamming, sigs) =>
      checkBandedVsAllPairs(bits, bands, maxHamming, sigs)
    }
    // the two fixed 64-bit geometries in production: the video frame
    // postings (5 bands, agree 2) and the image phash join (4 bands,
    // agree 1) — full-width signatures, top band ending at bit 63
    val rnd = new scala.util.Random(7L)
    for ((bands, maxHamming) <- Seq((5, 3), (4, 3))) {
      val base = List.fill(30)(rnd.nextLong())
      val flips = List.fill(30)(rnd.nextInt(maxHamming + 1))
      checkBandedVsAllPairs(64, bands, maxHamming, plantedSigs(64, maxHamming, base, flips))
    }
  }

  test("property: bandedHammingPairsSubset equals all-pairs for any config with agree >= 2") {
    // the subset-keyed regime on its own: every config here needs
    // multi-band keys (agree >= 2), so the join must emit each pair
    // exactly once although a pair can share several subset keys
    val cfgGen: Gen[(Int, Int, Int, List[Long])] = for {
      bits <- Gen.choose(12, 48)
      bands <- Gen.choose(3, 6)
      maxHamming <- Gen.choose(0, bands - 2) // agree >= 2
      n <- Gen.choose(10, 35)
      base <- Gen.listOfN(n, Gen.choose(Long.MinValue, Long.MaxValue))
      flips <- Gen.listOfN(n, Gen.choose(0, maxHamming))
    } yield (bits, bands, maxHamming, plantedSigs(bits, maxHamming, base, flips))
    forAll(cfgGen) { case (bits, bands, maxHamming, sigs) =>
      checkBandedVsAllPairs(bits, bands, maxHamming, sigs)
    }
  }

  private def bandingSigs = {
    val s = spark
    import s.implicits._
    Seq((0L, "x", 123456789L), (1L, "x", 123456789L), (2L, "x", 987654321L))
      .toDF("doc_id", "block", "sh")
  }

  /** Both banded kernels must reject the geometry up front. */
  private def assertBandingRejects(bits: Int, bands: Int, maxHamming: Int): Unit = {
    intercept[IllegalArgumentException](graft.operators.Dedup
      .bandedHammingPairs(bandingSigs, bits, bands, maxHamming))
    intercept[IllegalArgumentException](graft.operators.Dedup
      .bandedHammingPairsCapped(bandingSigs, bits, bands, maxHamming, bandDfCap = 10L))
  }

  test("banded kernels reject bits outside [1, 64]") {
    assertBandingRejects(bits = 0, bands = 1, maxHamming = 0)
    assertBandingRejects(bits = 65, bands = 5, maxHamming = 3)
  }

  test("banded kernels reject bands outside [1, bits]") {
    assertBandingRejects(bits = 16, bands = 0, maxHamming = 0)
    assertBandingRejects(bits = 16, bands = 17, maxHamming = 3)
  }

  test("banded kernels reject maxHamming outside [0, bands)") {
    // -1 used to yield agree = bands + 1: no subset, an empty result
    assertBandingRejects(bits = 60, bands = 6, maxHamming = -1)
    assertBandingRejects(bits = 60, bands = 6, maxHamming = 6)
  }

  test("banded kernels reject a packed key wider than 63 bits") {
    // a single 64-bit band: its mask (1L << 64) - 1 would be 0
    assertBandingRejects(bits = 64, bands = 1, maxHamming = 0)
    // five bands all agreeing pack 64 bits
    assertBandingRejects(bits = 64, bands = 5, maxHamming = 0)
  }

  test("banding probe: subset on a saturated band, single-band on spread signatures, auto output invariant") {
    val s = spark
    import s.implicits._
    // deterministic 60-bit signatures; splitmix64 finalizer spreads
    // ALL bits (a weaker knuth-mix left band 4 constant-zero and the
    // probe correctly flagged the "spread" corpus as saturated)
    def mix(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val mask60 = (1L << 60) - 1
    // saturated corpus: low 12 bits constant — under the 5×12 single-
    // band geometry band 0 is ONE bucket holding all n docs (collision
    // mass ~ n²/2), while the 6×10 agree-2 subset keys pair the
    // constant bits with spread bits and stay selective
    val dense = (0L until 2000L)
      .map(i => (i, "x", ((mix(i) << 12) | 0x7B3L) & mask60))
      .toDF("doc_id", "block", "sh")
    val cDense = graft.operators.Dedup.chooseBandingConfig(dense, 60, 4)
    assert(cDense.useSubset,
      s"saturated band must dispatch to the subset join: $cDense")
    // spread corpus: fully mixed signatures — collisions are rare in
    // BOTH configs, so the 3× explode of the subset join must lose
    val spread = (0L until 2000L)
      .map(i => (i, "x", mix(i) & mask60))
      .toDF("doc_id", "block", "sh")
    val cSpread = graft.operators.Dedup.chooseBandingConfig(spread, 60, 4)
    assert(!cSpread.useSubset,
      s"spread signatures must dispatch to the single-band join: $cSpread")
    // whichever branch wins, the output is the fixed config's output
    val auto = graft.operators.Dedup.bandedHammingPairsAuto(dense, 60, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fixed = graft.operators.Dedup.bandedHammingPairs(dense, 60, 5, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == fixed, "probe-chosen config must not change the output")
  }

  test("banding probe escalates to agree-3 when agree-2 buckets saturate (VERDICT r16 #1)") {
    // uniform signatures over a NARROW bit space: at 24 bits /
    // hamming <= 2 every config's buckets fill as n grows, and the
    // quadratic mass term crosses the linear explode term at a
    // different n per rung — analytic crossover agree-2 -> agree-3 at
    // n ~ 9e4 for this geometry, so n = 3e5 must sit on agree-3
    // (expected costs ~ 5.4e7 / 8.4e6 / 4.8e6 for agree 1/2/3). This
    // is the sf100 banded-simhash scale story in miniature: a fixed
    // agree carries Σ n_b²/2^(k·width) quadratic growth; the ladder
    // escalates instead.
    val sigs = spark.range(300000L).select(
      org.apache.spark.sql.functions.col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit("x").as("block"),
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("id")),
        org.apache.spark.sql.functions.lit(1L << 24)).as("sh"))
    val c = graft.operators.Dedup.chooseBandingConfig(sigs, 24, 2)
    assert(c.agree == 3, s"saturated agree-2 buckets must escalate: $c")
    assert(c.useSubset, s"agree-3 is a subset config: $c")
    assert(c.costByAgree(3) < c.costByAgree(2) &&
      c.costByAgree(2) < c.costByAgree(1),
      s"cost must fall along the ladder on this corpus: ${c.costByAgree}")
    // the probe's mass estimates must see the exponential selectivity
    // gain per rung (2^8 -> 2^12 -> 2^14+ buckets per key here)
    assert(c.massByAgree(3) < c.massByAgree(2) &&
      c.massByAgree(2) < c.massByAgree(1),
      s"collision mass must fall along the ladder: ${c.massByAgree}")
  }

  test("banding ladder reaches rung 4 when rung 3 still saturates (VERDICT r17 #6)") {
    // the rung-4 ceiling, planted: 16-bit signatures at hamming <= 2
    // make every rung's key space narrow (agree-3 keys are ~9-10 bits,
    // agree-4 keys 10-12 bits over 6 bands of {3,3,3,3,2,2}), so at
    // n = 1e5 uniform docs the quadratic mass term still dominates the
    // explode term at rung 3 (est. cost_3 ~ 8e6 vs cost_4 ~ 5e6 for
    // this geometry) and the ladder must take the C(6,4) = 15-keys/doc
    // rung — which sits comfortably under the 128-keys/doc feasibility
    // bound. This is the sf1000 saturation story told in advance: the
    // DEFAULT maxAgree stays 3 because every measured real corpus's
    // residual mass is duplicate-driven (genuine output, no decay with
    // key width — the sf100 probe evidence), but when a corpus's
    // saturation-driven mass crosses rung 3, passing maxAgree = 4
    // escalates with no recall loss (generalized pigeonhole: hamming
    // <= 2 over 6 bands leaves >= 4 agreeing bands; the agree >= 2
    // scalacheck property above covers the kernel at any agree).
    val sigs = spark.range(100000L).select(
      org.apache.spark.sql.functions.col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit("x").as("block"),
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("id")),
        org.apache.spark.sql.functions.lit(1L << 16)).as("sh"))
    val c = graft.operators.Dedup.chooseBandingConfig(sigs, 16, 2, maxAgree = 4)
    assert(c.agree == 4, s"rung-3 saturation must escalate to rung 4: $c")
    assert((1 to 3).forall(k => c.costByAgree(4) < c.costByAgree(k)),
      s"rung 4 must be the cost argmin on this corpus: ${c.costByAgree}")
    assert((1 to 3).forall(k => c.massByAgree(4) < c.massByAgree(k)),
      s"collision mass must keep falling through rung 4: ${c.massByAgree}")
    // same corpus under the production default: the ladder stops at 3
    // and the verdict stays total-recall — the ceiling is priced, not
    // silently exceeded
    val c3 = graft.operators.Dedup.chooseBandingConfig(sigs, 16, 2)
    assert(c3.agree == 3, s"default maxAgree=3 must cap the ladder: $c3")
  }

  test("capped subset kernel: lossless at a loose cap, documented recall trade at a tight one") {
    val s = spark
    import s.implicits._
    def mix(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val mask60 = (1L << 60) - 1
    // 400 spread docs + one 50-doc identical cluster (boilerplate) +
    // one planted near-dup pair (hamming 1)
    val spread = (0L until 400L).map(i => (i, "x", mix(i) & mask60))
    val cluster = (1000L until 1050L).map(i => (i, "x", 0x123456789ABCDEL))
    val pair = Seq((2000L, "x", mix(9999L) & mask60),
      (2001L, "x", (mix(9999L) & mask60) ^ (1L << 3)))
    val df = (spread ++ cluster ++ pair).toDF("doc_id", "block", "sh")
    val uncapped = graft.operators.Dedup
      .bandedHammingPairs(df, 60, 6, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // cap far above any key's df: identical output (every key kept)
    val loose = graft.operators.Dedup
      .bandedHammingPairsCapped(df, 60, 6, 4, bandDfCap = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(loose == uncapped, "a cap above max df must be lossless")
    // tight cap: the 50-doc cluster's keys all have df 50 > 10 and are
    // dropped (its C(50,2) pairs are the candidate mass the cap
    // refuses); the planted pair's keys have df 2 and survive
    val tight = graft.operators.Dedup
      .bandedHammingPairsCapped(df, 60, 6, 4, bandDfCap = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(tight.contains((2000L, 2001L, 1)),
      s"low-df planted pair must survive the cap: ${tight.take(5)}")
    assert(!tight.exists(p => p._1 >= 1000L && p._1 < 1050L),
      "over-cap cluster pairs must be dropped (the documented recall trade)")
    assert(tight.subsetOf(uncapped), "capping must never invent pairs")
  }

  test("banding probe: the sampled path (n > probeCap) preserves both verdicts") {
    val s = spark
    import s.implicits._
    // same planted corpora as the full-probe test, but probeCap forces
    // the xxhash64 sample + f^2 collision-mass rescale to actually run
    // (the path a 100 TB corpus takes; also guards the round-10 clamp
    // against the threshold truncating to an empty sample)
    def mix(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val mask60 = (1L << 60) - 1
    val dense = (0L until 4000L)
      .map(i => (i, "x", ((mix(i) << 12) | 0x7B3L) & mask60))
      .toDF("doc_id", "block", "sh")
    val cDense = graft.operators.Dedup.chooseBandingConfig(dense, 60, 4, probeCap = 500L)
    assert(cDense.useSubset,
      s"sampled probe must still flag the saturated band: $cDense")
    val spread = (0L until 4000L)
      .map(i => (i, "x", mix(i) & mask60))
      .toDF("doc_id", "block", "sh")
    val cSpread = graft.operators.Dedup.chooseBandingConfig(spread, 60, 4, probeCap = 500L)
    assert(!cSpread.useSubset,
      s"sampled probe must keep spread signatures on single-band: $cSpread")
  }

  test("banding probe picks single-band on the natural documents corpus (W calibration regression)") {
    // round 9's W = 4 mis-routed the real corpus to the subset join
    // (measured 3× slower at sf0.1: 5.3 s vs 1.7 s single-band); the
    // recalibrated W = 0.1 must keep every natural-corpus point on
    // the single-band branch while PropertySpec's planted saturated
    // corpus (above) still dispatches to subset
    val c = graft.operators.Dedup.chooseBandingConfig(
      graft.operators.Dedup.simhashWideSigsForProbe(spark, sf), 60, 4)
    assert(!c.useSubset,
      s"natural corpus must stay on the single-band kernel: $c")
  }

  test("banding choice cache evicts LRU at the bound, not wholesale (VERDICT r17 wart #1)") {
    val s = spark
    import s.implicits._
    val cache = graft.operators.Dedup.bandingChoiceCache
    cache.clear()
    // one tiny plan reused with distinct bits values: the key is
    // (plan, bits, maxHamming), so bits enumerates cheap distinct keys
    val plan = Seq((0L, "x", 1L)).toDF("doc_id", "block", "sh")
      .queryExecution.analyzed.canonicalized
    val dummy = graft.operators.Dedup.BandingChoice(false, 1.0, 2.0)
    (1 to 64).foreach(b => cache.put((plan, b, 1), dummy))
    assert(cache.size() == 64)
    cache.get((plan, 1, 1)) // touch the eldest — access order must protect it
    cache.put((plan, 65, 1), dummy)
    assert(cache.size() == 64, "bound must hold by evicting ONE entry")
    assert(cache.containsKey((plan, 1, 1)),
      "recently-touched entry must survive the eviction")
    assert(!cache.containsKey((plan, 2, 1)),
      "the least-recently-used entry is the one evicted")
    assert(cache.containsKey((plan, 65, 1)))
    cache.clear()
  }

  test("banding probe verdict persists across cleared memo and invalidates on regenerated data (VERDICT r17 missing #4)") {
    val s = spark
    import s.implicits._
    val dedup = graft.operators.Dedup
    // clean slate: in-memory memo and any verdict files from prior runs
    dedup.bandingChoiceCache.clear()
    val wh = new java.io.File(new java.net.URI(
      s.conf.get("spark.sql.warehouse.dir")).getPath)
    def sweepVerdicts(): Unit =
      Option(wh.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_banding_") &&
          f.getName.endsWith(".verdict")).foreach(_.delete())
    sweepVerdicts()
    val dir = java.nio.file.Files.createTempDirectory("banding_verdict").toFile
    val p = new java.io.File(dir, "sigs.parquet").getAbsolutePath
    try {
      def mix(i: Long): Long = {
        var z = i + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      def write(n: Long): Unit = (0L until n)
        .map(i => (i, "x", mix(i) & ((1L << 60) - 1)))
        .toDF("doc_id", "block", "sh")
        .repartition(1).write.mode("overwrite").parquet(p)
      write(500L)
      def fresh() = s.read.parquet(p) // new relation every call
      val runs0 = dedup.bandingProbeRuns.get()
      val out1 = dedup.bandedHammingPairsAuto(fresh(), 60, 4).count()
      assert(dedup.bandingProbeRuns.get() == runs0 + 1,
        "first touch of a corpus must run the probe")
      // fresh JVM simulation: memo gone, verdict file still on disk
      dedup.bandingChoiceCache.clear()
      val out2 = dedup.bandedHammingPairsAuto(fresh(), 60, 4).count()
      assert(dedup.bandingProbeRuns.get() == runs0 + 1,
        "a persisted verdict with a matching fingerprint must short-circuit the probe")
      assert(out1 == out2, "served verdict must not change the output")
      // regenerated source (different size) must re-probe, not serve stale
      write(800L)
      dedup.bandingChoiceCache.clear()
      dedup.bandedHammingPairsAuto(fresh(), 60, 4).count()
      assert(dedup.bandingProbeRuns.get() == runs0 + 2,
        "a fingerprint mismatch must invalidate the persisted verdict")
      // in-place rewrite to the SAME file count and byte sizes must
      // also re-probe (VERDICT r18 item 7): the fingerprint now mixes
      // per-file mtime, so count+bytes alone can no longer alias a
      // regenerated corpus to a stale verdict
      Thread.sleep(1100) // cover coarse mtime granularity
      write(800L) // identical data -> identical count and bytes
      dedup.bandingChoiceCache.clear()
      dedup.bandedHammingPairsAuto(fresh(), 60, 4).count()
      assert(dedup.bandingProbeRuns.get() == runs0 + 3,
        "a same-size in-place rewrite must invalidate the persisted verdict")
    } finally {
      dedup.bandingChoiceCache.clear()
      sweepVerdicts()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("corpus fingerprint: equal-size, equal-mtime files that swap contents do not cancel out") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_fp").toFile
    try {
      val a = new java.io.File(dir, "a.txt")
      val b = new java.io.File(dir, "b.txt")
      def put(f: java.io.File, body: String, mtime: Long): Unit = {
        java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
        assert(f.setLastModified(mtime))
      }
      val t0 = 1700000000000L
      put(a, "aaaa", t0); put(b, "bbbb", t0)
      val fp = () => graft.operators.Dedup.corpusFingerprint(spark, Seq(dir.getAbsolutePath))
      val before = fp()
      assert(before.isDefined)
      // swap the contents; both files again share one (new) mtime, so
      // count, bytes and the per-file (len, mtime) pairs all match
      put(a, "bbbb", t0 + 5000L); put(b, "aaaa", t0 + 5000L)
      assert(fp() != before, "a rewritten equal-size pair must change the fingerprint")
    } finally {
      Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      dir.delete()
    }
  }

  test("subset banding accepts the full-width agree==bands config (guard regression)") {
    val s = spark
    import s.implicits._
    // bits=63, bands=5, maxHamming=0: subset keys are ALL five bands
    // whose widths sum to exactly 63 — fits a long, but the earlier
    // agree × max-band-width guard (5 × 13 = 65) rejected it
    val df = Seq((0L, "x", 123456789L), (1L, "x", 123456789L),
      (2L, "x", 987654321L)).toDF("doc_id", "block", "sh")
    val got = graft.operators.Dedup
      .bandedHammingPairs(df, 63, 5, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)), s"exact-dup pair expected: $got")
  }

  test("property: connectedComponents equals union-find on random graphs") {
    val s = spark
    import s.implicits._
    val graphGen: Gen[(Int, List[(Long, Long)])] = for {
      n <- Gen.choose(1, 30)
      m <- Gen.choose(0, 40)
      edges <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield (n, edges.filter { case (a, b) => a != b })
    forAll(graphGen) { case (n, edges) =>
      val nodes = (0L until n.toLong).toDF("node")
      val pairs = edges.toDF("doc_a", "doc_b")
      val parent = scala.collection.mutable.Map((0L until n.toLong).map(d => d -> d): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = (0L until n.toLong).map(d => d -> find(d)).toMap
      val got = graft.operators.Dedup.connectedComponents(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect)
      val gotStar = graft.operators.Dedup.connectedComponentsStar(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar == expect, "large-star/small-star must agree with union-find")
    }
  }

  test("round-cap exhaustion falls back to star contraction with correct labels") {
    val s = spark
    import s.implicits._
    // a 60-node path needs 59 propagation rounds; cap at 4 — the
    // kernel must NOT return partially-propagated labels, it must
    // detect the miss and re-solve via star contraction
    val n = 60L
    val nodes = (0L until n).toDF("node")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.connectedComponents(nodes, chain, maxRounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      "fallback must deliver the true component minimum for every node")
  }

  test("large-star/small-star handles a long chain in logarithmic rounds") {
    val s = spark
    import s.implicits._
    // a 200-node path: diameter 199 — label propagation's worst case,
    // star contraction's showcase (15-round cap forces O(log n))
    val n = 200L
    val nodes = (0L until n).toDF("node")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.connectedComponentsStar(nodes, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 0L), "one component rooted at 0")
    assert(got.size == n)
  }

  test("Misra-Gries sketch: heavy-hitter guarantee holds vs exact counts") {
    val s = spark
    import s.implicits._
    val toks = Tables.documents(s, sf)
      .select(explode(filter(split(col("text"), "\\s+"), t => t =!= "")).as("tok"))
      .repartition(7) // force partial buffers + serialize/merge paths
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val k = 16
    val bound = n.toDouble / (k + 1)
    val reported = toks.agg(graft.functions.FreqSketch.mgTopk(col("tok"), k).as("hh"))
      .selectExpr("explode(hh) as e").select("e.token", "e.min_count").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reported.size <= k)
    // (a) every true heavy hitter is present
    exact.filter(_._2 > bound).keys.foreach { t =>
      assert(reported.contains(t), s"heavy hitter '$t' (${exact(t)} > $bound) missing")
    }
    // (b) each reported count is within [true - n/(k+1), true]
    reported.foreach { case (t, c) =>
      val tru = exact.getOrElse(t, 0L)
      assert(c <= tru && c >= tru - bound - 1e-9,
        s"'$t' reported $c outside [${tru - bound}, $tru]")
    }
    // SQL registration path returns the same sketch shape
    graft.functions.FreqSketch.register(s)
    val viaSql = toks.agg(expr(s"mg_topk(tok, $k)").as("hh"))
      .selectExpr("size(hh)").head.getInt(0)
    assert(viaSql <= k && viaSql > 0)
  }

  test("text_heavy_hitters: two-pass sketch-prune+verify == exact wordcount+HAVING") {
    val s = spark
    import s.implicits._
    def exactHh(dir: String): Map[String, Long] = {
      val tk = Tables.documents(s, dir)
        .select(explode(filter(split(col("text"), "\\s+"), t => t =!= "")).as("tok"))
      val n = tk.count()
      tk.groupBy("tok").count().filter(col("count") * 30 > n)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def got(dir: String): Map[String, Long] =
      graft.operators.TextAnalysis.textHeavyHitters(s, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // real corpus
    assert(got(sf) == exactHh(sf))
    // planted corpus with vocabulary ≫ the 59-counter sketch, so the
    // MG buffer decrements for real (the real-recall regime): 400
    // singleton tokens as noise docs + 2 genuinely heavy tokens
    val noise = (0 until 400).map(i => (i.toLong, s"rare$i"))
    val heavy = Seq((400L, ("hot " * 300).trim), (401L, ("warm " * 200).trim))
    val dir = java.nio.file.Files.createTempDirectory("hh").toString
    (noise ++ heavy).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val g = got(dir)
    assert(g == exactHh(dir) && g.keySet == Set("hot", "warm"),
      s"planted heavy hitters must be exactly {hot, warm}: $g")
  }

  test("Count-Min sketch: overestimate-only, merge-order invariant, bucket parity") {
    val s = spark
    import graft.functions.CmsCore
    val depth = 3
    val width = 8 // deliberately << vocabulary so collisions are real
    val toks = Tables.documents(s, sf)
      .select(explode(filter(split(col("text"), "\\s+"), t => t =!= "")).as("tok"))
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    def matrix(parts: Int): Seq[Seq[Long]] =
      toks.repartition(parts)
        .agg(graft.functions.FreqSketch.cmsMatrix(col("tok"), depth, width).as("m"))
        .head.getSeq[scala.collection.Seq[Long]](0).map(_.toSeq).toSeq
    val m1 = matrix(1)
    assert(m1 == matrix(13),
      "CMS counters are exact sums — the matrix must be merge-order invariant")
    assert(m1.forall(_.sum == n), "every depth row must preserve total mass")
    exact.foreach { case (t, tru) =>
      val h = CmsCore.baseMod(t)
      val est = (0 until depth).map(i => m1(i)(CmsCore.bucket(i, h, width))).min
      assert(est >= tru, s"CMS underestimated '$t': $est < $tru")
      assert(est <= n)
    }
    // the Column-side probe buckets must equal the JVM update-path ones
    val sample = exact.keys.toSeq.sorted.take(8)
    val colBuckets = s.range(1).select(
      sample.flatMap(t => (0 until depth).map(i =>
        CmsCore.bucketCol(lit(t), i, width).cast("int"))): _*)
      .head.toSeq.map(_.asInstanceOf[Int])
    val jvmBuckets = sample.flatMap(t => (0 until depth).map(i =>
      CmsCore.bucket(i, CmsCore.baseMod(t), width)))
    assert(colBuckets == jvmBuckets,
      "probe-expression buckets drifted from the aggregate's buckets")
  }

  /** Sequential reference BPE: index-skipping greedy merge — the
    * standard formulation, deliberately a DIFFERENT shape from the
    * engine's accumulator fold (equivalence is the point). */
  private def refBpe(words: Map[String, Long], n: Int): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = words.filter(_._1.nonEmpty)
      .groupMapReduce { case (w, _) => w.map(_.toString).toVector } (_._2)(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var k = 1
    var done = false
    while (k <= n && !done) {
      val pairs = vocab.toSeq
        .flatMap { case (syms, f) => syms.zip(syms.tail).map(p => p -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), c) = pairs.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((k, l, r, c))
        vocab = vocab.toSeq.map { case (syms, f) =>
          val m = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              m += l + r; i += 2
            } else { m += syms(i); i += 1 }
          }
          (m.toVector, f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
      k += 1
    }
    out.toSeq
  }

  private val bpeWordsGen: Gen[List[(String, Long)]] =
    Gen.listOfN(8, Gen.zip(
      Gen.choose(1, 6).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b")).map(_.mkString)),
      Gen.choose(1L, 9L)))

  test("property: bpe_train merge table equals sequential reference BPE") {
    val s = spark
    import s.implicits._
    forAll(bpeWordsGen) { words =>
      whenever(words.nonEmpty) {
        val agg = words.groupMapReduce(_._1)(_._2)(_ + _)
        val expect = refBpe(agg, 4)
          .map { case (k, l, r, c) => (k, l, r, l + r, c) }
        val got = graft.operators.TextAnalysis
          .bpeTrainMerges(agg.toSeq.toDF("word", "freq"), 4)
          .collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSeq
        assert(got == expect, s"words=$agg")
      }
    }
  }

  test("bpe_tokenize conserves characters and compresses vs raw symbols") {
    val s = spark
    val rows = graft.operators.TextAnalysis.bpeTokenize(s, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nWs, nBpe, nChars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // every word is >= 1 symbol, and merges only shrink symbol counts
      assert(nBpe >= nWs, s"doc ${r.getLong(0)}: fewer symbols than words")
      assert(nBpe <= nChars, s"doc ${r.getLong(0)}: more symbols than chars")
    }
    // chars under the tokenizer == non-whitespace chars of the doc
    // (text_stats computes the same quantity independently)
    val stats = graft.operators.TextAnalysis.textStats(s, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    rows.foreach(r => assert(r.getLong(3) == stats(r.getLong(0)),
      s"doc ${r.getLong(0)}: char mass not conserved"))
    // 10 learned merges must actually compress the corpus
    assert(rows.map(_.getLong(2)).sum < rows.map(_.getLong(3)).sum)
  }

  test("property: MapReduce.run equals sequential map+reduce") {
    val s = spark
    import s.implicits._
    forAll(Gen.listOf(Gen.zip(Gen.identifier.map(_.take(3)), Gen.choose(1, 5)))) {
      (docs: List[(String, Int)]) =>
        whenever(docs.nonEmpty) {
          val input = docs.map { case (w, n) => (w, Seq.fill(n)(w).mkString(" ")) }.toDS()
          val got = graft.mr.MapReduce.run[String, String, String, Long](
            input,
            (_, text) => text.split(" ").filter(_.nonEmpty).map(w => (w, 1L)),
            _ + _).collect().toMap
          val expect = docs.flatMap { case (w, n) => Seq.fill(n)(w) }
            .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
          assert(got == expect)
        }
    }
  }

  // (user, us, value) event series; small us range so (us, event_id)
  // tie-breaks are actually exercised
  private val cusumGen: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, 2L)
      us <- Gen.choose(0L, 20L).map(_ * 1000000L)
      v <- Gen.choose(0, 80).map(_ / 10.0)
    } yield (u, us, v))
  } yield rows

  test("property: cusumOf's window unroll equals the sequential CUSUM recurrence") {
    // the SCALE claim behind q_cusum: Cᵢ = max(0, Cᵢ₋₁ + dᵢ) unrolls
    // to Sᵢ − min(0, min_{j≤i} Sⱼ) — here checked against a direct
    // per-user fold on random series, in BOTH forms (fixed reference
    // level and the self-referenced ×n deviations), including the
    // rounded output, the min-event-id tie rule, and the drift flag
    val s = spark
    import s.implicits._
    val mu0 = 3000000L // 3.0 value units
    forAll(cusumGen) { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((u, us, v), i) =>
        (u, i.toLong, us, v)
      }
      val df = rows.toDF("user_id", "event_id", "us", "value")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
      def reference(fixed: Option[Long]): Map[Long, (Long, Double, Long, Boolean)] =
        rows.groupBy(_._1).map { case (u, rs0) =>
          val rs = rs0.sortBy(r => (r._3, r._2))
          val vs = rs.map(r => math.floor(r._4 * 1e6 + 0.5).toLong)
          val (scale, base) = fixed match {
            case Some(mu) => (1L, mu)
            case None     => (vs.size.toLong, vs.sum)
          }
          val ds = vs.map(v =>
            scale * (v - graft.operators.Events.CusumSlackMicro) - base)
          var c = 0L
          val cs = ds.map { d => c = math.max(0L, c + d); c }
          val cmax = cs.max
          val at = rs.zip(cs).filter(_._2 == cmax).map(_._1._2).min
          val cm = math.floor(cmax.toDouble / (scale.toDouble * 1e6) * 1e4 + 0.5) / 1e4
          u -> ((vs.size.toLong, cm, at, cm > graft.operators.Events.CusumH))
        }
      Seq(Some(mu0), None).foreach { form =>
        val got = graft.operators.Events.cusumOf(df, form).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4))))
          .toMap
        assert(got == reference(form),
          s"form=$form: window unroll must equal the sequential recurrence\n" +
            s"got $got\nexp ${reference(form)}")
      }
    }
  }

  // two docs sharing one identical token run of length >= w+k-1,
  // embedded at random offsets in doc-unique context
  private val winnowGen: Gen[(List[String], List[String], List[String])] = for {
    runLen <- Gen.choose(6, 20) // WinnowK + WinnowW - 1 = 6
    run <- Gen.listOfN(runLen, Gen.choose(0, 9).map(x => s"sh$x"))
    p1 <- Gen.choose(0, 15); s1 <- Gen.choose(0, 15)
    p2 <- Gen.choose(0, 15); s2 <- Gen.choose(0, 15)
  } yield (
    List.tabulate(p1)(i => s"a$i") ++ run ++ List.tabulate(s1)(i => s"b$i"),
    List.tabulate(p2)(i => s"c$i") ++ run ++ List.tabulate(s2)(i => s"d$i"),
    run)

  test("property: winnowing guarantee — any shared run >= w+k-1 tokens shares a fingerprint") {
    // Schleimer/MOSS theorem under the repo's min-hash +
    // rightmost-tie selection, randomized over run content, run
    // length, and embedding offsets (the planted spec pins one case;
    // this pins the guarantee itself). Converse sanity on disjoint
    // docs: zero shared fingerprints.
    val s = spark
    import s.implicits._
    forAll(winnowGen) { case (t1, t2, _) =>
      val docs = Seq((1L, t1.mkString(" ")), (2L, t2.mkString(" ")))
        .toDF("doc_id", "text")
      val fps = graft.operators.Dedup.winnowFingerprintHashes(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val (f1, f2) = (fps.filter(_._1 == 1L).map(_._2).toSet,
        fps.filter(_._1 == 2L).map(_._2).toSet)
      assert((f1 & f2).nonEmpty,
        s"docs sharing a ${6}+-token run must share a fingerprint:\n$t1\n$t2")
    }
    val disjoint = Seq(
      (1L, (0 until 12).map(i => s"x$i").mkString(" ")),
      (2L, (0 until 12).map(i => s"y$i").mkString(" "))).toDF("doc_id", "text")
    val dfp = graft.operators.Dedup.winnowFingerprintHashes(disjoint)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dfp.nonEmpty &&
      (dfp.filter(_._1 == 1L).map(_._2).toSet &
        dfp.filter(_._1 == 2L).map(_._2).toSet).isEmpty,
      "disjoint docs must share nothing")
  }

  private val packGen: Gen[(List[Long], Int)] = for {
    n <- Gen.choose(1, 80)
    toks <- Gen.listOfN(n, Gen.choose(0L, 30L))
    seqLen <- Gen.choose(1, 25)
  } yield (toks, seqLen)

  test("property: packManifest's distributed prefix-sum equals the sequential greedy packer") {
    // the pipeline_pack_sequences claim: global seq assignment via
    // partition-offset + local prefix (no corpus-sized window) must
    // equal a single sequential fold for any doc lengths and budget —
    // including zero-length docs and docs longer than the budget
    // (which span sequences without emitting rows for them)
    val s = spark
    import s.implicits._
    forAll(packGen) { case (toks, seqLen) =>
      val docs = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.Pipelines
        .packManifest(docs.toDF("doc_id", "toks"), seqLen,
          partitions = 5, cache = false, tokCol = col("toks"))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      var running = 0L
      val acc = scala.collection.mutable.Map
        .empty[Long, (Long, Long, Long, Long)]
      docs.sortBy(_._1).foreach { case (id, t) =>
        val seq = running / seqLen
        val cur = acc.getOrElse(seq, (0L, 0L, Long.MaxValue, Long.MinValue))
        acc(seq) = (cur._1 + 1, cur._2 + t,
          math.min(cur._3, id), math.max(cur._4, id))
        running += t
      }
      assert(got == acc.toMap,
        s"seqLen=$seqLen toks=$toks:\ngot $got\nexp ${acc.toMap}")
    }
  }
}
