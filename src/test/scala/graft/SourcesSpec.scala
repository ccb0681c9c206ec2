package graft

import org.apache.spark.sql.functions._
import graft.sources.Sources
import graft.operators.Multimodal

class SourcesSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  test("parquet round-trip with partitioned layout") {
    val df = Tables.orders(spark, sf)
    val path = tmp("pq")
    Sources.writeParquet(df, path, partitionCols = Seq("o_orderstatus"))
    val back = Sources.readParquet(spark, path)
    assert(back.count() == df.count())
    // partition pruning: reading one partition dir touches only it
    val one = Sources.readParquet(spark, path)
      .filter(col("o_orderstatus") === "F")
    assert(one.count() == df.filter(col("o_orderstatus") === "F").count())
  }

  test("csv round-trip preserves rows") {
    val df = Tables.nation(spark, sf)
    val path = tmp("csv")
    Sources.writeCsv(df, path)
    val back = Sources.readCsv(spark, path, schema = Some(df.schema))
    assert(back.collect().toSet.size == df.count())
  }

  test("json round-trip preserves rows") {
    val df = Tables.region(spark, sf)
    val path = tmp("json")
    Sources.writeJson(df, path)
    val back = Sources.readJson(spark, path, schema = Some(df.schema))
    assert(back.count() == df.count())
  }

  test("lenient json read quarantines malformed lines instead of failing") {
    val s = spark
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("dirty-json").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2 "v": "missing comma"}
        |{"id": 3, "v": "fine"}
        |not json at all""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    // cache first: Spark refuses corrupt-column-only queries on the
    // raw file relation (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = Sources.readJsonLenient(s, dir, schema).cache()
    df.count()
    val good = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(good.count() == 2 && bad.count() == 2)
    assert(good.select("id").collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 3L)))
  }

  test("mergeSchema reads across schema-evolved parquet generations") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("evolved").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/gen=1")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.parquet(s"$dir/gen=2")
    val merged = Sources.readParquetMerged(s, dir)
    assert(merged.schema.fieldNames.toSet == Set("id", "v", "score", "gen"))
    val rows = merged.select("id", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    assert(rows == Set((1L, None), (2L, Some(9.5))))
    assert(merged.filter(col("score").isNull).count() == 1)
  }

  /** A real PNG payload: w×h, constant fill (bilinear rescale of a
    * constant image must stay that constant — a checkable invariant),
    * unless `gradient` asks for per-pixel variation. */
  private def pngBytes(w: Int, h: Int, rgb: Int, gradient: Boolean = false): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      im.setRGB(x, y, if (gradient) (x * 131071 + y * 31) & 0xffffff else rgb)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", baos)
    baos.toByteArray
  }

  test("binaryFile ingest: glob-filtered asset scan feeds the real decode kernel") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("binsrc").toString
    // two real PNGs + a non-matching sidecar the glob must exclude
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.png"),
      pngBytes(6, 4, 0x336699))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.png"),
      pngBytes(3, 5, 0xcc2200))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "meta.json"),
      "{}".getBytes)
    val scanned = graft.sources.Sources.readBinary(s, dir, glob = "*.png")
    assert(scanned.count() == 2, "glob must exclude the sidecar")
    assert(scanned.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    // content is the real file byte-for-byte -> the decode kernel works on it
    val decoded = graft.operators.Multimodal.decodeBatch(
      scanned.select(
          when(col("path").endsWith("a.png"), 1L).otherwise(2L).as("doc_id"),
          col("content").as("payload"))
        .as[graft.operators.Multimodal.RawMedia])
      .collect().map(d => d.doc_id -> ((d.width, d.height))).toMap
    assert(decoded == Map(1L -> ((6, 4)), 2L -> ((3, 5))),
      s"decoded dims must match the written PNGs: $decoded")
    // the length cap quarantines oversized assets at the scan
    assert(graft.sources.Sources.readBinary(s, dir, glob = "*.png",
      maxLength = 10).count() == 0)
  }

  test("multimodal frame-sample keeps typed batch shape") {
    val raw = Multimodal.asBinary(spark, sf)
    val frames = Multimodal.sampleFrames(raw, chunk = 50, stride = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_no % 2 == 0))
    assert(frames.forall(f => f.n_bytes <= 50))
  }

  test("multimodal demux: length-prefixed container round-trips and decodes real frames") {
    val s = spark
    import s.implicits._
    val frames = Seq(pngBytes(8, 6, 0x112233), pngBytes(16, 12, 0x445566),
      pngBytes(24, 18, 0x778899), pngBytes(32, 24, 0xaabbcc))
    // pack → unpack is identity
    val packed = Multimodal.packFrames(frames)
    assert(Multimodal.unpackFrames(packed).map(_.toSeq) == frames.map(_.toSeq))
    // a corrupt tail ends the walk cleanly instead of throwing
    assert(Multimodal.unpackFrames(packed ++ Array[Byte](9, 9)).length == frames.length)

    val raw = Seq(Multimodal.RawMedia(5L, packed)).toDS()
    val all = Multimodal.demuxFrames(raw).collect().sortBy(_.frame_no)
    assert(all.map(f => (f.frame_no, f.width, f.height)).toSeq ==
      Seq((0, 8, 6), (1, 16, 12), (2, 24, 18), (3, 32, 24)))
    val strided = Multimodal.demuxFrames(raw, stride = 2).collect().sortBy(_.frame_no)
    assert(strided.map(_.frame_no).toSeq == Seq(0, 2))
  }

  test("mm_feature_knn: IVF machinery exact at full probe, bounded recall at nprobe=2") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val feats = Multimodal.featureVectors(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = feats.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val (cent, _) = Similarity.kmeansTrain(feats, 8, iters = 2)
    val cents = Similarity.collectCentroids(cent)
    val exact = Similarity.cosineTopKExact(
      feats.select(col("vec_id"), col("v")),
      queries.select(col("q_id"), col("qv")), 5).collect().toSeq
    // parity: probing EVERY cluster makes IVF a partitioned exact scan
    val full = Similarity.ivfTopK(feats, queries, cents, cents.size, 5)
      .collect().toSeq
    assert(full == exact, "full-probe IVF must equal the exact kernel")
    // the registered nprobe=2 configuration: recall floor on the
    // text-byte histograms (near-collinear vectors — the hard case)
    val probed = Similarity.ivfTopK(feats, queries, cents, 2, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = probed.intersect(exactSet).size.toDouble / exactSet.size
    assert(recall >= 0.5, s"nprobe=2 recall $recall below floor")
    CacheHygiene.sweep(spark)
  }

  test("perceptual hash: rescaled twin within Hamming 3, banded join finds it, distinct image far") {
    val s = spark
    import s.implicits._
    // smooth diagonal gradient — resolution-independent luminance
    // field, so a rescale is a true perceptual near-duplicate
    def smoothPng(w: Int, h: Int, reversed: Boolean): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val gx = x * 255 / (w - 1); val gy = y * 255 / (h - 1)
        val v = if (reversed) (255 - gx, 255 - gy) else (gx, gy)
        im.setRGB(x, y, (v._1 << 16) | (v._2 << 8) | 0x40)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", baos)
      baos.toByteArray
    }
    val a = Multimodal.RawMedia(1L, smoothPng(64, 64, reversed = false))
    // the two ways one crawl image recurs: re-encode at another
    // resolution (real resizeBatch output), and byte-identical copy
    val a2 = Multimodal.resizeBatch(Seq(a).toDS(), 80, 80)
      .collect().head
    val rows = Seq(
      a,
      Multimodal.RawMedia(2L, a2.payload),
      Multimodal.RawMedia(3L, smoothPng(48, 48, reversed = true)),
      Multimodal.RawMedia(4L, "not an image".getBytes)) // quarantine
    val hashes = Multimodal.phashBatch(rows.toDS())
    val hs = hashes.collect().map(h => h.doc_id -> h.phash).toMap
    assert(hs.keySet == Set(1L, 2L, 3L), "undecodable payload must drop")
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(hs(1L), hs(2L)) <= 3,
      s"rescaled twin must be a near-dup: hamming ${hamming(hs(1L), hs(2L))}")
    assert(hamming(hs(1L), hs(3L)) > 10,
      s"reversed gradient must be far: hamming ${hamming(hs(1L), hs(3L))}")
    val pairs = Multimodal.phashNearDup(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"banded join must find exactly the planted twin pair, got $pairs")
  }

  test("multimodal resize: real bilinear rescale + PNG re-encode") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      Multimodal.RawMedia(7L, pngBytes(40, 24, 0x3366cc)),
      Multimodal.RawMedia(8L, Array[Byte](1, 2, 3, 4))).toDS() // undecodable
    val out = Multimodal.resizeBatch(raw, 16, 12).collect()
    assert(out.map(_.doc_id).toSeq == Seq(7L), "undecodable payloads are dropped")
    val r = out.head
    assert(r.width == 16 && r.height == 12)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth == 16 && back.getHeight == 12)
    // bilinear interpolation of a constant image is that constant
    assert((back.getRGB(8, 6) & 0xffffff) == 0x3366cc)
  }

  test("compaction shrinks a many-small-files layout without changing the data") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // simulate a micro-batch sink: 40 tiny appends = 40+ parquet files
    (0 until 40).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .write.mode("append").parquet(dir)
    }
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = s.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(parquetFiles() >= 40)
    Sources.compactParquet(s, dir, rowsPerFile = 20)
    assert(parquetFiles() == 2, s"expected 2 files, got ${parquetFiles()}")
    val after = s.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
  }

  test("multimodal featureBatch: real byte-histogram features, ANN-compatible") {
    val raw = Multimodal.asBinary(spark, sf)
    val feats = Multimodal.featureBatch(raw).collect()
    assert(feats.length == Tables.documents(spark, sf).count())
    feats.foreach { f =>
      assert(f.byte_hist.length == 16)
      if (f.n_bytes > 0) {
        // histogram is a distribution; entropy bounded by log2(16 bins)
        assert(math.abs(f.byte_hist.map(_.toDouble).sum - 1.0) < 1e-3)
        assert(f.entropy >= 0.0 && f.entropy <= 4.0 + 1e-9)
      }
    }
    // features are a real content signature: docs with identical text
    // get identical histograms, and the distinct count is non-trivial
    val byDoc = feats.map(f => f.doc_id -> f.byte_hist.toSeq).toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val groups = texts.groupBy(_._2).values
    groups.filter(_.size > 1).foreach { g =>
      val hs = g.keys.map(byDoc).toSeq
      assert(hs.distinct.size == 1, "identical payloads must share features")
    }
    assert(feats.map(_.byte_hist.toSeq).distinct.length > 1)
  }

  test("multimodal decodeBatch: real javax.imageio decode of PNG payloads") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      Multimodal.RawMedia(1L, pngBytes(20, 10, 0, gradient = true)),
      Multimodal.RawMedia(2L, pngBytes(33, 47, 0xff8800)),
      Multimodal.RawMedia(3L, "definitely not an image".getBytes("UTF-8"))).toDS()
    val ctr = s.sparkContext.longAccumulator("decodes")
    val cachedBefore = s.sparkContext.getPersistentRDDs.size
    val split = Multimodal.decodeSplit(raw, Some(ctr))
    val d = split.decoded.collect().map(x => x.doc_id -> x).toMap
    assert(d.keySet == Set(1L, 2L))
    assert(d(1L).width == 20 && d(1L).height == 10 && d(1L).channels == 3)
    assert(d(2L).width == 33 && d(2L).height == 47 && d(2L).channels == 3)
    assert(d.values.forall(m => m.n_bytes > 0))
    // the corrupt payload lands in the quarantine channel, not an error
    assert(split.rejected.collect().toSeq == Seq(3L))
    // both channels consumed, yet each payload decoded exactly once
    // (the quarantine side reads the persisted attempt frame)
    assert(ctr.value == 3,
      s"split must decode each payload exactly once, got ${ctr.value}")
    // the split owns its cache entry: release() frees it, so a
    // per-ingest-batch loop doesn't accumulate one entry per call
    split.release()
    assert(s.sparkContext.getPersistentRDDs.size == cachedBefore,
      "release() must unpersist the attempt frame")
  }

  test("z-ordered layout prunes cells for boxes narrow in EITHER dimension") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString + "/tbl"
    val df = Tables.events(s, sf)
      .select(col("event_id"), col("user_id").cast("double").as("u"), col("value").as("v"))
    Sources.writeZOrdered(df, dir, "u", "v", bits = 8, prefixBits = 6)
    val (uLo, uHi, vLo, vHi) = {
      val r = df.agg(min("u"), max("u"), min("v"), max("v")).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }
    def expect(la: Double, ha: Double, lb: Double, hb: Double): Set[Long] =
      df.filter(col("u").between(la, ha) && col("v").between(lb, hb))
        .select("event_id").collect().map(_.getLong(0)).toSet

    // box narrow in u (10% of the u range), full v
    val ua = uLo + (uHi - uLo) * 0.4
    val ub = uLo + (uHi - uLo) * 0.5
    val (r1, c1, tot) = Sources.readZBox(s, dir, ua, ub, vLo, vHi)
    assert(r1.select("event_id").collect().map(_.getLong(0)).toSet ==
      expect(ua, ub, vLo, vHi), "u-narrow box must return exactly the box rows")
    assert(c1 <= tot / 2, s"u-narrow box read $c1 of $tot cells")

    // box narrow in v — the dimension a 1-D layout on u cannot prune
    val va = vLo + (vHi - vLo) * 0.4
    val vb = vLo + (vHi - vLo) * 0.5
    val (r2, c2, _) = Sources.readZBox(s, dir, uLo, uHi, va, vb)
    assert(r2.select("event_id").collect().map(_.getLong(0)).toSet ==
      expect(uLo, uHi, va, vb), "v-narrow box must return exactly the box rows")
    assert(c2 <= tot / 2, s"v-narrow box read $c2 of $tot cells")

    // the cell pruning is real partition pruning, visible in the plan
    val plan = r1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("z_prefix"),
      s"expected z_prefix partition filters in:\n$plan")

    // a box outside the data space reads nothing
    val (r3, c3, _) = Sources.readZBox(s, dir, uHi + 10, uHi + 20, vLo, vHi)
    assert(c3 <= tot && r3.count() == 0)

    // randomized boxes (seeded, deterministic): pruning must be exact
    // for ANY box — the full-scan filter rows, never one missed
    val rng = new scala.util.Random(42)
    (1 to 8).foreach { i =>
      def span(lo: Double, hi: Double) = {
        val (x, y) = (lo + (hi - lo) * rng.nextDouble(),
          lo + (hi - lo) * rng.nextDouble())
        (math.min(x, y), math.max(x, y))
      }
      val (bu1, bu2) = span(uLo, uHi)
      val (bv1, bv2) = span(vLo, vHi)
      val (rr, _, _) = Sources.readZBox(s, dir, bu1, bu2, bv1, bv2)
      assert(rr.select("event_id").collect().map(_.getLong(0)).toSet ==
        expect(bu1, bu2, bv1, bv2),
        s"random box #$i ($bu1,$bu2)x($bv1,$bv2) must return exactly the box rows")
    }
  }

  test("audio: WAV pack/parse round-trip, chunk skipping, corrupt quarantine") {
    val s = spark
    import s.implicits._
    val samples = Array.tabulate[Short](200)(i => ((i * 37) % 2048 - 1024).toShort)
    val wav = Multimodal.packWav(samples, 16000, 2)
    val parsed = Multimodal.parseWav(wav)
    assert(parsed.isDefined, "own WAV must parse")
    val (rate, ch, bits, back) = parsed.get
    assert(rate == 16000 && ch == 2 && bits == 16)
    assert(back.toSeq == samples.toSeq, "PCM samples must round-trip bit-exactly")

    // a LIST chunk (odd length -> pad byte) BEFORE fmt/data must be skipped
    val list = {
      val extra = Array[Byte]('L', 'I', 'S', 'T', 7, 0, 0, 0, 1, 2, 3, 4, 5, 6, 7, 0)
      val buf = java.nio.ByteBuffer.allocate(wav.length + extra.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(wav, 0, 12).put(extra).put(wav, 12, wav.length - 12)
      buf.array()
    }
    assert(Multimodal.parseWav(list).map(_._4.toSeq).contains(samples.toSeq),
      "unknown odd-size chunk must be skipped via its padded length")

    // corrupt payloads -> None, never an exception
    assert(Multimodal.parseWav("RIFFxxxx".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseWav(wav.take(30)).isEmpty, "truncated fmt")
    val floatFmt = wav.clone(); floatFmt(20) = 3 // IEEE-float tag
    assert(Multimodal.parseWav(floatFmt).isEmpty, "non-PCM16 rejected")
    val lyingLen = wav.clone()
    lyingLen(40) = -1; lyingLen(41) = -1; lyingLen(42) = -1; lyingLen(43) = 127
    assert(Multimodal.parseWav(lyingLen).isEmpty, "data len > remaining rejected")

    // batch kernel: good rows parsed, corrupt dropped (decodeBatch discipline)
    val ds = Seq(
      Multimodal.RawMedia(1L, wav),
      Multimodal.RawMedia(2L, Multimodal.packWav(Array[Short](100, -100), 8000, 1)),
      Multimodal.RawMedia(3L, "not audio".getBytes("UTF-8"))).toDS()
    val meta = Multimodal.audioMetaBatch(ds).collect().map(m => m.doc_id -> m).toMap
    assert(meta.keySet == Set(1L, 2L))
    assert(meta(1L).n_frames == 100 && meta(1L).duration_us == 100L * 1000000 / 16000)
    assert(meta(2L).sample_rate == 8000 && meta(2L).channels == 1 &&
      meta(2L).n_frames == 2 && meta(2L).duration_us == 250L) // 2/8000 s
  }

  test("audio: windowed RMS energy is exact on planted constant/silent windows") {
    val s = spark
    import s.implicits._
    // 3 windows of 4 frames (stereo): amplitude 1000, silence, then a
    // 2-frame tail at amplitude 500
    val samples =
      Array.fill[Short](8)(1000) ++ Array.fill[Short](8)(0) ++ Array.fill[Short](4)(500)
    val ds = Seq(Multimodal.RawMedia(7L, Multimodal.packWav(samples, 8000, 2))).toDS()
    val win = Multimodal.audioEnergyBatch(ds, windowFrames = 4)
      .collect().sortBy(_.window_no)
    assert(win.map(_.window_no).toSeq == Seq(0, 1, 2))
    assert(win.map(_.n_samples).toSeq == Seq(8, 8, 4), "tail window is partial")
    assert(win(0).rms == 1000.0, "constant amplitude => rms == amplitude")
    assert(win(1).rms == 0.0)
    assert(win(2).rms == 500.0)
  }

  test("NibbleHistFrames: exact per-frame high-nibble counts, partial tail, codegen == eval") {
    import graft.functions.MediaFunctions
    val s = spark
    import s.implicits._
    // payload bytes 0x00..0xFF at frameBytes=16: frame f holds the 16
    // bytes with high nibble f, so its histogram is 16 at bin f
    val full = (0 until 256).map(_.toByte).toArray
    // 70 bytes at frameBytes=64: frames of 64 and 6 bytes
    val partial = Array.fill[Byte](70)(0x7f.toByte)
    val df = Seq((1L, full, 16), (2L, partial, 64)).toDF("id", "payload", "fb")
    val got16 = df.filter(col("id") === 1L)
      .select(MediaFunctions.nibbleHistFrames(col("payload"), 16).as("h"))
      .head.getSeq[scala.collection.Seq[Int]](0)
    assert(got16.length == 16)
    got16.zipWithIndex.foreach { case (h, f) =>
      assert(h.zipWithIndex.forall { case (c, b) => c == (if (b == f) 16 else 0) },
        s"frame $f histogram wrong: $h")
    }
    val got70 = df.filter(col("id") === 2L)
      .select(MediaFunctions.nibbleHistFrames(col("payload"), 64).as("h"))
      .head.getSeq[scala.collection.Seq[Int]](0)
    assert(got70.length == 2)
    assert(got70(0)(7) == 64 && got70(0).sum == 64)
    assert(got70(1)(7) == 6 && got70(1).sum == 6)
    // interpreted eval path agrees with the codegen'd DataFrame path
    val ev = MediaFunctions.NibbleHistFrames(
      org.apache.spark.sql.catalyst.expressions.Literal(full),
      16).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(ev.numElements == 16)
    val first = ev.getArray(0)
    assert((0 until 16).map(first.getInt) == got16.head.toSeq)
    // empty payload: zero frames (the posexplode drops the doc)
    val empty = Seq((3L, Array.empty[Byte])).toDF("id", "payload")
      .select(MediaFunctions.nibbleHistFrames(col("payload"), 64).as("h"))
      .head.getSeq[scala.collection.Seq[Int]](0)
    assert(empty.isEmpty)
  }

  test("video near-dup: re-encoded duplicate clip found at share 1.0, distinct clip not, hot-band cap bites") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.RawMedia
    // aHash resolution invariance is the load-bearing claim: the same
    // block pattern at 16 px and 24 px must hash identically
    val h16 = Multimodal.aHash(RawMedia(0L, Multimodal.blockFramePng(7L, 0, 16)))
    val h24 = Multimodal.aHash(RawMedia(0L, Multimodal.blockFramePng(7L, 0, 24)))
    assert(h16.isDefined && h16 == h24,
      s"block-pattern aHash must be resolution-invariant: $h16 vs $h24")
    // planted corpus: docs 0/1 are the SAME clip re-encoded at
    // different resolutions; doc 2 is a distinct clip
    def clip(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f =>
        Multimodal.blockFramePng(key, f, size))))
    val corpus = Seq(clip(0L, 10L, 16), clip(1L, 10L, 24), clip(2L, 99L, 16)).toDS()
    val got = Multimodal.videoDupStats(Multimodal.demuxFrameHashes(corpus))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(0L) == ((3L, 3L, 1.0)), s"re-encoded dup must score share 1.0: $got")
    assert(got(1L) == ((3L, 3L, 1.0)), s"the re-encode itself must score 1.0: $got")
    assert(got(2L) == ((3L, 0L, 0.0)), s"a distinct clip must score 0.0: $got")
    CacheHygiene.sweep(s)
    // hot-band cap: 10 clips that are NOTHING BUT the same title card
    // (every band df = 10 > cap 8) pair-explode without the cap; with
    // it they are dropped while a genuine low-df pair is still found
    val boiler = (100L until 110L).map(id => clip(id, 1234L, 16))
    val pair = Seq(clip(500L, 77L, 16), clip(501L, 77L, 24))
    val capped = Multimodal.videoDupStats(
        Multimodal.demuxFrameHashes((boiler ++ pair).toDS()), bandDfCap = 8L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((100L until 110L).forall(capped(_) == 0L),
      s"boilerplate clips above the band cap must not pair: $capped")
    assert(capped(500L) == 3L && capped(501L) == 3L,
      s"a genuine under-cap pair must survive the cap: $capped")
    CacheHygiene.sweep(s)
  }

  test("video frame index: write/update/probe path equals the inline stream, manifest version advances") {
    // the video twin of the minhash incremental-dedup spec: build the
    // index from the history, probe an ingest batch against it, fold
    // the batch in — all through the manifest-committed files
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.RawMedia
    import graft.sources.ManifestTable
    def clip(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f =>
        Multimodal.blockFramePng(key, f, size))))
    // pairs inside history (0,1), crossing the split (2,3), and inside
    // the ingest batch (4,5); the batch itself splits again at doc 5
    val clips = Seq(clip(0L, 10L, 16), clip(1L, 10L, 24), clip(2L, 20L, 16),
      clip(3L, 20L, 24), clip(4L, 30L, 16), clip(5L, 30L, 24))
    val hashes = Multimodal.demuxFrameHashes(clips.toDS()).collect().toSeq
    val hist = hashes.filter(_.doc_id < 3L).toDS()
    val batch = hashes.filter(_.doc_id >= 3L).toDS()
    // reference: the deterministic batch frame of the stream head
    val inline = graft.streaming.StreamingJobs
      .videoDupStream(hashes.toDS()).collect()
      .map(d => (d.doc_id, d.frame_no, d.dup_of, d.band, d.hamming))
      .filter(_._1 >= 3L).toSet
    assert(inline.exists(_._1 == 3L) && inline.exists(_._1 == 5L),
      s"planted cross-split AND in-batch pairs expected: $inline")

    val tmp = java.nio.file.Files.createTempDirectory("vf-index").toString
    Multimodal.writeFrameIndex(hist, tmp)
    // one-shot probe of the whole ingest batch
    val oneShot = Multimodal
      .videoDupAgainstIndex(ManifestTable.read(s, tmp), batch)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4))).toSet
    assert(oneShot == inline, s"one-shot probe != inline: $oneShot vs $inline")

    // two-step: probe docs {3,4}, fold them in, probe doc 5 — the
    // in-batch pair (4,5) must now be found VIA THE FOLDED INDEX
    val v0 = ManifestTable.current(s, tmp).get._1
    val b1 = hashes.filter(h => h.doc_id >= 3L && h.doc_id < 5L).toDS()
    val b2 = hashes.filter(_.doc_id == 5L).toDS()
    val r1 = Multimodal
      .videoDupAgainstIndex(ManifestTable.read(s, tmp), b1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4))).toSet
    Multimodal.updateFrameIndex(b1, tmp)
    val r2 = Multimodal
      .videoDupAgainstIndex(ManifestTable.read(s, tmp), b2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4))).toSet
    assert((r1 union r2) == inline, s"two-step != inline: ${r1 union r2}")
    assert(ManifestTable.current(s, tmp).map(_._1).contains(v0 + 1))
    // the folded index equals a from-scratch build over history+b1
    import org.apache.spark.sql.functions.col
    val folded = ManifestTable.read(s, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toSet
    val scratch = Multimodal.frameIndexFrame(
        hashes.filter(_.doc_id < 5L).toDS()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))).toSet
    assert(folded == scratch, "min-merge fold must equal a from-scratch index")
    CacheHygiene.sweep(s)
  }

  test("video banding: videoDupStats equals an all-pairs popcount reference; subset keys keep pigeonhole recall") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.RawMedia
    def clip(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f =>
        Multimodal.blockFramePng(key, f, size))))
    val corpus = (Seq(clip(0L, 10L, 16), clip(1L, 10L, 24), clip(2L, 99L, 16)) ++
      (100L until 110L).map(id => clip(id, 1234L, 16))).toDS()
    val hashes = Multimodal.demuxFrameHashes(corpus)
    val frames = hashes.collect().toSeq
    // all-pairs reference: a frame is duplicated iff a frame of
    // ANOTHER doc lies within hamming 3 (the cap does not bite here)
    val expect = frames.groupBy(_.doc_id).map { case (d, fs) =>
      val dup = fs.count(f => frames.exists(o => o.doc_id != d &&
        java.lang.Long.bitCount(f.phash ^ o.phash) <= 3)).toLong
      d -> ((fs.size.toLong, dup,
        BigDecimal(dup.toDouble / fs.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val got = Multimodal.videoDupStats(hashes).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == expect, s"banded != all-pairs: $got vs $expect")
    assert(got(0L) == ((3L, 3L, 1.0)) && got(2L) == ((3L, 0L, 0.0)), s"$got")
    CacheHygiene.sweep(s)
    // pigeonhole on the raw keys: ANY 64-bit pair with hamming <= 3
    // shares >= 1 of the 10 two-band subset keys (5 bands, <= 3 can
    // differ => >= 2 match => their subset matches)
    def mix(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val pairs = (0L until 200L).map { i =>
      val a = mix(i)
      val flips = (i % 4).toInt
      val b = (0 until flips).foldLeft(a)((acc, j) =>
        acc ^ (1L << (mix(i * 31 + j) & 63).toInt))
      (a, b)
    }
    val fhA = pairs.zipWithIndex.map { case ((a, _), i) => (i.toLong * 2, 0, a) }
    val fhB = pairs.zipWithIndex.map { case ((_, b), i) => (i.toLong * 2 + 1, 0, b) }
    val posted = Multimodal.frameBandPostings(
      (fhA ++ fhB).toDF("doc_id", "frame_no", "phash"))
      .select(col("doc_id"), col("band"), col("bv"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (d, rows) => d -> rows.map(r => (r._2, r._3)).toSet }
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      if (java.lang.Long.bitCount(a ^ b) <= 3)
        assert(posted(i.toLong * 2).intersect(posted(i.toLong * 2 + 1)).nonEmpty,
          s"hamming<=3 pair $i must share a subset key")
    }
    // published frame indexes stay valid: the keys are bit-identical to
    // the formula they were built with — bounds 0/12/25/38/51/64,
    // unsigned shifts, lex-ordered two-band subsets packed first band
    // highest
    val bound = IndexedSeq(0, 12, 25, 38, 51, 64)
    def bandBits(h: Long, b: Int) =
      (h >>> bound(b)) & ((1L << (bound(b + 1) - bound(b))) - 1)
    def formula(h: Long): Set[(Int, Long)] =
      (0 until 5).combinations(2).zipWithIndex.map { case (sub, i) =>
        i -> sub.foldLeft(0L)((acc, b) =>
          (acc << (bound(b + 1) - bound(b))) | bandBits(h, b))
      }.toSet
    val fixed = Seq(0L, -1L, Long.MinValue, Long.MaxValue,
      0x0123456789ABCDEFL, 0xFEDCBA9876543210L, mix(1L), mix(2L))
    val pinned = Multimodal.frameBandPostings(fixed.zipWithIndex
        .map { case (h, i) => (i.toLong, 0, h) }.toDF("doc_id", "frame_no", "phash"))
      .select(col("doc_id"), col("band"), col("bv"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (d, rows) => d -> rows.map(r => (r._2, r._3)).toSet }
    fixed.zipWithIndex.foreach { case (h, i) =>
      assert(pinned(i.toLong) == formula(h), f"postings of $h%016x moved")
    }
    CacheHygiene.sweep(s)
  }

  test("codec seam: a custom FrameHasher drops into the video near-dup pipeline unchanged") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.RawMedia
    // FakeFrameCodec stands in for an ffmpeg/JNI codec: no PNG decode,
    // hashes derive from raw payload content — the seam's contract is
    // only (doc_id, frame_no, phash) rows, so the banded join, the
    // hot-band cap, and the per-doc stats run untouched
    val a = Array.fill[Byte](64)(7)
    val b = Array.fill[Byte](64)(9)
    val ds = Seq(RawMedia(1L, a), RawMedia(2L, a.clone()), RawMedia(3L, b)).toDS()
    val got = Multimodal
      .videoDupStats(Multimodal.demuxFrameHashes(ds, hasher = FakeFrameCodec))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)) && got(2L) == ((3L, 3L, 1.0)),
      s"byte-identical payloads must pair through the custom codec: $got")
    assert(got(3L) == ((3L, 0L, 0.0)),
      s"a distinct payload must not pair: $got")
    // stride reaches the codec (container-level frame skipping, the
    // keyframe-only-decode shape of a real demuxer)
    val strided = Multimodal.demuxFrameHashes(ds, stride = 2,
      hasher = FakeFrameCodec).collect()
    assert(strided.nonEmpty && strided.forall(_.frame_no % 2 == 0))
    CacheHygiene.sweep(s)
  }

  test("codec seam: the JDK JPEG codec is a SECOND real FrameHasher (cross-codec near-dup)") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{PackedJpegAHash, RawMedia}
    assume(PackedJpegAHash.available, "JVM ships no JPEG ImageReader plugin")
    // strictness: a PNG frame must be QUARANTINED by the jpeg hasher
    // (SOI check), not sniffed through ImageIO's auto-detection
    val pngClip = RawMedia(9L,
      Multimodal.packFrames(Seq(Multimodal.blockFramePng(5L, 0, 16))))
    assert(PackedJpegAHash.frameHashes(pngClip, 1).isEmpty,
      "non-JPEG frames must be dropped by the strict jpeg hasher")
    // lossy-decode fidelity: the JPEG re-encode of a block frame must
    // hash within the banded join's Hamming-3 budget of the PNG original
    // (aHash's robustness-to-re-encode claim, measured not assumed)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (key <- Seq(3L, 10L, 77L); f <- 0 until 3) {
      val png = Multimodal.aHash(RawMedia(0L, Multimodal.blockFramePng(key, f, 16))).get
      val jpg = PackedJpegAHash.frameHashes(RawMedia(0L, Multimodal.packFrames(
        Seq(Multimodal.blockFrameJpeg(key, f, 16)))), 1).next().phash
      assert(ham(png, jpg) <= 3,
        s"JPEG quantization pushed key=$key f=$f to Hamming ${ham(png, jpg)} > 3")
    }
    // end to end ACROSS codecs: doc 0 is a PNG clip, doc 1 the same clip
    // JPEG-re-encoded at a different resolution, doc 2 distinct; each
    // demuxed by ITS codec, unioned, then the shared near-dup join must
    // pair 0↔1 and isolate 2 — the real-corpus scenario (one video
    // crawled twice in different encodes) through two REAL codecs
    def pngClipOf(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f => Multimodal.blockFramePng(key, f, size))))
    def jpgClipOf(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f => Multimodal.blockFrameJpeg(key, f, size))))
    val pngSide = Multimodal.demuxFrameHashes(
      Seq(pngClipOf(0L, 10L, 16), pngClipOf(2L, 99L, 16)).toDS())
    val jpgSide = Multimodal.demuxFrameHashes(
      Seq(jpgClipOf(1L, 10L, 24)).toDS(), hasher = PackedJpegAHash)
    val got = Multimodal.videoDupStats(pngSide.union(jpgSide))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0L) == ((3L, 3L, 1.0)) && got(1L) == ((3L, 3L, 1.0)),
      s"cross-codec re-encode must pair at share 1.0: $got")
    assert(got(2L) == ((3L, 0L, 0.0)), s"distinct clip must stay isolated: $got")
    CacheHygiene.sweep(s)
  }
}

/** Stand-in for an ffmpeg/JNI codec behind [[graft.operators.Multimodal
  * .FrameHasher]] — top-level so the task closure serializes without an
  * outer spec reference. Emits 3 deterministic content-derived hashes
  * per container. */
object FakeFrameCodec extends graft.operators.Multimodal.FrameHasher {
  override def frameHashes(m: graft.operators.Multimodal.RawMedia,
      stride: Int): Iterator[graft.operators.Multimodal.FrameHash] =
    (0 until 3).iterator.filter(_ % stride == 0).map { i =>
      val h = java.util.Arrays.hashCode(m.payload).toLong * 2654435761L + i
      graft.operators.Multimodal.FrameHash(m.doc_id, i, h)
    }
}
