package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Events
import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{Ev, SessionOut}

class StreamingSpec extends SparkSpec {

  test("batch sessionize (flatMapGroupsWithState) matches the windowed SQL form") {
    val s = spark
    import s.implicits._
    val evs = Tables.events(s, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[Ev]
    val typed = StreamingJobs.sessionize(evs).collect()
      .map(r => (r.user_id, r.session_id, r.n_events, r.duration_us)).toSet
    val sql = Events.qSessionize(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(typed == sql)
  }

  test("batch tumblingHourly matches the oracle-checked batch query") {
    val s = spark
    val viaJob = StreamingJobs.tumblingHourly(Tables.events(s, sf))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val viaSql = Events.qTumblingWindow(s, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaJob == viaSql)
  }

  test("streaming tumblingHourly over a file stream reaches the same totals") {
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("stream-in").toString
    val batch = Tables.events(s, sf).select("ts", "event_type", "value")
    batch.write.mode("overwrite").parquet(tmp)

    val src = s.readStream.schema(batch.schema).parquet(tmp)
    val q = StreamingJobs.tumblingHourly(src).writeStream
      .format("memory").queryName("tumbling_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = s.sql("select * from tumbling_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = StreamingJobs.tumblingHourly(batch)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == direct)
  }

  test("streaming HLL active users: streamed == batch form == registered query") {
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("stream-au").toString
    val batch = Tables.events(s, sf).select("ts", "user_id")
    batch.write.mode("overwrite").parquet(tmp)

    val src = s.readStream.schema(batch.schema).parquet(tmp)
    val q = StreamingJobs.activeUsersApproxStream(src).writeStream
      .format("memory").queryName("au_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val streamed = rows(s.sql("select * from au_out"))
    val direct = rows(StreamingJobs.activeUsersApproxStream(batch))
    val registered = rows(graft.operators.Events.qActiveUsersApprox(s, sf))
    // HLL state depends on the set of uniques, not arrival order, so
    // all three are bit-equal — no tolerance band needed
    assert(streamed == direct,
      s"streamed vs batch form: ${streamed.size} vs ${direct.size} rows")
    assert(streamed == registered,
      s"streamed vs registered query: ${streamed.take(3)} vs ${registered.take(3)}")
  }

  test("stream-stream interval join matches the batch join") {
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("ssj-in").toString
    val batch = Tables.events(s, sf).select("ts", "user_id", "event_type")
    batch.write.mode("overwrite").parquet(tmp)

    val src = s.readStream.schema(batch.schema).parquet(tmp)
    val q = StreamingJobs.purchaseViewJoin(src).writeStream
      .format("memory").queryName("ssj_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = s.sql("select * from ssj_out").count()
    val direct = StreamingJobs.purchaseViewJoin(batch).count()
    assert(streamed == direct)
    assert(direct > 0)
  }

  test("streaming dedup drops duplicates within the watermark") {
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("dedup-in").toString
    val batch = Tables.events(s, sf).select("ts", "user_id", "event_type")
    batch.write.mode("overwrite").parquet(tmp)

    val src = s.readStream.schema(batch.schema).parquet(tmp)
    val q = StreamingJobs.dedupStream(src).writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val streamed = s.sql("select user_id, event_type from dedup_out").count()
    val direct = StreamingJobs.dedupStream(batch).count()
    assert(streamed == direct)
    assert(direct == batch.dropDuplicates("user_id", "event_type").count())
  }

  test("streaming sessionize emits closed sessions with state across batches") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sess-in").toString
    // two users; second event of u1 arrives >30min later -> closes session 1
    val rows = Seq(
      (1L, 1000L), (1L, 2000L), (2L, 5000L),
      (1L, 2000L + 1900L * 1000000L))
    rows.toDF("user_id", "us").write.mode("overwrite").parquet(tmp)

    val src = s.readStream.schema(rows.toDF("user_id", "us").schema)
      .parquet(tmp).as[Ev]
    val q = StreamingJobs.sessionize(src).writeStream
      .format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val out = s.sql("select * from sess_out").as[SessionOut].collect()
    // u1's first session (2 events, 1000us span) must be emitted
    assert(out.exists(o => o.user_id == 1L && o.n_events == 2L && o.duration_us == 1000L))
    // open sessions (u2's single event, u1's new session) stay in state
    assert(!out.exists(o => o.user_id == 2L))
  }

  test("idle user's open session is emitted by event-time timeout, no follow-up needed") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sess-idle-in").toString
    val hourUs = 3600L * 1000000L
    // u3: two events at t=0 then silence; u1: one event 3h later, which
    // advances the watermark past u3's 30-min gap deadline. u3's
    // session must be emitted via EventTimeTimeout - there is NO later
    // u3 event to close it.
    // times start at 1h, not 0: an event at exactly epoch 0 equals the
    // initial watermark and is dropped by the late-data filter (<=)
    val rows = Seq((3L, hourUs), (3L, hourUs + 60L * 1000000L), (1L, 4L * hourUs))
    // one file -> one micro-batch: u3's events must not straddle a
    // watermark advance (a multi-file write can order u1@4h first,
    // making u3's second event late data)
    rows.toDF("user_id", "us").repartition(1).write.mode("overwrite").parquet(tmp)

    val src = s.readStream.schema(rows.toDF("user_id", "us").schema)
      .parquet(tmp).as[Ev]
    val q = StreamingJobs.sessionize(src).writeStream
      .format("memory").queryName("sess_idle_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()

    val out = s.sql("select * from sess_idle_out").as[SessionOut].collect()
    assert(out.exists(o => o.user_id == 3L && o.n_events == 2L &&
      o.duration_us == 60L * 1000000L),
      s"u3's idle session should time out and emit; got ${out.mkString(", ")}")
    // u1's session deadline (3h + 30min) is past the watermark: still open
    assert(!out.exists(o => o.user_id == 1L))
  }

  test("as-of enrich: batch mode equals q_asof_join; time-split stream equals batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evDS = Tables.events(s, sf)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[StreamingJobs.AsOfEv]

    def key(o: StreamingJobs.AsOfOut) =
      (o.user_id, o.purchase_event_id, o.purchase_us, o.last_view_us)
    // batch mode of the SAME call == the oracle-checked window form
    val batchTwin = StreamingJobs.asofEnrichStream(evDS).collect().map(key).toSet
    val oracleForm = graft.operators.Advanced.qAsofJoin(s, sf).collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }.toSet
    assert(batchTwin == oracleForm,
      s"batch-mode asofEnrichStream must equal qAsofJoin " +
        s"(${batchTwin.size} vs ${oracleForm.size} rows)")

    // streamed in two time-split batches == the batch result (batch 1
    // leaves each key's state at its as-of-T view max)
    val ev = evDS.collect()
    val mid = 1705276800000000L // Jan 15
    val in = MemoryStream[StreamingJobs.AsOfEv](s)
    val q = StreamingJobs.asofEnrichStream(in.toDS()).writeStream
      .format("memory").queryName("asof_out").outputMode("append").start()
    in.addData(ev.filter(_.us < mid).toSeq)
    q.processAllAvailable()
    in.addData(ev.filter(_.us >= mid).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from asof_out")
      .as[StreamingJobs.AsOfOut].collect().map(key).toSet
    assert(streamed == batchTwin,
      s"time-split stream must equal batch (${streamed.size} vs ${batchTwin.size})")
  }

  test("streaming CDC changelog: batch-2 emissions equal the batch as-of diff") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (t1, t2) = (1705276800000000L, 1706140800000000L) // Jan 15 / Jan 25
    val evDF = Tables.events(s, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
    val ev = evDF.as[StreamingJobs.CdcEv].collect()

    val in = MemoryStream[StreamingJobs.CdcEv](s)
    val q = StreamingJobs.cdcStream(in.toDS()).writeStream
      .format("memory").queryName("cdc_out").outputMode("append").start()
    in.addData(ev.filter(_.us < t1).toSeq)
    q.processAllAvailable()
    def snap(): Seq[(Long, String, Option[Long], Long, Option[String], String)] =
      s.sql("select * from cdc_out").as[StreamingJobs.CdcOut].collect()
        .map(o => (o.user_id, o.change, o.old_event_id, o.new_event_id,
          o.old_type, o.new_type)).toSeq
    val afterB1 = snap()
    // every key's first sight is 'added'; one net row per key per batch
    assert(afterB1.nonEmpty && afterB1.forall(_._2 == "added"))
    assert(afterB1.map(_._1).distinct.size == afterB1.size)

    in.addData(ev.filter(e => e.us >= t1 && e.us < t2).toSeq)
    q.processAllAvailable()
    q.stop()
    // batch-2 net emissions: rows not present after batch 1 (a key's
    // batch-2 row always differs — new_event_id advanced)
    val batch2 = snap().diff(afterB1).toSet

    val expected = Events.asOfDiff(evDF, t1, t2).collect().map { r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getString(4)), r.getString(5))
    }.toSet
    assert(batch2 == expected,
      s"stream batch-2 changelog must equal the batch as-of diff " +
        s"(stream ${batch2.size} vs batch ${expected.size} rows)")
  }

  test("cdc checkpoint restarts across stock and graft LocalFs, both ways") {
    // a checkpoint written through one local FileContext class must
    // restart under the other: batch 1 under the first, batch 2 from
    // the same checkpoint under the second
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (t1, t2) = (1705276800000000L, 1706140800000000L) // Jan 15 / Jan 25
    val evDF = Tables.events(s, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
    val ev = evDF.as[StreamingJobs.CdcEv].collect()
    val expected = Events.asOfDiff(evDF, t1, t2).collect().map { r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getString(4)), r.getString(5))
    }.toSet
    val key = "fs.AbstractFileSystem.file.impl"
    val stock = classOf[org.apache.hadoop.fs.local.LocalFs]
    val nio = classOf[graft.sources.NioLocalFs]
    for ((first, second) <- Seq(stock -> nio, nio -> stock)) {
      val ckpt = java.nio.file.Files.createTempDirectory("cdc-ckpt").toString
      val in = MemoryStream[StreamingJobs.CdcEv](s)
      val out = scala.collection.mutable.ArrayBuffer.empty[StreamingJobs.CdcOut]
      val sink: (Dataset[StreamingJobs.CdcOut], Long) => Unit =
        (ds, _) => out.synchronized(out ++= ds.collect())
      def run(impl: Class[_], batch: Seq[StreamingJobs.CdcEv]): Unit = {
        s.conf.set(key, impl.getName)
        try {
          assert(LocalFsSpec.checkpointFs(s, ckpt) == impl)
          val q = StreamingJobs.cdcStream(in.toDS()).writeStream
            .option("checkpointLocation", ckpt).foreachBatch(sink).start()
          in.addData(batch)
          q.processAllAvailable()
          q.stop()
        } finally s.conf.unset(key)
      }
      run(first, ev.filter(_.us < t1).toSeq)
      assert(out.nonEmpty && out.forall(_.change == "added"))
      out.clear()
      run(second, ev.filter(e => e.us >= t1 && e.us < t2).toSeq)
      val batch2 = out.map(o => (o.user_id, o.change, o.old_event_id, o.new_event_id,
        o.old_type, o.new_type)).toSet
      assert(batch2 == expected,
        s"${first.getSimpleName} -> ${second.getSimpleName}: restarted batch 2 " +
          s"(${batch2.size} rows) must equal the batch as-of diff (${expected.size})")
    }
  }

  test("a cdc restart fails on a corrupted offset log instead of reading it") {
    // checkpoint reads go through the one-argument FileContext.open,
    // which graft's LocalFs verifies against the .crc sidecar
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ckpt = java.nio.file.Files.createTempDirectory("cdc-crc").toFile
    val in = MemoryStream[StreamingJobs.CdcEv](s)
    def run(batch: StreamingJobs.CdcEv*): Unit = {
      val q = StreamingJobs.cdcStream(in.toDS()).writeStream.format("noop")
        .option("checkpointLocation", ckpt.getPath).start()
      try { in.addData(batch); q.processAllAvailable() } finally q.stop()
    }
    run(StreamingJobs.CdcEv(1L, 1L, "view", 1.0, 10L))
    val offsets = new java.io.File(ckpt, "offsets")
    val latest = offsets.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(new java.io.File(offsets, s".$latest.crc").isFile)
    val raf = new java.io.RandomAccessFile(new java.io.File(offsets, latest), "rw")
    try {
      raf.seek(raf.length / 2)
      val b = raf.read()
      raf.seek(raf.length / 2)
      raf.write(b ^ 0x01)
    } finally raf.close()
    val e = intercept[Exception](run(StreamingJobs.CdcEv(1L, 2L, "view", 2.0, 20L)))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }

  test("mgTopkStream rejects k < 1 at plan time, on batch and streaming input") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingJobs.MgTok
    val batch = s.createDataset(Seq(MgTok(0, 0L, "a")))
    val stream = MemoryStream[MgTok](s).toDS()
    for (ds <- Seq(batch, stream); k <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](StreamingJobs.mgTopkStream(ds, k))
      assert(e.getMessage.contains(s"mg_topk needs k >= 1, got $k"))
    }
  }

  test("streaming ewma: O(1) state agrees with the 32-horizon batch within the tail bound") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evDF = Tables.events(s, sf)
    val ev = evDF
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("value").cast("double").as("v"))
      .as[StreamingJobs.EwmaEv].collect().sortBy(e => (e.us, e.event_id))
    val cut = ev(ev.length / 2).us

    val in = MemoryStream[StreamingJobs.EwmaEv](s)
    val q = StreamingJobs.ewmaStream(in.toDS()).writeStream
      .format("memory").queryName("ewma_out").outputMode("append").start()
    in.addData(ev.filter(_.us < cut).toSeq)
    q.processAllAvailable()
    in.addData(ev.filter(_.us >= cut).toSeq)
    q.processAllAvailable()
    q.stop()
    // latest emission per key = the full-history recursive fold
    val streamed = s.sql("select * from ewma_out")
      .as[StreamingJobs.EwmaOut].collect()
      .groupBy(_.user_id).map { case (u, os) => u -> os.maxBy(_.n) }
    val batch = Events.qEwma(s, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet == batch.keySet)
    val maxAbsV = ev.map(e => math.abs(e.v)).max
    val bound = maxAbsV * math.pow(2, -31) + 5e-7 // horizon tail + rnd(6)
    streamed.foreach { case (u, o) =>
      val (nRecent, bEwma) = batch(u)
      // stream counts ALL events; batch reports min(n, 32)
      assert(o.n >= nRecent)
      assert(math.abs(o.ewma - bEwma) <= bound,
        s"user $u: stream ${o.ewma} vs batch $bEwma exceeds tail bound $bound")
    }
  }

  test("streaming cusum: fixed-reference monitor equals the batch form bit-exactly on a time-split feed") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val evDF = Tables.events(s, sf)
    val mu0 = 35000000L // 35.0 value units in micros — a calibration level
    val ev = evDF
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        floor(col("value").cast("double") * lit(1e6) + lit(0.5)).cast("long")
          .as("v"))
      .as[StreamingJobs.CusumEv].collect().sortBy(e => (e.us, e.event_id))
    val cut = ev(ev.length / 2).us

    val in = MemoryStream[StreamingJobs.CusumEv](s)
    val q = StreamingJobs.cusumStream(in.toDS(), mu0).writeStream
      .format("memory").queryName("cusum_out").outputMode("append").start()
    in.addData(ev.filter(_.us < cut).toSeq)
    q.processAllAvailable()
    in.addData(ev.filter(_.us >= cut).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from cusum_out")
      .as[StreamingJobs.CusumOut].collect()
      .groupBy(_.user_id).map { case (u, os) => u -> os.maxBy(_.n) }
    val batch = Events.cusumOf(evDF, Some(mu0)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (u, o) =>
      assert((o.n, o.cusum_max, o.at_event, o.drift) == batch(u),
        s"user $u: stream $o vs batch ${batch(u)} — integer CUSUM must be bit-equal")
    }
    // the feed must actually exercise both flag states
    assert(streamed.values.exists(_.drift) && streamed.values.exists(!_.drift),
      "calibration level must leave both drift states populated")
  }

  test("foreachBatch upsert sink merges micro-batches by key") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val target = java.nio.file.Files.createTempDirectory("upsert-out").toString + "/state"

    val in = MemoryStream[(Long, String, Long)](s)
    val q = graft.streaming.StreamSinks
      .foreachBatchUpsert(in.toDF().toDF("k", "v", "seq"), target, Seq("k"))
      .start()
    in.addData((1L, "a0", 0L), (2L, "b0", 0L))
    q.processAllAvailable()
    val after1 = s.read.parquet(target).as[(Long, String, Long)].collect().toSet
    assert(after1 == Set((1L, "a0", 0L), (2L, "b0", 0L)))

    in.addData((2L, "b1", 1L), (3L, "c1", 1L)) // update k=2, insert k=3
    q.processAllAvailable()
    q.stop()
    val after2 = s.read.parquet(target).as[(Long, String, Long)].collect().toSet
    assert(after2 == Set((1L, "a0", 0L), (2L, "b1", 1L), (3L, "c1", 1L)),
      s"expected upsert semantics, got $after2")
  }

  test("partitioned upsert merges touched partitions and leaves others untouched") {
    val s = spark
    import s.implicits._
    val target = java.nio.file.Files.createTempDirectory("upsert-part").toString + "/state"
    graft.streaming.StreamSinks.upsertBatchPartitioned(
      Seq((1L, "a0", "p1"), (2L, "b0", "p2")).toDF("k", "v", "part"),
      target, Seq("k"), "part")
    val p2FilesBefore = new java.io.File(s"$target/part=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet

    // second batch touches ONLY p1 (update k=1, insert k=3)
    graft.streaming.StreamSinks.upsertBatchPartitioned(
      Seq((1L, "a1", "p1"), (3L, "c1", "p1")).toDF("k", "v", "part"),
      target, Seq("k"), "part")

    val after = s.read.parquet(target).as[(Long, String, String)].collect().toSet
    assert(after == Set((1L, "a1", "p1"), (3L, "c1", "p1"), (2L, "b0", "p2")),
      s"expected partition-scoped upsert, got $after")
    val p2FilesAfter = new java.io.File(s"$target/part=p2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    assert(p2FilesAfter == p2FilesBefore, "untouched partition must not be rewritten")
  }

  test("streaming minhash dedup: streamed == batch == signature-derived expectation") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, sf).select("doc_id", "lang", "text")

    // expectation straight from the signatures: per band bucket, every
    // doc except the bucket min matches the min
    val sigs = graft.operators.Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])))
      .filter(_._2.forall(_.isDefined))
      .map { case (d, hs) => d -> hs.map(_.get) }
    val expected = (0 until 4).flatMap { b =>
      sigs.groupBy { case (_, hs) => (hs(2 * b), hs(2 * b + 1)) }.values
        .filter(_.length > 1)
        .flatMap { grp =>
          val min = grp.map(_._1).min
          grp.map(_._1).filter(_ != min).map(d => (d, min, b))
        }
    }.toSet

    val batchRes = StreamingJobs.minhashDedupStream(docs).collect()
      .map(d => (d.doc_id, d.dup_of, d.band)).toSet
    assert(batchRes == expected)

    val tmp = java.nio.file.Files.createTempDirectory("mh-dedup-in").toString
    docs.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(docs.schema).parquet(tmp)
    val q = StreamingJobs.minhashDedupStream(src).writeStream
      .format("memory").queryName("mh_dedup_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from mh_dedup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == expected)
  }

  test("minhash dedup state survives the RocksDB state store provider unchanged") {
    // the production state backend at 100 TB ingest (the default
    // HDFSBackedStateStoreProvider holds all state on the JVM heap;
    // RocksDB spills to local disk): same job, same results —
    // provider choice is config, not semantics
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, sf).select("doc_id", "lang", "text")
    val expected = StreamingJobs.minhashDedupStream(docs).collect()
      .map(d => (d.doc_id, d.dup_of, d.band)).toSet

    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("mh-rocks-in").toString
      docs.write.mode("overwrite").parquet(tmp)
      val src = s.readStream.schema(docs.schema).parquet(tmp)
      val q = StreamingJobs.minhashDedupStream(src).writeStream
        .format("memory").queryName("mh_rocks_out")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
      val streamed = s.sql("select * from mh_rocks_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == expected,
        "RocksDB-backed run must emit the identical dup set")
    } finally {
      old match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  test("stream-static decontamination: streamed == batch, collisions flagged at ingest") {
    val s = spark
    import s.implicits._
    // static eval side: distinct 5-grams of two "benchmark" docs
    val evalDocs = Seq(
      (900L, "alpha beta gamma delta epsilon zeta"),
      (901L, "one two three four five six seven")).toDF("doc_id", "text")
    val ngramTable = graft.operators.Pipelines.fivegrams(evalDocs)
      .select(col("s").as("es"), col("doc_id").as("eval_doc")).distinct()
    val train = Seq(
      (1L, "prefix alpha beta gamma delta epsilon zeta suffix"), // contaminated (900)
      (2L, "totally clean document with no overlap at all here"),
      (3L, "contains one two three four five six seven inline")) // contaminated (901)
      .toDF("doc_id", "text")

    val batch = StreamingJobs.decontaminateStream(train, ngramTable).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(batch.map(_._1) == Set(1L, 3L), s"unexpected contamination set: $batch")
    assert(batch.forall { case (d, e) => (d == 1L) == (e == 900L) })

    val tmp = java.nio.file.Files.createTempDirectory("decon-in").toString
    train.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(train.schema).parquet(tmp)
    val q = StreamingJobs.decontaminateStream(src, ngramTable).writeStream
      .format("memory").queryName("decon_out")
      .outputMode("append") // stateless stream-static join: append-legal
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select doc_id, eval_doc from decon_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "ingest-time flags must equal the batch run")
  }

  test("stream mixture sampling: streamed membership equals the batch pass") {
    val s = spark
    import s.implicits._
    val docs = (0L until 400L).map(i => (i, s"src${i % 7}"))
      .toDF("doc_id", "source")
    val batch = graft.operators.Pipelines
      .sampleWeighted(docs, lit(5000), "mixspec")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && batch.size < 400, s"got ${batch.size} of 400")

    val tmp = java.nio.file.Files.createTempDirectory("mix-in").toString
    docs.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(docs.schema).parquet(tmp)
    val q = StreamingJobs.mixtureSampleStream(src, lit(5000), "mixspec")
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("append") // stateless projection: append-legal
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select doc_id from mix_out").collect()
      .map(_.getLong(0)).toSet
    assert(streamed == batch,
      "ingest-time sample membership must equal the batch pass")
  }

  test("stream quality filter: streamed gate equals the batch rules, reasons carried") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, sf).select("doc_id", "text")
    val batch = graft.operators.TextAnalysis.qualityRules(docs)
      .select("doc_id", "keep", "fail_reason").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)))).toSet

    val tmp = java.nio.file.Files.createTempDirectory("qf-in").toString
    docs.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(docs.schema).parquet(tmp)
    val q = StreamingJobs.qualityFilterStream(src)
      .select("doc_id", "keep", "fail_reason")
      .writeStream.format("memory").queryName("qf_out")
      .outputMode("append") // stateless projection: append-legal
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select doc_id, keep, fail_reason from qf_out").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)))).toSet
    assert(streamed == batch,
      "ingest-time gate decisions must equal the batch rules")
    assert(streamed.exists(_._2) && streamed.exists(!_._2),
      "gate must discriminate on the corpus")
  }

  test("stream scene cut: streamed transitions equal the batch query bit-for-bit") {
    val s = spark
    import s.implicits._
    val batch = graft.operators.Multimodal.mmSceneCut(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(batch.nonEmpty)

    val docs = Tables.documents(s, sf).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("sc-in").toString
    docs.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(docs.schema).parquet(tmp)
    val q = StreamingJobs.sceneCutStream(src, encode(col("text"), "UTF-8"))
      .writeStream.format("memory").queryName("sc_out")
      .outputMode("append") // stateless per-row projection: append-legal
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select doc_id, n_frames, cut_frame, cut_l1 from sc_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(streamed == batch,
      "ingest-time scene cuts must equal the batch operator bit-for-bit")
  }

  test("stream winnowing: streamed fingerprints equal the batch kernel bit-for-bit") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, sf).select("doc_id", "text")
    val batch = graft.operators.Dedup.winnowFingerprintHashes(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("win-in").toString
    docs.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(docs.schema).parquet(tmp)
    val q = StreamingJobs.winnowStream(src)
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append") // stateless per-row projection: append-legal
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select doc_id, fp_h from win_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      "ingest-time fingerprints must equal the batch kernel bit-for-bit")
  }

  /** Planted clips: 0/1 same content re-encoded (16 px vs 24 px), 2
    * distinct — the SourcesSpec corpus at the stream head. */
  private def plantedReencodeHashes: Seq[graft.operators.Multimodal.FrameHash] = {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.RawMedia
    def clip(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f =>
        Multimodal.blockFramePng(key, f, size))))
    val clips = Seq(clip(0L, 10L, 16), clip(1L, 10L, 24), clip(2L, 99L, 16))
    Multimodal.demuxFrameHashes(clips.toDS()).collect().toSeq
  }

  test("stream video near-dup: streamed == batch, re-encode matched with popcount verify, bucket cap bites") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal.FrameHash
    val hashDf = plantedReencodeHashes.toDS()
    // batch run of the SAME job code: complete buckets, global order
    val batch = StreamingJobs.videoDupStream(hashDf).collect()
      .map(d => (d.doc_id, d.frame_no, d.dup_of, d.band, d.hamming)).toSet
    // planted expectation: every frame of doc 1 matches its doc-0
    // canonical at popcount-verified Hamming 0; doc 2 matches nothing
    assert(batch.map(t => (t._1, t._2, t._3, t._5)) ==
      (0 until 3).map(f => (1L, f, 0L, 0)).toSet,
      s"re-encoded frames must match their canonicals exactly: $batch")
    val tmp = java.nio.file.Files.createTempDirectory("vdup-in").toString
    hashDf.toDF().write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(hashDf.toDF().schema).parquet(tmp)
      .as[FrameHash]
    val q = StreamingJobs.videoDupStream(src)
      .writeStream.format("memory").queryName("vdup_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from vdup_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSet
    assert(streamed == batch, "ingest-time matches must equal the batch run")
    // bucket cap: with the cap at 1 every bucket admits only its
    // canonical and stops — no matches can be emitted
    val capped = StreamingJobs.videoDupStream(hashDf, bucketCap = 1L).collect()
    assert(capped.isEmpty, s"a cap-1 bucket must never match: ${capped.toSeq}")
  }

  test("stream video near-dup WIDE: streamed == batch, planted re-encode found on all 10 subset keys") {
    // the 5-band agree-2 posting keys: the planted re-encode must be
    // found at hamming 0 on every C(5,2) = 10 subset key, and a stream
    // fed in two micro-batches (canonical first) must equal the batch
    // frame bit-for-bit
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Multimodal.FrameHash
    val hashes = plantedReencodeHashes
    val batch = StreamingJobs.videoDupStream(hashes.toDS()).collect()
      .map(d => (d.doc_id, d.frame_no, d.dup_of, d.band, d.hamming)).toSet
    // identical hashes agree on every band, so all 10 subset keys match
    assert(batch == (for (f <- 0 until 3; b <- 0 until 10)
        yield (1L, f, 0L, b, 0)).toSet,
      s"re-encoded frames must match on all 10 subset keys: $batch")
    val in = MemoryStream[FrameHash](s)
    val q = StreamingJobs.videoDupStream(in.toDS()).writeStream
      .format("memory").queryName("vdupw_out")
      .outputMode("append").start()
    in.addData(hashes.filter(_.doc_id == 0L))
    q.processAllAvailable()
    in.addData(hashes.filter(_.doc_id != 0L))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from vdupw_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSet
    assert(streamed == batch, "wide ingest-time matches must equal the batch run")
  }

  test("stream video near-dup across micro-batches: late lower doc_id re-canonicalizes, attribution is per-arrival") {
    // the documented cross-batch contract (videoDupStream scaladoc):
    // determinism is WITHIN a micro-batch; the canonical is the min doc
    // admitted SO FAR, so a lower doc_id arriving in a LATER batch is
    // matched against the then-canonical (not retro-attributed), and
    // subsequent arrivals match against the NEW canonical
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{FrameHash, RawMedia}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def clip(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f =>
        Multimodal.blockFramePng(key, f, size))))
    // three re-encodes of the SAME content; doc 0 arrives LAST
    val hashes = Multimodal.demuxFrameHashes(
      Seq(clip(0L, 10L, 16), clip(1L, 10L, 24), clip(5L, 10L, 16)).toDS())
      .collect().toSeq
    val in = MemoryStream[FrameHash](s)
    val q = StreamingJobs.videoDupStream(in.toDS()).writeStream
      .format("memory").queryName("vdup2_out")
      .outputMode("append").start()
    in.addData(hashes.filter(h => h.doc_id == 1L || h.doc_id == 5L))
    q.processAllAvailable()
    in.addData(hashes.filter(_.doc_id == 0L)) // the late lower doc
    q.processAllAvailable()
    q.stop()
    val byDoc = s.sql("select * from vdup2_out").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet // (doc_id, dup_of)
    // batch 1: doc 1 is canonical (min of {1,5}); doc 5 attributed to it.
    // batch 2: doc 0 matches the RETAINED canonical 1 (not retracted,
    // not re-attributed) and only then takes over as canonical.
    assert(byDoc == Set((5L, 1L), (0L, 1L)),
      s"cross-batch attribution must follow arrival order: $byDoc")
    // vs the single-batch run, where doc 0 is canonical from the start —
    // the attribution DIFFERENCE is the documented contract, while both
    // runs agree that exactly two of the three re-encodes are flagged
    val single = StreamingJobs.videoDupStream(hashes.toDS()).collect()
      .map(d => (d.doc_id, d.dup_of)).toSet
    assert(single == Set((1L, 0L), (5L, 0L)))
    assert(single.map(_._1).size == byDoc.map(_._1).size)
  }

  test("minhash dedup compaction: snapshot + restart-against-index == uninterrupted stream; state = since-snapshot buckets only") {
    // the compaction path the minhashDedupStream scaladoc promises,
    // end-to-end: history → manifest-committed index, stream restarted
    // against it with a stream-static bucket join; post-snapshot
    // emissions must be identical and the restarted store must hold
    // ONLY buckets the snapshot has never seen (the bounded split)
    val s = spark
    import s.implicits._
    import graft.sources.ManifestTable
    import org.apache.spark.sql.functions.{col, max}
    val docs = Tables.documents(s, sf)
    val split = docs.agg(max("doc_id")).head.getLong(0) / 2
    val full = StreamingJobs.minhashDedupStream(docs).collect()
      .map(d => (d.doc_id, d.dup_of, d.band)).toSet
    val fullTail = full.filter(_._1 >= split)
    assert(fullTail.nonEmpty, "dup-dense corpus: post-split emissions expected")

    val idxDir = java.nio.file.Files.createTempDirectory("mh-snap").toString
    graft.operators.Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") < split), idxDir)
    val index = ManifestTable.read(s, idxDir)
    val tail = docs.filter(col("doc_id") >= split)

    // batch frame first: complete buckets, deterministic order
    val restartedBatch = StreamingJobs
      .minhashDedupStreamAgainstIndex(tail, index).collect()
      .map(d => (d.doc_id, d.dup_of, d.band)).toSet
    assert(restartedBatch == fullTail,
      "restart-against-snapshot must emit exactly the uninterrupted stream's post-split rows")

    // streaming frame: same emissions AND the state-row bound
    val inDir = java.nio.file.Files.createTempDirectory("mh-snap-in").toString
    tail.write.mode("overwrite").parquet(inDir)
    val src = s.readStream.schema(tail.schema).parquet(inDir)
    val q = StreamingJobs.minhashDedupStreamAgainstIndex(src, index)
      .writeStream.format("memory").queryName("mh_compact_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators).map(_.numRowsTotal).sum
    q.stop()
    val streamed = s.sql("select * from mh_compact_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == fullTail)
    val newBuckets = graft.operators.Dedup.minhashBandRows(tail)
      .select("band", "h0", "h1").distinct()
      .join(index, Seq("band", "h0", "h1"), "left_anti").count()
    assert(stateRows == newBuckets,
      s"state must hold ONLY since-snapshot buckets: $stateRows vs $newBuckets")
    // sanity: the bound actually bit — some buckets DID come from history
    val histBuckets = graft.operators.Dedup.minhashBandRows(tail)
      .select("band", "h0", "h1").distinct()
      .join(index, Seq("band", "h0", "h1"), "left_semi").count()
    assert(histBuckets > 0, "split must exercise the history branch")
  }

  test("video dup compaction: snapshot + restart-against-index == uninterrupted stream (wide keys); state = new buckets only") {
    val s = spark
    import s.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.{FrameHash, RawMedia}
    import graft.sources.ManifestTable
    def clip(id: Long, key: Long, size: Int) = RawMedia(id,
      Multimodal.packFrames((0 until 3).map(f =>
        Multimodal.blockFramePng(key, f, size))))
    // re-encode pairs: (0,1) inside history, (2,3) CROSSING the
    // snapshot split, (4,5) entirely post-snapshot; split at doc 3
    val clips = Seq(clip(0L, 10L, 16), clip(1L, 10L, 24), clip(2L, 20L, 16),
      clip(3L, 20L, 24), clip(4L, 30L, 16), clip(5L, 30L, 24))
    val hashes = Multimodal.demuxFrameHashes(clips.toDS()).collect().toSeq
    val full = StreamingJobs.videoDupStream(hashes.toDS())
      .collect().map(d => (d.doc_id, d.frame_no, d.dup_of, d.band, d.hamming)).toSet
    val fullTail = full.filter(_._1 >= 3L)
    // the cross-split pair must be found via the history canonical
    assert(fullTail.exists(t => t._1 == 3L && t._3 == 2L),
      s"planted cross-split re-encode missing from the reference run: $fullTail")

    val hist = hashes.filter(_.doc_id < 3L).toDS()
    val tail = hashes.filter(_.doc_id >= 3L).toDS()
    val idxDir = java.nio.file.Files.createTempDirectory("vf-snap").toString
    Multimodal.writeFrameIndex(hist, idxDir)
    val index = ManifestTable.read(s, idxDir)

    val restartedBatch = StreamingJobs
      .videoDupStreamAgainstIndex(tail, index).collect()
      .map(d => (d.doc_id, d.frame_no, d.dup_of, d.band, d.hamming)).toSet
    assert(restartedBatch == fullTail,
      "restart-against-snapshot must equal the uninterrupted stream's post-split rows")

    val inDir = java.nio.file.Files.createTempDirectory("vf-snap-in").toString
    tail.toDF().write.mode("overwrite").parquet(inDir)
    val src = s.readStream.schema(tail.toDF().schema).parquet(inDir).as[FrameHash]
    val q = StreamingJobs.videoDupStreamAgainstIndex(src, index)
      .writeStream.format("memory").queryName("vf_compact_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators).map(_.numRowsTotal).sum
    q.stop()
    val streamed = s.sql("select * from vf_compact_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4))).toSet
    assert(streamed == fullTail)
    import org.apache.spark.sql.functions.col
    val tailPostings = Multimodal.frameBandPostings(
      tail.toDF("doc_id", "frame_no", "phash")).select("band", "bv").distinct()
    val newBuckets = tailPostings.join(index, Seq("band", "bv"), "left_anti").count()
    val histBuckets = tailPostings.join(index, Seq("band", "bv"), "left_semi").count()
    assert(stateRows == newBuckets,
      s"state must hold ONLY since-snapshot buckets: $stateRows vs $newBuckets")
    assert(histBuckets > 0, "the cross-split pair must ride history buckets")
  }

  test("stream shard assign: routed shards equal the batch permutation's assignment") {
    val s = spark
    import s.implicits._
    val batch = graft.operators.Pipelines.shuffleShard(s, sf)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

    val docs = Tables.documents(s, sf).select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("shard-in").toString
    docs.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(docs.schema).parquet(tmp)
    val q = StreamingJobs.shardAssignStream(src)
      .select("doc_id", "shard")
      .writeStream.format("memory").queryName("shard_out")
      .outputMode("append") // stateless projection: append-legal
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select doc_id, shard from shard_out").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed == batch,
      "ingest-time shard routing must equal the batch permutation")
    assert(streamed.map(_._2).size > 1, "routing must use multiple shards")
  }

  test("composed streaming curate head: gate -> quota -> mixture -> shard, streamed == batch") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Tables.documents(s, sf).select("doc_id", "source", "text")
      .orderBy("doc_id").collect().zipWithIndex
      .map { case (r, i) =>
        StreamingJobs.CurateIn(r.getString(1), i.toLong, r.getLong(0),
          r.getString(2))
      }.toSeq
    val cap = 10
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))
    val batch = StreamingJobs.curateStream(s.createDataset(rows), cap)
      .collect().map(key).toSet

    // each stage must be ACTIVE on this corpus, or the composition
    // proves nothing: gate drops, quota caps, mixture thins
    val gated = s.createDataset(rows)
      .filter(graft.operators.TextAnalysis.qualityKeep)
      .map(d => StreamingJobs.CapDoc(d.source, d.seq, d.doc_id))
    val nGated = gated.count()
    assert(nGated < rows.size, "quality gate dropped nothing")
    val nAdmitted = StreamingJobs.capPerSourceStream(gated, cap).count()
    assert(nAdmitted < nGated, "quota admitted everything")
    assert(batch.nonEmpty && batch.size < nAdmitted, "mixture thinned nothing")
    assert(batch.groupBy(_._2).forall(_._2.size <= cap))
    assert(batch.map(_._4).forall(sh => sh >= 0 && sh < 8))

    val in = MemoryStream[StreamingJobs.CurateIn](s)
    val q = StreamingJobs.curateStream(in.toDS(), cap)
      .writeStream.format("memory").queryName("curate_head_out")
      .outputMode("append")
      .start()
    // arrival-ordered chunks: the quota's contract is arrival order
    rows.grouped(rows.size / 4 + 1).foreach { c =>
      in.addData(c); q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql(
        "select doc_id, source, admit_rank, shard from curate_head_out")
      .collect().map(key).toSet
    assert(streamed == batch,
      "composed ingest head must select exactly the batch chain's rows")
  }

  test("streaming mg_topk: streamed == batch, MG guarantee holds, state bounded") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingJobs.{MgSnap, MgTok}
    val k = 8
    val nShards = 4
    val toks = Tables.documents(s, sf).orderBy("doc_id").select("text")
      .as[String].collect()
      .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
    val data = toks.zipWithIndex.map { case (t, i) =>
      MgTok(math.floorMod(t.hashCode, nShards), i.toLong, t)
    }

    val batchSnap = StreamingJobs.mgTopkStream(s.createDataset(data.toSeq), k)
      .collect().map(m => (m.shard, m.token, m.min_count, m.n_seen)).toSet

    val in = MemoryStream[MgTok](s)
    val q = StreamingJobs.mgTopkStream(in.toDS(), k).writeStream
      .format("memory").queryName("mg_stream_out")
      .outputMode("update").start()
    // contiguous seq ranges per micro-batch: the incremental fold over
    // sorted chunks equals the batch twin's one sorted fold
    data.grouped(data.length / 5 + 1).foreach { chunk =>
      in.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val all = s.sql("select * from mg_stream_out").as[MgSnap].collect()
    // final snapshot per shard = that shard's max-n_seen emission
    // (n strictly increases per emission, so no ties)
    val finalSnap = all.groupBy(_.shard).toSeq.flatMap { case (_, rs) =>
      val nMax = rs.map(_.n_seen).max
      rs.filter(_.n_seen == nMax).toSeq
    }.map(m => (m.shard, m.token, m.min_count, m.n_seen)).toSet
    assert(finalSnap == batchSnap)
    assert(finalSnap.nonEmpty)

    // state bounded: <= k counters per shard
    finalSnap.groupBy(_._1).values.foreach(rs => assert(rs.size <= k))

    // the MG guarantee per shard vs exact counts: every token with
    // count > n/(k+1) present; every reported count within n/(k+1)
    data.groupBy(_.shard).foreach { case (shard, ts) =>
      val n = ts.length.toLong
      val err = n / (k + 1)
      val exact = ts.groupBy(_.tok).map { case (t, xs) => t -> xs.length.toLong }
      val snap = finalSnap.filter(_._1 == shard)
        .map(x => x._2 -> x._3).toMap
      exact.foreach { case (t, c) =>
        if (c > err)
          assert(snap.contains(t),
            s"heavy hitter '$t' (count $c > err $err) missing from shard $shard")
        snap.get(t).foreach(rc => assert(rc <= c && rc >= c - err))
      }
      snap.foreach { case (t, rc) => assert(rc <= exact.getOrElse(t, 0L)) }
    }
  }

  test("streaming cms: streamed == batch == Catalyst aggregate, estimates >= exact") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.CmsCore
    import graft.streaming.StreamingJobs.{CmsCell, CmsTok}
    val (depth, width, nShards) = (3, 16, 4)
    val toks = Tables.documents(s, sf).orderBy("doc_id").select("text")
      .as[String].collect()
      .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val probes = exact.keys.toSeq.sorted.take(6) :+ "absent_probe_token"
    val data = toks.map(t => CmsTok(math.floorMod(t.hashCode, nShards), t))

    def globalEst(cells: Seq[CmsCell]): Map[String, Long] =
      // sum matrices across shards FIRST, then min over depth rows
      cells.groupBy(c => (c.token, c.i)).map { case ((t, i), cs) => (t, i) -> cs.map(_.cell).sum }
        .groupBy(_._1._1).map { case (t, m) => t -> m.values.min }

    val batchCells = StreamingJobs
      .cmsStream(s.createDataset(data.toSeq), depth, width, probes).collect().toSeq

    val in = MemoryStream[CmsTok](s)
    val q = StreamingJobs.cmsStream(in.toDS(), depth, width, probes).writeStream
      .format("memory").queryName("cms_stream_out")
      .outputMode("update").start()
    data.grouped(data.length / 5 + 1).foreach { chunk =>
      in.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val all = s.sql("select * from cms_stream_out").as[CmsCell].collect()
    val finalCells = all.groupBy(_.shard).toSeq.flatMap { case (_, rs) =>
      val nMax = rs.map(_.n_seen).max
      rs.filter(_.n_seen == nMax).toSeq
    }

    // streamed final snapshot == the batch twin, cell for cell
    assert(finalCells.map(c => (c.shard, c.token, c.i, c.cell)).toSet ==
      batchCells.map(c => (c.shard, c.token, c.i, c.cell)).toSet)

    // == the Catalyst aggregate's matrix probed at the same buckets
    val mat = s.createDataset(toks.toSeq).toDF("tok")
      .agg(graft.functions.FreqSketch.cmsMatrix(col("tok"), depth, width).as("m"))
      .head.getSeq[scala.collection.Seq[Long]](0).map(_.toSeq)
    val est = globalEst(finalCells.toSeq)
    probes.foreach { p =>
      val h = CmsCore.baseMod(p)
      val aggEst = (0 until depth).map(i => mat(i)(CmsCore.bucket(i, h, width))).min
      assert(est(p) == aggEst, s"probe '$p': streamed $est vs aggregate $aggEst")
      assert(est(p) >= exact.getOrElse(p, 0L), s"probe '$p' underestimated")
    }
  }

  test("streaming source quota: streamed == batch == first-cap prefix per source") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingJobs.{CapDoc, CapKept}
    val cap = 7
    val docs = Tables.documents(s, sf).orderBy("doc_id")
      .select("doc_id", "source").as[(Long, String)].collect()
    val data = docs.zipWithIndex.map { case ((id, src), i) =>
      CapDoc(src, i.toLong, id)
    }
    val expect = data.groupBy(_.source).toSeq.flatMap { case (src, ds) =>
      ds.sortBy(_.seq).take(cap).zipWithIndex
        .map { case (d, i) => CapKept(d.doc_id, src, i + 1L) }.toSeq
    }.toSet

    val batch = StreamingJobs.capPerSourceStream(s.createDataset(data.toSeq), cap)
      .collect().toSet
    assert(batch == expect)

    val in = MemoryStream[CapDoc](s)
    val q = StreamingJobs.capPerSourceStream(in.toDS(), cap).writeStream
      .format("memory").queryName("cap_stream_out")
      .outputMode("append").start()
    data.grouped(data.length / 5 + 1).foreach { chunk =>
      in.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
    q.stop()
    val streamed = s.sql("select * from cap_stream_out").as[CapKept].collect().toSet
    assert(streamed == expect,
      s"streamed ${streamed.size} vs expected ${expect.size}")
    // state = one counter row per source, not per document
    val nSources = data.map(_.source).distinct.length
    assert(stateRows == nSources.toLong,
      s"state rows $stateRows != sources $nSources")
  }

  test("restart from checkpoint: replayed input is not duplicated, new input is not lost") {
    // The Spark equivalence of the reference coordinator's
    // failure-retry loop (mr/src/coordinator.rs:108-135 re-issues
    // Failed tasks): a sink + checkpoint must survive a stop/restart
    // with the already-processed input still present (it WILL be
    // re-listed by the file source) without emitting it twice, and
    // must pick up input that arrived while the query was down.
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("stream-recover").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val schema = s.read.parquet(in).schema

    // first incarnation: processes file 1, commits it to the checkpoint
    val q1 = graft.streaming.StreamSinks.parquetAppend(
      s.readStream.schema(schema).parquet(in), out, ckpt)
    q1.awaitTermination()
    assert(s.read.parquet(out).count() == 100)

    // "crash" window: the query is gone; more data arrives
    (100L until 150L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)

    // second incarnation, SAME checkpoint: file 1 is re-listed by the
    // source but must be skipped; only file 2 may be emitted
    val q2 = graft.streaming.StreamSinks.parquetAppend(
      s.readStream.schema(schema).parquet(in), out, ckpt)
    q2.awaitTermination()

    val back = s.read.parquet(out)
    assert(back.count() == 150, "replay duplicated or dropped rows")
    assert(back.select("id").distinct().count() == 150)
    val ids = back.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 150L).toSeq)
  }

  test("streaming -> parquet -> batch round-trip preserves the data") {
    val s = spark
    val base = java.nio.file.Files.createTempDirectory("stream-rt").toString
    val batch = Tables.events(s, sf).select("ts", "user_id", "event_type", "value")
    batch.write.mode("overwrite").parquet(s"$base/in")

    val src = s.readStream.schema(batch.schema).parquet(s"$base/in")
    val q = graft.streaming.StreamSinks
      .parquetAppend(src, s"$base/out", s"$base/ckpt")
    q.processAllAvailable()
    q.stop()

    val back = s.read.parquet(s"$base/out")
    assert(back.count() == batch.count())
    assert(back.schema.fieldNames.sorted.sameElements(batch.schema.fieldNames.sorted))
    val sums = (df: org.apache.spark.sql.DataFrame) =>
      df.agg(sum(col("user_id")), sum(col("value"))).collect()(0)
    assert(sums(back).toString == sums(batch).toString)
  }
}

/** The ENTIRE streaming suite re-run under the RocksDB state store
  * provider — the backend a 100-TB ingest runs once aggregate state
  * outgrows the executor heap. §18 claims the provider swap is safe
  * BECAUSE every job's state is bounded and asserted; this subclass
  * turns that claim into a measurement across all 20 jobs' contracts
  * (not just the single minhash case above): every streamed==batch
  * equality, state bound, timeout emission, and checkpoint-restart
  * test must hold bit-for-bit under RocksDB. Stateless jobs ride
  * along at negligible cost — the point is that NO contract in this
  * file is provider-dependent. */
class RocksDbStreamingSpec extends StreamingSpec {
  private val Key = "spark.sql.streaming.stateStore.providerClass"
  private val Rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val old = spark.conf.getOption(Key)
    spark.conf.set(Key, Rocks)
    try super.withFixture(test)
    finally old match {
      case Some(v) => spark.conf.set(Key, v)
      case None    => spark.conf.unset(Key)
    }
  }
}
