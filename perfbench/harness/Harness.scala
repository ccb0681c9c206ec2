package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{CacheHygiene, GraftSession, SparkEntry, Tables}
import graft.operators.{Events, MrCore, Pipelines}
import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{CdcEv, CurateIn}

/** JVM side of the benchmark: one workload, one seed, one process.
  *
  * Usage (normally started by perfbench/run.py):
  * {{{
  * perfbench.Harness --workload W --ops a,b,c --data DIR
  *   --seconds S --trace 0|1 --seed N --cores C --setup-reps R --out DIR
  * }}}
  *
  * Phases: set-up (session build and the workload's preparation), an
  * untimed check pass that runs every operation once (dumping batch
  * outputs for the oracle compare and checking each stream head against
  * its batch twin), set-up again until it has run R times, an untimed
  * warm-up pass, then the timed closed loop: one driver thread, each pass
  * runs every operation once in a seed-permuted order. With `--trace 1`
  * every second pass runs under [[Tracer]]. Writes `result.json` (and
  * `trace.jsonl`) into `--out`. */
object Harness {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
  val LayoutOp = "graph_layout_build"
  val LayoutReader = "graph_bfs"

  final case class Conf(workload: String, ops: Seq[String], data: String,
      seconds: Double, trace: Boolean, seed: Long, cores: Int,
      setupReps: Int, out: String)

  final case class Sample(pass: Int, op: String, seconds: Double, ok: Boolean,
      batchMs: Seq[Double], rows: Long, traced: Boolean)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(kv("workload"), kv("ops").split(",").toSeq, kv("data"),
      kv("seconds").toDouble, kv("trace") == "1", kv("seed").toLong,
      kv("cores").toInt, kv("setup-reps").toInt, kv("out"))
    Files.createDirectories(Paths.get(c.out, "tmp"))
    sys.props("spark.sql.files.maxPartitionBytes") = "16m"
    sys.props("spark.ui.enabled") = "false"
    sys.props("spark.local.dir") = s"${c.out}/tmp"
    sys.props("spark.sql.warehouse.dir") = s"${c.out}/warehouse"
    val result = mutable.LinkedHashMap[String, Any]("workload" -> c.workload,
      "seed" -> c.seed, "cores" -> c.cores, "ops" -> c.ops)

    // Set-up (session start and the workload's preparation) runs
    // setupReps times; the first rep is the cold one. Between rep 1 and
    // rep 2 every operation runs once untimed: the check pass.
    var spark: SparkSession = null
    var w: Workload = null
    var feeds: Feeds = null
    def setup(): Double = {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build(cores = c.cores, appName = "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      val built = secs(t0)
      // the stream feeds are the benchmark's input, not graft's set-up
      if (feeds == null && c.ops.exists(_.startsWith("stream_")))
        feeds = Feeds.collect(spark, c.data, c.seed)
      val t1 = System.nanoTime()
      w = new Workload(spark, c, feeds)
      w.prepare()
      built + secs(t1)
    }
    val setupS = mutable.ArrayBuffer(setup())
    val checkS = mutable.LinkedHashMap[String, Double]()
    result("checks") = w.passOrder(0).map { op =>
      val t0 = System.nanoTime()
      val chk = w.check(op, s"${c.out}/dump")
      checkS(op) = secs(t0)
      op -> chk
    }.toMap
    result("check_s") = checkS
    while (setupS.size < c.setupReps) setupS += setup()
    result("setup_s") = setupS
    // The check pass is each operation's first run and its second run is
    // still JIT-bound (often 1.3-2x a steady one), so one more untimed
    // pass comes before timing.
    val w0 = System.nanoTime()
    w.passOrder(-1).foreach { op =>
      try w.run(op, s"$op#warm", None)
      catch { case e: Exception => log(s"warm-up of $op failed: ${e.getMessage}") }
      isolate(spark, s"$op#warm", None, gc = false)
    }
    result("warm_s") = secs(w0)

    val samples = mutable.ArrayBuffer[Sample]()
    // With --trace 1 the passes alternate untraced / traced, so the
    // tracing overhead compares neighbouring passes.
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    def traced(p: Int): Option[Tracer] = tracer.filter(_ => p % 2 == 1)
    // at least two passes; another starts only if, at the mean pass time
    // so far, it ends within the measured window
    val minPasses = 2
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || secs(start) * (pass + 1) / pass <= c.seconds) {
      val tr = traced(pass)
      tr.foreach(_.install())
      w.passOrder(pass).foreach { op =>
        val key = s"$op#$pass"
        spark.sparkContext.setLocalProperty(OpProp, key)
        tr.foreach(_.beginOp(key))
        val s0 = System.nanoTime()
        val (ok, batches, rows) =
          try {
            val (b, r) = span(tr, op, "op", key)(w.run(op, key, tr))
            (true, b, r)
          } catch { case e: Exception =>
            log(s"$op failed in pass $pass: ${e.getMessage}")
            (false, Seq.empty[Double], 0L)
          }
        val dt = secs(s0)
        isolate(spark, key, tr)
        tr.foreach(_.endOp(key))
        spark.sparkContext.setLocalProperty(OpProp, null)
        samples += Sample(pass, op, dt, ok, batches, rows, tr.isDefined)
      }
      tr.foreach(_.uninstall())
      pass += 1
    }
    result("passes") = pass
    tracer.foreach(_.write(s"${c.out}/trace.jsonl"))
    result("peak_rss_mb") = vmHwmMb()
    result("samples") = samples.map(s => Map("pass" -> s.pass, "op" -> s.op,
      "seconds" -> s.seconds, "ok" -> s.ok, "batch_ms" -> s.batchMs,
      "rows" -> s.rows, "traced" -> s.traced))

    result("oracle_sql") = SparkEntry.oracleSql
      .filter { case (k, _) => c.ops.contains(k) || k == LayoutReader }
    Files.writeString(Paths.get(c.out, "result.json"), Json(result))
    // everything is written; skip the multi-second SparkContext shutdown
    Runtime.getRuntime.halt(0)
  }

  def span[T](tr: Option[Tracer], name: String, kind: String, op: String)(f: => T): T =
    tr match {
      case Some(t) => t.span(name, kind, op)(f)
      case None => f
    }

  /** Releases everything the previous operation cached, as graft.Bench
    * does between timed runs, so operations do not bill each other; a
    * timed operation also starts on a collected heap. */
  def isolate(spark: SparkSession, key: String, tr: Option[Tracer],
      gc: Boolean = true): Unit = {
    span(tr, "isolate", "isolate", key)(CacheHygiene.sweep(spark, blocking = true))
    if (gc) System.gc()
  }

  private def vmHwmMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) {
      _.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(-1.0)
    }

  /** Counts rows read from data sources while installed. */
  private final class InputRows extends SparkListener {
    val rows = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
  }

  /** The operations of one workload in one session. */
  final class Workload(spark: SparkSession, c: Conf, feeds: Feeds) {
    private val dir = c.data
    private lazy val streams = new Streams(spark, feeds)

    def prepare(): Unit = {
      // the graph queries read the co-order layout; every pass rebuilds
      // it first (see passOrder), as graft.Bench does once per run
      if (c.ops.contains(LayoutOp)) spark.conf.set("spark.graft.coOrderLayout", "true")
      if (c.ops.exists(_.startsWith("stream_"))) streams.heads.size
    }

    /** The seed-permuted order of pass `p`; the layout build goes first. */
    def passOrder(p: Int): Seq[String] = {
      val (layout, rest) = c.ops.partition(_ == LayoutOp)
      layout ++ new scala.util.Random(c.seed * 7919 + p).shuffle(rest)
    }

    /** Runs one operation; returns its micro-batch latencies (ms) and the
      * rows it was fed (stream heads only). */
    def run(op: String, key: String, tr: Option[Tracer]): (Seq[Double], Long) = op match {
      case LayoutOp =>
        span(tr, "execute", "execute", key)(MrCore.buildCoOrderLayout(spark, dir))
        (Nil, 0L)
      case s if s.startsWith("stream_") =>
        val h = streams.heads(s)
        (h.drive("noop", key, tr), h.rows.toLong)
      case q =>
        val df = span(tr, "build", "build", key)(SparkEntry.queries(q)(spark, dir))
        span(tr, "execute", "execute", key)(
          df.write.format("noop").mode("overwrite").save())
        (Nil, 0L)
    }

    /** Untimed output check of one operation. The layout build has no
      * oracle of its own: it is checked through graph_bfs, which reads the
      * layout it just built. */
    def check(op: String, dumpDir: String): Map[String, Any] =
      try op match {
        case LayoutOp =>
          MrCore.buildCoOrderLayout(spark, dir)
          dump(LayoutReader, s"$dumpDir/$op")
        case s if s.startsWith("stream_") =>
          val (ok, detail) = streams.heads(s).check()
          Map("kind" -> "twin", "ok" -> ok, "detail" -> detail)
        case q => dump(q, s"$dumpDir/$q")
      } catch { case e: Exception =>
        Map("kind" -> "error", "ok" -> false, "detail" -> String.valueOf(e.getMessage))
      } finally isolate(spark, s"$op#check", None, gc = false)

    /** Writes query `q`'s output for the oracle compare, counting the rows
      * it reads from the tables. */
    private def dump(q: String, path: String): Map[String, Any] = {
      val counter = new InputRows
      spark.sparkContext.addSparkListener(counter)
      try {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(path)
        CacheHygiene.drainActiveJobs(spark)
        Thread.sleep(100) // task-end events reach the listener asynchronously
      } finally spark.sparkContext.removeSparkListener(counter)
      Map("kind" -> "oracle", "ok" -> true, "oracle" -> q, "dump" -> path,
        "in_rows" -> counter.rows.get)
    }
  }

  /** One stream head: its feed split into fixed-size triggers, the job,
    * and its check against the batch twin. */
  abstract class Head[T](val name: String, val chunks: Seq[Seq[T]],
      spark: SparkSession, tmp: Path)(implicit enc: Encoder[T]) {
    def job(in: Dataset[T]): DataFrame
    /** Some(problem) when the streamed rows disagree with the batch twin. */
    def verify(streamed: Array[Row]): Option[String]

    val rows: Int = chunks.map(_.size).sum
    def all: Seq[T] = chunks.flatten

    def drive(sink: String, key: String, tr: Option[Tracer]): Seq[Double] = {
      val in = MemoryStream[T](spark)
      val ckpt = Files.createTempDirectory(tmp, "ckpt")
      val q = span(tr, "build", "build", key)(job(in.toDS())).writeStream.format(sink)
        .queryName(key.replaceAll("[^A-Za-z0-9_]", "_"))
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try chunks.map { ch =>
        val t0 = System.nanoTime()
        span(tr, "batch", "batch", key) {
          in.addData(ch)
          q.processAllAvailable()
        }
        (System.nanoTime() - t0) / 1e6
      } finally {
        q.stop()
        rmTree(ckpt)
      }
    }

    def check(): (Boolean, String) = {
      val table = s"check_$name"
      drive("memory", table, None)
      val streamed = spark.table(table).collect()
      verify(streamed) match {
        case None => (true, s"${streamed.length} streamed rows agree with the batch twin")
        case Some(p) => (false, p)
      }
    }
  }

  private def rmTree(p: Path): Unit =
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  private def setDiff[A](streamed: Iterable[A], batch: Iterable[A]): Option[String] = {
    val (s, b) = (streamed.toSet, batch.toSet)
    if (s == b && streamed.size == batch.size) None
    else Some(s"streamed ${streamed.size} rows, batch twin ${batch.size}; " +
      s"${(s -- b).size} only streamed, ${(b -- s).size} only batch")
  }

  /** The stream heads' inputs: seed-chosen slices of the time-ordered
    * events and id-ordered documents, split into fixed-size triggers, and
    * the static eval-set 5-grams of the decontamination head. */
  final case class Feeds(cdc: Seq[Seq[CdcEv]],
      minhash: Seq[Seq[(Long, String)]], decon: Seq[Seq[(Long, String)]],
      curate: Seq[Seq[CurateIn]], evalRows: Seq[Row],
      evalSchema: org.apache.spark.sql.types.StructType)

  object Feeds {
    val Triggers = 2

    def collect(spark: SparkSession, dir: String, seed: Long): Feeds = {
      import spark.implicits._
      val rng = new scala.util.Random(seed)
      val nEvents = Tables.events(spark, dir).count()
      val nDocs = Tables.documents(spark, dir).count()
      // `n` consecutive rows from a seed-chosen offset (the generated ids
      // are dense and, for events, in time order)
      def offset(total: Long, n: Int): Long =
        (rng.nextDouble() * math.max(1L, total - n + 1)).toLong

      def docs(size: Int): Seq[Seq[(Long, String, String)]] = {
        val off = offset(nDocs, size * Triggers)
        Tables.documents(spark, dir)
          .filter(col("doc_id") >= off && col("doc_id") < off + size * Triggers)
          .select(col("doc_id"), col("source"), col("text"))
          .orderBy(col("doc_id")).as[(Long, String, String)].collect().toSeq
          .grouped(size).toSeq
      }
      // triggers are cut only between distinct timestamps, so trigger k
      // holds exactly the events in [cut(k), cut(k+1))
      def events(size: Int): Seq[Seq[CdcEv]] = {
        val off = offset(nEvents, size * Triggers)
        val flat = Tables.events(spark, dir)
          .filter(col("event_id") >= off && col("event_id") < off + size * Triggers)
          .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("us"))
          .orderBy(col("us"), col("event_id")).as[CdcEv].collect().toIndexedSeq
        val cuts = (1 until Triggers).map { k =>
          var i = k * size
          while (i < flat.size && flat(i).us == flat(i - 1).us) i += 1
          i
        }
        (0 +: cuts :+ flat.size).sliding(2).map { case Seq(a, b) => flat.slice(a, b) }.toSeq
      }

      var seq = 0L
      val evalNgrams = Pipelines.fivegrams(Tables.documents(spark, dir)
          .filter(col("doc_id") < 200).select("doc_id", "text"))
        .select(col("s").as("es"), col("doc_id").as("eval_doc")).distinct()
      Feeds(
        cdc = events(1000),
        minhash = docs(150).map(_.map(d => (d._1, d._3))),
        decon = docs(150).map(_.map(d => (d._1, d._3))),
        curate = docs(2500).map(_.map { case (id, src, txt) =>
          seq += 1
          CurateIn(src, seq, id, txt)
        }),
        evalRows = evalNgrams.collect().toSeq,
        evalSchema = evalNgrams.schema)
    }
  }

  /** The streaming workload's heads over one session. */
  final class Streams(spark: SparkSession, f: Feeds) {
    import spark.implicits._
    private val tmp = Files.createDirectories(
      Paths.get(spark.conf.get("spark.local.dir", "/tmp"), "streams"))

    lazy val heads: Map[String, Head[_]] = {
      def evalFrame: DataFrame = spark.createDataFrame(f.evalRows.asJava, f.evalSchema)

      Seq[Head[_]](
        new Head[(Long, String)]("stream_minhash_dedup", f.minhash, spark, tmp) {
          def job(in: Dataset[(Long, String)]): DataFrame =
            StreamingJobs.minhashDedupStream(in.toDF("doc_id", "text")).toDF()
          def verify(streamed: Array[Row]): Option[String] = {
            def key(r: Row) = (r.getLong(0), r.getLong(1), r.getInt(2))
            setDiff(streamed.map(key),
              job(spark.createDataset(all)).collect().map(key))
          }
        },
        new Head[CdcEv]("stream_cdc", f.cdc, spark, tmp) {
          def job(in: Dataset[CdcEv]): DataFrame = StreamingJobs.cdcStream(in).toDF()
          def verify(streamed: Array[Row]): Option[String] = {
            def key(r: Row) = (r.getAs[Long]("user_id"), r.getAs[String]("change"),
              Option(r.getAs[Any]("old_event_id")), r.getAs[Long]("new_event_id"),
              Option(r.getAs[Any]("old_type")), r.getAs[String]("new_type"))
            val ev = spark.createDataset(all).toDF()
            val bounds = chunks.map(_.head.us) :+ (all.last.us + 1)
            val batch = bounds.sliding(2).flatMap { case Seq(t1, t2) =>
              Events.asOfDiff(ev, t1, t2).collect().map(key)
            }.toSeq
            setDiff(streamed.map(key), batch)
          }
        },
        new Head[(Long, String)]("stream_decontaminate", f.decon, spark, tmp) {
          def job(in: Dataset[(Long, String)]): DataFrame =
            StreamingJobs.decontaminateStream(in.toDF("doc_id", "text"), evalFrame)
          def verify(streamed: Array[Row]): Option[String] = {
            def key(r: Row) = (r.getLong(0), r.getString(1), r.getLong(2))
            setDiff(streamed.map(key), job(spark.createDataset(all)).collect().map(key))
          }
        },
        new Head[CurateIn]("stream_curate_amortized", f.curate, spark, tmp) {
          def job(in: Dataset[CurateIn]): DataFrame = StreamingJobs.curateStream(in, 200)
          def verify(streamed: Array[Row]): Option[String] = {
            def key(r: Row) = (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
              r.getAs[Long]("admit_rank"), r.getAs[Int]("shard"))
            setDiff(streamed.map(key), job(spark.createDataset(all)).collect().map(key))
              .orElse(if (streamed.isEmpty) Some("no admitted rows") else None)
          }
        }
      ).map(h => h.name -> h).toMap
    }
  }
}
