package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Spans come from the harness's own calls
  * into graft; under them the Spark listeners record jobs, stages (task
  * metrics summed per stage), planning phases with the SQL metrics of each
  * executed plan, streaming progress and block-manager occupancy. Every
  * record is kept in memory and written as JSON lines by [[write]].
  *
  * Jobs and stages carry the operation and span that submitted them through
  * Spark local properties, so attribution does not depend on event timing.
  * Plan and progress records are attributed to the operation current at
  * delivery; [[endOp]] after each operation makes that exact. */
final class Tracer(spark: SparkSession) {
  import Harness.{OpProp, SpanProp}

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val records = mutable.ArrayBuffer[String]()
  private def emit(rec: Map[String, Any]): Unit =
    records.synchronized { records += Json(rec) }

  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var currentOp = ""
  private def touch(): Unit = lastEventNs = System.nanoTime()

  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(0)
  private var stack: List[Int] = Nil
  @volatile private var openSpan = 0

  /** Runs `f` inside a span; spans opened inside it become its children. */
  def span[T](name: String, kind: String, op: String)(f: => T): T = {
    val id = nextSpan.incrementAndGet()
    val parent = stack.headOption.getOrElse(0)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    stack = id :: stack
    openSpan = id
    val t0 = nowMs
    try f
    finally {
      val t1 = nowMs
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prev)
      emit(Map("t" -> "span", "id" -> id, "parent" -> parent, "name" -> name,
        "kind" -> kind, "op" -> op, "start" -> t0, "end" -> t1))
    }
  }

  def beginOp(op: String): Unit = {
    currentOp = op
    blocks.synchronized { blockPeak = blockTotal }
  }

  /** Waits until the listener buses have delivered this operation's
    * events (no active job and 80 ms without an event, at most 3 s), then
    * closes the operation's block-manager peak. */
  def endOp(op: String): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    val tracker = spark.sparkContext.statusTracker
    while (System.nanoTime() < deadline &&
        (tracker.getActiveJobIds().nonEmpty ||
          System.nanoTime() - lastEventNs < 80000000L))
      Thread.sleep(10)
    val peak = blocks.synchronized { blockPeak }
    emit(Map("t" -> "blocks", "op" -> op, "peak_bytes" -> peak))
    currentOp = ""
  }

  private final class StageAcc {
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, inRec, inBytes, swBytes, swRec, swNs = 0L
    var srRec, srBytes, fetchWaitMs, memSpill, diskSpill, peakMem = 0L
    val durations = mutable.ArrayBuffer[Long]()
  }
  private val jobInfo = TrieMap[Int, (String, String, Long)]()
  private val stageJob = TrieMap[Int, (String, Int)]()
  private val stages = TrieMap[(Int, Int), StageAcc]()
  private val blocks = mutable.Map[String, Long]()
  private var blockTotal, blockPeak = 0L

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      val op = prop(e.properties, OpProp)
      jobInfo(e.jobId) = (op, prop(e.properties, SpanProp), e.time)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, (op, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      jobInfo.remove(e.jobId).foreach { case (op, sp, t0) =>
        emit(Map("t" -> "job", "job" -> e.jobId, "op" -> op, "span" -> sp,
          "start" -> t0.toDouble, "end" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = touch()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        a.durations += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inRec += m.inputMetrics.recordsRead
          a.inBytes += m.inputMetrics.bytesRead
          a.swBytes += m.shuffleWriteMetrics.bytesWritten
          a.swRec += m.shuffleWriteMetrics.recordsWritten
          a.swNs += m.shuffleWriteMetrics.writeTime
          a.srRec += m.shuffleReadMetrics.recordsRead
          a.srBytes += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.memSpill += m.memoryBytesSpilled
          a.diskSpill += m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val si = e.stageInfo
      val a = stages.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAcc)
      val (op, job) = stageJob.getOrElse(si.stageId, ("", -1))
      val d = a.durations.sorted
      val skew =
        if (d.size < 2) 1.0
        else d.last.toDouble / math.max(1.0, d((d.size - 1) / 2).toDouble)
      emit(Map("t" -> "stage", "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "op" -> op, "job" -> job, "num_tasks" -> si.numTasks,
        "start" -> si.submissionTime.map(_.toDouble),
        "end" -> si.completionTime.map(_.toDouble),
        "tasks" -> a.tasks, "failed" -> a.failed, "skew" -> skew,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "in_rec" -> a.inRec, "in_bytes" -> a.inBytes, "sw_bytes" -> a.swBytes,
        "sw_rec" -> a.swRec, "sw_ns" -> a.swNs, "sr_rec" -> a.srRec,
        "sr_bytes" -> a.srBytes, "fetch_wait_ms" -> a.fetchWaitMs,
        "mem_spill" -> a.memSpill, "disk_spill" -> a.diskSpill,
        "peak_mem" -> a.peakMem))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      touch()
      val info = e.blockUpdatedInfo
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blocks.synchronized {
        blockTotal += size - blocks.getOrElse(id, 0L)
        if (size == 0L) blocks.remove(id) else blocks(id) = size
        blockPeak = math.max(blockPeak, blockTotal)
      }
    }
  }

  private def planNodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(planNodes)
  }

  /** SQL metrics of an executed plan summed per (operator, metric); timing
    * metrics in seconds, the rest as counted. */
  private def planMetrics(p: SparkPlan): Map[String, Double] = {
    val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
    planNodes(p).foreach { n =>
      n.metrics.foreach { case (k, m) =>
        val v = m.metricType match {
          case "timing" => m.value / 1e3
          case "nsTiming" => m.value / 1e9
          case _ => m.value.toDouble
        }
        sums(s"${n.getClass.getSimpleName}.$k") += v
      }
    }
    sums.toMap
  }

  private def recordQe(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    touch()
    val phases = qe.tracker.phases.map { case (k, ps) =>
      k -> Seq(ps.startTimeMs.toDouble, ps.endTimeMs.toDouble)
    }
    val metrics =
      try planMetrics(qe.executedPlan)
      catch { case _: Exception => Map.empty[String, Double] }
    emit(Map("t" -> "qe", "op" -> currentOp, "func" -> func, "ok" -> ok,
      "phases" -> phases, "metrics" -> metrics))
    // planning phases as spans under the span open when they ran
    qe.tracker.phases.foreach { case (k, ps) =>
      emit(Map("t" -> "span", "id" -> nextSpan.incrementAndGet(), "parent" -> openSpan,
        "name" -> k, "kind" -> "plan", "op" -> currentOp,
        "start" -> ps.startTimeMs.toDouble, "end" -> ps.endTimeMs.toDouble))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(func, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      val st = p.stateOperators.toSeq
      emit(Map("t" -> "progress", "op" -> currentOp, "name" -> p.name,
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_bytes" -> st.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def write(path: String): Unit = records.synchronized {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      records.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}
