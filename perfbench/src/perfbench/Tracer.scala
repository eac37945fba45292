package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-level instrumentation for the traced run.
  *
  * Every op phase runs under a job tag (`SparkContext.addJobTag`), and
  * jobs, stages, tasks and SQL executions are attributed by the tag they
  * carry, never by diffing counters around a call: the listener bus is
  * asynchronous, so a snapshot diff charges late events to whichever op
  * happens to run next. Three listeners feed one accumulator per tag:
  *   - a `SparkListener` for jobs, stages, tasks, SQL-execution tags and
  *     cached-block sizes;
  *   - a `QueryExecutionListener` for the planning-tracker phases;
  *   - a `StreamingQueryListener` for micro-batch progress. A streaming
  *     query is charged to the op that started it (`onQueryStarted` runs
  *     synchronously inside `DataStreamWriter.start()`).
  * `attach`/`detach` add and remove all three, so untraced requests run
  * with no listener at all and the tracing overhead can be measured. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext

  /** Counters of one tag. Updated only on the listener-bus thread and read
    * after `drain()`, so plain fields are enough. */
  final class Acc {
    var jobs, stages, tasks, scanTasks = 0L
    var runMs, cpuNs, gcMs, delayMs = 0L
    var bytesRead, recordsRead, shuffleWrite, shuffleRead, spillDisk = 0L
    var analysisMs, optimizeMs, physicalMs = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (jobId, start, end)
  }

  /** One streaming query's micro-batches, charged to the op that started it. */
  final class StreamAcc(val owner: String) {
    var batches = 0L
    var batchMs, commitMs = 0L
    var stateRows = 0L // numRowsTotal of the latest progress, summed over operators
    val batchSpans = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (batchId, start, end)
  }

  private val byTag = mutable.HashMap.empty[String, Acc]
  private val jobTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val execTag = mutable.HashMap.empty[Long, String]
  /** Tag of each finished execution's QueryExecution, by identity. */
  private val qeTag = new java.util.IdentityHashMap[QueryExecution, String]()
  /** Planning-phase times reported by the QueryExecutionListener, charged to
    * a tag once the execution-end event that names their execution id has
    * been delivered too (`resolvePlans`): the two listeners see the same
    * event in an order the bus does not promise. */
  private val plans = mutable.ArrayBuffer.empty[(QueryExecution, Long, Long, Long)]
  private val streams = mutable.LinkedHashMap.empty[java.util.UUID, StreamAcc]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached, cachedPeak = 0L
  /** Jobs this listener saw, tagged or not: the total the per-phase counts must sum to. */
  var jobsSeen = 0L

  /** The op whose construction is running; streaming queries started now belong to it. */
  @volatile var currentOwner: String = ""

  def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  private def ourTag(tags: Iterable[String]): String =
    tags.find(_.startsWith(TagPrefix)).getOrElse(Untagged)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(',').toSeq).getOrElse(Nil)
      val tag = ourTag(tags)
      jobsSeen += 1
      jobTag(e.jobId) = tag
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, tag))
      acc(tag).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      for (tag <- jobTag.get(e.jobId); t0 <- jobStart.remove(e.jobId))
        acc(tag).jobSpans += ((e.jobId, t0, e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      acc(stageTag.getOrElse(e.stageInfo.stageId, Untagged)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageTag.getOrElse(e.stageId, Untagged))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        val in = m.inputMetrics
        if (in.bytesRead > 0 || in.recordsRead > 0) a.scanTasks += 1
        a.bytesRead += in.bytesRead
        a.recordsRead += in.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spillDisk += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        cached += size - blocks.getOrElse(info.blockId.name, 0L)
        if (size == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = size
        cachedPeak = math.max(cachedPeak, cached)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execTag(s.executionId) = ourTag(s.jobTags)
      case e: SparkListenerSQLExecutionEnd =>
        qeTag.put(PerfbenchSql.queryExecution(e), execTag.getOrElse(e.executionId, Untagged))
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans += ((qe, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streams.synchronized(streams(e.runId) = new StreamAcc(currentOwner))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      streams.synchronized(streams.get(p.runId)).foreach { s =>
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val trigger = d("triggerExecution")
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        s.batches += 1
        s.batchMs += trigger
        s.commitMs += d("walCommit") + d("commitOffsets")
        s.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        s.batchSpans += ((p.batchId, start, start + trigger))
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Deliver every pending event, then remove the listeners. */
  def detach(): Unit = if (attached) {
    drain()
    resolvePlans()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  private def resolvePlans(): Unit = {
    plans.foreach { case (qe, analysis, optimize, physical) =>
      val a = acc(Option(qeTag.get(qe)).getOrElse(Untagged))
      a.analysisMs += analysis
      a.optimizeMs += optimize
      a.physicalMs += physical
    }
    plans.clear()
    qeTag.clear()
  }

  /** Streaming queries charged to `owner`. */
  def streamsOf(owner: String): Seq[StreamAcc] =
    streams.synchronized(streams.values.filter(_.owner == owner).toSeq)

  /** Peak bytes of cached RDD blocks since the last call, then reset to the current level. */
  def takeCachePeak(): Long = { val p = cachedPeak; cachedPeak = cached; p }
}

object Tracer {
  /** Every tag the benchmark sets starts with this; the program's own tags are ignored. */
  val TagPrefix = "perfbench-"
  val Untagged = "untagged"
}
