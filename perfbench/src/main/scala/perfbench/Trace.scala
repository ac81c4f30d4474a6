package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import perfbench.Stats.Span

/** Counts every job the engine launches. Always registered (one counter
  * per job start), so the like-for-like guard works in untraced runs.
  */
final class JobCounter extends SparkListener {
  private val n = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
  def jobs(spark: SparkSession): Long = {
    PerfbenchBus.drain(spark.sparkContext)
    n.get
  }
}

/** Engine-side counters of one job group (one span). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** stage id -> (tasks, summed task run time in ms) */
  val stages = mutable.HashMap.empty[Int, (Long, Long)]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    jobIntervals ++= o.jobIntervals
    stages ++= o.stages
  }

  /** Tasks of the heavy stage: the one with the most task run time. */
  def heavyStageTasks: Long = if (stages.isEmpty) 0L else stages.values.maxBy(_._2)._1
}

/** Highest live heap: the heap in use right after a full GC. The
  * workloads call `sample` at the end of each unit of timed work, outside
  * every clock. Samples after the JVM's own young GCs would also count
  * old-generation garbage not yet collected; over ten seeds of one input
  * size, the peak's quartiles lay 20% apart. The first forced GC lets
  * Spark's context cleaner drop the shuffles and broadcasts it made
  * unreachable; the second collects what the cleaner dropped.
  */
object HeapPeak {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / 1048576.0
}

/** Span recorder plus the listeners that attribute engine work to spans.
  *
  * Each span runs its body under a job group named after the span, so the
  * `SparkListener` can sum jobs, tasks, task time, shuffle and spill per
  * span. Streaming micro-batches run on the query's own thread; their jobs
  * are attributed through the micro-batch id Spark stamps on every job.
  * Spans stay in memory and are written out when the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  /** Tracing is switched off for alternate units of work, so the traced
    * run can price its own overhead against interleaved untraced work.
    */
  var paused = false
  def on: Boolean = enabled && !paused

  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** StreamingQueryProgress.durationMs per (run id, micro-batch id). */
  val batchDurations = new ConcurrentHashMap[(String, Long), Map[String, Long]]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      // a micro-batch's jobs carry the query's run id as their group
      val g = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(b => s"batch-${group.getOrElse("")}-$b")
        .orElse(group)
      g.foreach { grp =>
        jobGroup.put(e.jobId, grp)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageGroup.put(s, grp))
        val st = stats(grp)
        st.synchronized { st.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.get(e.jobId)).foreach { grp =>
        val st = stats(grp)
        st.synchronized { st.jobIntervals += ((jobStart.get(e.jobId), e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { grp =>
        val st = stats(grp)
        val m = e.taskMetrics
        st.synchronized {
          st.tasks += 1
          val (n, ms) = st.stages.getOrElse(e.stageId, (0L, 0L))
          st.stages(e.stageId) = (n + 1, ms + (if (m == null) 0L else m.executorRunTime))
          if (m != null) {
            st.taskRunMs += m.executorRunTime
            st.taskCpuNs += m.executorCpuTime
            st.gcMs += m.jvmGCTime
            st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batchDurations.put((e.progress.runId.toString, e.progress.batchId),
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Runs `body` as a span named `name`; `key` ties the spans of one
    * request or segment together. Untraced, it just runs `body`.
    */
  def span[T](name: String, key: String)(body: => T): T = {
    if (!on) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(s"span-$id", name)
    stack.push(id)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack.pop()
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      synchronized { spans += Span(id, name, start, end, parent, key) }
    }
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Engine counters of span `id` and all spans below it. */
  def subtreeStats(id: Int): GroupStats = {
    val all = allSpans
    val kids = all.filter(_.parent.isDefined).groupBy(_.parent.get)
    val out = new GroupStats
    def walk(i: Int): Unit = {
      Option(groups.get(s"span-$i")).foreach(out.add)
      kids.getOrElse(i, Nil).foreach(s => walk(s.id))
    }
    walk(id)
    out
  }

  /** Counters of micro-batch `batchId` of the streaming run `runId`. */
  def batchStats(runId: String, batchId: Long): GroupStats =
    Option(groups.get(s"batch-$runId-$batchId")).getOrElse(new GroupStats)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}
