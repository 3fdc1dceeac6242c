package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call: `op` groups the spans of one client operation. Times
  * are epoch milliseconds with sub-millisecond precision; `costKey`
  * names the Spark work attributed to it.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Double, endMs: Double, costKey: String) {
  def wallMs: Double = endMs - startMs
}

/** Spark work attributed to one span or one streaming micro-batch. */
final class Cost {
  val jobs = new ConcurrentLinkedQueue[(Double, Double)]() // job start/end, epoch ms
  val taskMs = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val inputRows = new AtomicLong
}

/** Progress of one micro-batch as its query reported it. */
final case class BatchProgress(queryId: String, batchId: Long,
                               startMs: Double, endMs: Double,
                               inputRows: Long)

/** Collects every micro-batch progress event of the session's streams.
  * It is part of the measurement (freshness and commit times come from
  * it), so it runs in untraced runs too.
  */
final class StreamWatch extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchProgress]()
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val trigger = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    batches.add(BatchProgress(p.id.toString, p.batchId, start,
      start + trigger, p.numInputRows))
  }
  def of(queryId: String): Seq[BatchProgress] =
    batches.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)
}

/** The outside-in cost ledger of a traced run.
  *
  * The benchmark wraps each call into the engine in [[span]], which
  * names the call in a Spark local property and the job description. A
  * `SparkListener` then attributes every job, task, task-second, shuffle
  * and spill byte and failed task to the span whose property the job
  * carries; jobs of a streaming query are attributed to its micro-batch
  * through the query-id and batch-id properties Spark sets. Spans stay in
  * memory until [[write]]. When `enabled` is false no listener is
  * registered and [[span]] only runs its body.
  */
final class Ledger(spark: SparkSession, val enabled: Boolean) {
  import Ledger._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val costs = new ConcurrentHashMap[String, Cost]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Double)]()
  private val streamSites = new ConcurrentHashMap[String, String]()
  private val counters = new ConcurrentHashMap[String, Double]()

  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6

  private def cost(key: String): Cost =
    costs.computeIfAbsent(key, _ => new Cost)

  private def keyOf(props: java.util.Properties): String =
    if (props == null) Unattributed
    else Option(props.getProperty(QueryIdKey)) match {
      case Some(q) => s"stream:$q:${props.getProperty(BatchIdKey)}"
      case None => Option(props.getProperty(SpanKey)).getOrElse(Unattributed)
    }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val k = keyOf(e.properties)
      jobKey.put(e.jobId, (k, e.time.toDouble))
      e.stageIds.foreach(stageKey.put(_, k))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageKey.putIfAbsent(e.stageInfo.stageId, keyOf(e.properties))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobKey.remove(e.jobId)).foreach { case (k, t0) =>
        cost(k).jobs.add((t0, e.time.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = cost(Option(stageKey.get(e.stageId)).getOrElse(Unattributed))
      c.tasks.incrementAndGet()
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
        c.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs.addAndGet(m.executorRunTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        c.inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(Listener)

  /** Run `body` as one span named `name`; nested spans record it as
    * their parent.
    */
  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId.incrementAndGet()
      val outer = stack.get
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setJobDescription(name)
      stack.set(id :: outer)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, name, outer.headOption.getOrElse(0L), op, t0,
          nowMs, id.toString))
        stack.set(outer)
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setJobDescription(prevDesc)
      }
    }

  /** Attribute the micro-batches of `queryId` to the call site `site`. */
  def stream(queryId: String, site: String): Unit =
    if (enabled) streamSites.put(queryId, site)

  /** Add to a named counter measured at a call site. */
  def count(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a: Double, b: Double) => a + b)

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit =
    if (enabled) org.apache.spark.sql.GraftBridge.drainListenerBus(
      spark.sparkContext, 60000L)

  /** Every span so far plus one span per micro-batch of each registered
    * stream, built from the batches' own progress events.
    */
  def allSpans(watch: Option[StreamWatch]): Seq[Span] = {
    val batchSpans = watch.toSeq.flatMap(_.batches.asScala).flatMap { b =>
      Option(streamSites.get(b.queryId)).map { site =>
        Span(-1L, site, 0L, b.batchId, b.startMs, b.endMs,
          s"stream:${b.queryId}:${b.batchId}")
      }
    }
    spans.asScala.toSeq ++ batchSpans
  }

  /** The standard per-site set: wall, jobs, task seconds, shuffle bytes
    * and driver gap (span wall not covered by any of its jobs), plus the
    * ledger-wide extras. Sites in `sites` that never ran report zeros.
    */
  def siteMetrics(sites: Seq[String], watch: Option[StreamWatch])
      : Map[String, Double] = {
    val all = allSpans(watch)
    val byParent = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      if (s.id < 0) Seq(s)
      else s +: byParent.getOrElse(s.id, Nil).flatMap(subtree)
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    sites.foreach { site =>
      val mine = all.filter(_.name == site)
      var wall, taskS, gap = 0.0
      var jobs, shuffle = 0L
      mine.foreach { s =>
        wall += s.wallMs / 1000
        val cs = subtree(s).flatMap(x => Option(costs.get(x.costKey)))
        jobs += cs.map(_.jobs.size.toLong).sum
        taskS += cs.map(_.taskMs.get).sum / 1000.0
        shuffle += cs.map(_.shuffleBytes.get).sum
        val covered = Ledger.unionLength(
          cs.flatMap(_.jobs.asScala).map { case (a, b) =>
            (math.max(a, s.startMs), math.min(b, s.endMs)) }
            .filter { case (a, b) => b > a })
        gap += math.max(0.0, s.wallMs - covered) / 1000
      }
      out(s"$site.wall_s") = wall
      out(s"$site.jobs") = jobs.toDouble
      out(s"$site.task_s") = taskS
      out(s"$site.shuffle_bytes") = shuffle.toDouble
      out(s"$site.driver_gap_s") = gap
    }
    out.toMap
  }

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.doubleValue).getOrElse(0.0)

  def failedTasks: Long = costs.values.asScala.map(_.failedTasks.get).sum

  /** Input records read by the jobs of every span named `name`. */
  def inputRows(name: String): Long =
    spans.asScala.filter(_.name == name)
      .flatMap(s => Option(costs.get(s.costKey))).map(_.inputRows.get).sum

  /** Output bytes written by the jobs of the given spans. */
  def outputBytes(ss: Seq[Span]): Long =
    ss.flatMap(s => Option(costs.get(s.costKey)))
      .map(_.outputBytes.get).sum

  /** Share of `[fromMs, toMs]` covered by no span at all. */
  def uncoveredShare(fromMs: Double, toMs: Double,
                     watch: Option[StreamWatch]): Double = {
    val iv = allSpans(watch).map(s =>
        (math.max(s.startMs, fromMs), math.min(s.endMs, toMs)))
      .filter { case (a, b) => b > a }
    1.0 - Ledger.unionLength(iv) / (toMs - fromMs)
  }

  /** Write every span as a JSON line: its self time (wall minus the part
    * its children cover) and the Spark work attributed to it alone.
    */
  def write(path: java.nio.file.Path, watch: Option[StreamWatch]): Unit = {
    val all = allSpans(watch)
    val byParent = all.filter(_.id >= 0).groupBy(_.parent)
    val lines = all.sortBy(_.startMs).map { s =>
      val kids = if (s.id < 0) Nil else byParent.getOrElse(s.id, Nil)
      val childMs = Ledger.unionLength(kids.map(k => (k.startMs, k.endMs)))
      val c = Option(costs.get(s.costKey)).getOrElse(new Cost)
      Json(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "self_ms" -> (s.wallMs - childMs),
        "jobs" -> c.jobs.size, "tasks" -> c.tasks.get,
        "task_ms" -> c.taskMs.get, "shuffle_bytes" -> c.shuffleBytes.get,
        "spill_bytes" -> c.spillBytes.get, "failed_tasks" -> c.failedTasks.get))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Ledger {
  val SpanKey = "perfbench.span"
  /** The local properties Spark's micro-batch engine sets on a batch's jobs. */
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
  val Unattributed = "unattributed"

  /** Total length of the union of closed intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total, curA, curB = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }
}
