package graft.perfbench

import scala.collection.mutable

/** One timed interval the benchmark opened around its own call into a layer.
  * Times are nanoseconds since the recorder's origin. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
                 val startNs: Long) {
  var endNs: Long = -1L
}

/** In-memory span recorder, confined to the single client thread. While a
  * span is open its id is the SparkContext local property `perfbench.span`,
  * so every job the thread (or a thread it starts) submits carries the id of
  * the span that was open at submission. */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var op: Int = -1
  private var stack: List[Span] = Nil

  def now: Long = System.nanoTime() - originNs

  def open(name: String): Unit = if (enabled) {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, op, now)
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(Tracer.SpanProperty, s.id.toString)
  }

  def close(): Unit = if (enabled && stack.nonEmpty) {
    stack.head.endNs = now
    stack = stack.tail
    spark.sparkContext.setLocalProperty(Tracer.SpanProperty,
      stack.headOption.map(_.id.toString).orNull)
  }

  def span[A](name: String)(f: => A): A = {
    open(name)
    try f finally close()
  }

  /** Per-node spans inside `Dag.transform`, through the DAG's own hooks. */
  val nodeListener: graft.dag.NodeListener = new graft.dag.NodeListener {
    override def beforeTransform(n: graft.dag.Node, ctx: graft.dag.Ctx): Unit =
      open(s"dag.node.${n.name}")
    override def afterTransform(n: graft.dag.Node, ctx: graft.dag.Ctx): Unit = close()
    override def beforeFit(n: graft.dag.Node, ctx: graft.dag.Ctx): Unit =
      open(s"dag.node.${n.name}")
    override def afterFit(n: graft.dag.Node, ctx: graft.dag.Ctx): Unit = close()
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Task metrics summed per stage. */
final class StageSum {
  var tasks, failed = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
}

/** The benchmark's SparkListener. It only records; attribution to spans
  * happens after the run, from the span property each job carries and,
  * failing that, the job's submission time. A query execution is attributed
  * through its jobs (`spark.sql.execution.id`): a QueryExecutionListener
  * cannot be, because its callbacks arrive asynchronously and
  * `QueryExecution.id` is not the execution id the jobs carry. */
final class SparkRecorder extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val submitted = mutable.Set.empty[Int]
  private val stages = mutable.Map.empty[Int, StageSum]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs += Map("job" -> e.jobId, "time_ms" -> e.time,
      "span" -> p.flatMap(x => Option(x.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1),
      "sql" -> p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
      "stages" -> e.stageIds)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageSum)
    s.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.toSeq.map { j =>
        j + ("skipped" -> j("stages").asInstanceOf[Seq[Int]].count(s => !submitted(s)))
      },
      "stages" -> stages.toSeq.sortBy(_._1).map { case (id, s) => Map(
        "stage" -> id, "tasks" -> s.tasks, "failed" -> s.failed, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
        "shuffle_read" -> s.shuffleRead, "spill" -> s.spill, "input" -> s.input) })
  }
}

/** JSON for the run record (Scala maps, sequences and scalars). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
