package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark work attributed to one span: jobs, tasks and their metrics. */
final class SpanAgg {
  var jobs = 0
  var tasks = 0
  var failures = 0
  var runMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var bytesWritten = 0L
  val schedDelayMs = mutable.ArrayBuffer[Long]()
}

/** One timed interval recorded by the benchmark's own code: an operation
  * (request, micro-batch, refresh, read) or a phase inside one (client
  * call, plan, execution). `key` is the span id jobs are linked to.
  */
final case class Span(key: String, kind: String, phase: String, tag: String,
                      ms: Double)

/** Links Spark jobs and tasks to benchmark spans.
  *
  * Request spans link through the thread-local property [[Tracer.SpanKey]]
  * the benchmark sets around each phase; micro-batch spans link through
  * the streaming `queryId`/`batchId` properties Spark sets on the stream
  * thread. A streaming listener keeps every progress report. All state
  * stays in memory until the run ends.
  */
final class Tracer extends SparkListener {
  /** Per job: the span it is linked to, its submission time (epoch ms)
    * and its work; each stage maps to the job that last submitted it.
    */
  private val jobs = mutable.HashMap[Int, (String, Long, SpanAgg)]()
  private val stageJob = mutable.HashMap[Int, Int]()
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (p != null) {
      val key = Option(p.getProperty(Tracer.SpanKey)).orElse(
        Option(p.getProperty("sql.streaming.queryId")).map(q =>
          Tracer.streamKey(q, p.getProperty("streaming.sql.batchId"))))
      key.foreach { k =>
        synchronized {
          val a = new SpanAgg
          a.jobs = 1
          jobs(e.jobId) = (k, e.time, a)
          e.stageIds.foreach(stageJob(_) = e.jobId)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { case (_, _, a) =>
      a.tasks += 1
      if (e.reason != Success) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.bytesWritten += m.outputMetrics.bytesWritten
        val i = e.taskInfo
        if (i != null && i.finishTime > 0)
          a.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - i.gettingResultTime)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }

  /** Work of every span whose key starts with `prefix`, merged. */
  def sum(prefix: String): SpanAgg = sumWhere(_.startsWith(prefix))

  /** Work of every span whose key satisfies `p`, merged. */
  def sumWhere(p: String => Boolean): SpanAgg = sumJobs((k, _) => p(k))

  /** Work of every job whose span key and submission time (epoch ms)
    * satisfy `p`, merged.
    */
  def sumJobs(p: (String, Long) => Boolean): SpanAgg = synchronized {
    val out = new SpanAgg
    jobs.valuesIterator.filter { case (k, t, _) => p(k, t) }.foreach { case (_, _, a) =>
      out.jobs += a.jobs; out.tasks += a.tasks; out.failures += a.failures
      out.runMs += a.runMs; out.shuffleBytes += a.shuffleBytes
      out.shuffleRecords += a.shuffleRecords; out.bytesWritten += a.bytesWritten
      out.schedDelayMs ++= a.schedDelayMs
    }
    out
  }

  def spanList: Seq[Span] = spans.asScala.toSeq
  def progressList: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  /** Every span with the Spark work attributed to it, for the run's output. */
  def spanRecords: Seq[Map[String, Any]] = spanList.map { s =>
    val a = sumWhere(_ == s.key)
    Map("key" -> s.key, "kind" -> s.kind, "phase" -> s.phase, "tag" -> s.tag, "ms" -> s.ms,
      "jobs" -> a.jobs, "tasks" -> a.tasks, "task_ms" -> a.runMs,
      "shuffle_bytes" -> a.shuffleBytes, "bytes_written" -> a.bytesWritten)
  }

  /** Every micro-batch's phase durations and state-store figures, with the
    * Spark work attributed to it, for the run's output.
    */
  def progressRecords: Seq[Map[String, Any]] = progressList.map { p =>
    val a = sumWhere(_ == Tracer.streamKey(p.id.toString, p.batchId.toString))
    Map("query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
      "state" -> p.stateOperators.toSeq.map(o => Map("op" -> o.operatorName,
        "commit_ms" -> o.commitTimeMs, "update_ms" -> o.allUpdatesTimeMs,
        "rows" -> o.numRowsTotal, "instances" -> o.numStateStoreInstances)),
      "jobs" -> a.jobs, "tasks" -> a.tasks, "task_ms" -> a.runMs,
      "shuffle_bytes" -> a.shuffleBytes)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  def streamKey(queryId: String, batchId: String): String = s"sq:$queryId:$batchId"

  /** Run `body` with its Spark jobs attributed to `key` (no-op when
    * `tracer` is None), recording the span's wall time.
    */
  def span[T](tracer: Option[Tracer], spark: SparkSession, key: String,
              kind: String, phase: String, tag: String)(body: => T): T =
    tracer match {
      case None => body
      case Some(t) =>
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty(SpanKey)
        sc.setLocalProperty(SpanKey, key)
        val t0 = System.nanoTime()
        try body
        finally {
          t.spans.add(Span(key, kind, phase, tag, (System.nanoTime() - t0) / 1e6))
          sc.setLocalProperty(SpanKey, prev)
        }
    }
}

/** Samples one thread's stack at a fixed interval and labels each sample
  * with the innermost frame that belongs to one of `targets` (a class
  * name and the method names to look for, lambdas included), "" when
  * none does. The wall time between a sample and the next is charged to
  * the sample's label, so a label's total is the time the thread spent
  * inside that method and not inside a deeper target.
  */
final class StackSampler(thread: Thread, targets: Map[String, Set[String]],
                         intervalMs: Long = 10) {
  /** (epoch ms, label) per sample. */
  private val samples = mutable.ArrayBuffer[(Long, String)]()
  @volatile private var running = true

  private def method(m: String): String =
    if (m.startsWith("$anonfun$")) m.stripPrefix("$anonfun$").takeWhile(_ != '$') else m

  private def label(stack: Array[StackTraceElement]): String =
    stack.iterator.collectFirst {
      case f if targets.get(f.getClassName).exists(_.contains(method(f.getMethodName))) =>
        s"${f.getClassName.stripPrefix("graft.operators.").stripSuffix("$")}.${method(f.getMethodName)}"
    }.getOrElse("")

  private val sampler = new Thread(() => {
    while (running) {
      val l = label(thread.getStackTrace)
      samples.synchronized(samples += System.currentTimeMillis() -> l)
      Thread.sleep(intervalMs)
    }
  }, "graftbench-stack-sampler")
  sampler.setDaemon(true)
  sampler.start()

  /** Stop sampling; returns each label's wall time in ms. */
  def stop(): Map[String, Double] = {
    running = false
    sampler.join()
    val s = samples.synchronized(samples.toVector :+ (System.currentTimeMillis() -> ""))
    s.sliding(2).collect { case Seq((t0, l), (t1, _)) => l -> (t1 - t0).toDouble }
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The label of the last sample taken at or before `epochMs`. */
  def labelAt(epochMs: Long): String = samples.synchronized {
    samples.takeWhile(_._1 <= epochMs).lastOption.map(_._2).getOrElse("")
  }
}
