package graft.perfbench

import scala.collection.mutable

import graft.operators.Events
import graft.streaming.EventsStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_events`: seeded event batches (5,000 events, 2,000 users, 3
  * event types, 5 % replayed event ids, arrival order shuffled within the
  * batch) feed `EventsStream.latest`, `dedupedEvents` and `sessionize`. A
  * batch is done when all three queries have processed it.
  *
  * Each query reads its own memory stream fed the same rows: a memory
  * stream trims committed data, so one stream cannot serve three readers.
  */
final class StreamEvents extends Workload {
  val EventsPerBatch = 5000
  val Users = 2000
  val BatchSpanS = 600L
  val T0 = 1704067200L // 2024-01-01T00:00:00Z
  val WarmBatches = 1
  val Names = Seq("latest", "dedup", "sessionize")

  private val fed = mutable.ArrayBuffer[Gen.Event]()
  private var nextId = 0L
  private var batchNo = 0
  private var inputs: Seq[MemoryStream[Gen.Event]] = Nil
  private var queries: Map[String, StreamingQuery] = Map.empty
  private var rnd: java.util.SplittableRandom = _

  def generate(ctx: Ctx): Unit = rnd = ctx.rnd

  /** Batch `b` covers event time [T0 + b*600 s, T0 + (b+1)*600 s); 5 % of
    * its rows replay an earlier row of the same batch (same id and
    * fields), so replays stay inside the 2 h watermark and every stream
    * sees event time advance monotonically between batches.
    */
  private def nextBatch(): Seq[Gen.Event] = {
    val r = rnd
    val base = T0 + batchNo * BatchSpanS
    val fresh = (0 until EventsPerBatch * 95 / 100).map { _ =>
      val id = nextId; nextId += 1
      Gen.Event(id, r.nextInt(Users).toLong, Gen.EventTypes(r.nextInt(Gen.EventTypes.length)),
        math.round(r.nextDouble() * 20000) / 100.0,
        new java.sql.Timestamp((base + r.nextLong(BatchSpanS)) * 1000L))
    }
    val replays = Seq.fill(EventsPerBatch - fresh.size)(fresh(r.nextInt(fresh.size)))
    batchNo += 1
    Gen.shuffle(r, fresh ++ replays)
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    inputs = Seq.fill(Names.size)(MemoryStream[Gen.Event])
    def start(name: String, df: org.apache.spark.sql.DataFrame, mode: String) =
      name -> df.writeStream.format("memory").queryName(s"bench_$name").outputMode(mode)
        .option("checkpointLocation", ctx.path(s"ckpt/$name")).start()
    queries = Map(
      start("latest", EventsStream.latest(inputs(0).toDF()), "complete"),
      start("dedup", EventsStream.dedupedEvents(inputs(1).toDF())
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          col("ts").cast("long").as("ts_s")), "append"),
      start("sessionize", EventsStream.sessionize(inputs(2).toDF()
        .select(col("user_id"), col("ts").cast("long").as("ts_s")).as[EventsStream.Ev])
        .toDF(), "append"))
    for (_ <- 0 until WarmBatches) feed()
  }

  /** One batch into every stream, one query at a time: three concurrent
    * micro-batches of 32 state partitions each would contend for the cores
    * in a different order every run.
    */
  private def feed(): Unit = {
    val b = nextBatch()
    fed ++= b
    for ((input, name) <- inputs.zip(Names)) {
      input.addData(b)
      val q = queries(name)
      q.processAllAvailable()
      if (name == "dedup") awaitEviction(q)
    }
  }

  /** The watermarked dedup query follows each data batch with a no-data
    * batch that evicts expired state. `processAllAvailable` may return
    * before it runs, so it would land in whichever operation it overlaps;
    * waiting for it keeps each batch's cost in its own operation.
    */
  private def awaitEviction(q: StreamingQuery): Unit = {
    val last = q.lastProgress
    if (last != null && last.numInputRows > 0) {
      val deadline = System.nanoTime() + 10000000000L
      while (q.lastProgress.batchId == last.batchId && q.isActive &&
          System.nanoTime() < deadline) Thread.sleep(2)
    }
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit =
    do ctx.timed("batch", "events", EventsPerBatch) {
      feed()
      queries.collectFirst { case (n, q) if q.exception.nonEmpty => s"$n: ${q.exception.get}" }
    } while (System.nanoTime() < deadlineNs)

  override def close(ctx: Ctx): Unit = queries.values.foreach(_.stop())

  /** The streamed results against graft's DuckDB oracles for the batch
    * twins, replayed by run.py over every fed row: `latest` against
    * `Events.latestOracle`; `dedupedEvents` against `Events.dedupedOracle`
    * over the distinct events; closed sessions against
    * `Events.sessionizeOracle` minus each user's last (still open) session.
    */
  def check(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val all = ctx.path("data/events_all")
    val distinct = ctx.path("data/events_distinct")
    fed.toSeq.toDF().coalesce(1).write.mode("overwrite").parquet(s"$all/events.parquet")
    fed.distinctBy(_.event_id).toSeq.toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$distinct/events.parquet")
    def rows(n: String, key: Seq[Any] => (Long, Long)) =
      spark.table(s"bench_$n").collect().map(_.toSeq).sortBy(key).toSeq
    def add(op: String, dir: String, sql: String, got: Seq[Seq[Any]]): Unit = {
      ctx.attempted.incrementAndGet()
      ctx.oracle += OracleCheck(op, dir, sql, got)
    }
    val typeRank = Gen.EventTypes.sorted.zipWithIndex.toMap
    add("stream/latest", all, Events.latestOracle,
      rows("latest", r => (r(0).asInstanceOf[Long], typeRank(r(1).asInstanceOf[String]).toLong)))
    add("stream/dedup", distinct, Events.dedupedOracle,
      rows("dedup", r => (r(0).asInstanceOf[Long], 0L)))
    add("stream/sessionize", all,
      s"""WITH o AS (${Events.sessionizeOracle}),
         |l AS (SELECT user_id, max(session_id) AS last FROM o GROUP BY user_id)
         |SELECT o.* FROM o JOIN l USING (user_id) WHERE o.session_id < l.last
         |ORDER BY user_id, session_id""".stripMargin,
      rows("sessionize", r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])))
  }

  def report(ctx: Ctx, elapsedS: Double): (Double, Double) = {
    val ops = ctx.opList
    val lat = ops.map(_.ms)
    val events = ops.map(_.items).sum
    ctx.named("batch_p50_ms") = (Stats.median(lat), "ms", lat.size)
    ctx.named("events_per_s") = (events / elapsedS, "1/s", lat.size)
    if (ctx.traceRun) {
      val ids = queries.map { case (n, q) => q.id.toString -> n }
      val prog = ctx.tracer.progressList.filter(p => ids.contains(p.id.toString) &&
        p.numInputRows > 0)
      def per(n: String) = prog.filter(p => ids(p.id.toString) == n)
      def stateMs(n: String, f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        Stats.median(per(n).map(_.stateOperators.map(f).sum.toDouble))
      for (n <- Names) {
        ctx.layers(s"state.commit_ms.$n") = (stateMs(n, _.commitTimeMs), "ms")
        ctx.layers(s"state.update_ms.$n") = (stateMs(n, _.allUpdatesTimeMs), "ms")
      }
      val last = ids.values.toSeq.flatMap(n => per(n).lastOption.toSeq.flatMap(_.stateOperators))
      val instances = last.map(_.numStateStoreInstances.toLong).sum
      val rowsTotal = last.map(_.numRowsTotal).sum
      ctx.layers("state.instances") = (instances.toDouble, "count")
      ctx.layers("state.rows_total") = (rowsTotal.toDouble, "count")
      ctx.layers("state.rows_per_instance") = (rowsTotal.toDouble / math.max(1L, instances), "ratio")
      ctx.layers("state.memory_bytes") = (last.map(_.memoryUsedBytes).sum.toDouble, "bytes")
      ctx.layers("stream.query_planning_ms") = (Stats.median(prog.map(p =>
        p.durationMs.getOrDefault("queryPlanning", 0L).toDouble)), "ms")
      val traced = ops.filter(_.traced)
      Layers.exec(ctx, "sq:", prog.map(p => p.durationMs.getOrDefault("addBatch", 0L).toDouble),
        traced.size)
    }
    (Stats.median(lat), events / elapsedS)
  }
}
