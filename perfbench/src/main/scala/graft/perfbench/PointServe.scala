package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftClient
import graft.operators.{CorpusOps, Embedder, HybridSearch, IndexRefresh, KeywordSearch,
  VectorRefresh, VectorSearch}
import graft.sources.Tables
import graft.streaming.ServeStream
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.{col, lit, length, sum}

/** `point_serve`: closed-loop `GraftClient` requests from two client
  * threads over an sf0.1-shaped corpus. 40 % keyword, 30 % vector, 30 %
  * hybrid; index mode uniform over exact and refreshed with one client
  * object per mode; 20 % of requests filtered on `lang` or `source`.
  * Every eleventh operation is instead a micro-batch of 64 query ids
  * through `ServeStream.hybridServe` (k = 10) over the same corpus: the
  * batched serving path, which bypasses `GraftClient` and per-request
  * planning and is nearly all `HybridSearch` batch fusion.
  *
  * The refreshed mode serves from graft's incrementally refreshed
  * keyword and vector layouts (`IndexRefresh` / `VectorRefresh`). Its
  * first request builds them: a base build over the previous snapshot of
  * the corpus, then one refresh with the added, changed and removed rows.
  * That write path runs in set-up; a traced run splits it by function
  * with a stack sampler on the set-up thread.
  *
  * The pruned and quantized modes are left out: each costs 10-20 s more
  * set-up per run, which the benchmark's time budget cannot carry (see
  * README.md).
  */
final class PointServe extends Workload {
  import PointServe._

  val Threads = 2
  val Limit = 10
  /** One block's op slots: K keyword, V vector, H hybrid, B serving
    * micro-batch. The first seven slots hold every class.
    */
  val Slots = "KBVHKVHKKVHKBVHKKVHKVH"
  val BatchQueries = 64
  val ServeK = 10
  /** Micro-batches served in set-up. */
  val WarmBatches = 1
  private var dir = ""
  private var nDocs = 0
  private var nVecs = 0
  /** Ids the refreshed mode serves: the corpus's current snapshot. */
  private var liveDocs: Set[Long] = Set.empty
  private var liveVecs: Set[Long] = Set.empty
  private var clients: Map[String, GraftClient] = Map.empty
  private var requests: IndexedSeq[Req] = IndexedSeq.empty
  private var warmBatches: Seq[Req] = Nil
  private val next = new AtomicInteger()
  /** Schedule index -> completion time of every timed request. */
  private val done = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private var firstStartNs = 0L
  private val firstReqMs = scala.collection.mutable.LinkedHashMap[String, Double]()
  /** Traced runs: wall ms per sampled function during set-up, and the
    * sampler that labels set-up jobs.
    */
  private var setupMs: Map[String, Double] = Map.empty
  private var sampler: Option[StackSampler] = None
  /** Pages of the timed unfiltered requests whose route has a DuckDB
    * oracle, by schedule index, for the checks after the run.
    */
  private val checkable = new java.util.concurrent.ConcurrentHashMap[Int, (Req, Seq[Seq[Any]])]()
  private var serveInput: MemoryStream[Long] = _
  private var serve: StreamingQuery = _
  /** Served rows per micro-batch id, and the query ids of each batch. */
  private val served = new java.util.concurrent.ConcurrentHashMap[Long, Array[Seq[Any]]]()
  private val servedIds = mutable.ArrayBuffer[Seq[Long]]()

  def generate(ctx: Ctx): Unit = {
    dir = ctx.path("data/corpus")
    nDocs = 5000; nVecs = 2000
    val (docs, embs, _) = Gen.corpus(ctx.rnd, (0L until nDocs.toLong).toIndexedSeq, nVecs)
    Gen.writeCorpus(ctx.spark, dir, docs, embs)
    requests = schedule(ctx.rnd, 4000)
    warmBatches = schedule(ctx.rnd, Slots.length * WarmBatches).filter(_.op == "batch").take(WarmBatches)
    val spark = ctx.spark
    liveDocs = CorpusOps.currSnapshot(Tables.documents(spark, dir)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    liveVecs = VectorRefresh.currSnapshot(Tables.embeddings(spark, dir)).select("vec_id")
      .collect().map(_.getLong(0)).toSet
  }

  /** The operation schedule: blocks of 22 with one fixed slot layout,
    * so every run serves the same mix whatever its seed. Each block holds
    * 8 keyword, 6 vector and 6 hybrid requests, each op type alternating
    * exact and refreshed, and 2 serving micro-batches. Requests cycle
    * through 1-3 query terms, and 4 of them (20 %) carry a filter,
    * alternately on `lang` and `source`. The seed draws the terms (Zipf),
    * the filter values and each micro-batch's distinct query ids (from
    * the ids that are multiples of [[ServeStride]]).
    */
  private def schedule(r: java.util.SplittableRandom, n: Int): IndexedSeq[Req] = {
    val classes = slotClasses
    (0 until n).map { i =>
      val slot = i % classes.size
      val (op, mode) = classes(slot)
      if (op == "batch") {
        val ids = Iterator.continually(r.nextInt(nVecs / ServeStride).toLong * ServeStride)
          .distinct.take(BatchQueries).toSeq
        Req(op, mode, "", None, ids)
      } else {
        val filter =
          if (slot % 5 != 4) None
          else if (slot % 10 == 4) Some("lang" -> Gen.Langs(r.nextInt(Gen.Langs.length)))
          else Some("source" -> s"src${r.nextInt(20)}")
        Req(op, mode, Gen.queryTerms(r, 1 + i % 3).mkString(" "), filter)
      }
    }
  }

  /** (op, mode) of each slot of a block. */
  private def slotClasses: Seq[(String, String)] = {
    val ops = Slots.map {
      case 'K' => "keyword"; case 'V' => "vector"; case 'H' => "hybrid"; case _ => "batch" }
    ops.zipWithIndex.map {
      case ("batch", _) => ("batch", "serve")
      case (op, i) => (op, Modes(ops.take(i).count(_ == op) % Modes.size))
    }
  }

  def setup(ctx: Ctx): Unit = {
    clients = Modes.map(m => m -> new GraftClient(ctx.spark, dir, indexMode = m)).toMap
    val tr = if (ctx.traceRun) Some(ctx.tracer) else None
    tr.foreach { t =>
      t.attach(ctx.spark)
      sampler = Some(new StackSampler(Thread.currentThread(), SampledFunctions))
    }
    // the first request per mode builds that mode's standing artifacts
    for (m <- Modes) {
      val t0 = System.nanoTime()
      Tracer.span(tr, ctx.spark, s"setup:$m", "setup", m, "") {
        for (op <- Seq("hybrid", "keyword", "vector"))
          execute(ctx, -1, Req(op, m, "spark join", None)).foreach(e => ctx.fail(s"setup/$op/$m", e))
      }
      firstReqMs(m) = (System.nanoTime() - t0) / 1e6
    }
    sampler.foreach(s => setupMs = s.stop())
    tr.foreach(_.detach(ctx.spark))

    // the serving stream probes the standing batch postings, dictionary
    // and corpus statistics, as graft's qStreamHybridServe does
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = System.nanoTime()
    serveInput = MemoryStream[Long]
    serve = ServeStream.hybridServe(serveInput.toDS().toDF("q_id"),
      Tables.documents(spark, dir), Tables.embeddings(spark, dir), ServeK,
      kwIndex = Some(KeywordSearch.cachedBatchPostings(spark, dir)),
      kwDict = Some(KeywordSearch.cachedTermDict(spark, dir)),
      kwStats = Some(KeywordSearch.cachedCorpusStats(spark, dir))) { (ranked, batchId) =>
      served.put(batchId, ranked.collect().map(_.toSeq.toSeq))
    }
    for (q <- warmBatches) serveBatch(q).foreach(e => ctx.fail("setup/batch", e))
    ctx.info("serve_warm_batches_ms") = f"${(System.nanoTime() - t0) / 1e6}%.0f"
  }

  /** One micro-batch through the serving stream, then its structural
    * checks. Micro-batches are serialized: the stream numbers them in
    * arrival order.
    */
  private def serveBatch(q: Req): Option[String] = serveLock.synchronized {
    val b = servedIds.size.toLong
    servedIds += q.ids
    serveInput.addData(q.ids)
    serve.processAllAvailable()
    val rows = served.get(b)
    if (serve.exception.nonEmpty) Some(serve.exception.get.toString)
    else if (rows == null) Some(s"micro-batch $b produced no sink call")
    else batchStructural(rows, q.ids.toSet)
  }
  private val serveLock = new Object

  override def close(ctx: Ctx): Unit = if (serve != null) serve.stop()

  /** Per served query: at most k rows, unique doc ids, ranks 1..n with
    * non-increasing scores, query ids from the micro-batch, doc ids in the
    * corpus.
    */
  private def batchStructural(rows: Array[Seq[Any]], ids: Set[Long]): Option[String] = {
    val byQ = rows.groupBy(_.head.asInstanceOf[Long])
    byQ.keys.find(q => !ids.contains(q)).map(q => s"q_id $q not in the micro-batch")
      .orElse(byQ.collectFirst {
        case (q, rs) if rs.length > ServeK => s"q_id $q: ${rs.length} rows > k"
        case (q, rs) if rs.map(_(2)).distinct.length != rs.length => s"q_id $q: duplicate doc_id"
        case (q, rs) if {
          val s = rs.sortBy(_(1).asInstanceOf[Int]).map(_(3).asInstanceOf[Number].doubleValue)
          s.sliding(2).exists(p => p.length == 2 && p(1) > p(0))
        } => s"q_id $q: scores not non-increasing by rank"
        case (q, rs) if rs.exists { r =>
          val d = r(2).asInstanceOf[Long]; d < 0 || d >= nVecs } => s"q_id $q: doc_id outside the corpus"
      })
  }

  private def filterCol(f: Option[(String, String)]): Option[Column] =
    f.map { case (c, v) => col(c) === v }

  /** Send one request: client call, plan, execution; then the structural
    * checks. Returns the failed check, if any.
    */
  private def execute(ctx: Ctx, id: Int, q: Req): Option[String] = {
    val c = clients(q.mode)
    val tr = ctx.activeTracer
    val key = s"req:$id"
    val sp = ctx.spark
    val df: DataFrame = Tracer.span(tr, sp, s"$key:client", "req", "client", q.op) {
      q.op match {
        case "keyword" =>
          c.keywordSearch(q.text, Limit, filterCol(q.filter).getOrElse(lit(true)))
        case "vector" =>
          c.vectorSearch(q.text, Limit, filterCol(q.filter).getOrElse(lit(true)))
        case _ =>
          c.hybridSearch(q.text, limit = Limit, filter = filterCol(q.filter))
      }
    }
    Tracer.span(tr, sp, s"$key:plan", "req", "plan", q.op) { df.queryExecution.executedPlan }
    val rows = Tracer.span(tr, sp, s"$key:exec", "req", "exec", q.op) { df.collect() }
    if (id >= 0 && q.filter.isEmpty) OracleCols.get(s"${q.op}/${q.mode}").foreach { cols =>
      checkable.put(id, q -> rows.toSeq.map(r => cols.map(r.getAs[Any])))
    }
    structural(rows, q)
  }

  /** Keyword pages rank documents; vector and hybrid pages rank documents
    * that carry a vector; the refreshed mode serves the current snapshot.
    */
  private def universe(q: Req, id: Long): Boolean =
    if (q.mode == GraftClient.IndexRefreshed) {
      if (q.op == "keyword") liveDocs(id) else liveVecs(id) && liveDocs(id)
    } else id >= 0 && id < (if (q.op == "keyword") nDocs else nVecs)

  private def structural(rows: Array[Row], q: Req): Option[String] = {
    if (rows.length > Limit) return Some(s"${rows.length} rows > limit $Limit")
    if (rows.isEmpty) return None
    val idCol = if (rows.head.schema.fieldNames.contains("doc_id")) "doc_id" else "vec_id"
    val ids = rows.map(r => r.getAs[Long](idCol))
    val scores = rows.map(r => r.getAs[Any]("score").asInstanceOf[Number].doubleValue)
    if (ids.distinct.length != ids.length) return Some("duplicate doc_id in page")
    if (scores.sliding(2).exists(p => p.length == 2 && p(1) > p(0)))
      return Some("scores not non-increasing")
    ids.find(i => !universe(q, i)).map(i => s"doc_id $i outside the served universe")
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    if (firstStartNs == 0L) firstStartNs = System.nanoTime()
    val workers = (0 until Threads).map { _ =>
      new Thread(() => {
        do {
          val i = next.getAndIncrement()
          val q = requests(i % requests.length)
          ctx.timed("req", s"${q.op}/${q.mode}", index = i) {
            if (q.op == "batch") serveBatch(q) else execute(ctx, i, q)
          }
          done.put(i, System.nanoTime())
        } while (System.nanoTime() < deadlineNs || (ctx.tracing && !allClassesTraced(ctx)))
      })
    }
    workers.foreach(_.start()); workers.foreach(_.join())
  }

  /** A traced half runs until it holds an operation of every class, so
    * each layer it measures has a sample.
    */
  private def allClassesTraced(ctx: Ctx): Boolean = {
    val traced = ctx.opList.filter(_.traced).map(_.tag).toSet
    slotClasses.forall { case (op, m) => traced(s"$op/$m") }
  }

  /** The first two timed unfiltered requests of every route with a
    * DuckDB oracle are replayed by run.py against graft's oracle SQL:
    * keyword pages of both modes (exact BM25, and the champion search over
    * the current snapshot that the refreshed layouts must reproduce),
    * exact vector pages (`VectorSearch.topKSql`) and exact hybrid pages
    * (`HybridSearch.fusedSql`). The vector oracles take their query vector
    * from the embeddings table, so those checks carry the request's
    * embedding as an extra row with a negative id.
    */
  def check(ctx: Ctx): Unit = {
    val byRoute = checkable.asScala.toSeq.sortBy(_._1).groupBy { case (_, (q, _)) => s"${q.op}/${q.mode}" }
    for ((route, pages) <- byRoute.toSeq.sortBy(_._1); (id, (q, rows)) <- pages.take(2)) {
      val terms = q.text.split(" ").toSeq
      val qId = -1L - id
      def qEmb = ctx.spark.range(1).select(Embedder.embed(lit(q.text), Gen.Dim).cast("array<float>"))
        .head().getSeq[Float](0).map(_.toDouble)
      val (sql, query) = route match {
        case "keyword/exact" => (KeywordSearch.bm25Sql(terms, Limit), None)
        case "keyword/refreshed" => (IndexRefresh.refreshSearchSql(terms, Limit), None)
        case "vector/exact" => (s"SELECT vec_id, score FROM (${VectorSearch.topKSql(qId, Limit)}) o " +
          "ORDER BY score DESC, vec_id", Some(qId -> qEmb))
        case _ => (HybridSearch.fusedSql(terms, qId, HybridSearch.Alpha, Limit), Some(qId -> qEmb))
      }
      ctx.attempted.incrementAndGet()
      ctx.oracle += OracleCheck(s"$route#$id", dir, sql, rows, query)
    }
    // the first timed micro-batch against the batch fusion's oracle over
    // the same query ids: fused scores are batch-split invariant
    val b = WarmBatches
    if (servedIds.size > b) {
      val rows = Option(served.get(b.toLong)).toSeq.flatMap(_.toSeq)
        .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int]))
      ctx.attempted.incrementAndGet()
      ctx.oracle += OracleCheck(s"batch/serve#$b", dir,
        s"""SELECT * FROM (${HybridSearch.fusedBatchSql(ServeStride, k = ServeK)}) o
           |WHERE q_id IN (${servedIds(b).mkString(", ")}) ORDER BY q_id, rn""".stripMargin, rows)
    }
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  def report(ctx: Ctx, elapsedS: Double): (Double, Double) = {
    val ops = ctx.opList
    // the typical latency under the block's mix: each (op, mode) class's
    // mean latency weighted by its share of the slots, so a run that ends
    // inside a block still measures the same mix
    val classes = ops.groupBy(_.tag)
    val weights = slotClasses.groupBy { case (op, m) => s"$op/$m" }.map { case (k, v) => k -> v.size }
    val seen = weights.filter { case (k, _) => classes.contains(k) }
    val typical = seen.map { case (k, w) => w * Stats.mean(classes(k).map(_.ms)) }.sum /
      math.max(1, seen.values.sum)
    val lastEnd = ops.map(o => done.get(o.index)).maxOption.getOrElse(firstStartNs)
    val throughput = ops.size / math.max(1e-9, (lastEnd - firstStartNs) / 1e9)
    val reqs = ops.filterNot(_.tag.startsWith("batch/")).map(_.ms)
    val batches = ops.filter(_.tag.startsWith("batch/")).map(_.ms)
    ctx.named("req_p50_ms") = (Stats.median(reqs), "ms", reqs.size)
    ctx.named("batch_p50_ms") = (Stats.median(batches), "ms", batches.size)
    ctx.named("ops_per_s") = (throughput, "1/s", ops.size)
    ctx.info("requests_by_class") = classes.toSeq.sortBy(_._1).map { case (t, o) =>
      f"$t=${o.size}:${Stats.median(o.map(_.ms))}%.0fms" }.mkString(",")
    if (ctx.traceRun) {
      val spans = ctx.tracer.spanList.filter(_.kind == "req")
      for (op <- Seq("keyword", "vector", "hybrid"))
        ctx.layers(s"client.call_ms.$op") =
          (Stats.median(spans.filter(s => s.phase == "client" && s.tag == op).map(_.ms)), "ms")
      val traced = ops.filter(o => o.traced && !o.tag.startsWith("batch/"))
      val nReq = math.max(1, traced.size)
      ctx.layers("client.eager_jobs_per_req") = (ctx.tracer.sumWhere(k =>
        k.startsWith("req:") && k.endsWith(":client")).jobs.toDouble / nReq, "count")
      for (m <- Modes)
        ctx.layers(s"client.route_p50_ms.$m") =
          (Stats.median(traced.filter(_.tag.endsWith(s"/$m")).map(_.ms)), "ms")
      ctx.layers("catalyst.plan_ms") = (Stats.median(spans.filter(_.phase == "plan").map(_.ms)), "ms")
      Layers.exec(ctx, "req:", spans.filter(_.phase == "exec").map(_.ms), nReq)
      refreshLayers(ctx)
      serveLayers(ctx)
    }
    for (m <- Modes) ctx.layers(s"client.first_req_ms.$m") = (firstReqMs(m), "ms")
    (typical, throughput)
  }

  /** The serving stream's traced micro-batches: phase durations from
    * their progress reports, and the fusion's shuffle per query.
    */
  private def serveLayers(ctx: Ctx): Unit = {
    val qid = serve.id.toString
    val prog = ctx.tracer.progressList.filter(p => p.id.toString == qid && p.numInputRows > 0)
    def dur(k: String) = Stats.median(prog.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    ctx.layers("serve.add_batch_ms") = (dur("addBatch"), "ms")
    ctx.layers("serve.wal_commit_ms") = (dur("walCommit"), "ms")
    ctx.layers("serve.commit_offsets_ms") = (dur("commitOffsets"), "ms")
    ctx.layers("stream.query_planning_ms") = (dur("queryPlanning"), "ms")
    val a = ctx.tracer.sum(s"sq:$qid:")
    val queries = math.max(1L, prog.map(_.numInputRows).sum)
    val rowsOut = prog.flatMap(p => Option(served.get(p.batchId)).map(_.length.toLong)).sum
    ctx.layers("fusion.shuffle_records_per_query") = (a.shuffleRecords.toDouble / queries, "count")
    ctx.layers("fusion.rows_out_per_shuffle_record") =
      (rowsOut.toDouble / math.max(1L, a.shuffleRecords), "ratio")
  }

  /** The refreshed layouts' write path, as the refreshed mode's first
    * request ran it in set-up: time per function from the stack sampler,
    * the refresh's Spark jobs and bytes written (jobs labelled by the
    * function running when they were submitted), and the layouts' shape.
    */
  private def refreshLayers(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def ms(fn: String*) = fn.map(setupMs.getOrElse(_, 0.0)).sum
    ctx.layers("build_base_ms") = (ms("IndexRefresh.buildBase", "VectorRefresh.buildBase"), "ms")
    ctx.layers("kw_refresh_ms") = (ms("IndexRefresh.refresh", "IndexRefresh.refreshAt"), "ms")
    ctx.layers("vec_refresh_ms") = (ms("VectorRefresh.refresh"), "ms")
    ctx.layers("read.view_rebuild_ms") = (ms("IndexRefresh.cachedView"), "ms")
    val refreshFns = Set("IndexRefresh.refresh", "IndexRefresh.refreshAt", "VectorRefresh.refresh")
    val s = sampler.get
    val refreshWork = ctx.tracer.sumJobs((k, t) =>
      k == s"setup:${GraftClient.IndexRefreshed}" && refreshFns(s.labelAt(t)))
    // the refresh's input: the added and changed rows of the snapshot diff
    val docs = Tables.documents(spark, dir)
    val (curr, prev) = (CorpusOps.currSnapshot(docs), CorpusOps.prevSnapshot(docs))
    val changed = CorpusOps.snapshotDiff(curr, prev).filter(col("status").isin("added", "changed"))
    val docBytes = Option(curr.join(changed.select("doc_id"), Seq("doc_id"), "semi")
      .agg(sum(length(col("text")))).head().get(0)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    val embs = Tables.embeddings(spark, dir)
    val vecBytes = VectorRefresh.deltaEmbs(VectorRefresh.currSnapshot(embs),
      VectorRefresh.prevSnapshot(embs)).count() * Gen.Dim * 4L
    ctx.layers("refresh.jobs") = (refreshWork.jobs.toDouble, "count")
    ctx.layers("refresh.bytes_written_per_delta_byte") =
      (refreshWork.bytesWritten.toDouble / math.max(1L, docBytes + vecBytes), "ratio")
    val kwPath = IndexRefresh.refreshedArtifact(spark, dir)
    val vecPath = VectorRefresh.refreshedArtifact(spark, dir)
    ctx.layers("artifact.live_segments") = (IndexRefresh.segmentIds(kwPath).size.toDouble, "count")
    ctx.layers("artifact.bytes_per_live_doc") =
      ((dirBytes(kwPath) + dirBytes(vecPath)).toDouble / math.max(1, liveDocs.size), "bytes")
  }
}

object PointServe {
  val Modes: Seq[String] = Seq(GraftClient.IndexExact, GraftClient.IndexRefreshed)

  /** Routes with a DuckDB oracle, and the page columns it returns. */
  val OracleCols: Map[String, Seq[String]] = Map(
    "keyword/exact" -> Seq("doc_id", "source", "lang", "score"),
    "keyword/refreshed" -> Seq("doc_id", "source", "lang", "score"),
    "vector/exact" -> Seq("doc_id", "score"),
    "hybrid/exact" -> Seq("doc_id", "source", "score"))

  /** Functions the set-up stack sampler charges time to. */
  val SampledFunctions: Map[String, Set[String]] = Map(
    "graft.operators.IndexRefresh$" -> Set("buildBase", "refresh", "refreshAt", "cachedView"),
    "graft.operators.VectorRefresh$" -> Set("buildBase", "refresh"))

  /** Serving micro-batches draw their query ids from the multiples of
    * this stride, the query set the batch fusion's oracle replays.
    */
  val ServeStride = 25

  final case class Req(op: String, mode: String, text: String,
                       filter: Option[(String, String)], ids: Seq[Long] = Nil)
}
