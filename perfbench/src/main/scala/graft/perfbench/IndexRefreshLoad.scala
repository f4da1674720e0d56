package graft.perfbench

import scala.collection.mutable

import graft.operators.{IndexRefresh, IvfIndex, VectorRefresh}
import org.apache.spark.sql.DataFrame

/** `index_refresh`: base keyword and vector layouts are built at set-up from
  * a seeded snapshot; each cycle then applies one seeded refresh batch
  * (added, changed and removed documents and vectors) through
  * `IndexRefresh.refresh` and `VectorRefresh.refresh`, compacts when the
  * modules' own `compactionPlan` says so, and reads through
  * `IndexRefresh.search` and `VectorRefresh.search`: one first read after
  * the refresh, then warm reads.
  *
  * Ids skip the residue graft's snapshot-diff convention reserves for
  * removed rows (`id % 29 == 3`), so the modules' refreshed-search oracle
  * SQL replays the current state as written.
  */
final class IndexRefreshLoad extends Workload {
  val BaseDocs = 5000
  val BaseVecs = 2000
  val Added = 60
  val Changed = 30
  val Removed = 10
  val WarmReads = 3
  val Limit = 10

  private val docs = mutable.LinkedHashMap[Long, Gen.Doc]()
  private val embs = mutable.LinkedHashMap[Long, Gen.Emb]()
  private var nextId = 0L
  private var rnd: java.util.SplittableRandom = _
  private var cents: Array[Array[Double]] = _
  private var kwPath = ""
  private var vecPath = ""
  private var generation = 0
  private var buildBaseMs = 0.0
  /** Input bytes of the refresh batches applied while traced. */
  private var tracedDeltaBytes = 0L

  private def allocId(): Long = {
    while (nextId % 29 == 3) nextId += 1
    val id = nextId; nextId += 1; id
  }

  def generate(ctx: Ctx): Unit = {
    rnd = ctx.rnd
    val ids = IndexedSeq.fill(BaseDocs)(allocId())
    val (ds, es, cs) = Gen.corpus(rnd, ids, BaseVecs)
    cents = cs
    ds.foreach(d => docs(d.doc_id) = d)
    es.foreach(e => embs(e.vec_id) = e)
  }

  private def docFrame(ctx: Ctx, ds: Iterable[Gen.Doc]): DataFrame =
    Gen.docsFrame(ctx.spark, ds.toSeq).select("doc_id", "text", "source", "lang")
  private def embFrame(ctx: Ctx, es: Iterable[Gen.Emb]): DataFrame =
    Gen.embsFrame(ctx.spark, es.toSeq)

  def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    kwPath = ctx.path(s"layout/kw$generation")
    vecPath = ctx.path(s"layout/vec$generation")
    IndexRefresh.buildBase(docFrame(ctx, docs.values), kwPath)
    VectorRefresh.buildBase(embFrame(ctx, embs.values), vecPath)
    buildBaseMs = (System.nanoTime() - t0) / 1e6
    // one untimed cycle warms the refresh and read paths; its operations
    // are dropped from the record (failures stay)
    cycle(ctx, timed = false)
    ctx.ops.clear()
    ctx.attempted.set(0)
  }

  private def pick[T](m: mutable.LinkedHashMap[Long, T], n: Int): Seq[Long] = {
    val keys = m.keys.toIndexedSeq
    Iterator.continually(keys(rnd.nextInt(keys.size))).distinct.take(n).toSeq
  }

  /** Apply one seeded refresh batch to both layouts and to the benchmark's
    * own copy of the current state.
    */
  private def refresh(ctx: Ctx): Unit = {
    val changedD = pick(docs, Changed + Removed)
    val (chD, rmD) = changedD.splitAt(Changed)
    val prevD = changedD.map(docs)
    val newD = chD.map(Gen.doc(rnd, _)) ++
      Seq.fill(Added)(Gen.doc(rnd, allocId()))
    val vChanged = pick(embs, Changed / 2 + Removed / 2)
    val (chV, rmV) = vChanged.splitAt(Changed / 2)
    val prevV = vChanged.map(embs)
    val newV = chV.map(id => Gen.emb(rnd, cents, id)) ++
      Seq.fill(Added / 2)(Gen.emb(rnd, cents, allocId()))
    rmD.foreach(docs.remove); newD.foreach(d => docs(d.doc_id) = d)
    rmV.foreach(embs.remove); newV.foreach(e => embs(e.vec_id) = e)
    if (ctx.tracing) tracedDeltaBytes += newD.map(_.text.length.toLong).sum + newV.size * Gen.Dim * 4L
    val tr = ctx.activeTracer
    val c = s"cycle:${ctx.attempted.get}"
    ctx.timed("kw_refresh", "refresh") {
      Tracer.span(tr, ctx.spark, s"$c:kw", "refresh", "kw", "") {
        IndexRefresh.refresh(ctx.spark, kwPath, docFrame(ctx, newD), docFrame(ctx, prevD))
      }
      None
    }
    ctx.timed("vec_refresh", "refresh") {
      Tracer.span(tr, ctx.spark, s"$c:vec", "refresh", "vec", "") {
        VectorRefresh.refresh(ctx.spark, vecPath, embFrame(ctx, newV), embFrame(ctx, prevV))
      }
      None
    }
  }

  /** The modules' compaction policy; folds both layouts into a fresh
    * generation when either says so.
    */
  private def maybeCompact(ctx: Ctx): Unit = {
    val due = IndexRefresh.compactionPlan(ctx.spark, kwPath).head().getAs[Boolean]("compact") ||
      VectorRefresh.compactionPlan(ctx.spark, vecPath).head().getAs[Boolean]("compact")
    if (due) {
      generation += 1
      val kw = ctx.path(s"layout/kw$generation")
      val vec = ctx.path(s"layout/vec$generation")
      ctx.timed("compact", "compact") {
        Tracer.span(ctx.activeTracer, ctx.spark, s"compact:$generation", "compact", "", "") {
          IndexRefresh.compact(ctx.spark, kwPath, kw)
          VectorRefresh.compact(ctx.spark, vecPath, vec)
        }
        None
      }
      kwPath = kw; vecPath = vec
    }
  }

  private def read(ctx: Ctx, kind: String): Unit = {
    val terms = Gen.queryTerms(rnd, 1 + rnd.nextInt(3))
    val q = pick(embs, 1).head
    ctx.timed(kind, "read") {
      Tracer.span(ctx.activeTracer, ctx.spark, s"$kind:${ctx.attempted.get}", "read", kind, "") {
        val kwRows = IndexRefresh.search(ctx.spark, kwPath, docFrame(ctx, docs.values), terms, Limit)
          .collect()
        val qEmb = ctx.spark.createDataFrame(Seq(Tuple1(embs(q).embedding))).toDF("q_emb")
        val vRows = VectorRefresh.search(ctx.spark, vecPath, qEmb, q, k = Limit).collect()
        val kwIds = kwRows.map(_.getAs[Long]("doc_id"))
        val vIds = vRows.map(_.getAs[Long]("vec_id"))
        if (kwRows.length > Limit || vRows.length > Limit) Some("page longer than the limit")
        else if (kwIds.distinct.length != kwIds.length || vIds.distinct.length != vIds.length)
          Some("duplicate id in page")
        else kwIds.find(!docs.contains(_)).map(i => s"doc_id $i is not live")
          .orElse(vIds.find(i => !embs.contains(i) || i == q).map(i => s"vec_id $i is not live"))
      }
    }
  }

  private def cycle(ctx: Ctx, timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    refresh(ctx)
    maybeCompact(ctx)
    read(ctx, "read_first")
    for (_ <- 0 until WarmReads) read(ctx, "read")
    if (timed) ctx.ops.add(Op("cycle", "cycle", (System.nanoTime() - t0) / 1e6,
      (Added + Changed + Removed + Added / 2 + Changed / 2 + Removed / 2).toLong, ctx.tracing, -1))
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit =
    do cycle(ctx, timed = true) while (System.nanoTime() < deadlineNs)

  /** Off the timed path: the current state is written as a corpus and a
    * seeded sample of keyword and vector reads is replayed in DuckDB
    * against the modules' refreshed-search oracle SQL.
    */
  def check(ctx: Ctx): Unit = {
    val dir = ctx.path("data/current")
    Gen.writeCorpus(ctx.spark, dir, docs.values.toSeq, embs.values.toSeq)
    val r = new java.util.SplittableRandom(ctx.seed * 13 + 5)
    val spark = ctx.spark
    for (_ <- 0 until 3) {
      val terms = Gen.queryTerms(r, 1 + r.nextInt(3))
      ctx.attempted.incrementAndGet()
      val rows = IndexRefresh.search(spark, kwPath, docFrame(ctx, docs.values), terms, Limit)
        .select("doc_id", "source", "lang", "score").collect()
        .map(x => Seq[Any](x.getLong(0), x.getString(1), x.getString(2), x.getDouble(3)))
      ctx.oracle += OracleCheck("refresh/keyword", dir, IndexRefresh.refreshSearchSql(terms, Limit),
        rows.toSeq)
    }
    val keys = embs.keys.toIndexedSeq
    for (_ <- 0 until 2) {
      val q = keys(r.nextInt(keys.size))
      ctx.attempted.incrementAndGet()
      val qEmb = spark.createDataFrame(Seq(Tuple1(embs(q).embedding))).toDF("q_emb")
      val rows = VectorRefresh.search(spark, vecPath, qEmb, q, k = Limit)
        .select("vec_id", "cell", "score").collect()
        .map(x => Seq[Any](x.getLong(0), x.getInt(1), x.getDouble(2)))
      ctx.oracle += OracleCheck("refresh/vector", dir,
        VectorRefresh.refreshSearchSql(q, IvfIndex.NProbe, Limit), rows.toSeq)
    }
  }

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  def report(ctx: Ctx, elapsedS: Double): (Double, Double) = {
    val ops = ctx.opList
    def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms)
    val cycles = ops.filter(_.kind == "cycle")
    val refreshMs = ops.filter(_.kind == "kw_refresh").map(_.ms)
      .zip(ops.filter(_.kind == "vec_refresh").map(_.ms)).map { case (a, b) => a + b }
    ctx.named("refresh_p50_ms") = (Stats.median(refreshMs), "ms", refreshMs.size)
    ctx.named("read_after_refresh_p50_ms") =
      (Stats.median(ms("read_first")), "ms", ms("read_first").size)
    ctx.named("read_p50_ms") = (Stats.median(ms("read")), "ms", ms("read").size)
    ctx.named("cycle_p50_ms") = (Stats.median(cycles.map(_.ms)), "ms", cycles.size)
    if (ctx.traceRun) {
      val t = ops.filter(_.traced)
      def tms(kind: String) = t.filter(_.kind == kind).map(_.ms)
      ctx.layers("kw_refresh_ms") = (Stats.median(tms("kw_refresh")), "ms")
      ctx.layers("vec_refresh_ms") = (Stats.median(tms("vec_refresh")), "ms")
      val nRefresh = math.max(1, tms("kw_refresh").size)
      val ref = ctx.tracer.sum("cycle:")
      ctx.layers("refresh.jobs") = (ref.jobs.toDouble / nRefresh, "count")
      ctx.layers("refresh.bytes_written_per_delta_byte") =
        (ref.bytesWritten.toDouble / math.max(1L, tracedDeltaBytes), "ratio")
      ctx.layers("compact_ms") = (Stats.median(tms("compact")), "ms")
      ctx.layers("compactions") = (ms("compact").size.toDouble, "count")
      ctx.layers("read.view_rebuild_ms") =
        (Stats.median(tms("read_first")) - Stats.median(tms("read")), "ms")
      val tracedCycles = math.max(1, t.count(_.kind == "cycle"))
      Layers.exec(ctx, "", ms("cycle"), tracedCycles)
    }
    ctx.layers("artifact.live_segments") =
      (IndexRefresh.segmentIds(kwPath).size.toDouble, "count")
    ctx.layers("artifact.bytes_per_live_doc") =
      ((dirBytes(kwPath) + dirBytes(vecPath)).toDouble / math.max(1, docs.size), "bytes")
    ctx.layers("build_base_ms") = (buildBaseMs, "ms")
    (Stats.median(cycles.map(_.ms)), cycles.map(_.items).sum / elapsedS)
  }
}
