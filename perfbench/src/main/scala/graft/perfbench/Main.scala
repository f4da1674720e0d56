package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation. `traced` marks operations run with the tracer
  * attached (the second half of a traced run); `index` is the operation's
  * position in the workload's schedule, -1 where it has none.
  */
final case class Op(kind: String, tag: String, ms: Double, items: Long,
                    traced: Boolean, index: Int)

/** A DuckDB oracle comparison, run by `run.py` after the JVM exits:
  * `sql` over the views of `dir` must return exactly `rows`. `query`,
  * when set, is a query vector (id, embedding) added to the embeddings
  * view for this check only.
  */
final case class OracleCheck(op: String, dir: String, sql: String,
                             rows: Seq[Seq[Any]],
                             query: Option[(Long, Seq[Double])] = None)

/** Everything one run records. */
final class Ctx(val spark: SparkSession, work: String, val seed: Long,
                val traceRun: Boolean) {
  val tracer: Tracer = new Tracer
  @volatile var tracing = false
  def activeTracer: Option[Tracer] = if (tracing) Some(tracer) else None

  val ops = new ConcurrentLinkedQueue[Op]()
  val attempted = new AtomicLong()
  val failures = new ConcurrentLinkedQueue[(String, String)]()
  val oracle = mutable.ArrayBuffer[OracleCheck]()
  /** Per-layer metrics: name -> (value, unit). */
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  /** The workload's own named metrics with sample counts, reported in the
    * run's metadata.
    */
  val named = mutable.LinkedHashMap[String, (Double, String, Int)]()
  val info = mutable.LinkedHashMap[String, String]()
  val rnd = new java.util.SplittableRandom(seed)

  def fail(op: String, msg: String): Unit = failures.add(op -> msg.take(300))

  /** Run and time one operation; a thrown exception or a failed check
    * (returned as Some(message)) counts as a failed operation.
    */
  def timed(kind: String, tag: String, items: Long = 1, index: Int = -1)
           (body: => Option[String]): Double = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val res = try body catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case None => ops.add(Op(kind, tag, ms, items, tracing, index))
      case Some(err) => fail(s"$kind/$tag", err)
    }
    ms
  }

  def opList: Seq[Op] = ops.asScala.toSeq
  def path(p: String): String = new File(work, p).getAbsolutePath
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.length - 1) * p
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A benchmark workload: inputs, set-up, timed phase, checks, report. */
trait Workload {
  /** Make the run's inputs from the seed (not part of set-up time). */
  def generate(ctx: Ctx): Unit
  /** Program set-up before the first timed operation. */
  def setup(ctx: Ctx): Unit
  /** Closed-loop operations until `deadlineNs`, at least one; called once
    * per slice of the timed phase.
    */
  def run(ctx: Ctx, deadlineNs: Long): Unit
  /** Off-timed-path correctness checks. */
  def check(ctx: Ctx): Unit
  /** Fill `ctx.named` and `ctx.layers` from the recorded operations.
    * Returns the typical operation latency in ms and the throughput in
    * items per second, given the timed phase's wall time.
    */
  def report(ctx: Ctx, elapsedS: Double): (Double, Double)
  /** Stop streams and other resources. */
  def close(ctx: Ctx): Unit = ()
}

object Main {
  private def arg(args: Array[String], k: String, d: String): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else d
  }

  /** Fixed CPU calibration (graft.Bench's integer loop): box-load evidence
    * kept in the run's metadata, never a metric.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0L; var acc = 0L
    while (i < 100000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    if (acc == 42L) System.err.println("cal")
    (System.nanoTime() - t0) / 1e9
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections. Spark's context cleaner drops
    * broadcast and shuffle blocks asynchronously once a collection has
    * enqueued their references, so the collection repeats with pauses
    * until those blocks are gone.
    */
  def liveHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def workload(name: String): Workload = name match {
    case "point_serve" => new PointServe
    case "index_refresh" => new IndexRefreshLoad
    case "stream_events" => new StreamEvents
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload", "point_serve")
    val seed = arg(args, "--seed", "1").toLong
    val seconds = arg(args, "--seconds", "10").toDouble
    val traceRun = arg(args, "--trace", "0") == "1"
    val work = new File(arg(args, "--work", "bench_work")).getAbsolutePath
    val out = arg(args, "--out", s"$work/result.json")
    val cores = arg(args, "--cores",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val w = workload(name)
    val calStart = calibrate()

    val b0 = System.nanoTime()
    val spark = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("graft-perfbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - b0) / 1e9
    val ctx = new Ctx(spark, work, seed, traceRun)

    // input generation needs the session but is not set-up: set-up is the
    // session start plus everything graft does before the first timed
    // operation
    val g0 = System.nanoTime()
    w.generate(ctx)
    val genS = (System.nanoTime() - g0) / 1e9
    val s0 = System.nanoTime()
    w.setup(ctx)
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9

    val sc = spark.sparkContext
    val rdds0 = sc.getPersistentRDDs.size
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val total = (seconds * 1e9).toLong
    if (traceRun) {
      // an untraced half, then a traced half: the traced half gives the
      // per-layer metrics, the difference gives the tracing overhead
      w.run(ctx, t0 + total / 2)
      ctx.tracing = true
      ctx.tracer.attach(spark)
      w.run(ctx, t0 + total)
      ctx.tracer.detach(spark)
      ctx.tracing = false
    } else w.run(ctx, t0 + total)
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val gcTimed = gcMs() - gc0
    val rddsDelta = sc.getPersistentRDDs.size - rdds0
    val heapMb = liveHeapMb()
    val storageMb = org.apache.spark.perfbench.Bus.storageMemUsed(sc) / (1024.0 * 1024.0)

    w.close(ctx)
    val tmpLeft = Option(new File(s"$work/tmp").listFiles()).map(_.count(f =>
      f.getName.startsWith("graft_") || f.getName.startsWith("temporary-"))).getOrElse(0)
    val c0 = System.nanoTime()
    try w.check(ctx) catch {
      case e: Throwable => ctx.fail("check", s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val checkS = (System.nanoTime() - c0) / 1e9

    val (latency, throughput) = w.report(ctx, elapsedS)
    // every timed operation in completion order, so a disturbed run shows
    ctx.info("op_ms") = ctx.opList.map(o => f"${o.tag}:${o.ms}%.0f").mkString(",")
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    e2e("setup_s") = (setupS, "s")
    e2e("op_latency_ms") = (latency, "ms")
    e2e("throughput_per_s") = (throughput, "1/s")
    e2e("heap_live_mb") = (heapMb, "MB")
    val attempted = ctx.attempted.get()

    ctx.layers("blocks.persistent_rdds_delta") = (rddsDelta.toDouble, "count")
    ctx.layers("blocks.storage_mb") = (storageMb, "MB")
    ctx.layers("jvm.gc_ms") = (gcTimed.toDouble, "ms")
    ctx.layers("tmp.dirs_left") = (tmpLeft.toDouble, "count")
    if (traceRun) {
      Layers.complete(ctx)
      // compare like with like: per operation tag, traced mean over
      // untraced mean, then the median over tags seen in both halves
      val ratios = ctx.opList.groupBy(_.tag).values.flatMap { os =>
        val (t, u) = os.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None
        else Some(Stats.mean(t.map(_.ms)) / Stats.mean(u.map(_.ms)))
      }.toSeq
      ctx.layers("trace.overhead_pct") =
        (if (ratios.isEmpty) 0.0 else 100.0 * (Stats.median(ratios) - 1.0), "%")
    }

    val conf = spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sortBy(_._1)
    val config = mutable.LinkedHashMap[String, Any](
      "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> cores,
      "spark_version" -> spark.version,
      "spark_sql_conf" -> conf.toMap)
    val calEnd = calibrate()
    val json = Json.write(mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traceRun,
      "attempted" -> attempted, "failed" -> ctx.failures.size,
      "failures" -> ctx.failures.asScala.toSeq.map { case (o, m) => Map("op" -> o, "message" -> m) },
      "metrics" -> (if (traceRun) ctx.layers else e2e).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "named" -> ctx.named.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "samples" -> n) },
      "timing_s" -> Map("session" -> sessionS, "generate" -> genS, "setup" -> setupS,
        "timed" -> elapsedS, "check" -> checkS),
      "cal_sec" -> Seq(calStart, calEnd),
      "config" -> config,
      "info" -> ctx.info,
      "oracle" -> ctx.oracle.map(o => Map("op" -> o.op, "dir" -> o.dir, "sql" -> o.sql,
        "rows" -> o.rows, "query" -> o.query.map { case (id, v) =>
          Map("vec_id" -> id, "embedding" -> v) })),
      "spans" -> (if (traceRun) ctx.tracer.spanRecords else Nil),
      "progress" -> (if (traceRun) ctx.tracer.progressRecords else Nil)))
    val f = new File(out)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
    spark.stop()
  }
}

/** The run's result file, written with Jackson; non-finite numbers
  * become null.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => None
    case f: Float if f.isNaN || f.isInfinite => None
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case s: Iterable[_] => s.map(finite)
    case o: Option[_] => o.map(finite)
    case other => other
  }

  def write(v: Any): String = mapper.writeValueAsString(finite(v))
}
