package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one engine session, runs one
  * workload for a time budget, checks what it can check in-process, and
  * writes raw samples (operation latencies, the timed pass, spans) as JSON for
  * `perfbench/run.py`, which turns them into metrics.
  *
  *   perfbench.Main --workload <crawl_batch|content_scan|serve_pages>
  *     --seed N --seconds S --trace 0|1 --data <dir> --work <dir>
  *     --out <file.json> --t0-ms <launch epoch ms> [--dump 1]
  *
  * `--dump 1` runs each batch stage once and writes its result and the
  * DuckDB oracle SQL, for pinning expected outputs. */
object Main {

  final case class Ctx(spark: SparkSession, data: String, work: String,
      seed: Long, seconds: Double, traced: Boolean, launchMs: Long, tracer: Tracer,
      tasks: TaskStats, plans: PlanStats) {
    /** Seconds since the launcher started this JVM. */
    def sinceLaunch: Double = (System.currentTimeMillis() - launchMs) / 1e3
    def log(what: String): Unit = System.err.println(f"[perfbench] $what at $sinceLaunch%.2f s")

    /** Switch spans and listeners on or off (traced runs only). */
    def tracing(on: Boolean): Unit = if (traced && tracer.on != on) {
      tracer.on = on
      if (on) {
        spark.sparkContext.addSparkListener(tasks)
        spark.listenerManager.register(plans)
      } else {
        spark.sparkContext.removeSparkListener(tasks)
        spark.listenerManager.unregister(plans)
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    // halt once the samples are written: the HTTP server's worker pool is
    // not daemon, and Spark's orderly shutdown adds seconds that nobody
    // measures; the launcher discards the work directory
    val code = try { run(argv); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dump = a.contains("dump")
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val spark = session(work)
    val ctx = Ctx(spark, Paths.get(a("data")).toAbsolutePath.toString, work,
      a("seed").toLong, a("seconds").toDouble, a.get("trace").contains("1"),
      a("t0-ms").toLong, new Tracer(spark.sparkContext), new TaskStats, new PlanStats)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    try {
      ctx.log("session up")
      warm(ctx)
      ctx.log("inputs warm")
      if (dump) out ++= Batch.dump(ctx, Batch.stagesOf(workload))
      else workload match {
        case "serve_pages" =>
          val server = Serve.start(ctx)
          out("setup_s") = ctx.sinceLaunch
          out ++= Serve.run(ctx, server)
        case w =>
          val cached = Batch.warm(ctx, w)
          out("setup_s") = ctx.sinceLaunch
          out ++= Batch.run(ctx, Batch.stagesOf(w), cached)
      }
      ctx.log("measured and checked")
      ctx.tracing(false)
      if (ctx.traced) out("spans") = spansJson(ctx)
    } finally {
      Files.writeString(Paths.get(a("out")), Json.render(out))
    }
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.stageDir", s"$work/stage")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Input warm-up: every input byte through the OS page cache and every
    * table through Spark's scan. */
  def warm(ctx: Ctx): Unit =
    Files.list(Paths.get(ctx.data)).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .foreach { p =>
        Files.readAllBytes(p)
        ctx.spark.read.parquet(p.toString).count()
      }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Spark cache entries plus persistent RDDs still held by the session. */
  def cachedLeft(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val f = cm.getClass.getDeclaredMethod("cachedData")
    f.setAccessible(true)
    f.invoke(cm).asInstanceOf[scala.collection.Seq[_]].size +
      spark.sparkContext.getPersistentRDDs.size
  }

  /** Spark's JVM-wide codegen counters: nanoseconds spent compiling
    * generated code, and the number of generated classes compiled. */
  def codegen(): (Long, Long) = {
    val wsc = Class.forName("org.apache.spark.sql.execution.WholeStageCodegenExec$")
    val wscObj = wsc.getField("MODULE$").get(null)
    val ns = wsc.getMethod("codeGenTime").invoke(wscObj).asInstanceOf[Long]
    val cm = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    val cmObj = cm.getField("MODULE$").get(null)
    val hist = cm.getMethod("METRIC_GENERATED_CLASS_BYTECODE_SIZE").invoke(cmObj)
      .asInstanceOf[com.codahale.metrics.Histogram]
    (ns, hist.getCount)
  }

  private def spansJson(ctx: Ctx): Seq[Map[String, Any]] = {
    // the listener bus delivers planning intervals asynchronously
    Thread.sleep(500)
    ctx.tracer.attach("plan", ctx.plans.intervals.asScala.toSeq)
    ctx.tracer.all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "key" -> s.key,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "attrs" -> (s.attrs ++ ctx.tasks.forSpan(s.id)),
        "skew" -> ctx.tasks.skews(s.id))
    }
  }

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
}

/** Minimal JSON writer for the raw-sample file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
