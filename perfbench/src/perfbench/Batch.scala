package perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.queries.Registry

/** The batch workloads: one application running a fixed list of
  * registry queries once each, in a seed-drawn order, as a freshly
  * started batch application runs them: first-use costs of each stage's
  * own code paths (class loading, JIT, code generation) are part of the
  * work. Each stage's rows are collected to the driver, and written out
  * as parquet for the output check after the timed pass. The registry's builders
  * each read the input tables only, so every order is a valid schedule. */
object Batch {

  val CrawlStages: Seq[String] = Seq(
    "c1_crawldb_merge", "c2_crawldb_incremental", "g5_pagerank", "g12_ppr",
    "g17_components", "d4_simhash_lsh", "d12_lsh_recall",
    "lg1_topk_per_host", "lg2_bundles", "lg3_segments", "lg4_high_value_urls",
    "lg5_recrawl_due", "lg6_politeness_schedule", "lg7_frontier_priority",
    "lg8_sitemap_frontier")

  /** The content-extraction families: HTTP/HTML parsing (x), media and
    * document decoders (m), URL canonicalisation (u). */
  def ContentStages: Seq[String] =
    Registry.queries.keys.filter(n => "xmu".contains(n.head) && n(1).isDigit).toSeq.sorted

  def stagesOf(workload: String): Seq[String] = workload match {
    case "crawl_batch" => CrawlStages
    case "content_scan" => ContentStages
    case w => throw new IllegalArgumentException(s"unknown batch workload '$w'")
  }

  /** Queries outside both batch workloads that take, in set-up, the
    * engine's shared first-use costs (scan, aggregate, join and window
    * code paths and the code generator; for the crawl chain also the
    * CrawlDB merge and the PageRank loop), so they do not land on
    * whichever measured stage happens to run first in the seeded order. */
  def warmUp(workload: String): Seq[String] =
    Seq("q1_agg", "j1_multihop_join", "w1_topk_per_group") ++
      (if (workload == "crawl_batch") Seq("c3_merged_linkgraph", "g6_pagerank_sampled") else Nil)

  /** Runs the warm-up queries; returns the Spark cache entries and
    * persistent RDDs they leave, the base of `cached_left`. */
  def warm(ctx: Main.Ctx, workload: String): Int = {
    warmUp(workload).foreach(q => Registry.queries(q)(ctx.spark, ctx.data)
      .write.format("noop").mode("overwrite").save())
    Main.cachedLeft(ctx.spark)
  }

  /** The timed pass. `cachedBefore` is what set-up left cached, so
    * `cached_left` counts what the workload's own stages leave. */
  def run(ctx: Main.Ctx, stages: Seq[String], cachedBefore: Int): Map[String, Any] = {
    import ctx._
    val rng = new scala.util.Random(seed)
    tracing(traced)
    val gc0 = Main.gcMs()
    val p0 = System.nanoTime()
    val done = rng.shuffle(stages).map { name =>
      val s0 = System.nanoTime()
      val out = stage(ctx, name)
      (name, (System.nanoTime() - s0) / 1e6, out)
    }
    val pass = Map("wall_s" -> (System.nanoTime() - p0) / 1e9, "gc_s" -> (Main.gcMs() - gc0) / 1e3)
    tracing(false)
    val cachedLeft = Main.cachedLeft(spark) - cachedBefore
    log("timed pass done")
    val dir = Paths.get(work, "results")
    Files.createDirectories(dir)
    // one small job per stage: run them side by side, on nproc threads
    val writes = Future.traverse(done.collect { case (name, _, Some(out)) => (name, out) }) {
      case (name, (schema, rows)) => Future {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.mode("overwrite").parquet(dir.resolve(name).toString)
      }
    }
    Await.result(writes, Duration.Inf)
    Map("ops" -> done.map { case (name, ms, out) =>
        Map("kind" -> "stage", "name" -> name, "lat_ms" -> ms, "ok" -> out.isDefined) },
      "pass" -> pass, "cached_left" -> cachedLeft,
      "results_dir" -> dir.toString)
  }

  /** One stage as a user runs it: build the query, then execute it and
    * collect every row. */
  private def stage(ctx: Main.Ctx, name: String): Option[(StructType, Array[Row])] = {
    import ctx._
    try {
      tracer.span("op", name) {
        val (cg0, cc0) = Main.codegen()
        val df = tracer.span("build", name)(Registry.queries(name)(spark, data))
        val rows = tracer.span("exec", name)(df.collect())
        val (cg1, cc1) = Main.codegen()
        tracer.count("codegen", name,
          Map("codegen_ns" -> (cg1 - cg0).toDouble, "codegen_classes" -> (cc1 - cc0).toDouble))
        Some((df.schema, rows))
      }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] stage $name failed: $e")
        None
    }
  }

  /** One run of every stage with its result written for pinning, plus
    * the DuckDB oracle SQL of the stages that have one. */
  def dump(ctx: Main.Ctx, stages: Seq[String]): Map[String, Any] =
    run(ctx, stages, 0) ++
      Map("oracle" -> Registry.oracleSql.filter { case (k, _) => stages.contains(k) })
}
