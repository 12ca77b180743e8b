package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.queries.{QueryServer, QueryServerHttp, Registry, ResultCache}

/** The serving workload: one [[QueryServer]] behind [[QueryServerHttp]]
  * on loopback, driven by a closed loop of client threads that each wait
  * for their reply before sending the next request from a seeded trace.
  *
  * The trace is a run of blocks of [[Block]] requests. Each block holds
  * the same mix in a seeded order: page reads of the warm positional
  * indexes split Zipf-like over [[Served]] ([[PagesPerBlock]]) at
  * uniform offsets, one `/count`, and one miss that asks for a (query,
  * sort column, direction) not built yet, so an index is built and
  * written while the other clients keep reading. A fixed mix per block
  * keeps the run-to-run spread down to the order and offsets. */
object Serve {

  /** Served lists, most requested first, each with the order a client
    * first asks for: top hosts' URLs by rank, the CrawlDB by URL key,
    * roots by in-links, the top orders page, and the PageRank list. */
  val Served: Seq[Target] = Seq(
    Target("lg1_topk_per_host", "rank_value", asc = false),
    Target("c1_crawldb_merge", "url_key", asc = true),
    Target("q4_inlinks_by_root", "n_links", asc = false),
    Target("w2_pagination", "o_totalprice", asc = false),
    Target("g5_pagerank", "rank_u", asc = true))
  val PagesPerBlock: Seq[Int] = Seq(9, 5, 3, 2, 1)
  val Block: Int = PagesPerBlock.sum + 2
  val PageSize = 25
  /** Blocks a run completes at least: 100 page reads, so the p90 page
    * latency has ten samples beyond it. */
  val MinBlocks = 5

  final case class Target(query: String, sortBy: String, asc: Boolean) {
    def params: String = s"sortBy=$sortBy&dir=${if (asc) "asc" else "desc"}"
  }
  final case class Req(kind: String, target: Target, offset: Long)

  final class Server(val qs: QueryServer, val http: QueryServerHttp, val port: Int,
      val warm: Seq[(Target, Long)], val cold: Seq[Seq[Target]], val cacheDir: String,
      val fingerprint: String)

  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def get(port: Int, path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  private def sortable(t: DataType): Boolean = t match {
    case _: NumericType | StringType | DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Set-up: the server, and the index of every served list, built
    * through HTTP. The not-yet-built orders of each list (every other
    * sortable column and direction) come from its index's parquet schema
    * and wait, in a seeded order per list, for the trace's misses. */
  def start(ctx: Main.Ctx): Server = {
    import ctx._
    val cacheDir = s"$work/cache"
    val qs = new QueryServer(spark, cacheDir, data)
    val http = new QueryServerHttp(qs)
    val port = http.start()
    val fingerprint = ResultCache.inputFingerprint(spark, data)
    val warm = parallel(Served) { t =>
      val (code, body) = get(port, s"/count/${t.query}?${t.params}")
      require(code == 200, s"initial index of ${t.query} failed: $body")
      t -> new ObjectMapper().readTree(body).get("count").asLong
    }
    val rng = new scala.util.Random(seed)
    val cold = Served.map { t =>
      rng.shuffle(spark.read.parquet(entry(ctx, fingerprint, cacheDir, t).toString).schema.fields
        .filter(f => f.name != "pos" && sortable(f.dataType)).toSeq
        .flatMap(f => Seq(Target(t.query, f.name, asc = true), Target(t.query, f.name, asc = false)))
        .filter(_ != t))
    }
    new Server(qs, http, port, warm, cold, cacheDir, fingerprint)
  }

  /** The seeded request trace. Block b's `/count` and miss go to lists
    * b and b+1 (mod the number of lists), so any [[Served]].size blocks
    * in a row count and build on every list once; a miss takes its list's
    * next not-yet-built order. */
  def trace(seed: Long, s: Server, blocks: Int): IndexedSeq[Req] = {
    val rng = new scala.util.Random(seed * 31 + 7)
    val cold = s.cold.map(_.iterator)
    def page(t: Target, rows: Long) =
      Req("page", t, (rng.nextDouble() * math.max(1L, rows - PageSize + 1)).toLong)
    (0 until blocks).flatMap { b =>
      val pages = s.warm.zip(PagesPerBlock).flatMap { case ((t, rows), k) => Seq.fill(k)(page(t, rows)) }
      val count = Req("count", s.warm(b % s.warm.size)._1, 0L)
      val next = cold((b + 1) % cold.size)
      val miss = if (next.hasNext) Req("miss", next.next(), 0L) else page(s.warm.head._1, s.warm.head._2)
      rng.shuffle(pages :+ count :+ miss)
    }
  }

  def run(ctx: Main.Ctx, s: Server): Map[String, Any] = {
    import ctx._
    val clients = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))
    val reqs = trace(seed, s, 1000)
    val next = new AtomicInteger(0)
    val ops = java.util.Collections.synchronizedList(new java.util.ArrayList[Map[String, Any]]())
    tracing(traced)
    val t0 = System.nanoTime()
    val gc0 = Main.gcMs()
    def elapsed = (System.nanoTime() - t0) / 1e9
    log("trace starts")
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < MinBlocks * Block || elapsed < seconds) {
          ops.add(request(ctx, s, i, reqs(i), t0))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = elapsed
    val gc = (Main.gcMs() - gc0) / 1e3
    tracing(false)
    val entries = Files.list(Paths.get(s.cacheDir)).iterator.asScala
      .filter(p => Files.exists(p.resolve("_SUCCESS"))).toSeq
    val cacheBytes = entries.flatMap(p => Main.listFiles(p)).map(Files.size).sum
    val result = Map("ops" -> ops.asScala.toSeq, "clients" -> clients, "block" -> Block,
      "pass" -> Map("wall_s" -> wall, "gc_s" -> gc),
      "cache_entries" -> entries.size, "cache_bytes" -> cacheBytes,
      "cached_left" -> Main.cachedLeft(spark), "checks" -> check(ctx, s))
    s.http.stop()
    result
  }

  /** One client request through HTTP. In traced runs every even request
    * is also made through direct calls into the layers, after the HTTP
    * reply, so the layers' own times can be told apart from HTTP's. */
  private def request(ctx: Main.Ctx, s: Server, i: Int, r: Req, t0: Long): Map[String, Any] = {
    import ctx._
    val on = traced && i % 2 == 0
    val id = i.toString
    val t = r.target
    val path = r.kind match {
      case "count" => s"/count/${t.query}?${t.params}"
      case _ => s"/query/${t.query}?${t.params}&offset=${r.offset}&pageSize=$PageSize"
    }
    val hit = !on || ready(ctx, s, t)
    val s0 = System.nanoTime()
    val code =
      try {
        if (on && r.kind == "miss") withSpan(ctx, on, "cache_build", id)(s.qs.index(t.query, req(s, r)))
        withSpan(ctx, on, "http", id)(get(s.port, path))._1
      } catch { case NonFatal(e) => System.err.println(s"[perfbench] $path: $e"); -1 }
    val lat = (System.nanoTime() - s0) / 1e6
    if (on && code == 200 && r.kind == "page") direct(ctx, s, id, r)
    Map("kind" -> r.kind, "name" -> t.query, "traced" -> on, "hit" -> hit,
      "start_ms" -> (s0 - t0) / 1e6, "lat_ms" -> lat, "ok" -> (code == 200))
  }

  private def withSpan[T](ctx: Main.Ctx, on: Boolean, name: String, id: String)(f: => T): T =
    if (on) ctx.tracer.span(name, id)(f) else f

  /** The same page through the layers' public functions: the query
    * builder, the positional index, and the page read. */
  private def direct(ctx: Main.Ctx, s: Server, id: String, r: Req): Unit = {
    import ctx._
    val q = r.target.query
    tracer.span("direct", id) {
      tracer.span("build", id)(Registry.queries(q)(spark, data))
      tracer.span("index", id)(s.qs.index(q, req(s, r)))
      val rows = tracer.span("page", id)(s.qs.page(q, req(s, r)).toJSON.collect().length)
      tracer.count("page_rows", id, Map("rows" -> rows.toDouble))
    }
  }

  private def req(s: Server, r: Req) =
    s.qs.PageRequest(r.target.sortBy, r.target.asc, r.offset, PageSize)

  /** The cache entry of a target, at the path the server's cache key
    * names. */
  private def entry(ctx: Main.Ctx, fingerprint: String, cacheDir: String, t: Target) =
    Paths.get(cacheDir, ResultCache.canonicalId(t.query, Map("sort" -> t.sortBy,
      "dir" -> (if (t.asc) "asc" else "desc"), "sf" -> ctx.data, "data" -> fingerprint)))

  /** Whether the target's index is already in the result cache. */
  private def ready(ctx: Main.Ctx, s: Server, t: Target): Boolean =
    Files.exists(entry(ctx, s.fingerprint, s.cacheDir, t).resolve("_SUCCESS"))

  /** Untimed: a seeded page of every served index, through HTTP, against
    * the direct orderBy(sort, ties…).offset(n).limit(k) of the query. */
  private def check(ctx: Main.Ctx, s: Server): Map[String, Any] = {
    import ctx._
    val rng = new scala.util.Random(seed + 1)
    val json = new ObjectMapper()
    val pages = s.warm.map { case (t, rows) =>
      t -> (rng.nextDouble() * math.max(1L, rows - PageSize + 1)).toLong
    }
    val failed = parallel(pages) { case (t, offset) => checkPage(ctx, s, json, t, offset) }.flatten
    Map("pages_checked" -> pages.size, "failed" -> failed)
  }

  /** `f` over `xs`, one thread each; results in the order of `xs`. */
  private def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(xs.size)
    try xs.map(x => pool.submit[B](() => f(x))).map(_.get)
    finally pool.shutdown()
  }

  private def checkPage(ctx: Main.Ctx, s: Server, json: ObjectMapper, t: Target,
      offset: Long): Option[String] = {
    import ctx._
    val name = s"${t.query}?${t.params}&offset=$offset"
    try {
      val (code, body) = get(s.port, s"/query/$name&pageSize=$PageSize")
      val got = json.readTree(body).elements.asScala.map { n =>
        n.asInstanceOf[ObjectNode].remove("pos"); n
      }.toSeq
      val base = Registry.queries(t.query)(spark, data)
      val ties = base.columns.filter(_ != t.sortBy).sorted.map(col)
      val order = (col(t.sortBy) +: ties).map(c => if (t.asc) c.asc else c.desc)
      val want = base.orderBy(order: _*).offset(offset.toInt).limit(PageSize)
        .toJSON.collect().map(json.readTree).toSeq
      if (code == 200 && got.nonEmpty && got == want) None
      else Some(s"$name: got ${got.size} rows (HTTP $code), want ${want.size}")
    } catch { case NonFatal(e) => Some(s"$name: $e") }
  }
}
