package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.queries.{QueryServer, Registry}

/** §3.1 interactive serving: the positional-index page server must
  * return exactly the rows a direct orderBy/offset/limit would, serve
  * repeat pages from the cache without recomputation, and keep asc/desc
  * indexes independent (the reference's per-sort-order index dirs). */
class QueryServerSpec extends AnyFunSuite with SparkSuite {

  private def newServer(): (QueryServer, String) = {
    val dir = java.nio.file.Files.createTempDirectory("qserver").toString
    (new QueryServer(spark, dir, sfDir), dir)
  }

  /** Spark jobs started by `f` on this thread (and its broadcast and
    * subquery threads, which inherit the job group). */
  private def jobsIn(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { f; ListenerBus.drain(sc); n.get }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("pages equal direct orderBy/offset/limit in both directions") {
    val (server, _) = newServer()
    val name = "w3_dual_sort"
    val base = Registry.queries(name)(spark, sfDir)
    val sortBy = base.columns.head

    for (asc <- Seq(true, false)) {
      val req = server.PageRequest(sortBy, ascending = asc, offset = 5, pageSize = 7)
      val got = server.page(name, req)
        .drop("pos").collect().map(_.toString).toSeq

      val ties = base.columns.filter(_ != sortBy).sorted.map(col)
      val order = (col(sortBy) +: ties).map(c => if (asc) c.asc else c.desc)
      val want = base.orderBy(order: _*)
        .offset(5).limit(7).collect().map(_.toString).toSeq

      assert(got == want, s"asc=$asc page mismatch")
      assert(got.size == 7)
    }
  }

  test("index pos is the exact global rank across the whole result") {
    // the rank is computed per range partition + a size prefix sum (no
    // global window); this compares EVERY pos against the ground-truth
    // global sort, so a boundary error between partitions cannot hide
    val (server, _) = newServer()
    val name = "w2_pagination"
    val base = Registry.queries(name)(spark, sfDir)
    val sortBy = base.columns.head
    val req = server.PageRequest(sortBy, ascending = false, offset = 0, pageSize = 1)
    val idx = server.index(name, req).orderBy("pos")
    val n = idx.count()
    assert(n == base.count())
    assert(idx.select("pos").collect().map(_.getLong(0)).toSeq == (1L to n),
      "pos is not 1..N")
    val ties = base.columns.filter(_ != sortBy).sorted.map(col)
    val want = base
      .orderBy((col(sortBy) +: ties).map(_.desc): _*)
      .collect().map(_.toString).toSeq
    assert(idx.drop("pos").collect().map(_.toString).toSeq == want)
  }

  test("rank matches a global sort on randomized data (nulls, dup keys, both directions)") {
    // randomized adversary for the range-partition + prefix-sum rank:
    // duplicate sort keys spanning partition boundaries, nulls (asc =
    // nulls first), and a value column to prove row/rank pairing — not
    // just the rank sequence — survives the distributed computation
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val n = 5000
    val rows = (1 to n).map { i =>
      (i.toLong,
        if (rnd.nextInt(10) == 0) null
        else s"k${rnd.nextInt(40)}", // heavy duplication → boundary ties
        rnd.nextInt(1000).toLong)
    }
    import spark.implicits._
    val df = rows.toDF("id", "skey", "v")
    for (asc <- Seq(true, false)) {
      def d(c: org.apache.spark.sql.Column) = if (asc) c.asc else c.desc
      val order = Seq(d(col("skey")), d(col("id")), d(col("v")))
      val got = QueryServer.withGlobalPos(df, order)
        .orderBy("pos")
        .collect().map(r => (r.getLong(r.fieldIndex("pos")), r.getLong(0)))
      assert(got.map(_._1).toSeq == (1L to n).toSeq, s"asc=$asc pos not 1..N")
      val want = df.orderBy(order: _*).collect().map(_.getLong(0)).toSeq
      assert(got.map(_._2).toSeq == want, s"asc=$asc row order diverged")
    }
  }

  test("repeat pages hit one cached index per (sort, direction)") {
    val (server, dir) = newServer()
    val req = server.PageRequest("o_orderkey", ascending = true, offset = 0, pageSize = 10)
    val name = "i5_url_detail"
    def entries() = new java.io.File(dir).listFiles().count(_.isDirectory)

    val p1 = server.page(name, req).collect()
    assert(entries() == 1)
    val p2 = server.page(name, req).collect()
    assert(entries() == 1, "repeat page materialized a second index")
    assert(p1.toSeq.map(_.toString) == p2.toSeq.map(_.toString))

    // the opposite direction is its own canonical entry (the reference's
    // per-sort-order index dirs)
    server.page(name, req.copy(ascending = false)).collect()
    assert(entries() == 2)
  }

  test("page read prunes to the row groups containing the page") {
    val (server, _) = newServer()
    val name = "w3_dual_sort"
    val base = Registry.queries(name)(spark, sfDir)
    val req = server.PageRequest(base.columns.head, ascending = true, offset = 2, pageSize = 3)
    server.index(name, req).count() // build the index
    val plan = server.page(name, req).queryExecution.executedPlan.toString
    // the pos range predicate must reach the parquet reader
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(pos"),
      s"pos range not pushed to the scan:\n$plan")
  }

  test("concurrent first requests for one entry serialize on its build") {
    // two threads asking for the same uncached (query, sort) must not
    // race two overwrite-writes into one cache directory; the per-path
    // build lock serializes them and both serve the same result
    val (server, _) = newServer()
    val sortBy = Registry.queries("w2_pagination")(spark, sfDir).columns.head
    val req = server.PageRequest(sortBy, ascending = true,
      offset = 0, pageSize = 5)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fs = (1 to 2).map { _ =>
      scala.concurrent.Future {
        server.page("w2_pagination", req)
          .collect().map(_.toString).toSeq
      }
    }
    val results = fs.map(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s")))
    pool.shutdown()
    assert(results(0) == results(1))
    assert(results(0).nonEmpty)
  }

  test("a warm page is one Spark job: no builder run, no range sampling") {
    // g5_pagerank's builder runs PageRank with eager persists, so a page
    // that re-ran it would start many jobs; a range-sorted page would add
    // a bounds-sampling job to the scan
    val (server, _) = newServer()
    val name = "g5_pagerank"
    val req = server.PageRequest("rank_u", ascending = true, offset = 3, pageSize = 5)
    val first = server.page(name, req).collect()
    assert(first.length == 5)
    assert(jobsIn(server.page(name, req.copy(offset = 6)).collect()) == 1)
  }

  test("a warm page plans no range exchange and still prunes on pos") {
    val (server, _) = newServer()
    val name = "w3_dual_sort"
    val base = Registry.queries(name)(spark, sfDir)
    val req = server.PageRequest(base.columns.head, ascending = false, offset = 4, pageSize = 3)
    server.page(name, req).collect()
    val plan = server.page(name, req).queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), s"page plans a range sort:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(pos"),
      s"pos range not pushed to the scan:\n$plan")
  }

  test("an unknown sort column fails before any build and leaves the cache dir empty") {
    val (server, dir) = newServer()
    for (_ <- 1 to 2) { // the failed request must not have memoized anything
      val e = intercept[IllegalArgumentException] {
        server.page("w2_pagination", server.PageRequest("no_such_column"))
      }
      assert(e.getMessage.contains("unknown sort column 'no_such_column'"))
    }
    assert(new java.io.File(dir).list().isEmpty,
      s"left behind: ${new java.io.File(dir).list().mkString(", ")}")
  }

  test("a repeat count is served from memory") {
    val (server, _) = newServer()
    val name = "w2_pagination"
    val base = Registry.queries(name)(spark, sfDir)
    val req = server.PageRequest(base.columns.head)
    val n = base.count()
    assert(server.resultCount(name, req) == n)
    assert(jobsIn(assert(server.resultCount(name, req) == n)) == 0)
  }
}
