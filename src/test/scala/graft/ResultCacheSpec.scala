package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Registry, ResultCache}

class ResultCacheSpec extends AnyFunSuite with SparkSuite {

  test("canonical id is stable under parameter reordering, distinct otherwise") {
    val a = ResultCache.canonicalId("domain_list", Map("re" -> "x$", "page" -> "2"))
    val b = ResultCache.canonicalId("domain_list", Map("page" -> "2", "re" -> "x$"))
    val c = ResultCache.canonicalId("domain_list", Map("page" -> "3", "re" -> "x$"))
    assert(a == b)
    assert(a != c)
  }

  test("second identical query serves the cached result without recompute") {
    val dir = Files.createTempDirectory("result_cache").toString
    var computes = 0
    def run() = ResultCache.getOrCompute(spark, dir, "topk",
      Map("seg" -> "BUILDING", "k" -> "3")) {
      computes += 1
      Registry.table(spark, sfDir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(3)
    }
    val first = run().collect().map(_.getLong(0)).toSet
    val second = run().collect().map(_.getLong(0)).toSet
    assert(computes == 1) // second call never evaluated the thunk
    assert(first == second && first.size == 3)
  }

  test("publish rename cannot merge into an existing entry (FileContext contract)") {
    // the publish step MUST fail when the destination exists, leaving
    // both sides untouched. The FileSystem.rename API does the opposite
    // on local disks — it MERGES the staging dir's contents into the
    // existing entry (second copy of every row, since Spark part files
    // carry unique job UUIDs) — which is exactly why getOrCompute
    // publishes through FileContext.rename instead. Pin both halves.
    import org.apache.hadoop.fs.{FileContext, Path}
    val base = Files.createTempDirectory("rename_sem").toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(base).getFileSystem(conf)
    val src = new Path(base, "staging")
    val dst = new Path(base, "entry")
    fs.mkdirs(src)
    fs.create(new Path(src, "part-loser")).close()
    fs.mkdirs(dst) // the winner's entry already exists
    fs.create(new Path(dst, "part-winner")).close()
    intercept[java.io.IOException] {
      FileContext.getFileContext(dst.toUri, conf).rename(src, dst)
    }
    // nothing merged, nothing nested, nothing lost
    val entryFiles = fs.listStatus(dst).map(_.getPath.getName).toSet
    assert(entryFiles == Set("part-winner"), s"entry corrupted: $entryFiles")
    assert(fs.exists(new Path(src, "part-loser")), "staging destroyed")
  }

  test("input fingerprint is stable unchanged, moves when data changes in place") {
    // the fingerprint folds (path, length, mtime) of the recursive
    // listing into the cache id, so an in-place data refresh invalidates
    // every cached index built over it (the reference keys results by
    // query + db epoch the same way)
    val dir = Files.createTempDirectory("fp_data").toString
    Registry.table(spark, sfDir, "region").write.mode("overwrite").parquet(s"$dir/t")
    val fp1 = ResultCache.inputFingerprint(spark, dir)
    val fp1Again = ResultCache.inputFingerprint(spark, dir)
    assert(fp1 == fp1Again)
    // new file under the dir → new fingerprint → new canonical cache ids
    Registry.table(spark, sfDir, "nation").write.mode("overwrite").parquet(s"$dir/t2")
    val fp2 = ResultCache.inputFingerprint(spark, dir)
    assert(fp1 != fp2)
    assert(
      ResultCache.canonicalId("q", Map("data" -> fp1)) !=
        ResultCache.canonicalId("q", Map("data" -> fp2)))
    // a missing dir fingerprints to the empty digest, not an error
    assert(ResultCache.inputFingerprint(spark, s"$dir/absent").nonEmpty)
  }

  test("scheme-qualified cacheDir probes and writes through the same FileSystem") {
    // the SURVEY §8 deployment puts the cache on HDFS/S3; a file:-scheme
    // URI exercises the same code path (probe resolved via the Hadoop
    // FileSystem for the dir's scheme, not the driver's local disk API)
    val dir = "file:" + Files.createTempDirectory("result_cache_fs").toString
    var computes = 0
    def run() = ResultCache.getOrCompute(spark, dir, "nations",
      Map("region" -> "1")) {
      computes += 1
      Registry.table(spark, sfDir, "nation").filter(col("n_regionkey") === 1)
    }
    val n = run().count()
    assert(run().count() == n && n > 0)
    assert(computes == 1) // the second call hit the _SUCCESS probe
  }

  test("concurrent requests for one uncached entry build it exactly once") {
    val dir = Files.createTempDirectory("result_cache_conc").toString
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    def run() = ResultCache.getOrCompute(spark, dir, "orders_sample",
      Map("k" -> "5")) {
      computes.incrementAndGet()
      Registry.table(spark, sfDir, "orders").limit(5)
    }.count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val counts = Await.result(
      Future.sequence((1 to 4).map(_ => Future(run()))), 120.seconds)
    assert(counts.toSet == Set(5L))
    assert(computes.get == 1) // later arrivals waited on the stripe, then hit the probe
  }

  test("a partial destination without _SUCCESS fails the publish loudly") {
    // a legacy/killed-writer entry dir (present, no _SUCCESS) can never
    // be replaced by the no-OVERWRITE rename; getOrCompute must surface
    // that as a descriptive publish error, not a detached read failure
    // or a silently-served partial entry
    val dir = Files.createTempDirectory("result_cache_partial").toString
    val id = ResultCache.canonicalId("q", Map("p" -> "1"))
    val partial = new java.io.File(dir, id)
    assert(partial.mkdirs())
    Files.createFile(partial.toPath.resolve("part-00000-stale.parquet"))
    val e = intercept[java.io.IOException] {
      ResultCache.getOrCompute(spark, dir, "q", Map("p" -> "1")) {
        Registry.table(spark, sfDir, "region").limit(2)
      }
    }
    assert(e.getMessage.contains("publish failed"))
    assert(e.getCause != null) // wraps the rename failure
  }

  test("a lost publish race discards the staged build and serves the winner") {
    val dir = Files.createTempDirectory("result_cache_race").toString
    // winner publishes first
    ResultCache.getOrCompute(spark, dir, "q", Map("p" -> "1")) {
      Registry.table(spark, sfDir, "region").limit(2)
    }
    val entry = new java.io.File(dir).listFiles().filter(_.isDirectory).head
    val before = entry.listFiles().map(_.getName).toSet
    // a second build of the same id (fresh probe miss simulated by a
    // cleared marker on a COPY is not possible without deleting the
    // winner, so assert the invariant the race path maintains instead:
    // no .build- staging dirs survive anywhere under the cacheDir)
    ResultCache.getOrCompute(spark, dir, "q", Map("p" -> "1")) {
      Registry.table(spark, sfDir, "region").limit(2)
    }
    val after = entry.listFiles().map(_.getName).toSet
    assert(before == after)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".build-")))
  }

  test("a hit never waits behind a build holding its lock stripe") {
    val dir = Files.createTempDirectory("result_cache_stripe").toString
    val params = Map("p" -> "1")
    def hit() = ResultCache.getOrCompute(spark, dir, "q", params) {
      Registry.table(spark, sfDir, "region").limit(2)
    }
    hit()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // this thread stands in for an unrelated build on the same stripe
    ResultCache.lockFor(s"$dir/${ResultCache.canonicalId("q", params)}").synchronized {
      assert(Await.result(Future(hit().count()), 60.seconds) == 2L)
    }
  }
}
