package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Dedupe

/** Scratch profiler for the dedupe pipeline stages (not part of the
  * library surface; run manually while tuning). */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (rows=$n)")
    }

    val sh = Dedupe.docShingles(docs, "doc_id", "text")
    time("shingles")(sh.write.format("noop").mode("overwrite").save().asInstanceOf[Unit] match { case _ => sh.count() })
    val sig = sh.select(col("doc_id"),
      Dedupe.bindOnce(Dedupe.shingleHash40(col("sh"), "1"))(h1 =>
        Dedupe.bindOnce(Dedupe.shingleHash40(col("sh"), "2"))(h2 =>
          Dedupe.minhashSignature(h1, h2, 72))).as("sig"))
    time("signature")(sig.count())
    val cand = Dedupe.minhashCandidates(docs, "doc_id", "text", 72, 6)
    time("candidates")(cand.count())
    val pairs = Dedupe.minhashNearDupPairs(docs, "doc_id", "text", 0.8, 72, 6)
    time("pairs")(pairs.count())
    // end-to-end including construction-time checkpoints, like Bench
    time("d2-endtoend") {
      Dedupe.minhashNearDupPairs(docs, "doc_id", "text", 0.8, 72, 6)
        .orderBy("doc_a", "doc_b")
        .write.format("noop").mode("overwrite").save()
      0L
    }
    time("shingles-only") {
      Dedupe.docShingles(docs, "doc_id", "text").localCheckpoint(true).count()
    }
    time("d4-endtoend") {
      Dedupe.portableSimhashPairs(docs, "doc_id", "text")
        .orderBy("doc_a", "doc_b")
        .write.format("noop").mode("overwrite").save()
      0L
    }
    // ---- g4 stages ----
    val edges = graft.queries.GraphQueries.edges(spark, dir)
    time("g4-edges")(edges.count())
    val superRoots = graft.queries.Registry.table(spark, dir, "nation")
      .filter(col("n_nationkey") < 5)
      .select(col("n_nationkey").cast("long").as("root"))
    time("g4-endtoend") {
      graft.ops.LinkGraph.domainRank(edges, superRoots)
        .orderBy("dst_domain")
        .write.format("noop").mode("overwrite").save()
      0L
    }
    time("g2-endtoend") {
      graft.ops.LinkGraph.inlinkCounts(edges)
        .orderBy("dst_domain")
        .write.format("noop").mode("overwrite").save()
      0L
    }
    spark.stop()
  }
}
