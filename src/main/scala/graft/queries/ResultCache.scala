package graft.queries

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-server result cache (SURVEY §3.1 steps 2-3): results are keyed
  * by a canonical query id — query name plus its parameters in sorted
  * order — and materialized as parquet; a repeat of the same canonical
  * query serves the cached result without re-execution
  * (reference: Query.getCanonicalId / cachedResultsAvailable,
  * Query.java:596, MasterServer.java:308).
  */
object ResultCache {

  /** Canonical id: stable under parameter reordering. */
  def canonicalId(queryName: String, params: Map[String, String]): String = {
    val canon = queryName + "?" +
      params.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
    MessageDigest.getInstance("MD5").digest(canon.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Fingerprint of a data directory: MD5 over the sorted recursive file
    * listing (path, length, mtime). Folded into the canonical id so a
    * cache entry is invalidated when the data under it changes in place —
    * the reference ties cache validity to the database timestamp the same
    * way (MasterServer.java:308 keys results by query + db epoch). */
  def inputFingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val md = MessageDigest.getInstance("MD5")
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        entries += s"${st.getPath}|${st.getLen}|${st.getModificationTime}"
      }
      entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** In-JVM build locks, striped by path hash: concurrent page requests
    * for the SAME uncached entry serialize on its build instead of both
    * computing it; distinct entries almost always build in parallel (a
    * stripe collision only serializes, never corrupts). A fixed stripe
    * array replaces the earlier per-path lock map, which grew without
    * bound across distinct cache paths in a long-lived server. */
  private val NStripes = 64
  private val buildLocks = Array.fill(NStripes)(new Object)
  private[graft] def lockFor(path: String): Object =
    buildLocks(math.floorMod(path.hashCode, NStripes))

  /** Serve from cache when present, else compute + materialize. The
    * _SUCCESS marker gates readiness, so a killed write never serves a
    * partial result. The probe goes through the Hadoop FileSystem for the
    * cacheDir's scheme, so an HDFS/S3 cache dir (the deployment SURVEY §8
    * prescribes) is probed where the parquet was actually written, not on
    * the driver's local disk.
    *
    * Cross-process safety: the entry is built in a private staging dir
    * and RENAMED into place, so on filesystems with atomic directory
    * rename (HDFS, local) another process either sees the complete entry
    * or none — two servers sharing a cacheDir race only on who publishes,
    * never on partial reads. On object stores without atomic rename
    * (raw S3), keep one writer per cacheDir. */
  def getOrCompute(spark: SparkSession, cacheDir: String, queryName: String,
      params: Map[String, String])(compute: => DataFrame): DataFrame = {
    val path = s"$cacheDir/${canonicalId(queryName, params)}"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def ready = fs.exists(new Path(p, "_SUCCESS"))
    // probe once before the lock: a hit never waits behind an unrelated
    // build that happens to share its stripe; the build path probes again
    // under the lock, so a request that lost the race to build reads the
    // winner's entry instead of building a second copy
    if (!ready) lockFor(path).synchronized {
      if (!ready) {
        val tmp = new Path(s"$path.build-${java.util.UUID.randomUUID}")
        compute.write.mode("overwrite").parquet(tmp.toString)
        // Publish via FileContext.rename, whose no-OVERWRITE contract is
        // DEFINED to fail when the destination exists — atomic
        // server-side on HDFS, plain rename(2) on local disks. The
        // FileSystem.rename API must NOT be used here: with an existing
        // destination directory it merges (local) or nests (HDFS) the
        // staging dir into the winner's entry, silently corrupting the
        // cache with a second copy of every row (pinned by
        // ResultCacheSpec's semantics test). Losing the race is fine —
        // the winner's entry is complete or its _SUCCESS probe fails.
        val renameFailure =
          try {
            org.apache.hadoop.fs.FileContext
              .getFileContext(p.toUri, spark.sessionState.newHadoopConf())
              .rename(tmp, p)
            None
          }
          catch { case e: java.io.IOException => Some(e) }
          finally if (fs.exists(tmp)) fs.delete(tmp, true)
        // A failed rename is benign ONLY as a lost race (the winner's
        // complete entry is in place). A genuine publish failure — FS
        // error, or a legacy/partial destination without _SUCCESS that no
        // rename can ever replace — must surface here, not as a detached
        // read error (or worse, a silently-served stale partial entry).
        renameFailure.foreach { e =>
          if (!ready) throw new java.io.IOException(
            s"result-cache publish failed and no complete entry exists at $path" +
              " (destination present without _SUCCESS? remove it manually)", e)
        }
      }
    }
    spark.read.parquet(path)
  }
}
